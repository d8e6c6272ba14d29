"""Pairwise verification — the generalized ``blocks_cmp``, JVM-side.

Reference analog: candidate verification is length-compare then memcmp
(/root/reference/src/deduplication.cpp:1491,1510) — cheap predicate
first, expensive second. Generalized to similarity per the north star:

  1. length-band filter (free, codegen'd)
  2. token-shingle Jaccard: one ``array_intersect`` of the distinct
     xxhash64 shingle arrays per pair (codegen'd, O(n+m)); the union
     size follows from the overlap, |A∪B| = |A| + |B| - |A∩B|
  3. bounded Levenshtein ratio (``F.levenshtein`` with a distance
     threshold) only on the ambiguous Jaccard band

There is **zero Python in the scoring path** — every stage is a Spark
built-in expression, so scoring stays inside WholeStageCodegen and scales
with the executors. The pure-python ``jaro_winkler_py`` /
``levenshtein_ratio_py`` below are reference implementations used by
tests to validate the JVM expressions, never executed per-row in the
pipeline.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decision thresholds (tuned on the labeled fixture; see tests/test_pipeline_e2e.py).
# Measured at N=300: negative pairs (hardneg/random) max out at shingle
# Jaccard ~0.24 while true duplicates bottom out at ~0.46 — 0.40 splits
# with ~2x margin on both sides; the [0.22, 0.40) band falls back to the
# character-level Levenshtein ratio.
JACCARD_ACCEPT = 0.40  # shingle Jaccard at/above this -> duplicate
JACCARD_GATE = 0.22  # below this -> reject without the expensive stage
LEV_ACCEPT = 0.75  # in the ambiguous band, Levenshtein ratio decides
MIN_LEN_RATIO = 0.40  # length-band prefilter (blocks_cmp length check)
LEV_PREFIX_CAP = 2000  # bound the O(n*m) DP: compare first N chars only


def jaccard_expr(inter: Column, n_a: Column, n_b: Column) -> Column:
    """|A∩B| / |A∪B| of two DISTINCT-element arrays of sizes ``n_a`` and
    ``n_b`` from their overlap ``inter`` alone: |A∪B| = n_a + n_b - inter.
    0.0 when they share nothing, are both empty, or either is NULL."""
    union = (n_a + n_b - inter).cast("double")
    return F.when(inter > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def lev_ratio_expr(
    doc_a: Column,
    doc_b: Column,
    prefix_cap: int = LEV_PREFIX_CAP,
    min_ratio: float = LEV_ACCEPT,
) -> Column:
    """1 - levenshtein/max_len over the first ``prefix_cap`` chars.

    The distance threshold bounds the JVM DP to O(n * threshold) and the
    prefix cap bounds n — the worst-case cost per pair is a constant,
    which is what lets a skewed corpus widen the ambiguous band without
    blowing up the stage. ``min_ratio`` is the smallest ratio the CALLER
    still distinguishes: distances beyond its threshold collapse to
    ratio 0 via the early-exit (-1). The default matches the fixed
    LEV_ACCEPT decider; a caller that bins ratios below LEV_ACCEPT
    (the Fellegi-Sunter gamma cuts reach 0.65) must pass its own
    lowest cut or the bins between it and LEV_ACCEPT collapse to 0 on
    long documents and skew the fitted distribution.
    """
    a = F.substring(doc_a, 1, prefix_cap)
    b = F.substring(doc_b, 1, prefix_cap)
    max_len = F.greatest(F.length(a), F.length(b))
    threshold = int(prefix_cap * (1.0 - min_ratio)) + 1
    dist = F.levenshtein(a, b, threshold)
    return F.when(max_len == 0, F.lit(1.0)).when(dist < 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - dist.cast("double") / max_len.cast("double")
    )


def _jaro(s: str, t: str) -> float:
    if s == t:
        return 1.0
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    window = max(ls, lt) // 2 - 1
    # codepoint arrays (utf-32-le = one uint32 per char): CHARACTER
    # semantics, matching DuckDB's jaro_winkler_similarity on non-ASCII
    # (utf-8 bytes diverge on any multibyte char — ADVICE r3)
    sa = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    ta = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
    t_taken = np.zeros(lt, dtype=bool)
    s_match_idx = []
    t_match_idx = []
    for i in range(ls):
        lo, hi = max(0, i - window), min(lt, i + window + 1)
        seg = ta[lo:hi]
        cand = np.flatnonzero((seg == sa[i]) & ~t_taken[lo:hi])
        if cand.size:
            j = lo + cand[0]
            t_taken[j] = True
            s_match_idx.append(i)
            t_match_idx.append(j)
    m = len(s_match_idx)
    if m == 0:
        return 0.0
    s_seq = sa[np.array(s_match_idx)]
    t_seq = ta[np.sort(np.array(t_match_idx))]
    transpositions = int(np.sum(s_seq != t_seq)) // 2
    return (m / ls + m / lt + (m - transpositions) / m) / 3.0


def jaro_winkler_py(s: str, t: str, p: float = 0.1, max_prefix: int = 4) -> float:
    """Reference Jaro-Winkler (test oracle only — not in the hot path)."""
    j = _jaro(s, t)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s[:max_prefix], t[:max_prefix]):
        if a != b:
            break
        prefix += 1
    return j + prefix * p * (1.0 - j)


JW_PREFIX_CAP = 256  # characters considered by the batched Jaro-Winkler
JW_ACCEPT = 0.90  # ambiguous-band accept threshold for decider="jaro_winkler"


def jaro_winkler_batch(
    a_strs: list[str], b_strs: list[str], p: float = 0.1, max_prefix: int = 4
) -> np.ndarray:
    """Batch-vectorized Jaro-Winkler over padded codepoint matrices.

    The north star names "batched Jaro-Winkler ... (no per-row Python)":
    the whole batch is packed into (B, L) uint32 matrices (utf-32-le =
    one codepoint per cell, so the units are CHARACTERS — identical to
    DuckDB's char-level jaro_winkler_similarity on non-ASCII text,
    ADVICE r3) and the Jaro greedy matching runs as a loop over the L
    character positions, each iteration a numpy mask/scatter over every
    pair at once — the same batch-vectorization style as the MinHash
    signature (operators/minhash.py np.minimum.reduceat). Per-batch cost
    is O(B * L^2) word-ops with numpy constants; L is capped by the
    caller (JW_PREFIX_CAP), so per-pair cost is bounded like
    lev_ratio_expr's.

    Semantics match ``jaro_winkler_py`` exactly (asserted by
    tests/test_scoring.py against random + adversarial + non-ASCII cases).
    """
    B = len(a_strs)
    if B == 0:
        return np.zeros(0)
    a_cp = [np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32) for s in a_strs]
    b_cp = [np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32) for s in b_strs]
    L = max(1, max((len(x) for x in (*a_cp, *b_cp)), default=1))
    sa = np.zeros((B, L), dtype=np.uint32)
    ta = np.zeros((B, L), dtype=np.uint32)
    ls = np.zeros(B, dtype=np.int64)
    lt = np.zeros(B, dtype=np.int64)
    for i, cp in enumerate(a_cp):  # padding memcpy only; compute is batched
        ls[i] = len(cp)
        sa[i, : len(cp)] = cp
    for i, cp in enumerate(b_cp):
        lt[i] = len(cp)
        ta[i, : len(cp)] = cp

    eq = (ls == lt) & (sa == ta).all(axis=1)
    nz = (ls > 0) & (lt > 0)
    active_all = nz & ~eq
    # window=-1 (max len 1) means "no matches" in the scalar oracle; the
    # clamp to 0 is equivalent there (two unequal 1-byte strings never
    # match at position 0 anyway)
    w = np.maximum(np.maximum(ls, lt) // 2 - 1, 0)
    taken = np.zeros((B, L), dtype=bool)
    s_buf = np.zeros((B, L), dtype=np.uint32)
    j_buf = np.full((B, L), L, dtype=np.int64)
    cnt = np.zeros(B, dtype=np.int64)
    jidx = np.arange(L)[None, :]
    i_max = int(ls[active_all].max()) if active_all.any() else 0
    for i in range(i_max):
        rows_active = active_all & (i < ls)
        if not rows_active.any():
            break
        lo = np.maximum(i - w, 0)[:, None]
        hi = np.minimum(i + w + 1, lt)[:, None]
        m = (
            (ta == sa[:, i : i + 1])
            & ~taken
            & (jidx >= lo)
            & (jidx < hi)
            & rows_active[:, None]
        )
        has = m.any(axis=1)
        j = m.argmax(axis=1)
        rows = np.flatnonzero(has)
        taken[rows, j[rows]] = True
        s_buf[rows, cnt[rows]] = sa[rows, i]
        j_buf[rows, cnt[rows]] = j[rows]
        cnt[rows] += 1
    # transpositions: t-side matched chars in t order vs s order
    j_sorted = np.sort(j_buf, axis=1)  # unmatched sentinel L sorts last
    ta_ext = np.concatenate([ta, np.zeros((B, 1), dtype=np.uint32)], axis=1)
    t_seq = np.take_along_axis(ta_ext, j_sorted, axis=1)
    matched = np.arange(L)[None, :] < cnt[:, None]
    trans = ((s_buf != t_seq) & matched).sum(axis=1) // 2
    m_cnt = cnt.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (
            m_cnt / np.maximum(ls, 1)
            + m_cnt / np.maximum(lt, 1)
            + (m_cnt - trans) / np.maximum(m_cnt, 1)
        ) / 3.0
    jaro = np.where((cnt > 0) & nz, jaro, 0.0)
    # winkler prefix boost above 0.7
    pw = min(max_prefix, L)
    pref_eq = (sa[:, :pw] == ta[:, :pw]) & (
        np.arange(pw)[None, :] < np.minimum(ls, lt)[:, None]
    )
    prefix = pref_eq.cumprod(axis=1).sum(axis=1)
    jw = np.where(jaro > 0.7, jaro + prefix * p * (1.0 - jaro), jaro)
    return np.where(eq, 1.0, jw)


def jaro_winkler_udf(prefix_cap: int = JW_PREFIX_CAP):
    """Arrow-batched Jaro-Winkler similarity pandas UDF (doc_a, doc_b) ->
    double; the whole batch computes through ``jaro_winkler_batch``.
    ``prefix_cap`` truncates to CHARACTERS before comparison — the same
    units DuckDB's ``substr(text, 1, N)`` + ``jaro_winkler_similarity``
    oracle compares (a byte truncation could split a codepoint and
    diverge on any multibyte text — ADVICE r3)."""

    @F.pandas_udf("double")
    def jw(a: pd.Series, b: pd.Series) -> pd.Series:
        ab = [s[:prefix_cap] for s in a.fillna("")]
        bb = [s[:prefix_cap] for s in b.fillna("")]
        return pd.Series(jaro_winkler_batch(ab, bb))

    return jw


def levenshtein_ratio_py(s: str, t: str) -> float:
    """Numpy DP Levenshtein similarity ratio — the test oracle for
    ``lev_ratio_expr`` (validates the JVM expression's values)."""
    if s == t:
        return 1.0
    ls, lt = len(s), len(t)
    if ls == 0 or lt == 0:
        return 0.0
    sa = np.frombuffer(s.encode("utf-8", "replace"), dtype=np.uint8)
    ta = np.frombuffer(t.encode("utf-8", "replace"), dtype=np.uint8)
    prev = np.arange(len(ta) + 1, dtype=np.int32)
    idx = np.arange(len(ta) + 1, dtype=np.int32)
    for i, ch in enumerate(sa, 1):
        cur = np.empty_like(prev)
        cur[0] = i
        sub = prev[:-1] + (ta != ch)
        np.minimum(sub, prev[1:] + 1, out=cur[1:])
        # insertion chain cur[j] = min(cur[j], cur[j-1]+1) vectorized:
        # cur[j] = j + min_{i<=j}(cur[i] - i)
        cur = idx + np.minimum.accumulate(cur - idx)
        prev = cur
    dist = int(prev[-1])
    return 1.0 - dist / max(len(sa), len(ta))


def score_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "conv_id",
    doc_col: str = "doc",
    min_len_ratio: float = MIN_LEN_RATIO,
    k: int = 3,
    decider: str = "levenshtein",
    sh_col: str | None = None,
    deps: list | None = None,
) -> DataFrame:
    """Attach similarity scores to candidate pairs.

    pairs: (id_a, id_b); docs: (id_col, doc_col, doc_len).
    Returns (id_a, id_b, jaccard, lev_ratio, is_dup); ``lev_ratio`` is
    the second-stage score, -1.0 outside the ambiguous band (not
    computed — the Jaccard verdict stands, mirroring blocks_cmp's
    cheap-first ordering).

    ``sh_col``: name of a precomputed distinct-shingle-hash column on
    ``docs`` (minhash.with_minhash_bands(keep_shingles=True) produces
    one). When given, the shingle arrays are read instead of recomputed
    — the docs table is scanned once per join side, so a cached column
    halves the shingle work (~18% off the scoring stage at 556k pairs).

    ``decider`` picks the ambiguous-band second stage:
      * ``"levenshtein"`` (default): ``F.levenshtein`` ratio — pure JVM,
        zero Python in the plan, the fastest path.
      * ``"jaro_winkler"``: the batch-vectorized Arrow JW UDF (the north
        star's named scorer). Only the ambiguous band reaches the UDF —
        the plan splits band/non-band and unions, so the Arrow crossing
        never sees unambiguous pairs. The scored frame is persisted
        across the two branches (registered in ``deps`` for the caller
        to release) so the pairs-join + jaccard subtree computes once,
        not once per branch; NULL-jaccard rows route to the cheap branch
        instead of failing both predicates and vanishing.
      * ``"fellegi_sunter"``: the ambiguous-band accept threshold is
        LEARNED, not hard-coded — the in-band pairs' (lev level, jaccard
        sub-band, length-ratio band) comparison vectors are fit with the
        EM of ``operators/linkage.py`` and a pair is accepted at
        posterior match_prob >= 0.5. Cheap->expensive ordering is
        preserved (only the band pays Levenshtein + three small agg
        passes); clear accepts/rejects never enter the model.

    ``deps``: caches created here are appended for the caller to
    unpersist after its final action (the pipeline passes its
    ``persisted`` list).
    """
    # The shingle array is computed HERE, once per doc row, below the
    # join: after the join it is a materialized attribute, so the (large)
    # tokenize+shingle+hash expression tree is never inlined into the
    # downstream jaccard/lev/is_dup expressions. Inlining it (projection
    # collapse duplicates the tree per reference) blows the generated
    # code up ~6x and was measured ~3x slower end-to-end.
    if sh_col:
        d = docs.select(
            F.col(id_col).alias("_id"),
            F.col(doc_col).alias("_doc"),
            F.col("doc_len").alias("_len"),
            F.col(sh_col).alias("_sh"),
        )
    else:
        # bind the token-hash array before the shingle fold: the fold
        # references it k+2 times, and each inline reference re-runs the
        # tokenize+hash transform per row (interpreted HOF)
        from dedupe_spark.operators.minhash import _shingles_from_th, _token_hashes

        d = docs.select(
            F.col(id_col).alias("_id"),
            F.col(doc_col).alias("_doc"),
            F.col("doc_len").alias("_len"),
            F.expr(_token_hashes(doc_col)).alias("_th"),
        ).select(
            "_id",
            "_doc",
            "_len",
            F.array_distinct(_shingles_from_th("`_th`", "`_doc`", k)).alias("_sh"),
        )
    joined = (
        pairs.join(
            d.select(
                F.col("_id").alias("id_a"), F.col("_doc").alias("doc_a"),
                F.col("_len").alias("len_a"), F.col("_sh").alias("sh_a"),
            ),
            "id_a",
        )
        .join(
            d.select(
                F.col("_id").alias("id_b"), F.col("_doc").alias("doc_b"),
                F.col("_len").alias("len_b"), F.col("_sh").alias("sh_b"),
            ),
            "id_b",
        )
    )
    # cheap predicate first — the blocks_cmp length check, JVM-side
    banded = joined.where(
        F.least("len_a", "len_b") >= (F.greatest("len_a", "len_b") * F.lit(min_len_ratio))
    )
    # |A∩B| is bound by a one-row generator, not a projection: Catalyst
    # inlines a projected column into every reference, and pushes a
    # caller's ``where("is_dup")`` into the join condition, where no
    # subexpression elimination applies, so the intersection would run
    # once per reference. No filter is pushed through a Generate, so it
    # runs once per pair.
    jacc = (
        banded.select(
            "*", F.explode(F.array(F.size(F.array_intersect("sh_a", "sh_b")))).alias("_inter")
        )
        .withColumn("jaccard", jaccard_expr(F.col("_inter"), F.size("sh_a"), F.size("sh_b")))
        .drop("_inter")
    )
    in_band = (F.col("jaccard") >= F.lit(JACCARD_GATE)) & (
        F.col("jaccard") < F.lit(JACCARD_ACCEPT)
    )
    if decider == "jaro_winkler":
        accept = JW_ACCEPT
        if deps is not None:
            jacc = jacc.persist()
            deps.append(jacc)
        amb = jacc.where(in_band).withColumn(
            "lev_ratio", jaro_winkler_udf()(F.col("doc_a"), F.col("doc_b"))
        )
        rest = jacc.where(~in_band | F.col("jaccard").isNull()).withColumn(
            "lev_ratio", F.lit(-1.0)
        )
        scored = amb.unionByName(rest)
    elif decider == "fellegi_sunter":
        # the FS gamma cuts bin ratios down to min(_FS_LEV_CUTS) < LEV_ACCEPT,
        # so the early-exit bound must widen accordingly (see lev_ratio_expr)
        scored = jacc.withColumn(
            "lev_ratio",
            F.when(
                in_band,
                lev_ratio_expr(
                    F.col("doc_a"), F.col("doc_b"), min_ratio=min(_FS_LEV_CUTS)
                ),
            ).otherwise(F.lit(-1.0)),
        )
        if deps is not None:
            scored = scored.persist()
            deps.append(scored)
        return _fs_banded_decision(scored, in_band, deps=deps)
    else:
        accept = LEV_ACCEPT
        scored = jacc.withColumn(
            "lev_ratio",
            F.when(in_band, lev_ratio_expr(F.col("doc_a"), F.col("doc_b"))).otherwise(
                F.lit(-1.0)
            ),
        )
    return scored.select(
        "id_a",
        "id_b",
        "jaccard",
        "lev_ratio",
        (
            (F.col("jaccard") >= JACCARD_ACCEPT)
            | ((F.col("jaccard") >= JACCARD_GATE) & (F.col("lev_ratio") >= accept))
        ).alias("is_dup"),
    )


#: Ambiguous-band comparison levels for decider="fellegi_sunter".
#: gamma_lev brackets LEV_ACCEPT (0.75) so EM can move the effective
#: boundary a level up or down; inits are rough priors, EM re-estimates.
_FS_LEV_CUTS = (0.85, 0.75, 0.65)
_FS_LEN_CUTS = (0.95, 0.80)


def _fs_banded_decision(scored: DataFrame, in_band, deps: list | None = None) -> DataFrame:
    """decider="fellegi_sunter" second stage: EM-learn the ambiguous-band
    accept rule from the band's own comparison-vector distribution.

    Clear accepts (jaccard >= JACCARD_ACCEPT) and clear rejects
    (jaccard < JACCARD_GATE) keep their threshold verdicts; only the
    band is modeled. The EM fit is three single-row aggregate passes
    over the (persisted) band — driver state is the parameter vector.
    """
    from dedupe_spark.operators.linkage import Comparison, em_fellegi_sunter

    comparisons = (
        Comparison("gamma_lev", 4, (0.02, 0.08, 0.30, 0.60), (0.55, 0.30, 0.12, 0.03)),
        Comparison("gamma_jac", 2, (0.30, 0.70), (0.70, 0.30)),
        Comparison("gamma_len", 3, (0.10, 0.30, 0.60), (0.50, 0.35, 0.15)),
    )
    hi, mid, lo = _FS_LEV_CUTS
    len_hi, len_mid = _FS_LEN_CUTS
    len_ratio = F.least("len_a", "len_b") / F.greatest("len_a", "len_b")
    jac_mid = (JACCARD_GATE + JACCARD_ACCEPT) / 2.0
    gammas = scored.where(in_band).select(
        "id_a",
        "id_b",
        F.when(F.col("lev_ratio") >= hi, F.lit(3))
        .when(F.col("lev_ratio") >= mid, F.lit(2))
        .when(F.col("lev_ratio") >= lo, F.lit(1))
        .otherwise(F.lit(0))
        .alias("gamma_lev"),
        (F.col("jaccard") >= jac_mid).cast("int").alias("gamma_jac"),
        F.when(len_ratio >= len_hi, F.lit(2))
        .when(len_ratio >= len_mid, F.lit(1))
        .otherwise(F.lit(0))
        .alias("gamma_len"),
    )
    if deps is not None:
        gammas = gammas.persist()
        deps.append(gammas)
    _, fs_scored = em_fellegi_sunter(gammas, comparisons, iters=3)
    band_verdict = fs_scored.select(
        "id_a", "id_b", (F.col("match_prob") >= 0.5).alias("_fs_dup")
    )
    return (
        scored.join(band_verdict, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "lev_ratio",
            (
                (F.col("jaccard") >= JACCARD_ACCEPT)
                | F.coalesce(F.col("_fs_dup"), F.lit(False))
            ).alias("is_dup"),
        )
    )
