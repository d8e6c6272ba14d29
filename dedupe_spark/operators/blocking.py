"""Candidate generation: the blocking-index probe as a salted self-join.

Reference analog: ``register_block`` probes the md5->id-list hash bucket
and walks the collision list (/root/reference/src/deduplication.cpp:
1400-1417), with a bloom filter short-circuiting definite misses
(/root/reference/src/HashDB.cpp:429-431). Here:

- bucket        = LSH band key (or exact fingerprint)
- collision list = the group of rows sharing the key
- bloom short-circuit = the singleton prune in `repeated_blocks` (drop
  rows whose key appears once — they cannot form a pair) + Spark's
  runtime bloom-filter join (session config)
- candidate walk = self-join on the key with a<b ordering

One frequency pass serves every filter: `repeated_blocks` gives each
row its key's document frequency (df) with one window over the key, and
the singleton prune (df >= 2), the stop band (df <= max_block) and the
salt split (df > salt_threshold) all read that column — C2Net's
collision counting, one count per key.

Scale design (the part the reference never faced — its buckets were
bounded by chunk-size math):
- **stop-band suppression**: band keys with document-frequency above a
  cap are dropped (hot shingles — greetings, tool preambles — would
  otherwise explode the join quadratically). The drop count is surfaced
  in the metrics table, never silent.
- **deterministic salting**: keys hotter than ``salt_threshold`` (but
  under the cap) are split into G deterministic sub-groups; the left
  side keeps its salt, the right side replicates across salts, so one
  hot bucket's pair enumeration spreads over G partitions instead of
  pinning one task. Salt = pmod(xxhash64(id), G) — reproducible. Cold
  keys take salt 0 on both sides, so one join on (key, salt) serves
  both tiers.
- AQE skew-join (session config) splits whatever residual skew remains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MAX_BLOCK = 64  # cap on rows sharing one band key
DEFAULT_SALT_THRESHOLD = 16  # salt keys hotter than this
DEFAULT_SALT_GROUPS = 8


def explode_blocks(df: DataFrame, id_col: str, bands_col: str = "bands") -> DataFrame:
    """(id, band_key) — one row per (row, band).

    ``explode_outer`` + not-null filter, NOT plain ``explode``: Catalyst's
    InferFiltersFromGenerate adds a ``size(bands) > 0`` filter under an
    inner explode and pushes it below any exchange — duplicating the
    entire bands expression tree, *including the Arrow signature UDF*,
    so every MinHash signature was computed twice (measured: the
    bands+explode stage of q21_fast at sf0.1 fell 7.9s -> 0.9s warm when
    the second ArrowEvalPython node disappeared). The outer form gives
    the rule nothing to infer; the not-null filter on the generator
    OUTPUT restores inner-explode semantics (empty/NULL arrays emit
    nothing) and cannot be pushed below the Generate it depends on."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode_outer(bands_col).alias("band_key"))
        .where(F.col("band_key").isNotNull())
    )


DEFAULT_BLOOM_BUDGET_BYTES = 256 << 20  # auto mode falls back to semi above this


def bloom_preprune(
    blocks: DataFrame,
    mode: str = "auto",
    fpp: float = 1e-4,
    stats: dict | None = None,
    shards: int = 1,
    max_driver_bytes: int = DEFAULT_BLOOM_BUDGET_BYTES,
    deps: list | None = None,
) -> DataFrame:
    """Drop rows whose band key appears exactly once — they cannot pair.

    ``pipeline.run`` does not call this: :func:`repeated_blocks` prunes
    singletons exactly, off the df pass :func:`candidate_pairs` needs
    anyway, and ``candidate_pairs(bloom_preprune(b)) ==
    candidate_pairs(b)``.

    All modes are the reference's HashDB bloom negative-lookup
    (/root/reference/src/HashDB.cpp:372, 429-431):

    ``mode="semi"``: semi-join against the repeated-key set; with
    ``spark.sql.optimizer.runtime.bloomFilter.enabled=true`` Catalyst
    physically executes this as a bloom-filter-pruned scan + shuffle.
    Never materializes a driver bitmap — the safe mode at any scale.

    ``mode="bloom"``: the **explicit bloom pre-prune stage** — an
    app-built Bloom filter over the repeated-key set
    (functions/bloom.py), applied as a *map-side filter before any
    shuffle of the block rows*. Exact for candidate generation: no
    false negatives by construction, and a false-positive singleton key
    still has one row, which produces no a<b pair downstream. Preferred
    when singleton keys dominate (typical dedup corpora) because the
    wide block table never enters an exchange; the only shuffle is the
    distinct-key groupBy that defines the repeated set. Raises
    :class:`BloomBudgetError` if the bitmap would exceed
    ``max_driver_bytes``.

    ``mode="auto"`` (default): bloom when the repeated-key bitmap fits
    the driver budget, semi otherwise — the scale-safe default (the
    repeated-band-key set is bounded by corpus duplicate structure at
    typical scales, but nothing guarantees it; the budget does).

    ``deps``: optional list that receives the built Bloom (it exposes
    ``unpersist()``) so callers can release the cached bitmap broadcast
    after their final action.
    """
    repeated = (
        blocks.groupBy("band_key")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("band_key")
    )
    # the pruned table is read once per branch downstream (both sides of
    # candidate_pairs' self-join re-read its df window); when
    # the caller hands us a deps list, cache it so the probe UDF (or the
    # semi join) runs ONCE instead of per branch — measured 1.6-2x on the
    # fast-path queries, and at scale it removes 4 redundant Arrow
    # passes over the exploded block table.
    def _cache(pruned: DataFrame) -> DataFrame:
        if deps is not None:
            pruned = pruned.persist()
            deps.append(pruned)
        return pruned

    if mode == "semi":
        if stats is not None:
            stats["bloom_mode_used"] = "semi"
        return _cache(blocks.join(repeated, "band_key", "left_semi"))

    from dedupe_spark.functions.bloom import BloomBudgetError, build_bloom

    try:
        bloom = build_bloom(
            repeated, "band_key", fpp=fpp, shards=shards,
            max_driver_bytes=max_driver_bytes,
        )
    except BloomBudgetError:
        if mode != "auto":
            raise
        if stats is not None:
            stats["bloom_mode_used"] = "semi_budget_fallback"
        return _cache(blocks.join(repeated, "band_key", "left_semi"))
    if deps is not None:
        deps.append(bloom)
    if stats is not None:
        stats["bloom_mode_used"] = "bloom"
        stats["bloom_num_bits"] = bloom.num_bits
        stats["bloom_num_hash"] = bloom.num_hash
        stats["bloom_num_shards"] = bloom.num_shards
        stats["bloom_driver_bytes"] = bloom.driver_bytes
        stats["bloom_repeated_keys"] = bloom.n_items
        stats["bloom_fill_ratio"] = round(bloom.fill_ratio, 6)
    return _cache(bloom.probe(blocks, "band_key"))


def block_frequencies(blocks: DataFrame) -> DataFrame:
    return blocks.groupBy("band_key").agg(F.count("*").alias("df"))


def _tiered_pairs(
    a: DataFrame,
    b: DataFrame,
    salt_threshold: int,
    salt_groups: int,
    require_lt: bool,
) -> DataFrame:
    """Shared salted band-key join: ``a``/``b`` are (band_key, id, hot)
    block tables already restricted to live (non-stop-banded) keys, with
    ``hot`` the key's skew measure — the same value on both sides. One
    join on (band_key, salt) serves both tiers: a hot key (``hot >
    salt_threshold``) gives its A rows a deterministic salt and
    replicates its B rows to every salt value, a cold key gives every
    row salt 0. Each (a, b) meets exactly once — at (band_key, salt(a))
    — and a hot key's work spreads over ``salt_groups`` tasks (the DS2
    split). The decision is per key, so both sides of a key always take
    the same tier. ``require_lt`` adds the self-join's id_a < id_b
    orientation; cross-table callers pass False (their sides are
    distinct namespaces).

    Rows with a boolean ``old`` column set (committed state a fold
    probes, see :func:`candidate_pairs`) pair only with unset rows."""
    orient = (F.col("id_a") < F.col("id_b")) if require_lt else F.lit(True)
    flagged = "old" in a.columns
    if flagged:
        orient = orient & ~(F.col("old_a") & F.col("old_b"))

    def side(df: DataFrame, s: str, salt: str) -> DataFrame:
        old = [F.col("old").alias(f"old_{s}")] if flagged else []
        return df.select(
            "band_key", F.col("id").alias(f"id_{s}"), *old, F.expr(salt).alias("salt")
        )

    hot = f"hot > {salt_threshold}"
    salt_a = f"CASE WHEN {hot} THEN CAST(pmod(xxhash64(id), {salt_groups}) AS INT) ELSE 0 END"
    salt_b = f"explode(CASE WHEN {hot} THEN sequence(0, {salt_groups - 1}) ELSE array(0) END)"
    pairs = side(a, "a", salt_a).join(side(b, "b", salt_b), ["band_key", "salt"])
    return pairs.where(orient).select("id_a", "id_b").distinct()


def repeated_blocks(blocks: DataFrame, deps: list | None = None) -> DataFrame:
    """(id, band_key, ..., df): the block rows whose band key repeats,
    each with its key's document frequency — the exact singleton prune.
    Other columns (a fold's ``old`` flag) pass through.

    One ``count(*) over (partition by band_key)`` — a single shuffle on
    the key, with no separate frequency aggregate to join back.
    ``deps``: optional list that receives the result, persisted, so both
    sides of :func:`candidate_pairs`' join and the caller's metrics read
    one computed copy."""
    counted = blocks.select(
        "*", F.count("*").over(Window.partitionBy("band_key")).alias("df")
    ).where(F.col("df") >= 2)
    if deps is not None:
        counted = counted.persist()
        deps.append(counted)
    return counted


def candidate_pairs(
    blocks: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salt_groups: int = DEFAULT_SALT_GROUPS,
    deps: list | None = None,
) -> DataFrame:
    """Distinct candidate (id_a < id_b) pairs from band-key co-occurrence.

    ``blocks`` is (id, band_key) rows, or the output of
    :func:`repeated_blocks` when the caller also needs the df column;
    otherwise it is computed here (persisted into ``deps`` when given).
    Three frequency tiers per key, all read off that one df column, the
    last two in one self-join on (band_key, salt):
      df > max_block        -> dropped (stop band; counted by caller)
      salt_threshold < df   -> salted (hot keys spread over G tasks)
      otherwise             -> salt 0 (a plain key join)

    A fold (``pipeline.run_incremental``) hands the batch's rows plus the
    committed rows of the keys it touches, the latter with a boolean
    ``old`` column set: df then counts committed + batch rows, so the
    stop band is the full corpus's, and no old×old pair is emitted.
    """
    if "df" not in blocks.columns:
        blocks = repeated_blocks(blocks, deps)
    live = blocks.where(F.col("df") <= max_block).withColumnRenamed("df", "hot")
    return _tiered_pairs(live, live, salt_threshold, salt_groups, require_lt=True)


def cross_bloom_preprune(
    blocks_a: DataFrame,
    blocks_b: DataFrame,
    mode: str = "auto",
    fpp: float = 1e-4,
    stats: dict | None = None,
    shards: int = 1,
    max_driver_bytes: int = DEFAULT_BLOOM_BUDGET_BYTES,
    deps: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """A↔B analogue of :func:`bloom_preprune`: a block row can only pair
    if its band key occurs on the OTHER side — the reference's
    probe-stream-vs-build-registry split
    (/root/reference/src/deduplication.cpp:1393-1417) generalized to two
    tables. Side A (the probe) is pruned map-side by a Bloom over side
    B's distinct keys (``mode="bloom"``/``"auto"`` within the driver
    budget; semi-join otherwise/beyond it), then side B (the registry)
    is semi-joined against the *pruned* A key set — by then a small,
    candidate-only set, so Catalyst's runtime bloom-filter join applies.
    At 10^12-turn registry scale the budget fallback matters: the
    registry key set can never pin a driver bitmap, but the probe batch
    side usually fits.
    """

    def _cache(df: DataFrame) -> DataFrame:
        if deps is not None:
            df = df.persist()
            deps.append(df)
        return df

    keys_b = blocks_b.select("band_key").distinct()
    a_pruned = None
    if mode in ("bloom", "auto"):
        from dedupe_spark.functions.bloom import BloomBudgetError, build_bloom

        try:
            bloom = build_bloom(
                keys_b, "band_key", fpp=fpp, shards=shards,
                max_driver_bytes=max_driver_bytes,
            )
            if deps is not None:
                deps.append(bloom)
            if stats is not None:
                stats["bloom_mode_used"] = "bloom"
                stats["bloom_registry_keys"] = bloom.n_items
            a_pruned = bloom.probe(blocks_a, "band_key")
        except BloomBudgetError:
            if mode != "auto":
                raise
            if stats is not None:
                stats["bloom_mode_used"] = "semi_budget_fallback"
    if a_pruned is None:
        if stats is not None:
            stats.setdefault("bloom_mode_used", "semi")
        a_pruned = blocks_a.join(keys_b, "band_key", "left_semi")
    a_pruned = _cache(a_pruned)
    b_pruned = _cache(
        blocks_b.join(a_pruned.select("band_key").distinct(), "band_key", "left_semi")
    )
    return a_pruned, b_pruned


def cross_candidate_pairs(
    blocks_a: DataFrame,
    blocks_b: DataFrame,
    max_block: int = DEFAULT_MAX_BLOCK,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    salt_groups: int = DEFAULT_SALT_GROUPS,
) -> DataFrame:
    """Distinct candidate (id_a, id_b) pairs from band-key co-occurrence
    ACROSS two tables — :func:`candidate_pairs` without the self-join's
    id_a < id_b orientation (the sides are different namespaces; every
    A-row pairs with every co-keyed B-row exactly once).

    Same three frequency tiers, applied per side: a key past
    ``max_block`` on EITHER side is stop-banded (its pair fan-out is
    df_a·df_b — quadratic skew is bounded before the join, exactly as in
    the self-join case); a key past ``salt_threshold`` on either side
    goes through the salted tier (A keeps a deterministic salt, B
    replicates to every salt value, so each (a, b) meets exactly once
    and a hot key's work spreads over ``salt_groups`` tasks).
    """
    fa = blocks_a.groupBy("band_key").agg(F.count("*").alias("dfa"))
    fb = blocks_b.groupBy("band_key").agg(F.count("*").alias("dfb"))
    live = (
        fa.join(fb, "band_key")
        .where((F.col("dfa") <= max_block) & (F.col("dfb") <= max_block))
        .select("band_key", F.greatest("dfa", "dfb").alias("hot"))
    )
    a = blocks_a.join(live, "band_key")
    b = blocks_b.join(live, "band_key")
    return _tiered_pairs(a, b, salt_threshold, salt_groups, require_lt=False)


def exact_key_pairs(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Pairs sharing an exact fingerprint (md5 path, D1): group -> min id.

    For exact keys we don't need the quadratic pair set — first-writer-
    wins edges (everyone -> group min) are enough for connected
    components and keep output linear in group size (the reference's
    unique-block registry semantics, src/deduplication.cpp:1419-1449).
    Because output is linear, there is deliberately NO group-size cap
    here: the candidate-join stop-band exists to stop quadratic skew,
    but a 50k-copy boilerplate group is exactly the highest-redundancy
    case exact dedup must catch, and capping it would silently drop
    every edge for the biggest duplicate groups.

    One window (one exchange) gives every row its group's minimum; a
    row of a one-row group equals its own minimum and drops out, so no
    group count is needed. NULL keys never pair, as in an equi-join."""
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            F.min(id_col).over(Window.partitionBy(key_col)).alias("id_a"),
            F.col(id_col).alias("id_b"),
        )
        .where(F.col("id_b") != F.col("id_a"))
    )


def blocking_quality(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Blocking-scheme evaluation: reduction ratio + block-size stats.

    The record-linkage literature's standard pre-flight check for a
    blocking key (Christen, "A Survey of Indexing Techniques for
    Scalable Record Linkage and Deduplication", TKDE 2012): before
    paying for pair scoring, measure how many candidate pairs the key
    actually generates versus the quadratic all-pairs space. The
    reference tunes the equivalent knob empirically — its chunk-size
    bounds cap bucket sizes (/root/reference/src/deduplication.cpp:
    985-1010) — but never surfaces the metric; at 100 TB you want the
    number BEFORE launching the join.

    One hash-aggregate over (key) then a single global fold — two
    shuffles total, output is one row. ``candidate_pairs`` is
    sum(n*(n-1)/2) over blocks; ``reduction_ratio`` = 1 - candidates /
    C(N,2). All counts are exact, not sketches: a blocking decision is
    worth one pass. NULL keys are excluded — the equi-joins this metric
    forecasts (candidate_pairs / exact_key_pairs) never match NULLs, so
    counting them as one giant block would wrongly veto a fine key on
    any corpus with nullable keys (NULL-key rows are excluded from
    every stat — they generate no candidates).
    """
    blocks = (
        df.select(F.col(key_col).alias("k"), F.col(id_col).alias("id"))
        .where(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    n = F.col("n").cast("long")
    return blocks.agg(
        F.sum("n").cast("long").alias("n_records"),
        F.count("*").cast("long").alias("n_blocks"),
        F.max("n").cast("long").alias("max_block"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("singleton_blocks"),
        (F.sum(n * (n - 1)) / 2).cast("long").alias("candidate_pairs"),
    ).select(
        "n_records",
        "n_blocks",
        "max_block",
        "singleton_blocks",
        "candidate_pairs",
        F.round(
            F.lit(1.0)
            - F.col("candidate_pairs")
            / (F.col("n_records").cast("double") * (F.col("n_records") - 1) / 2.0),
            6,
        ).alias("reduction_ratio"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame, id_col: str, key_col: str, window: int = 3
) -> DataFrame:
    """Sorted-neighborhood blocking: sort by key, pair within a window.

    The other classic blocking family (Hernandez & Stolfo, SIGMOD 1995):
    instead of equality buckets, records are globally ordered by the
    key and every record pairs with its ``window - 1`` successors —
    catches near-miss keys that exact buckets split (e.g. a typo in the
    first word of a turn moves it a few positions, not to a different
    bucket).

    Scale shape: the textbook algorithm's global sort is the bottleneck
    — ``row_number().over(orderBy(key))`` is a single reducer. Here the
    rank comes from :func:`dedupe_spark.functions.ids.with_dense_id`
    (range exchange + parallel per-partition windows + broadcast
    offsets), so every stage is parallel; the neighbor step is an
    equi-join on ``rank + k`` (explode of sequence(1, window-1)), not a
    range join — it shuffles on a dense long and AQE coalesces it.

    Output: (id_a, id_b, rank_gap) with id_a sorting strictly before
    id_b in (key, id) order.
    """
    from ..functions.ids import with_dense_id

    if window < 2:
        raise ValueError("window must be >= 2 (a window of 1 pairs nothing)")
    ranked = with_dense_id(
        df.select(F.col(id_col).alias("id"), F.col(key_col).alias("k")),
        order_cols=["k", "id"],
        id_col="rank",
    ).select("id", "rank")
    a = ranked.select(
        F.col("id").alias("id_a"),
        F.col("rank"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("rank_gap"),
    ).select("id_a", "rank_gap", (F.col("rank") + F.col("rank_gap")).alias("rank_b"))
    b = ranked.select(F.col("id").alias("id_b"), F.col("rank").alias("rank_b"))
    return a.join(b, "rank_b").select("id_a", "id_b", "rank_gap")


def meta_blocking_wnp(
    assignments: DataFrame,
    id_col: str = "id",
    key_col: str = "key",
    min_block: int = 2,
    max_block: int = 10,
) -> DataFrame:
    """Meta-blocking with CBS weighting + weighted node pruning
    (Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the
    Next Level", TKDE 2014 — public). Input is any (entity, block-key)
    assignment table; output is the pruned candidate-pair graph.

    Stages, all codegen'd aggregations — no Python, no driver state:

    1. **block purging**: drop keys outside [min_block, max_block]
       distinct entities (singleton blocks pair nothing; mega-blocks are
       the quadratic skew the technique exists to remove).
    2. **edge weighting**: pairs (a<b) per surviving block, CBS weight =
       number of shared blocks (one hash agg over the pair key).
    3. **weighted node pruning**: keep an edge iff its weight reaches
       the mean edge weight of EITHER endpoint (the redefined-WNP OR
       rule — each node retains its locally-strong edges).

    Scale shape: stage 2's self-join shuffles on the block key with the
    block size capped by ``max_block``, so per-key fan-out is bounded
    (<= max_block^2/2 pairs) — skew is handled by construction, before
    AQE ever sees it. Node means are integer sums / counts: exact in
    double, so the Spark/DuckDB verdicts agree bit-for-bit.
    """
    a = assignments.select(F.col(id_col).alias("id"), F.col(key_col).alias("key"))
    sizes = a.groupBy("key").agg(F.count_distinct("id").alias("n"))
    kept = sizes.where((F.col("n") >= min_block) & (F.col("n") <= max_block))
    live = a.join(kept.select("key"), "key").distinct()

    left = live.select("key", F.col("id").alias("id_a"))
    right = live.select("key", F.col("id").alias("id_b"))
    w = (
        left.join(right, "key")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("w"))
    )

    ends = w.select(F.col("id_a").alias("id"), "w").unionAll(
        w.select(F.col("id_b").alias("id"), "w")
    )
    node_avg = ends.groupBy("id").agg(F.avg("w").alias("avg_w"))
    aa = node_avg.select(F.col("id").alias("id_a"), F.col("avg_w").alias("avg_a"))
    bb = node_avg.select(F.col("id").alias("id_b"), F.col("avg_w").alias("avg_b"))
    return (
        w.join(aa, "id_a")
        .join(bb, "id_b")
        .where((F.col("w") >= F.col("avg_a")) | (F.col("w") >= F.col("avg_b")))
        .select("id_a", "id_b", "w")
    )


def deletion_variants(w: Column) -> Column:
    """array<string>: the word plus every single-character deletion.

    ``w`` must be a BOUND column attribute — the transform lambda
    references it per position, and interpreted HOF lambdas re-evaluate
    non-attribute references per element (see dedup._ngrams_from_toks).

    The empty-string guard matters: Spark's ``sequence(1, 0)`` infers
    step -1 and yields [1, 0] instead of an empty range, which would
    fabricate variants for empty keys.
    """
    dels = F.when(
        F.length(w) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.concat(
                F.substring(w, F.lit(1), i - 1),
                F.substring(w, i + 1, F.length(w)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(F.concat(F.array(w), dels))


def deletion_neighborhood_pairs(
    df: DataFrame, id_col: str, key_col: str, max_edits: int = 1
) -> DataFrame:
    """Edit-distance-bounded fuzzy key join via deletion neighborhoods
    (FastSS, Bocek et al. 2007; SymSpell) — the classic sub-quadratic
    way to pair typo'd names/keys, next to Soundex (phonetic) and
    sorted-neighborhood (lexicographic) in the blocking toolbox.

    Guarantee for ``max_edits=1``: any two keys at Levenshtein distance
    <= 1 share a member of each other's {key} ∪ {single deletions} set
    (substitution at i -> both i-deletions equal; insertion/deletion ->
    one side's deletion equals the other key itself), so the variant
    equi-join finds every qualifying pair; the exact ``levenshtein``
    verification then removes the distance-2 collisions the join also
    admits (two different deletions of a shared parent). No pair within
    the bound is ever missed — the filter is candidates-only, exactly
    the probe -> verify split the reference's cheap->exact compare uses
    (src/deduplication.cpp:1052-1123).

    Scale shape: the variant index is O(total key chars) rows of
    (id, variant) ONLY — the source key is deliberately NOT carried
    through the explode or the variant join, so the two big exchanges
    (index shuffle on the variant string, candidate distinct on the id
    pair) move the narrowest possible rows; the keys are re-joined from
    the O(n) (id, key) table afterwards, on the already-deduped pair
    set, for the exact-levenshtein verify. Short hot variants (e.g.
    1-char deletions of 2-char keys) can skew a bucket — AQE skew-join
    splits those (tests/test_uncertainty_deletion.py has the hot-2-char
    vocabulary case), and callers with adversarial vocabularies should
    pre-filter keys shorter than ~3 chars, where edit-distance-1
    blocking is meaningless anyway (every such pair is within 2 edits
    of empty).

    Only ``max_edits=1`` is implemented: depth-2 deletion neighborhoods
    grow O(len^2) per key and need the same join with a bigger index,
    not a different plan — rejected loudly rather than silently
    under-recalling.
    """
    if max_edits != 1:
        raise ValueError("deletion_neighborhood_pairs supports max_edits=1 only")
    # distinct: a source with duplicate (id, key) rows must not emit
    # duplicate output pairs (the key re-join below is per id-row; the
    # pre-refactor wide distinct collapsed these after the join)
    keyed = df.select(F.col(id_col).alias("id"), F.col(key_col).alias("w")).distinct()
    # outer + not-null: see explode_blocks (the inferred size>0 filter
    # would build every deletion-variant array twice per row)
    v = keyed.select(
        "id", F.explode_outer(deletion_variants(F.col("w"))).alias("v")
    ).where(F.col("v").isNotNull())
    a = v.select(F.col("id").alias("id_a"), "v")
    b = v.select(F.col("id").alias("id_b"), "v")
    cand = (
        a.join(b, "v")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    wa = keyed.select(F.col("id").alias("id_a"), F.col("w").alias("w_a"))
    wb = keyed.select(F.col("id").alias("id_b"), F.col("w").alias("w_b"))
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select("id_a", "id_b", "w_a", "w_b")
        .withColumn("edit_distance", F.levenshtein("w_a", "w_b"))
        .where(F.col("edit_distance") <= max_edits)
    )


def blocking_rule_coverage(
    rules: list[tuple[str, DataFrame]],
) -> DataFrame:
    """Cumulative pair coverage per blocking rule (Splink's "cumulative
    comparisons by blocking rule" pre-flight): for an ORDERED list of
    (name, assignment) rules — assignment = (id, key) rows — report how
    many distinct candidate pairs each rule generates and how many are
    NEW (not generated by any earlier rule). The number that decides
    whether adding a rule is worth its candidate-join cost BEFORE the
    full pipeline runs at 100 TB.

    Plan shape: one self-join + distinct per rule (the same bounded
    work the rule would cost in production blocking), one left-anti per
    rule against the accumulated pair set; the output is |rules| rows
    aggregated driver-side (the per-rule pair tables never union into a
    single global sort). Rules with quadratic keys should be size-capped
    by the caller exactly as in production — this measures the rules as
    they would actually run.
    """
    if not rules:
        raise ValueError("blocking_rule_coverage needs at least one (name, assignment) rule")
    out_rows = []
    seen: DataFrame | None = None
    cached: list[DataFrame] = []
    try:
        for name, assign in rules:
            keyed = assign.select(
                F.col(assign.columns[0]).alias("id"), F.col(assign.columns[1]).alias("k")
            )
            a = keyed.select("k", F.col("id").alias("id_a"))
            b = keyed.select("k", F.col("id").alias("id_b"))
            pairs = (
                a.join(b, "k")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            # pairs is read twice (count + anti/union) and the accumulated
            # set once per later rule — persist both so the union chain
            # never re-runs every earlier rule's self-join
            pairs = pairs.persist()
            cached.append(pairs)
            n_pairs = pairs.count()
            if seen is None:
                n_new = n_pairs
                seen = pairs
            else:
                n_new = pairs.join(seen, ["id_a", "id_b"], "left_anti").count()
                seen = seen.unionAll(pairs).distinct().persist()
                cached.append(seen)
            out_rows.append((name, n_pairs, n_new))
        spark = rules[0][1].sparkSession
    finally:
        for df in cached:
            df.unpersist()
    cum = 0
    rows = []
    for i, (name, n_pairs, n_new) in enumerate(out_rows):
        cum += n_new
        rows.append((i, name, n_pairs, n_new, cum))
    return spark.createDataFrame(
        rows, "rule_idx int, rule string, n_pairs long, n_new_pairs long, cum_pairs long"
    )
