"""MinHash/LSH blocking keys over normalized-text shingles.

Reference analog: CDC/sliding-block chunking + the md5->bucket blocking
index (/root/reference/src/deduplication.cpp:1044-1348, 723-736). The
reference samples content-defined boundaries with a rolling hash; at
turn/document granularity the equivalent locality-sensitive signature is
MinHash over token k-shingles, banded into LSH keys — each band key is a
"hash bucket" exactly like the reference's md5 index bucket, and bucket
collisions are the candidate lists.

Layout of work:
- shingle hashing is **JVM-side**: split -> sliding k-gram -> xxhash64,
  all whole-stage-codegen'd; Python never sees the text.
- the signature is an Arrow-batched pandas UDF over the array<long> of
  shingle hashes, vectorized across the *entire batch* with
  ``np.minimum.reduceat`` (no per-row Python loop).

Determinism: permutation parameters derive from a fixed seed via
numpy Philox, so signatures are identical across runs, partitionings and
cluster sizes (SURVEY.md §7 determinism requirement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_NUM_PERM = 128
DEFAULT_BANDS = 32  # 32 bands x 4 rows: s-curve threshold ~ (1/32)^(1/4) ~ 0.42
DEFAULT_SEED = 42


def _token_hashes(doc: str) -> str:
    """SQL for the array<long> of xxhash64s of ``doc``'s space-split
    tokens (``doc`` is a column name)."""
    return f"transform(split(`{doc}`, ' '), t -> xxhash64(t))"


def shingle_hashes(doc: str, k: int = 3) -> Column:
    """array<long> of hashes of token k-shingles of column ``doc`` —
    pure JVM exprs, O(T).

    Each token is xxhash64'd once, then the k consecutive token hashes of
    a shingle are folded with chained two-arg xxhash64 via ``zip_with``
    over shifted slices. The layout matters: a higher-order function's
    *input arrays* (the slices) are evaluated once per row, while
    expressions inside the lambda re-evaluate per element — the previous
    form (``slice(toks, i+1, k)`` + ``concat_ws`` inside a ``transform``
    lambda) re-ran the whole ``split(doc)`` subtree for every shingle
    position, O(T^2) string work per row and a measured 7.5x slowdown of
    the MinHash stage at 346k turns. Here the lambda bodies are O(1)
    arithmetic on lambda variables only.

    For docs with < k tokens the whole doc is the single shingle, so no
    row produces an empty array.
    """
    return _shingles_from_th(_token_hashes(doc), f"`{doc}`", k)


def _shingles_from_th(th: str, doc: str, k: int) -> Column:
    """Fold a token-hash array into k-shingle hashes. ``th`` and ``doc``
    are SQL expressions (a backquoted column name, or ``_token_hashes``).

    The fold is built as one SQL string and parsed by one ``F.expr``:
    composing it from Column calls costs a driver-to-JVM round trip per
    node.

    ``th`` is referenced ~k+2 times (size + k shifted slices); when it
    is an inline transform expression each reference re-runs the
    tokenize+hash transform per row, so a caller that can bind it as a
    real column first (``scoring.score_pairs``) does."""
    n = f"size({th})"
    m = f"{n} - {k - 1}"  # shingle count when n >= k
    folded = f"slice({th}, 1, {m})"
    for j in range(1, k):
        folded = f"zip_with({folded}, slice({th}, {j + 1}, {m}), (x, y) -> xxhash64(x, y))"
    return F.expr(f"CASE WHEN {n} >= {k} THEN {folded} ELSE array(xxhash64({doc})) END")


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.Philox(key=seed))
    # odd multipliers: a*h+b mod 2^64 (natural uint64 wrap-around) is a
    # bijection on uint64 with well-mixed HIGH bits — exactly the bits
    # that decide a minimum — so the family is min-wise independent
    # enough for LSH banding. Dropping the % (2^61-1) reduction was a
    # measured 3.3x saving on the signature UDF's inner matrix op;
    # recall-vs-exact-Jaccard is property-tested (test_minhash_fast).
    a = rng.integers(1, np.iinfo(np.uint64).max, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, np.iinfo(np.uint64).max, size=num_perm, dtype=np.uint64)
    return a, b


def make_minhash_udf(num_perm: int = DEFAULT_NUM_PERM, seed: int = DEFAULT_SEED):
    """pandas UDF: array<long> shingle hashes -> array<long> signature.

    Vectorized across the batch: all rows' shingles are concatenated once,
    permuted in chunks, and per-row minima taken with minimum.reduceat.
    """
    a_params, b_params = _perm_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_sig(shingles: pd.Series) -> pd.Series:
        lens = shingles.map(len).to_numpy(dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series([[0] * num_perm] * len(shingles))
        # reduceat mishandles empty segments (offsets[i] == offsets[i+1]
        # returns a[offsets[i]], a trailing empty segment is an index
        # error), so compute on the non-empty rows and scatter back —
        # empty rows get the same all-zero sentinel as the empty batch.
        # Which rows are empty must not depend on Arrow batch boundaries.
        nonempty = lens > 0
        lens_ne = lens[nonempty]
        flat = np.concatenate(
            [np.asarray(s, dtype=np.int64) for s in shingles if len(s) > 0]
        ).astype(np.uint64)
        offsets = np.zeros(len(lens_ne), dtype=np.int64)
        np.cumsum(lens_ne[:-1], out=offsets[1:])
        out_ne = np.empty((len(lens_ne), num_perm), dtype=np.uint64)
        # chunk permutations to bound the (n_shingles x chunk) temp matrix
        chunk = max(1, min(num_perm, (64 << 20) // max(1, flat.size * 8)))
        for lo in range(0, num_perm, chunk):
            hi = min(num_perm, lo + chunk)
            # (M, c) = a*h + b mod 2^64 — deterministic odd-multiplier
            # permutation family, no division (see _perm_params)
            m = flat[:, None] * a_params[None, lo:hi] + b_params[None, lo:hi]
            out_ne[:, lo:hi] = np.minimum.reduceat(m, offsets, axis=0)
        out = np.zeros((len(lens), num_perm), dtype=np.uint64)
        out[nonempty] = out_ne
        signed = out.astype(np.int64)
        return pd.Series(list(signed))

    return minhash_sig


def band_keys(sig: str, bands: int = DEFAULT_BANDS, num_perm: int = DEFAULT_NUM_PERM) -> Column:
    """array<string> LSH band keys from signature column ``sig`` — JVM-side.

    Key = "b<i>:" + xxhash64 over the band's r signature longs plus the
    band index, so keys from different bands never collide (the
    reference's per-bucket discrimination,
    /root/reference/src/HashDB.cpp:355-368). Hashing the longs directly
    (multi-column xxhash64 + element_at) keeps the whole expression in
    codegen — the earlier slice/transform/concat_ws form was an
    interpreted higher-order-function tree and measured several times
    slower at 5k docs x 32 bands.

    The ``bands`` keys are one SQL string parsed by one ``F.expr``: built
    from Column calls, each band cost ~60 driver-to-JVM round trips,
    about a third of those a whole ``pipeline.run`` plan makes.
    """
    if num_perm % bands != 0 or bands > num_perm:
        # bands > num_perm gives r=0 (every doc shares every key — the
        # stop band then drops ALL candidates with no error); a
        # non-divisible split silently ignores the tail of the
        # signature, changing the s-curve from what the config implies
        raise ValueError(
            f"num_perm ({num_perm}) must be a positive multiple of bands ({bands})"
        )
    r = num_perm // bands

    def key(i: int) -> str:
        longs = ", ".join(f"element_at(`{sig}`, {i * r + j + 1})" for j in range(r))
        return f"concat('b{i}:', cast(xxhash64({longs}, {i}) as string))"

    return F.expr(f"array({', '.join(key(i) for i in range(bands))})")


def with_minhash_bands(
    docs: DataFrame,
    doc_col: str = "doc",
    k: int = 3,
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    seed: int = DEFAULT_SEED,
    keep_shingles: bool = False,
    skip: Column | None = None,
) -> DataFrame:
    """docs + ``bands`` column (array<string> of LSH keys).

    ``keep_shingles=True`` additionally keeps ``sh`` — the distinct
    shingle-hash array — so downstream pair scoring
    (``scoring.score_pairs``, the same shingle family) reuses the one
    computation instead of re-deriving it per join side. Costs ~O(doc tokens)*8 bytes per cached
    row; the pipeline opts in because its docs table is persisted anyway.

    ``skip``: boolean column; rows where it is true get empty ``bands``
    and ``sh`` (exact keys only). They hand the signature UDF an empty
    shingle array, for which it returns the zero sentinel without
    hashing, so every row goes through one projection and the frame
    keeps its input's single shuffle.
    """
    sig_udf = make_minhash_udf(num_perm=num_perm, seed=seed)
    shingles = shingle_hashes(doc_col, k=k)
    if skip is not None:
        shingles = F.when(skip, F.array().cast("array<long>")).otherwise(shingles)
    out = docs.withColumn("_shingles", shingles).withColumn("_sig", sig_udf("_shingles"))
    bands_col = band_keys("_sig", bands=bands, num_perm=num_perm)
    if skip is not None:
        bands_col = F.when(skip, F.array().cast("array<string>")).otherwise(bands_col)
    out = out.withColumn("bands", bands_col)
    if keep_shingles:
        out = out.withColumn("sh", F.array_distinct("_shingles"))
    return out.drop("_shingles", "_sig")
