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

    The inner join of the two sides' key counts drops every key one side
    lacks, so a Bloom probe of one side's keys in front of this decides
    nothing the join does not.
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
