"""Driver entry point and the operator parity suite.

``entry(spark)`` resolves the sf0.001 ``documents`` table with the same
``pipeline.run`` the CLI and the benchmark call.

Every entry in ``queries()`` is an operator from SURVEY.md §2 (or a
training-data-pipeline op the north star adds), expressed Spark-first in
``dedupe_spark``; ``oracle_sql()`` holds the ANSI-SQL equivalent DuckDB
runs on the same parquet. Column names/aliases match 1:1. Float-valued
columns are rounded on both sides (or dropped from the compared output)
so the order-insensitive value hash is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the cluster before expression-heavy work.

    The sf* test tables are single small parquet files (one row group), so
    the scan arrives as ONE input partition and everything up to the first
    exchange — shingle hashing, MinHash permutations, per-gram md5 — would
    run on a single core. The exchange moves only the raw table (<1 MB at
    bench scale) and buys full parallelism for the heavy projection above
    it. At production scale multi-file inputs arrive well-split and this
    is a no-op.

    Gating is on the scan's input FILE count (pure metadata) — round 3
    gated on ``df.rdd.getNumPartitions()``, which materializes the
    DataFrame->RDD conversion per invocation (VERDICT r3 #5).
    """
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


# Caches (persisted DataFrames, bloom bitmap broadcasts) created by the
# previous queries() invocation. A query callable returns a lazy
# DataFrame, so it cannot unpersist its own intermediates — instead each
# cache-using query drains the leftovers of the PREVIOUS one (the driver
# and bench run queries sequentially, so the prior query's action has
# completed by then). Long-lived sessions no longer accumulate storage.
_QUERY_DEPS: list = []


def release_query_caches() -> None:
    """Unpersist everything registered by earlier query invocations."""
    while _QUERY_DEPS:
        _QUERY_DEPS.pop().unpersist()


class _MemorySinkDrop:
    """Registers a streaming memory-sink view for the drain registry —
    the sink's collected rows live in driver memory until the view drops."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark, self.name = spark, name

    def unpersist(self) -> None:
        try:
            self.spark.catalog.dropTempView(self.name)
        except Exception:
            pass


# --------------------------------------------------------------------------
# shared SQL fragments (DuckDB dialect, matching dedupe_spark expressions)
# --------------------------------------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'),"
    " '  +', ' ', 'g'))"
)

_GRAMS3_SQL = f"""
norm AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
tokidx AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, greatest(array_length(toks) - 2, 1))) AS i
    FROM tok
),
grams AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(toks, i, i + 2), ' ') AS g
    FROM tokidx
)
"""


# --------------------------------------------------------------------------
# relational operator queries (TPC-H-ish tables)
# --------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """Hash aggregation w/ partial+final agg (SURVEY §2.6 'Aggregation')."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def q02_mktsegment_revenue(spark, sf_dir):
    """Shuffle hash join + agg (SURVEY §2.6 'Equi-join')."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q03_region_customer_counts(spark, sf_dir):
    """Broadcast join chain over small dims (SURVEY §2.5 I7)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


def q04_customers_with_orders(spark, sf_dir):
    """Left-semi join = EXISTS (SURVEY §2.6; reference keep/drop filter)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


def q05_customers_without_orders(spark, sf_dir):
    """Left-anti join = NOT EXISTS (reference remove_files survivor scan,
    src/deduplication.cpp:264)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q06_gc_renumber(spark, sf_dir):
    """GC renumbering: survivors densely renumbered (reference
    src/deduplication.cpp:344 running renumber, D5).

    Routed through the distributed dense-id helper (range partition +
    parallel windows + broadcast offsets) — identical output to a global
    ``row_number`` window for unique keys, with no single-reducer sort.
    """
    from dedupe_spark.functions.ids import with_dense_id

    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    survivors = p.join(li, p.p_partkey == li.l_partkey, "left_semi")
    return with_dense_id(survivors, ["p_partkey"], id_col="new_id").select(
        "p_partkey", "new_id"
    )


def q07_topk_per_group(spark, sf_dir):
    """Top-k per group via ranking window (SURVEY §2.6 'Window')."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def q08_intersect_keys(spark, sf_dir):
    """Set intersection (reference bloom set algebra, BloomFilter.cpp:161-198)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    b = o.select(F.col("o_custkey").alias("k"))
    return a.intersect(b)


def q09_except_keys(spark, sf_dir):
    """Set difference."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.where(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("k"))
    b = o.select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b.distinct())


def q10_rollup_customers(spark, sf_dir):
    """Rollup metrics (SURVEY §2.6 'Grouping sets')."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"))
    )


def q11_string_functions(spark, sf_dir):
    """String scalar functions (reference utils/FileType hex + suffix,
    src/FileType.cpp:98-111, src/utils.cpp:70-77)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.split(F.col("p_type"), " ").getItem(0).alias("type_head"),
        F.lower(F.hex(F.col("p_partkey"))).alias("hex_key"),
        F.length("p_name").alias("name_len"),
        F.substring_index("p_type", " ", -1).alias("type_tail"),
    )


def q12_monthly_orders(spark, sf_dir):
    """Date/time functions + agg."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month")
        )
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


def q13_part_refcount(spark, sf_dir):
    """Refcount per referenced block (reference D4,
    src/deduplication.cpp:280-293): groupBy-count + outer join zero-fill."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    rc = li.groupBy("l_partkey").agg(F.count("*").alias("rc"))
    return p.join(rc, p.p_partkey == rc.l_partkey, "left").select(
        "p_partkey", F.coalesce("rc", F.lit(0)).alias("refcount")
    )


def q14_running_total(spark, sf_dir):
    """Running aggregates (reference's removed_so_far running counter,
    src/deduplication.cpp:344)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
        F.count("*").over(w).alias("running_orders"),
    )


def q15_pivot_order_status(spark, sf_dir):
    """Pivot (conditional aggregation) — SURVEY §2.6 'Pivot'."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    piv = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return piv.select(
        "c_mktsegment",
        F.col("O").alias("status_o"),
        F.col("F").alias("status_f"),
        F.col("P").alias("status_p"),
    )


def q16_cube_counts(spark, sf_dir):
    """CUBE grouping sets."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .cube("r_name", "c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# dedup / text ops (documents)
# --------------------------------------------------------------------------


def q20_exact_dedup_docs(spark, sf_dir):
    """Exact dedup: md5 hash-groupBy, first-writer-wins (reference D1)."""
    from dedupe_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


def q21_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH candidate pairs (md5-string permutations, oracle-exact)."""
    from dedupe_spark.operators.dedup import minhash_lsh_pairs

    # no _spread: the gram explode feeds a groupBy exchange immediately,
    # so the heavy per-gram work is already post-shuffle parallel; the
    # extra repartition measured 20% slower steady-state at sf0.1
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text", num_perm=12, rows_per_band=2)


def q22_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard similarity join — PPJoin-style prefix-filtered
    (same exact semantics as the naive inverted-index join; the DuckDB
    oracle computes it naively)."""
    from dedupe_spark.operators.dedup import ngram_jaccard_pairs_prefix

    release_query_caches()
    # no _spread: same explode-then-shuffle shape as q21 (measured faster)
    d = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs_prefix(d, "doc_id", "text", n=3, threshold=0.5, deps=_QUERY_DEPS)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q21_fast_minhash_pairs(spark, sf_dir):
    """Production MinHash path: xxhash64 shingles (JVM) + numpy Philox
    permutations in a vectorized Arrow UDF (operators/minhash.py), bloom
    pre-prune, salted candidate join — the pipeline's actual blocking
    stage as a standalone query. No SQL oracle: the hash family is not
    expressible in ANSI SQL; correctness is covered by property tests
    (tests/test_minhash_fast.py: exact-dup guarantee, disjoint-doc
    isolation, determinism) and the driver's rows-only check."""
    from dedupe_spark.operators import blocking, minhash
    from dedupe_spark.operators.dedup import normalize_expr

    release_query_caches()
    d = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "doc_id", normalize_expr(F.col("text")).alias("doc")
    )
    banded = minhash.with_minhash_bands(d, "doc", k=3, num_perm=128, bands=32)
    # persisted: the bloom build (2 eager jobs), the probe, and the
    # salted join's frequency/self-join branches all read the exploded
    # block table — without the cache the signature UDF re-runs per branch
    blocks = blocking.explode_blocks(banded, "doc_id", "bands").persist()
    _QUERY_DEPS.append(blocks)
    pruned = blocking.bloom_preprune(blocks, mode="bloom", deps=_QUERY_DEPS)
    return blocking.candidate_pairs(pruned)


def q23_simhash(spark, sf_dir):
    """SimHash document signatures (60-bit, expression-only)."""
    from dedupe_spark.operators.dedup import simhash_table

    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return simhash_table(d, "doc_id", "text", out_col="simhash").withColumnRenamed(
        "id", "doc_id"
    )


def q24_doc_fingerprint(spark, sf_dir):
    """Winnowing-style min-hash fingerprint over char 8-grams (reference
    rolling-checksum sampling, src/checksum.cpp:68-76)."""
    from dedupe_spark.operators.text_analysis import document_fingerprint

    d = _t(spark, sf_dir, "documents")
    return document_fingerprint(d, "text").select("doc_id", "doc_fp")


def q25_lang_id(spark, sf_dir):
    """Heuristic stopword-marker language identification."""
    from dedupe_spark.operators.text_analysis import predict_language

    d = _t(spark, sf_dir, "documents")
    return predict_language(d, "text").select(
        "doc_id", "pred_lang", (F.col("pred_lang") == F.col("lang")).alias("correct")
    )


def q26_quality_scores(spark, sf_dir):
    """Text-quality features + composite score."""
    from dedupe_spark.operators.text_analysis import quality_features

    d = _t(spark, sf_dir, "documents")
    out = quality_features(d, "text")
    return out.select(
        "doc_id",
        "n_chars",
        "n_words",
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("quality_score", 2).alias("quality_score"),
    )


def q27_token_counts(spark, sf_dir):
    """Token counting: whitespace + BPE-ish estimate."""
    from dedupe_spark.operators.text_analysis import token_counts

    d = _t(spark, sf_dir, "documents")
    return token_counts(d, "text").select("doc_id", "n_tokens_ws", "n_tokens_bpe_est")


def q47_repetition_metrics(spark, sf_dir):
    """Gopher/MassiveText repetition filters (duplicate-2-gram fraction,
    top-2-gram fraction, unique-token fraction) — per-row codegen'd array
    exprs + an explode->aggregate for the top gram (no per-row quadratic
    scan; shuffle keyed on (doc_id, gram) so hot docs spread)."""
    from dedupe_spark.operators.text_analysis import repetition_metrics

    d = _t(spark, sf_dir, "documents")
    out = repetition_metrics(d, "text")
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("uniq_token_frac", 6).alias("uniq_token_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
    )


def q28_cc_exact_clusters(spark, sf_dir):
    """Connected components (large-star/small-star) over exact-duplicate
    edges; closed-form oracle because exact-fp components are cliques."""
    from dedupe_spark.operators.blocking import exact_key_pairs
    from dedupe_spark.operators.clustering import clusters_with_singletons, connected_components
    from dedupe_spark.operators.dedup import normalize_expr

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalize_expr(F.col("text"))).alias("fp")
    )
    edges = exact_key_pairs(d, "doc_id", "fp").select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    cc = connected_components(edges)
    return clusters_with_singletons(d.select(F.col("doc_id").alias("conv_id")), cc).select(
        F.col("conv_id").alias("doc_id"), F.col("cluster_id")
    )


def q29_incremental_cc(spark, sf_dir):
    """Incremental connected components: docs with even ids are the
    already-ingested corpus (their clusters computed and committed);
    odd-id docs arrive as a delta batch. Delta edges come from probing
    the new batch's fingerprints against ALL fps (the registry lookup an
    incremental ingest performs), and ``incremental_components`` folds
    them into the existing assignment by unioning its star edges with
    the delta — O(delta-neighborhood) work, no re-read of the original
    edge set. Oracle: exact-fp components are cliques, so the closed
    form ``min(doc_id) over (partition by fp)`` is the from-scratch
    answer the incremental path must reproduce."""
    from dedupe_spark.operators.clustering import (
        clusters_with_singletons,
        connected_components,
        incremental_components,
    )
    from dedupe_spark.operators.blocking import exact_key_pairs
    from dedupe_spark.operators.dedup import normalize_expr

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalize_expr(F.col("text"))).alias("fp")
    )
    old = d.where(F.col("doc_id") % 2 == 0)
    new = d.where(F.col("doc_id") % 2 == 1)

    old_edges = exact_key_pairs(old, "doc_id", "fp").select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    base = clusters_with_singletons(
        old.select(F.col("doc_id").alias("conv_id")), connected_components(old_edges)
    ).select(F.col("conv_id").alias("node"), "cluster_id")

    # the incremental probe: new fps against the full corpus (registry)
    delta = (
        new.select(F.col("doc_id").alias("src"), "fp")
        .join(d.select(F.col("doc_id").alias("dst"), "fp"), "fp")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    merged = incremental_components(base, delta)
    return clusters_with_singletons(
        d.select(F.col("doc_id").alias("conv_id")), merged
    ).select(F.col("conv_id").alias("doc_id"), "cluster_id")


def q32_sniff_media_type(spark, sf_dir):
    """Magic-byte media sniffing (C5, reference FileType::get_file_type,
    src/FileType.cpp:24-56) over deterministically synthesized binary
    payloads: doc_id%4 selects a real magic prefix (PNG/JPEG/RIFF/none)
    prepended to the utf-8 text bytes; the oracle builds the identical
    BLOB and applies the same longest-prefix CASE."""
    from dedupe_spark.operators.multimodal import sniff_media_type

    d = _t(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 4 == 0, F.unhex(F.lit("89504E470D0A1A0A")))
        .when(F.col("doc_id") % 4 == 1, F.unhex(F.lit("FFD8FF")))
        .when(F.col("doc_id") % 4 == 2, F.unhex(F.lit("52494646")))
        .otherwise(F.lit(b""))
    )
    payload = F.concat(magic, F.encode("text", "UTF-8"))
    return d.select("doc_id", sniff_media_type(payload).alias("media_type"))


def q33_aac_policy_keys(spark, sf_dir):
    """chunk_aac policy dispatch (C4, src/deduplication.cpp:1350-1390):
    'static' rows (source=src0 — the FSP analog) emit one exact
    normalized-md5 key; 'dynamic' rows emit MinHash/LSH band keys (the
    CDC analog). Uses the md5-string MinHash family so the whole
    dispatch has an exact ANSI-SQL oracle."""
    from dedupe_spark.operators.dedup import minhash_band_keys_sql, normalize_expr

    # no _spread: both branches explode into aggregations (post-shuffle
    # parallel already); the repartition measured slightly slower
    d = _t(spark, sf_dir, "documents")
    exact_keys = d.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("x:"), F.md5(normalize_expr(F.col("text")))).alias("band_key"),
    )
    lsh_keys = minhash_band_keys_sql(
        d.where(F.col("source") != "src0"), "doc_id", "text", num_perm=12, rows_per_band=2
    )
    return exact_keys.unionAll(lsh_keys.select("id", "band_key")).select(
        F.col("id").alias("doc_id"), "band_key"
    )


def q34_chunk_minhash_pairs(spark, sf_dir):
    """Chunk-granularity near-dup candidates (VERDICT r3 task 5): the
    reference dedups chunks WITHIN files (chunk_fsp + register_block,
    src/deduplication.cpp:985-1041, 1393-1461) — documents are split
    into fixed 32-token windows and MinHash/LSH runs per chunk, so a
    copied paragraph links two documents whose whole-doc signatures
    never collide. md5-string permutation family -> exact SQL oracle."""
    from dedupe_spark.operators.dedup import chunk_minhash_pairs

    d = _t(spark, sf_dir, "documents")
    return chunk_minhash_pairs(
        d, "doc_id", "text", chunk_tokens=32, num_perm=12, rows_per_band=2
    )


def q34_fast_chunk_minhash_pairs(spark, sf_dir):
    """Chunk-granularity candidates on the production hash family:
    xxhash64+Philox MinHash (128 perms / 32 bands), bloom pre-prune,
    salted stop-banded join — q34's semantics at q21_fast's speed, the
    configuration a 100 TB corpus would actually run (md5-string
    permutations exist only for the SQL oracle). No oracle: the hash
    family is not ANSI-SQL-expressible; property-tested in
    tests/test_chunk_minhash_fast.py (exact-chunk-dup guarantee,
    disjoint isolation, determinism, recall vs exact chunk Jaccard)."""
    from dedupe_spark.operators.dedup import chunk_minhash_pairs_fast

    release_query_caches()
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return chunk_minhash_pairs_fast(
        d, "doc_id", "text", chunk_tokens=32, deps=_QUERY_DEPS
    )


def q37_dedup_keep_best(spark, sf_dir):
    """The dedup endgame: exact-dup clusters (the same large-star/
    small-star CC machinery as the flagship pipeline) -> keep the
    highest-quality member per cluster (ties -> lowest doc_id) -> report
    the canonical doc and the chars a training run saves. Keep-best
    generalizes the reference's keep-first-registered policy
    (src/deduplication.cpp:1419-1449) with its savings accounting
    (:1860-1894). Oracle: closed-form min-over-fp clusters + the q26
    quality formula + the same ranking."""
    from dedupe_spark.operators.dedup import dedup_keep_best

    d = _t(spark, sf_dir, "documents")
    return dedup_keep_best(d, "doc_id", "text")


def q38_corpus_dedup_stats(spark, sf_dir):
    """package_stat as a query (reference's 'saved/org %' print,
    src/deduplication.cpp:1860-1894): per-source row counts, distinct
    normalized fingerprints, duplicate rows, and saved chars under
    keep-shortest-copy. Two map-side-combinable aggregations — linear
    at any corpus size."""
    from dedupe_spark.operators.dedup import corpus_dedup_stats

    d = _t(spark, sf_dir, "documents")
    return corpus_dedup_stats(d, "doc_id", "text", by="source")


def q36_jaro_winkler_pairs(spark, sf_dir):
    """Batch-vectorized Jaro-Winkler pair scoring (the north star's named
    scorer; operators/scoring.py:jaro_winkler_batch — numpy over padded
    byte matrices, Arrow-batched). Pairs are consecutive doc ids (a
    deterministic pair set); both engines cap the comparison at the same
    256-char prefix. DuckDB's ``jaro_winkler_similarity`` implements the
    identical standard algorithm (verified bit-for-bit on 2k random
    cases), so this UDF has an exact SQL oracle."""
    from dedupe_spark.operators.scoring import jaro_winkler_udf

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = d.select((F.col("doc_id") - 1).alias("id_a"), F.col("doc_id").alias("id_b"),
                 F.col("text").alias("tb"))
    jw = jaro_winkler_udf(prefix_cap=256)
    return (
        a.join(b, "id_a")
        .select("id_a", "id_b", F.round(jw(F.col("ta"), F.col("tb")), 6).alias("jw_sim"))
    )


# --------------------------------------------------------------------------
# embeddings: similarity search
# --------------------------------------------------------------------------


def q31_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs — **banded**: random-
    hyperplane sign-bucket LSH (4 Philox-seeded planes -> 16 buckets)
    turns all-pairs into a per-bucket equi-join (no CartesianProduct in
    the plan); the oracle embeds the identical plane literals, so both
    engines compute the same bucket-local pair set."""
    from dedupe_spark.operators.dedup import embedding_cosine_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(
        e, "vec_id", "embedding", threshold=0.4, block_planes=4
    ).select("id_a", "id_b")


# --------------------------------------------------------------------------
# events: time-series / streaming-shaped batch ops
# --------------------------------------------------------------------------


def q40_event_windows(spark, sf_dir):
    """Tumbling 5-minute window aggregation (batch form of the streaming
    windowed metrics)."""
    ev = _t(spark, sf_dir, "events")
    # driver parquet stores ts as TIMESTAMP_NTZ; session tz is pinned UTC
    # so the cast is the same instant DuckDB's epoch_ms sees
    bucket = F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / F.lit(300000)).cast("long")
    return (
        ev.groupBy((bucket * 300000).alias("window_start_ms"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def q19_multiway_join(spark, sf_dir):
    """Multi-way join + agg (mini TPC-H Q5 shape): revenue by nation of
    the supplier, via lineitem -> supplier -> nation."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q43_json_extract(spark, sf_dir):
    """JSON scalar extraction from the events.props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
        )
    )


def q41_event_dedup(spark, sf_dir):
    """Streaming-dedup semantics in batch: canonical event per
    (user, type, quantized value) — first-writer-wins."""
    ev = _t(spark, sf_dir, "events")
    key = F.floor(F.col("value") * 10).cast("long")
    return (
        ev.groupBy("user_id", "event_type", key.alias("value_bucket"))
        .agg(F.min("event_id").alias("canonical_event_id"), F.count("*").alias("n_copies"))
    )


_STREAM_SINK_SEQ = [0]


def q44_streaming_dedup(spark, sf_dir):
    """Structured Streaming dedup, run synchronously against the events
    parquet as a file stream (availableNow) into a memory sink. Output
    is the distinct key set (user_id, event_type, value_bucket) — the
    deterministic projection of streaming ``dropDuplicates`` (which row
    arrives first is arrival-order-dependent; the key set is not), so
    the batch SQL oracle is exact."""
    import shutil
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # the file stream source requires a directory; stage the (read-only)
    # parquet into a temp dir
    stage = tempfile.mkdtemp(prefix="q44_stream_")
    try:
        shutil.copy(path, f"{stage}/events.parquet")
        stream = spark.readStream.schema(schema).parquet(stage)
        keys = stream.select(
            "user_id",
            "event_type",
            F.floor(F.col("value") * 10).cast("long").alias("value_bucket"),
        ).dropDuplicates(["user_id", "event_type", "value_bucket"])
        _STREAM_SINK_SEQ[0] += 1
        name = f"q44_sink_{_STREAM_SINK_SEQ[0]}"
        q = (
            keys.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _QUERY_DEPS.append(_MemorySinkDrop(spark, name))
        # the memory sink holds the rows; the staged input can go now
        return spark.table(name)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def q45_streaming_event_windows(spark, sf_dir):
    """Streaming windowed aggregation (5-minute tumbling windows over a
    file stream, complete-mode memory sink) — the streaming twin of q40,
    checked against the identical batch SQL oracle. Spark's window()
    aligns to the epoch, so floor(epoch_ms/300000)*300000 equals the
    window start in both engines."""
    import shutil
    import tempfile

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stage = tempfile.mkdtemp(prefix="q45_stream_")
    try:
        shutil.copy(path, f"{stage}/events.parquet")
        stream = spark.readStream.schema(schema).parquet(stage)
        agg = (
            stream.groupBy(
                F.window(F.col("ts").cast("timestamp"), "5 minutes").alias("w"), "event_type"
            )
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(
                F.unix_millis(F.col("w.start")).alias("window_start_ms"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        _STREAM_SINK_SEQ[0] += 1
        name = f"q45_sink_{_STREAM_SINK_SEQ[0]}"
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _QUERY_DEPS.append(_MemorySinkDrop(spark, name))
        return spark.table(name)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def q46_streaming_sessionize(spark, sf_dir):
    """Custom STATEFUL streaming operator: per-user sessionization via
    ``applyInPandasWithState`` (streaming/dedupe_stream.py
    stream_sessionize) — per-user (last_ts, session_idx) state carried
    across micro-batches, vectorized numpy inside each group. Output is
    identical to the batch lag + running-sum sessionize, so q42's SQL
    oracle is exact (tests/test_streaming.py additionally proves
    multi-batch equality — state survives batch boundaries)."""
    import shutil
    import tempfile

    from dedupe_spark.streaming.dedupe_stream import stream_sessionize

    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    stage = tempfile.mkdtemp(prefix="q46_stream_")
    try:
        shutil.copy(path, f"{stage}/events.parquet")
        stream = spark.readStream.schema(schema).parquet(stage)
        sess = stream_sessionize(stream)
        _STREAM_SINK_SEQ[0] += 1
        name = f"q46_sink_{_STREAM_SINK_SEQ[0]}"
        q = (
            sess.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _QUERY_DEPS.append(_MemorySinkDrop(spark, name))
        return spark.table(name)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def q42_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap session ids via lag + running sum."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, 0)
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w_lag)
    new_sess = F.when(gap.isNull() | (gap > 1800000), 1).otherwise(0)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(new_sess).over(w_run).alias("session_idx"),
    )


def q48_passage_dedup(spark, sf_dir):
    """Passage-granular exact-substring dedup stats (Lee et al. 2022 at
    fixed 16-token windows — the scalable stand-in for suffix arrays;
    reference analog: FSP fixed-block chunking, deduplication.cpp:22).
    explode -> hash-agg on passage md5 -> join back -> per-doc agg; all
    shuffles keyed on the passage hash or doc id, nothing quadratic."""
    from dedupe_spark.operators.dedup import passage_dedup_stats

    d = _t(spark, sf_dir, "documents")
    return passage_dedup_stats(d, "doc_id", "text", window=16)


def q49_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 20 != 0)
    sharing >= 3 distinct 8-gram with a benchmark doc (doc_id % 20 == 0).
    The benchmark gram set is broadcast, so the corpus side never
    shuffles — the plan a 100 TB decontamination pass needs."""
    from dedupe_spark.operators.dedup import decontaminate

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("doc_id") % 20 != 0)
    bench = d.where(F.col("doc_id") % 20 == 0)
    return decontaminate(train, bench, "doc_id", "text", n=8, min_shared=3)


def q50_filter_funnel(spark, sf_dir):
    """C4/Gopher-style corpus filter funnel: first-failing-rule verdict
    per document, single scan, zero joins (every rule is a codegen'd
    per-row expression)."""
    from dedupe_spark.operators.text_analysis import filter_funnel

    d = _t(spark, sf_dir, "documents")
    return filter_funnel(d, "text").select("doc_id", "verdict")


def q51_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document: explode -> two map-side-combinable
    hash aggs -> token-keyed join -> per-doc window top-k; corpus size N
    enters as a broadcast 1-row aggregate, not a driver collect."""
    from dedupe_spark.operators.text_analysis import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text", k=3)


def q54_pii_scrub(spark, sf_dir):
    """PII scrub (operators/privacy.py): redact emails / IPv4s / phone
    numbers with codegen'd regexp_replace, counting what each rule
    removed. Deterministic PII is spliced into the synthetic docs first
    (doc_id-keyed CASE concat — both engines build the identical text)
    so the rules have real matches to find. Single projection, zero
    shuffles — a 100 TB scrub is scan-bandwidth-bound."""
    from dedupe_spark.operators.privacy import pii_scrub

    did = F.col("doc_id")
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" from 10."), (did % 200).cast("string"),
                    F.lit(".0."), (did % 250).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" call 555-867-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "redacted", "n_email", "n_ipv4", "n_phone", "has_pii"
    )


def q56_transcript_lint(spark, sf_dir):
    """Per-conversation structural lint (operators/transcript_qa.py):
    non-user openings, same-role runs, empty turns, tool turns missing a
    tool name, turn-index gaps. Turns are synthesized deterministically
    from documents via the proven chunk_documents parity path (16-token
    windows = turns) with doc_id-keyed corruptions so every defect class
    has positives. One conv_id shuffle shared by the lag window and the
    aggregation."""
    from dedupe_spark.operators.dedup import chunk_documents
    from dedupe_spark.operators.transcript_qa import transcript_lint

    d = _t(spark, sf_dir, "documents")
    ch = chunk_documents(d, "doc_id", "text", chunk_tokens=16)
    did, c = F.col("doc_id"), F.col("chunk_idx")
    turns = ch.select(
        did.alias("conv_id"),
        F.when((did % 17 == 0) & (c > 0), c + 1).otherwise(c).cast("long").alias("turn_idx"),
        F.when((c % 4 == 3) & (did % 2 == 0), F.lit("tool"))
        .when((c == 0) & (did % 11 == 0), F.lit("assistant"))
        .when(c % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.when((did % 13 == 0) & (c % 5 == 4), F.lit("")).otherwise(
            F.col("chunk_text")
        ).alias("text"),
        F.when(
            (c % 4 == 3) & (did % 2 == 0) & (did % 6 != 0), F.lit("search")
        ).alias("tool"),
    )
    return transcript_lint(turns)


def q57_cross_corpus_dedup(spark, sf_dir):
    """Corpus-merge probe (operators/dedup.py:cross_corpus_verdicts):
    incoming docs (doc_id odd) checked against the base corpus (even) —
    exact fp hit, MinHash band hit, or genuinely new. The reference's
    registry lookup-or-insert lifted to corpus granularity; both probes
    are key-only semi-joins, so the base side never ships text."""
    from dedupe_spark.operators.dedup import cross_corpus_verdicts

    d = _t(spark, sf_dir, "documents")
    base = d.where(F.col("doc_id") % 2 == 0)
    incoming = d.where(F.col("doc_id") % 2 != 0)
    return cross_corpus_verdicts(incoming, base, "doc_id", "text")


def q58_source_profile(spark, sf_dir):
    """Per-source corpus profiling: counts, char-length extremes/mean,
    exact interpolated median and p90, language spread. One
    map-side-combinable hash aggregate — profiling 100 TB costs one
    scan. (percentile here is the exact linear-interpolation aggregate,
    matching DuckDB's quantile_cont; at 10^12 rows you'd swap in
    approx_percentile and accept the sketch bound.)"""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("median_chars"),
        F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )


_SWEEP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def q59_threshold_sweep(spark, sf_dir):
    """Dedup sensitivity sweep: how many near-dup pairs (and removable
    docs, keep-lowest-id) survive each Jaccard threshold. ONE exact
    prefix-filtered similarity join at the loosest threshold feeds every
    tighter cut — the sweep itself is a broadcast cross join against a
    5-row threshold table + one hash agg, so tuning the dedup knob on
    100 TB costs one candidate join, not five."""
    from dedupe_spark.operators.dedup import ngram_jaccard_pairs_prefix

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=min(_SWEEP_THRESHOLDS), deps=_QUERY_DEPS
    )
    th = spark.createDataFrame([(t,) for t in _SWEEP_THRESHOLDS], "threshold double")
    hit = F.col("jaccard") >= F.col("threshold")
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.count(F.when(hit, 1)).alias("n_pairs"),
            F.count_distinct(F.when(hit, F.col("id_b"))).alias("n_docs_removable"),
        )
    )


def q60_cluster_size_histogram(spark, sf_dir):
    """Exact-dup diagnostics: distribution of duplicate-cluster sizes
    (normalized-fp groups) with the chars a keep-one policy saves per
    size. Two map-side-combinable hash aggs — the shape package_stat
    reporting takes at any corpus size (reference savings accounting,
    /root/reference/src/deduplication.cpp:1860-1894)."""
    from dedupe_spark.operators.dedup import normalize_expr

    d = _t(spark, sf_dir, "documents")
    clusters = d.select(
        F.md5(normalize_expr(F.col("text"))).alias("fp"), F.col("n_chars")
    ).groupBy("fp").agg(
        F.count("*").alias("cluster_size"),
        (F.sum("n_chars") - F.min("n_chars")).alias("chars_saved"),
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("chars_saved").alias("total_chars_saved"),
    )


_FS_PAIR_OFFSETS = (1, 13)  # +1 is near-dup-rich in the fixture, +13 mostly non-match


def _fs_offset_pairs(
    ids: DataFrame, id_col: str = "doc_id", offsets: tuple = _FS_PAIR_OFFSETS
) -> DataFrame:
    """Deterministic candidate pairs for the linkage/eval queries:
    (id, id + off) per offset — near-dup-rich small offsets plus
    mostly-non-match large ones, so fitters/evaluators see both
    classes."""
    pairs = None
    for off in offsets:
        p = ids.select(F.col(id_col).alias("id_a")).join(
            ids.select(
                (F.col(id_col) - off).alias("id_a"), F.col(id_col).alias("id_b")
            ),
            "id_a",
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return pairs


def q64_fs_em_linkage(spark, sf_dir):
    """Fellegi-Sunter probabilistic linkage (operators/linkage.py): EM-fitted
    per-field m/u weights over a deterministic candidate-pair set, posterior
    match_prob + log2-Bayes-factor match_weight per pair. 3 EM iterations,
    each exactly ONE map-side-combinable agg pass over the persisted gamma
    table with the current parameters embedded as codegen literals (driver
    state = a few dozen floats, like the CC loop's checksum). The learned
    alternative to the reference's fixed thresholds
    (/root/reference/src/deduplication.cpp:985-1178). Oracle: the identical
    fixed-iteration EM unrolled into chained CTEs (_fs_em_oracle)."""
    from dedupe_spark.operators.linkage import (
        DOCUMENT_COMPARISONS,
        document_comparison_vectors,
        em_fellegi_sunter,
    )

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    gammas = document_comparison_vectors(d, _fs_offset_pairs(d.select("doc_id"))).persist()
    _QUERY_DEPS.append(gammas)
    _, scored = em_fellegi_sunter(gammas, DOCUMENT_COMPARISONS, iters=3)
    return scored.select(
        "id_a",
        "id_b",
        "gamma_text",
        "gamma_lang",
        "gamma_len",
        F.round("match_prob", 6).alias("match_prob"),
        F.round("match_weight", 6).alias("match_weight"),
    )


def _fs_gamma_ctes(keep_lang: bool = False) -> list[str]:
    """Shared DuckDB CTEs replicating _fs_offset_pairs +
    linkage.document_comparison_vectors: the p0 candidate-pair CTE, the
    tokenized d CTE, and the g gamma CTE (optionally carrying the a-side
    lang for term-frequency adjustment)."""
    pair_branches = "\n  UNION ALL\n".join(
        f"  SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a "
        f"JOIN documents b ON b.doc_id = a.doc_id + {off}"
        for off in _FS_PAIR_OFFSETS
    )
    lang_col = ",\n    lang_a AS lang" if keep_lang else ""
    return [
        f"p0 AS (\n{pair_branches}\n)",
        (
            "d AS (SELECT doc_id AS id,"
            " list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS toks,"
            " lang, n_chars FROM documents)"
        ),
        (
            "g AS (\n"
            "  SELECT id_a, id_b,\n"
            "    CASE WHEN jac >= 0.8 THEN 2 WHEN jac >= 0.3 THEN 1 ELSE 0 END AS gamma_text,\n"
            "    CASE WHEN lang_a = lang_b THEN 1 ELSE 0 END AS gamma_lang,\n"
            "    CASE WHEN ldiff <= 8 THEN 2 WHEN ldiff <= 64 THEN 1 ELSE 0 END AS gamma_len"
            f"{lang_col}\n"
            "  FROM (\n"
            "    SELECT p0.id_a, p0.id_b,\n"
            "      len(list_intersect(da.toks, db.toks))::DOUBLE\n"
            "        / len(list_distinct(list_concat(da.toks, db.toks))) AS jac,\n"
            "      da.lang AS lang_a, db.lang AS lang_b,\n"
            "      abs(da.n_chars - db.n_chars) AS ldiff\n"
            "    FROM p0 JOIN d da ON da.id = p0.id_a JOIN d db ON db.id = p0.id_b\n"
            "  )\n"
            ")"
        ),
    ]


def _fs_prior_cases() -> list[tuple[str, str, str]]:
    """(name, m_case_sql, u_case_sql) per comparison under the LITERAL
    prior parameters — the single source for the q73/q75/q78 oracles so
    the literal-casting scheme can never diverge between them."""
    from dedupe_spark.operators.linkage import DOCUMENT_COMPARISONS as COMPS

    def case(c, probs):
        branches = " ".join(
            f"WHEN {lvl} THEN CAST({float(probs[lvl])} AS DOUBLE)"
            for lvl in range(c.levels)
        )
        return f"(CASE {c.name} {branches} END)"

    return [(c.name, case(c, c.init_m), case(c, c.init_u)) for c in COMPS]


def _fs_prior_prods() -> tuple[str, str]:
    """(prod_m, prod_u) SQL under the literal prior parameters."""
    cases = _fs_prior_cases()
    return " * ".join(m for _, m, _ in cases), " * ".join(u for _, _, u in cases)


def _fs_tf_oracle() -> str:
    """q73 oracle: score the gamma table under the literal prior
    parameters (no EM) and add the value-specific term-frequency
    adjustment on lang — the same closed-form arithmetic
    linkage.score_with_params + tf_adjusted_weights evaluate."""
    from dedupe_spark.operators.linkage import DOCUMENT_COMPARISONS as COMPS

    mprod, uprod = _fs_prior_prods()
    u_agree = float(next(c for c in COMPS if c.name == "gamma_lang").init_u[1])
    ctes = _fs_gamma_ctes(keep_lang=True) + [
        (
            "tf AS (SELECT lang, count(*)::DOUBLE /"
            " (SELECT count(*) FROM documents) AS tf FROM documents GROUP BY lang)"
        )
    ]
    weight = f"log2(({mprod}) / ({uprod}))"
    adj = (
        f"CASE WHEN g.gamma_lang = 1 AND tf.tf IS NOT NULL AND tf.tf > 0"
        f" THEN log2(CAST({u_agree} AS DOUBLE) / tf.tf) ELSE 0.0 END"
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT g.id_a, g.id_b, g.lang, g.gamma_lang,\n"
        f"  round({weight}, 6) AS match_weight,\n"
        f"  round({weight} + {adj}, 6) AS tf_adj_weight\n"
        "FROM g LEFT JOIN tf ON tf.lang = g.lang"
    )


def _fs_waterfall_oracle() -> str:
    """q75 oracle: per-comparison log2 Bayes contributions under the
    literal prior parameters — the same arithmetic as
    linkage.match_weight_contributions."""
    terms = {name: f"log2({m} / {u})" for name, m, u in _fs_prior_cases()}
    cols = [f"  round({t}, 6) AS w_{name}" for name, t in terms.items()]
    total = " + ".join(terms.values())
    return (
        "WITH " + ",\n".join(_fs_gamma_ctes()) + "\n"
        "SELECT id_a, id_b,\n"
        + ",\n".join(cols)
        + f",\n  round({total}, 6) AS total_weight\nFROM g"
    )


def _fs_unlinkables_oracle() -> str:
    """q78 oracle: per-record best 6-dp-rounded match weight under the
    literal prior parameters, floor-binned with a cumulative count."""
    mprod, uprod = _fs_prior_prods()
    return (
        "WITH " + ",\n".join(_fs_gamma_ctes()) + ",\n"
        f"sc AS (SELECT id_a, id_b, round(log2(({mprod}) / ({uprod})), 6) AS w FROM g),\n"
        "per_side AS (SELECT id_a AS rid, w FROM sc UNION ALL SELECT id_b AS rid, w FROM sc),\n"
        "best AS (SELECT rid, max(w) AS best_w FROM per_side WHERE w IS NOT NULL GROUP BY rid),\n"
        "binned AS (SELECT floor(best_w / 1.0) * 1.0 AS weight_bin,"
        " count(*)::BIGINT AS n_records FROM best GROUP BY 1)\n"
        "SELECT round(weight_bin, 6) AS weight_bin, n_records,\n"
        "       sum(n_records) OVER (ORDER BY weight_bin\n"
        "           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_records\n"
        "FROM binned"
    )


def _fs_uncertainty_oracle(k: int = 100) -> str:
    """q79 oracle: posterior under the literal prior parameters (the
    same left-associated product/0.5-scaling arithmetic as
    linkage._posterior_expr, so the doubles agree bit-for-bit), 6-dp
    rounded, then the k rows closest to 0.5 under the engine-portable
    (uncertainty desc, id_a, id_b) total order."""
    mprod, uprod = _fs_prior_prods()
    prob = f"(0.5 * ({mprod})) / ((0.5 * ({mprod})) + (0.5 * ({uprod})))"
    return (
        "WITH " + ",\n".join(_fs_gamma_ctes()) + ",\n"
        f"sc AS (SELECT id_a, id_b, round({prob}, 6) AS match_prob FROM g),\n"
        "u AS (SELECT id_a, id_b, match_prob,\n"
        "        round(0.5 - abs(match_prob - 0.5), 6) AS uncertainty FROM sc)\n"
        "SELECT id_a, id_b, match_prob, uncertainty FROM u\n"
        f"ORDER BY uncertainty DESC, id_a, id_b LIMIT {k}"
    )


def _fs_em_oracle(iters: int = 3, init_lambda: float = 0.5) -> str:
    """Unroll the fixed-iteration Fellegi-Sunter EM into DuckDB CTEs from
    the SAME Comparison specs the Spark operator uses — one params CTE per
    iteration (a single row), one E-step CTE re-deriving the posterior, so
    both engines execute the identical closed-form arithmetic."""
    from dedupe_spark.operators.linkage import DOCUMENT_COMPARISONS as COMPS

    def m_case(c, t):
        branches = " ".join(
            f"WHEN {lvl} THEN {t}.m_{c.name}_{lvl}" for lvl in range(c.levels)
        )
        return f"CASE {c.name} {branches} END"

    def u_case(c, t):
        branches = " ".join(
            f"WHEN {lvl} THEN {t}.u_{c.name}_{lvl}" for lvl in range(c.levels)
        )
        return f"CASE {c.name} {branches} END"

    init_cols = [f"CAST({init_lambda} AS DOUBLE) AS lam"]
    for c in COMPS:
        for lvl in range(c.levels):
            init_cols.append(f"CAST({c.init_m[lvl]} AS DOUBLE) AS m_{c.name}_{lvl}")
            init_cols.append(f"CAST({c.init_u[lvl]} AS DOUBLE) AS u_{c.name}_{lvl}")

    ctes = _fs_gamma_ctes() + ["it0 AS (SELECT " + ", ".join(init_cols) + ")"]
    for i in range(1, iters + 1):
        mprod = " * ".join(m_case(c, "t") for c in COMPS)
        uprod = " * ".join(u_case(c, "t") for c in COMPS)
        ctes.append(
            f"e{i} AS (\n"
            f"  SELECT g.*, (t.lam * {mprod})\n"
            f"    / (t.lam * {mprod} + (1 - t.lam) * {uprod}) AS prob\n"
            f"  FROM g CROSS JOIN it{i - 1} t\n)"
        )
        upd = ["avg(prob) AS lam"]
        for c in COMPS:
            for lvl in range(c.levels):
                ind = f"(CASE WHEN {c.name} = {lvl} THEN 1.0 ELSE 0.0 END)"
                upd.append(f"sum(prob * {ind}) / sum(prob) AS m_{c.name}_{lvl}")
                upd.append(f"sum((1 - prob) * {ind}) / sum(1 - prob) AS u_{c.name}_{lvl}")
        ctes.append(f"it{i} AS (SELECT " + ",\n  ".join(upd) + f" FROM e{i})")

    mprod = " * ".join(m_case(c, "t") for c in COMPS)
    uprod = " * ".join(u_case(c, "t") for c in COMPS)
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        "SELECT g.id_a, g.id_b, g.gamma_text, g.gamma_lang, g.gamma_len,\n"
        f"  round((t.lam * {mprod}) / (t.lam * {mprod} + (1 - t.lam) * {uprod}), 6)"
        " AS match_prob,\n"
        f"  CASE WHEN {uprod} > 0 AND {mprod} > 0"
        f" THEN round(log2(({mprod}) / ({uprod})), 6) END AS match_weight\n"
        f"FROM g CROSS JOIN it{iters} t"
    )


def q65_golden_records(spark, sf_dir):
    """Survivorship (operators/canonical.py): merge each exact-dup
    cluster (normalized-fp groups, cluster id = min doc_id) into one
    golden record — longest text wins the canonical pick (tie: lowest
    id), lang/source resolved to the cluster mode (tie: smallest value).
    One cluster-keyed shuffle reused by every rule; the step AFTER the
    reference's refcount bookkeeping (src/deduplication.cpp:612-637)
    that a full ER pipeline needs."""
    from dedupe_spark.operators.canonical import golden_records
    from dedupe_spark.operators.dedup import normalize_expr
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    assign = d.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(normalize_expr(F.col("text")))))
        .alias("cluster_id"),
    )
    return golden_records(d, assign)


def q66_cluster_eval(spark, sf_dir):
    """Extrinsic clustering quality (operators/evaluation.py): B-cubed
    and pairwise precision/recall/F1 of the 4-plane hyperplane-LSH
    buckets against the embeddings table's gold labels. Everything
    reduces over the (pred, gold) contingency cells — no pair table is
    materialized, so the metric costs three |clusters|-row shuffles at
    any corpus size."""
    from dedupe_spark.operators.dedup import _sign_bucket
    from dedupe_spark.operators.evaluation import cluster_eval

    e = _t(spark, sf_dir, "embeddings")
    assign = e.select(
        _sign_bucket(F.col("embedding"), planes=4).alias("pred"),
        F.col("label").alias("gold"),
    )
    out = cluster_eval(assign, "pred", "gold")
    return out.select(
        "n_items",
        *[
            F.round(c, 6).alias(c)
            for c in (
                "b3_precision",
                "b3_recall",
                "b3_f1",
                "pair_precision",
                "pair_recall",
                "pair_f1",
            )
        ],
    )


def q67_duplicated_spans(spark, sf_dir):
    """Sub-document duplicated-span extraction (operators/dedup.py:
    duplicated_spans) — ExactSubstr dedup (Lee et al. 2022) at 8-token
    window resolution: overlapping rolling windows, cross-doc dup test
    via ONE hash agg on the window string, maximal spans by
    gaps-and-islands per doc. The spans a curation pipeline cuts out
    instead of dropping whole documents."""
    from dedupe_spark.operators.dedup import duplicated_spans

    d = _t(spark, sf_dir, "documents")
    out = duplicated_spans(d, "doc_id", "text", k=8)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


def q68_span_trimmed_docs(spark, sf_dir):
    """The curation ACTION q67 enables (operators/dedup.py:remove_spans):
    cut every cross-document duplicated 8-token span out of the text and
    keep the unique remainder — span-level trim instead of whole-doc
    drop (Lee et al. 2022). Spans collapse to one array per doc; the cut
    is a higher-order-function filter over the token array, O(tokens)
    per doc in codegen, no per-token row explosion on the Spark side."""
    from dedupe_spark.operators.dedup import duplicated_spans, remove_spans

    d = _t(spark, sf_dir, "documents")
    spans = duplicated_spans(d, "doc_id", "text", k=8)
    return remove_spans(d, spans, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "clean_text", "n_tokens", "n_removed"
    )


def q71_phonetic_blocking(spark, sf_dir):
    """Phonetic blocking: Soundex codes over the part-name vocabulary,
    emitting the sound-alike word pairs each code groups (the classic
    ER blocking key for typo'd names). Spark side is the built-in
    codegen ``F.soundex``; the DuckDB oracle replicates the algorithm
    as a SQL expression chain (functions/phonetic.py:soundex_sql, the
    engines' agreement is property-tested in tests/test_phonetic.py)."""
    words = (
        _t(spark, sf_dir, "part")
        .select(F.explode(F.split(F.trim(F.col("p_name")), r"\s+")).alias("w"))
        .distinct()
    )
    sx = words.withColumn("code", F.soundex("w"))
    a = sx.select("code", F.col("w").alias("w_a"))
    b = sx.select("code", F.col("w").alias("w_b"))
    return a.join(b, "code").where(F.col("w_a") < F.col("w_b")).select(
        "code", "w_a", "w_b"
    )


def q72_one_to_one_linkage(spark, sf_dir):
    """Bipartite record linkage with one-to-one assignment
    (operators/linkage.py:reciprocal_best_links): split the corpus into
    left (even doc_id) / right (odd) datasets, generate cross-side
    candidates with the exact prefix-filtered n-gram Jaccard join, then
    keep (a, b) iff b is a's best-scoring candidate AND a is b's (ties
    to the smaller partner id). The A<->B linkage mode the dedup-only
    reference lacks (its registry is lookup-or-insert,
    /root/reference/src/deduplication.cpp:1405-1417); assignment costs
    two row_number windows over the candidate pairs only — the entity
    tables never re-shuffle and no iterative matching rounds run."""
    from dedupe_spark.operators.dedup import ngram_jaccard_pairs_prefix
    from dedupe_spark.operators.linkage import reciprocal_best_links

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.6, deps=_QUERY_DEPS
    )
    even_a = F.col("id_a") % 2 == 0
    cross = pairs.where((F.col("id_a") % 2) != (F.col("id_b") % 2)).select(
        F.when(even_a, F.col("id_a")).otherwise(F.col("id_b")).alias("left_id"),
        F.when(even_a, F.col("id_b")).otherwise(F.col("id_a")).alias("right_id"),
        "jaccard",
    )
    links = reciprocal_best_links(cross, "left_id", "right_id", "jaccard")
    return links.select(
        "left_id", "right_id", F.round("jaccard", 4).alias("jaccard")
    )


def q73_tf_adjusted_linkage(spark, sf_dir):
    """Term-frequency-adjusted Fellegi-Sunter match weights
    (operators/linkage.py:tf_adjusted_weights; Winkler 1989's
    value-specific weights, Splink's tf_adjustments): agreement on a
    RARE lang is stronger evidence than on a common one, so pairs
    agreeing on value v trade the generic agree-level u for v's own
    collision probability tf(v) — match_weight gains log2(u_agree /
    tf_v). The tf side table is one broadcast row per distinct value,
    so the adjustment adds ZERO shuffle to the pair table at any scale.
    Scored under the fixed prior parameters (no EM) so both engines
    evaluate the same literal arithmetic."""
    from dedupe_spark.operators.linkage import (
        DOCUMENT_COMPARISONS,
        document_comparison_vectors,
        score_with_params,
        term_frequencies,
        tf_adjusted_weights,
    )

    d = _t(spark, sf_dir, "documents")
    gammas = document_comparison_vectors(
        d, _fs_offset_pairs(d.select("doc_id")), keep=("lang",)
    ).withColumnRenamed("lang_a", "lang")
    params: dict = {"lambda": 0.5}
    for c in DOCUMENT_COMPARISONS:
        params[f"m_{c.name}"] = list(c.init_m)
        params[f"u_{c.name}"] = list(c.init_u)
    scored = score_with_params(gammas, DOCUMENT_COMPARISONS, params)
    lang_comp = next(c for c in DOCUMENT_COMPARISONS if c.name == "gamma_lang")
    adj = tf_adjusted_weights(
        scored,
        term_frequencies(d, "lang"),
        "lang",
        "gamma_lang",
        u_agree=lang_comp.init_u[1],
        agree_level=1,
    )
    return adj.select(
        "id_a",
        "id_b",
        "lang",
        "gamma_lang",
        F.round("match_weight", 6).alias("match_weight"),
        F.round("tf_adj_weight", 6).alias("tf_adj_weight"),
    )


def q75_match_waterfall(spark, sf_dir):
    """Per-field match-weight waterfall (operators/linkage.py:
    match_weight_contributions; Splink's comparison-level
    explainability): each pair's log2 Bayes-factor contribution per
    comparison plus the total, under the literal prior parameters — the
    clerical-review view that says WHICH field drove a link decision.
    Pure-codegen projection over the gamma table: no join, no UDF, no
    extra shuffle at any corpus size."""
    from dedupe_spark.operators.linkage import (
        DOCUMENT_COMPARISONS,
        document_comparison_vectors,
        match_weight_contributions,
    )

    d = _t(spark, sf_dir, "documents")
    gammas = document_comparison_vectors(d, _fs_offset_pairs(d.select("doc_id")))
    params: dict = {"lambda": 0.5}
    for c in DOCUMENT_COMPARISONS:
        params[f"m_{c.name}"] = list(c.init_m)
        params[f"u_{c.name}"] = list(c.init_u)
    out = match_weight_contributions(gammas, DOCUMENT_COMPARISONS, params)
    return out.select(
        "id_a",
        "id_b",
        *[F.round(f"w_{c.name}", 6).alias(f"w_{c.name}") for c in DOCUMENT_COMPARISONS],
        F.round("total_weight", 6).alias("total_weight"),
    )


def q76_cluster_repair_edges(spark, sf_dir):
    """Cluster repair before CC (operators/clustering.py:
    prune_weak_edges): transitive clustering over-merges through single
    spurious edges, so drop BRIDGE edges (both endpoints have other
    neighbors) that lack common-neighbor (triangle) support, unless the
    score itself is high-confidence (>= 0.9). Isolated pairs and leaf
    attachments can't merge two multi-node clusters and always survive.
    Support is one adjacency self-join keyed on the shared neighbor over
    the CANDIDATE graph only — O(sum deg^2) with degree bounded by
    blocking; the k-truss(3) signal used for ER cluster splitting."""
    from dedupe_spark.operators.dedup import ngram_jaccard_pairs_prefix
    from dedupe_spark.operators.clustering import prune_weak_edges

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.6, deps=_QUERY_DEPS
    ).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), F.col("jaccard")
    )
    # persisted EAGERLY: prune_weak_edges reads the edge table from four
    # branches AQE materializes concurrently (degree agg, both adjacency
    # sides, output join) — a lazy persist would race its own fill and
    # every branch would re-run the prefix-filtered similarity join
    edges = edges.persist()
    edges.count()
    _QUERY_DEPS.append(edges)
    kept = prune_weak_edges(
        edges, min_support=1, strong_score=0.9, score_col="jaccard"
    )
    return kept.select(
        "src", "dst", F.round("jaccard", 4).alias("jaccard"), "support"
    )


def q78_unlinkables(spark, sf_dir):
    """Unlinkables histogram (operators/linkage.py:
    unlinkables_histogram; Splink's unlinkables chart): per-record BEST
    match weight under the literal prior parameters, floor-binned with
    a cumulative count — how much of the corpus a given accept
    threshold would leave as singletons. One symmetric explode + max
    agg keyed by record id, then a cumulative window over the DISTINCT
    bins only; the pair table is never ranked."""
    from dedupe_spark.operators.linkage import (
        DOCUMENT_COMPARISONS,
        document_comparison_vectors,
        score_with_params,
        unlinkables_histogram,
    )

    d = _t(spark, sf_dir, "documents")
    gammas = document_comparison_vectors(d, _fs_offset_pairs(d.select("doc_id")))
    params: dict = {"lambda": 0.5}
    for c in DOCUMENT_COMPARISONS:
        params[f"m_{c.name}"] = list(c.init_m)
        params[f"u_{c.name}"] = list(c.init_u)
    scored = score_with_params(gammas, DOCUMENT_COMPARISONS, params)
    # bin on the 6-dp-rounded weight: one prior-params combo lands
    # EXACTLY on a bin boundary (-4.0), and Spark's log2 (log x / log 2)
    # vs DuckDB's libm log2 may straddle it by an ulp — rounding first
    # makes floor() agree across engines
    scored = scored.withColumn("match_weight", F.round("match_weight", 6))
    hist = unlinkables_histogram(scored, "id_a", "id_b", "match_weight", bin_width=1.0)
    return hist.select(
        F.round("weight_bin", 6).alias("weight_bin"), "n_records", "cum_records"
    )


def q79_uncertainty_sample(spark, sf_dir):
    """Active-learning review queue (operators/linkage.py:
    uncertainty_sample): the 100 candidate pairs whose Fellegi-Sunter
    posterior under the literal prior parameters sits closest to 0.5 —
    the batch a human would label next to train the weights
    (uncertainty sampling, Lewis & Gale 1994). Top-k runs as
    TakeOrderedAndProject (per-partition heap, k rows of driver state);
    the tie-break on (id_a, id_b) after 6-dp rounding makes the
    selected SET identical across engines."""
    from dedupe_spark.operators.linkage import (
        DOCUMENT_COMPARISONS,
        document_comparison_vectors,
        score_with_params,
        uncertainty_sample,
    )

    d = _t(spark, sf_dir, "documents")
    gammas = document_comparison_vectors(d, _fs_offset_pairs(d.select("doc_id")))
    params: dict = {"lambda": 0.5}
    for c in DOCUMENT_COMPARISONS:
        params[f"m_{c.name}"] = list(c.init_m)
        params[f"u_{c.name}"] = list(c.init_u)
    scored = score_with_params(gammas, DOCUMENT_COMPARISONS, params)
    scored = scored.withColumn("match_prob", F.round("match_prob", 6))
    sel = uncertainty_sample(scored, k=100)
    return sel.select("id_a", "id_b", "match_prob", "uncertainty")


def q82_link_pipeline(spark, sf_dir):
    """Full production A↔B linkage pipeline (pipeline.link): documents
    chunked into deterministic 16-token transcript turns, split into a
    probe table (odd doc_id) and a registry table (even), then linked
    end-to-end — per-side docs + xxhash64/Philox MinHash bands, salted
    cross-table candidate join (blocking.cross_candidate_pairs),
    Jaccard-gated verification scoring, and many-to-one assignment (best
    registry link per probe record). The probe-stream-vs-build-registry flow of the reference
    (src/deduplication.cpp:1393-1461) generalized to two tables. No SQL
    oracle: the production hash family is not ANSI-SQL-expressible (same
    status as q21_fast); the stage composition is oracle-verified by
    q83, and the e2e F1 contract by tests/test_link_pipeline.py."""
    from dedupe_spark import pipeline
    from dedupe_spark.operators.dedup import chunk_documents

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    ch = chunk_documents(d, "doc_id", "text", chunk_tokens=16)
    turns = ch.select(
        F.col("doc_id").alias("conv_id"),
        F.col("chunk_idx").cast("long").alias("turn_idx"),
        F.when(F.col("chunk_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("chunk_text").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    probe = turns.where(F.col("conv_id") % 2 == 1)
    registry = turns.where(F.col("conv_id") % 2 == 0)
    res = pipeline.link(
        probe, registry, pipeline.PipelineConfig(link_mode="many_to_one")
    )
    _QUERY_DEPS.extend(res.persisted)
    return res.links.select(
        F.col("conv_id_a").cast("long").alias("id_a"),
        F.col("conv_id_b").cast("long").alias("id_b"),
        F.round("score", 4).alias("score"),
        "link_type",
    )


def q83_linkage_waterfall(spark, sf_dir):
    """Oracle-expressible A↔B linkage waterfall over the documents
    corpus split into probe (odd doc_id) / registry (even): exact
    normalized-fingerprint links first (per-fp registry minimum, score
    2.0), then md5-family MinHash/LSH cross-table candidates
    (dedup.minhash_band_keys_sql — the oracle-exact hash family) through
    blocking.cross_candidate_pairs' per-side stop band, verified with
    distinct 3-gram Jaccard >= 0.5, and many-to-one assignment (best
    link per probe record, score desc / partner-id tie-break). The SQL
    oracle replicates every stage 1:1; salting changes no output rows by
    construction, so the oracle omits it."""
    from dedupe_spark.operators import blocking
    from dedupe_spark.operators.dedup import gram_rows, minhash_band_keys_sql
    from dedupe_spark.operators.normalize import norm_text

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    probe = d.where(F.col("doc_id") % 2 == 1)
    registry = d.where(F.col("doc_id") % 2 == 0)

    def fp(df):
        return df.select("doc_id", F.md5(norm_text("text")).alias("fp"))

    bmin = fp(registry).groupBy("fp").agg(F.min("doc_id").alias("id_b"))
    exact = fp(probe).join(bmin, "fp").select(F.col("doc_id").alias("id_a"), "id_b")
    exact = exact.persist()
    _QUERY_DEPS.append(exact)

    bands_a = minhash_band_keys_sql(probe, "doc_id", "text")
    bands_b = minhash_band_keys_sql(registry, "doc_id", "text")
    cand = blocking.cross_candidate_pairs(bands_a, bands_b).join(
        exact, ["id_a", "id_b"], "left_anti"
    )

    # distinct 3-gram sets per doc; jaccard on the candidate pairs only
    ga = gram_rows(d, "doc_id", "text", 3).groupBy("id").agg(
        F.collect_set("g").alias("gr")
    )
    ga = ga.persist()
    _QUERY_DEPS.append(ga)
    jac = F.size(F.array_intersect("gr_a", "gr_b")).cast("double") / F.size(
        F.array_union("gr_a", "gr_b")
    )
    near = (
        cand.join(ga.select(F.col("id").alias("id_a"), F.col("gr").alias("gr_a")), "id_a")
        .join(ga.select(F.col("id").alias("id_b"), F.col("gr").alias("gr_b")), "id_b")
        .withColumn("score", jac)
        .where(F.col("score") >= 0.5)
        .select("id_a", "id_b", "score")
    )

    from pyspark.sql import Window

    links = exact.select(
        "id_a", "id_b", F.lit(2.0).alias("score"), F.lit("exact").alias("link_type")
    ).unionByName(near.withColumn("link_type", F.lit("near")))
    w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b").asc())
    return (
        links.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("id_a", "id_b", F.round("score", 4).alias("score"), "link_type")
    )


_AUC_PAIR_OFFSETS = (1, 3, 7)


def q77_scorer_auc(spark, sf_dir):
    """ROC-AUC of a pair scorer against gold labels (operators/
    evaluation.py:scorer_auc) — the calibration number you read before
    picking an accept threshold. Scorer: 64-dim sign-agreement count
    between embeddings (the hyperplane-LSH similarity, integer-exact in
    both engines); truth: gold label equality on a deterministic offset
    pair set. The Mann-Whitney rank statistic is computed from SCORE
    MARGINALS — one hash agg over pairs, then a cumulative pass over
    the <=65 distinct scores — so no global rank over the pair table
    ever runs at any corpus size."""
    from dedupe_spark.operators.evaluation import scorer_auc

    e = _t(spark, sf_dir, "embeddings")
    pairs = _fs_offset_pairs(
        e.select("vec_id"), id_col="vec_id", offsets=_AUC_PAIR_OFFSETS
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
        F.col("label").alias("label_a"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
        F.col("label").alias("label_b"),
    )
    sign_agree = F.aggregate(
        F.zip_with(
            "va", "vb", lambda x, y: ((x >= 0) == (y >= 0)).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            sign_agree.alias("score"),
            (F.col("label_a") == F.col("label_b")).alias("is_match"),
        )
    )
    return scorer_auc(scored, "score", "is_match")


def q74_containment_pairs(spark, sf_dir):
    """Asymmetric containment join (operators/dedup.py:
    ngram_containment_pairs_prefix): docs whose 3-gram set is >=90%
    inside another doc's — the partial-duplication shape (quotes,
    truncations) that symmetric Jaccard scores near zero. Prefix filter
    applies on the CONTAINED side only (no Jaccard lower bound exists:
    the superset may be arbitrarily large), so candidates are A's
    rarest |A|/10 grams joined against the full gram table; exact
    verification counts intersections for candidates only."""
    from dedupe_spark.operators.dedup import ngram_containment_pairs_prefix

    release_query_caches()
    d = _t(spark, sf_dir, "documents")
    pairs = ngram_containment_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.9, deps=_QUERY_DEPS
    )
    return pairs.select(
        "id_sub", "id_super", F.round("containment", 4).alias("containment")
    )


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Document near-duplicate clustering on sf0.001: each document becomes
    a one-turn conversation, ``pipeline.run`` clusters them, and the result
    comes back as ``(doc_id bigint, cluster_id bigint)``, one row per
    document."""
    from dedupe_spark import pipeline

    sf_dir = "/root/testdata/sf0.001"
    transcripts = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    clusters = pipeline.run(transcripts).clusters
    return clusters.select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_mktsegment_revenue": q02_mktsegment_revenue,
        "q03_region_customer_counts": q03_region_customer_counts,
        "q04_customers_with_orders": q04_customers_with_orders,
        "q05_customers_without_orders": q05_customers_without_orders,
        "q06_gc_renumber": q06_gc_renumber,
        "q07_topk_per_group": q07_topk_per_group,
        "q08_intersect_keys": q08_intersect_keys,
        "q09_except_keys": q09_except_keys,
        "q10_rollup_customers": q10_rollup_customers,
        "q11_string_functions": q11_string_functions,
        "q12_monthly_orders": q12_monthly_orders,
        "q13_part_refcount": q13_part_refcount,
        "q14_running_total": q14_running_total,
        "q15_pivot_order_status": q15_pivot_order_status,
        "q16_cube_counts": q16_cube_counts,
        "q19_multiway_join": q19_multiway_join,
        "q20_exact_dedup_docs": q20_exact_dedup_docs,
        "q21_minhash_lsh_pairs": q21_minhash_lsh_pairs,
        "q21_fast_minhash_pairs": q21_fast_minhash_pairs,
        "q22_ngram_jaccard_pairs": q22_ngram_jaccard_pairs,
        "q23_simhash": q23_simhash,
        "q24_doc_fingerprint": q24_doc_fingerprint,
        "q25_lang_id": q25_lang_id,
        "q26_quality_scores": q26_quality_scores,
        "q27_token_counts": q27_token_counts,
        "q47_repetition_metrics": q47_repetition_metrics,
        "q48_passage_dedup": q48_passage_dedup,
        "q49_decontaminate": q49_decontaminate,
        "q50_filter_funnel": q50_filter_funnel,
        "q51_tfidf_top_terms": q51_tfidf_top_terms,
        "q54_pii_scrub": q54_pii_scrub,
        "q56_transcript_lint": q56_transcript_lint,
        "q57_cross_corpus_dedup": q57_cross_corpus_dedup,
        "q58_source_profile": q58_source_profile,
        "q59_threshold_sweep": q59_threshold_sweep,
        "q60_cluster_size_histogram": q60_cluster_size_histogram,
        "q64_fs_em_linkage": q64_fs_em_linkage,
        "q65_golden_records": q65_golden_records,
        "q66_cluster_eval": q66_cluster_eval,
        "q67_duplicated_spans": q67_duplicated_spans,
        "q68_span_trimmed_docs": q68_span_trimmed_docs,
        "q71_phonetic_blocking": q71_phonetic_blocking,
        "q72_one_to_one_linkage": q72_one_to_one_linkage,
        "q73_tf_adjusted_linkage": q73_tf_adjusted_linkage,
        "q74_containment_pairs": q74_containment_pairs,
        "q75_match_waterfall": q75_match_waterfall,
        "q76_cluster_repair_edges": q76_cluster_repair_edges,
        "q77_scorer_auc": q77_scorer_auc,
        "q78_unlinkables": q78_unlinkables,
        "q79_uncertainty_sample": q79_uncertainty_sample,
        "q82_link_pipeline": q82_link_pipeline,
        "q83_linkage_waterfall": q83_linkage_waterfall,
        "q28_cc_exact_clusters": q28_cc_exact_clusters,
        "q29_incremental_cc": q29_incremental_cc,
        "q31_embedding_neardup": q31_embedding_neardup,
        "q32_sniff_media_type": q32_sniff_media_type,
        "q33_aac_policy_keys": q33_aac_policy_keys,
        "q34_chunk_minhash_pairs": q34_chunk_minhash_pairs,
        "q34_fast_chunk_minhash_pairs": q34_fast_chunk_minhash_pairs,
        "q36_jaro_winkler_pairs": q36_jaro_winkler_pairs,
        "q37_dedup_keep_best": q37_dedup_keep_best,
        "q38_corpus_dedup_stats": q38_corpus_dedup_stats,
        "q40_event_windows": q40_event_windows,
        "q41_event_dedup": q41_event_dedup,
        "q42_sessionize": q42_sessionize,
        "q43_json_extract": q43_json_extract,
        "q44_streaming_dedup": q44_streaming_dedup,
        "q45_streaming_event_windows": q45_streaming_event_windows,
        "q46_streaming_sessionize": q46_streaming_sessionize,
    }


def _linkage_waterfall_oracle_sql(num_perm: int = 12, r: int = 2, max_block: int = 64) -> str:
    """q83 oracle: exact-fp links + md5-minhash cross candidates with
    the per-side stop band + 3-gram Jaccard verify + many-to-one
    assignment — operators mirrored: pipeline-style waterfall over
    blocking.cross_candidate_pairs and dedup.minhash_band_keys_sql."""
    perms = [f"min(md5('{j}:' || g)) AS m{j}" for j in range(num_perm)]
    band_keys = [
        f"'b{b}:' || md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + ")"
        for b in range(num_perm // r)
    ]
    return f"""
WITH {_GRAMS3_SQL},
fpp AS (SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp FROM documents),
bminx AS (SELECT fp, min(doc_id) AS id_b FROM fpp WHERE doc_id % 2 = 0 GROUP BY fp),
exact AS (
    SELECT p.doc_id AS id_a, b.id_b FROM fpp p JOIN bminx b USING (fp)
    WHERE p.doc_id % 2 = 1
),
mins AS (SELECT doc_id, {', '.join(perms)} FROM grams GROUP BY doc_id),
keys AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band_key FROM mins),
fa AS (SELECT band_key, count(*) AS c FROM keys WHERE doc_id % 2 = 1 GROUP BY 1),
fb AS (SELECT band_key, count(*) AS c FROM keys WHERE doc_id % 2 = 0 GROUP BY 1),
live AS (
    SELECT fa.band_key FROM fa JOIN fb USING (band_key)
    WHERE fa.c <= {max_block} AND fb.c <= {max_block}
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM keys a
    JOIN live USING (band_key)
    JOIN keys b ON a.band_key = b.band_key
    WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
),
cand2 AS (
    SELECT c.* FROM cand c
    WHERE NOT EXISTS (
        SELECT 1 FROM exact e WHERE e.id_a = c.id_a AND e.id_b = c.id_b
    )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
    SELECT c.id_a, c.id_b, count(*) AS ni
    FROM cand2 c
    JOIN grams ga ON ga.doc_id = c.id_a
    JOIN grams gb ON gb.doc_id = c.id_b AND gb.g = ga.g
    GROUP BY 1, 2
),
near AS (
    SELECT i.id_a, i.id_b, ni / (sa.sz + sb.sz - ni) AS score
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ni / (sa.sz + sb.sz - ni) >= 0.5
),
links AS (
    SELECT id_a, id_b, CAST(2.0 AS DOUBLE) AS score, 'exact' AS link_type FROM exact
    UNION ALL
    SELECT id_a, id_b, score, 'near' FROM near
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rr
    FROM links
)
SELECT id_a, id_b, round(score, 4) AS score, link_type FROM ranked WHERE rr = 1
"""


def _minhash_oracle_sql(num_perm: int = 12, r: int = 2) -> str:
    perms = [f"min(md5('{j}:' || g)) AS m{j}" for j in range(num_perm)]
    band_keys = [
        f"'b{b}:' || md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + ")"
        for b in range(num_perm // r)
    ]
    return f"""
WITH {_GRAMS3_SQL},
mins AS (SELECT doc_id, {', '.join(perms)} FROM grams GROUP BY doc_id),
keys AS (
    SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band_key FROM mins
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _chunk_minhash_oracle_sql(chunk_tokens: int = 32, num_perm: int = 12, r: int = 2) -> str:
    """q34 oracle: fixed-token chunking + per-chunk md5 MinHash bands.
    Chunk ids, window boundaries, gram fallback (<3 tokens -> whole
    chunk), permutation family, and band keys mirror
    operators/dedup.py:chunk_minhash_pairs 1:1."""
    W = chunk_tokens
    perms = [f"min(md5('{j}:' || g)) AS m{j}" for j in range(num_perm)]
    band_keys = [
        f"'b{b}:' || md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + ")"
        for b in range(num_perm // r)
    ]
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
chunkidx AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, greatest(ceil(len(toks) / {W}.0)::BIGINT, 1) - 1)) AS c
    FROM tok
),
chunks AS (
    SELECT doc_id::VARCHAR || ':' || c::VARCHAR AS cid,
           array_to_string(list_slice(toks, c*{W} + 1, c*{W} + {W}), ' ') AS ctext
    FROM chunkidx
),
ctok AS (SELECT cid, string_split(ctext, ' ') AS toks FROM chunks),
ctokidx AS (
    SELECT cid, toks,
           unnest(generate_series(1, greatest(array_length(toks) - 2, 1))) AS i
    FROM ctok
),
grams AS (
    SELECT DISTINCT cid, array_to_string(list_slice(toks, i, i + 2), ' ') AS g
    FROM ctokidx
),
mins AS (SELECT cid, {', '.join(perms)} FROM grams GROUP BY cid),
keys AS (SELECT cid, unnest([{', '.join(band_keys)}]) AS band_key FROM mins)
SELECT DISTINCT a.cid AS id_a, b.cid AS id_b
FROM keys a JOIN keys b ON a.band_key = b.band_key AND a.cid < b.cid
"""


def _aac_oracle_sql(num_perm: int = 12, r: int = 2) -> str:
    perms = [f"min(md5('{j}:' || g)) AS m{j}" for j in range(num_perm)]
    band_keys = [
        f"'b{b}:' || md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + ")"
        for b in range(num_perm // r)
    ]
    return f"""
WITH norm AS (SELECT doc_id, source, {_NORM_SQL.format(c='text')} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm WHERE source != 'src0'),
tokidx AS (
    SELECT doc_id, toks,
           unnest(generate_series(1, greatest(array_length(toks) - 2, 1))) AS i
    FROM tok
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS g
    FROM tokidx
),
mins AS (SELECT doc_id, {', '.join(perms)} FROM grams GROUP BY doc_id),
keys AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band_key FROM mins)
SELECT doc_id, 'x:' || md5(t) AS band_key FROM norm WHERE source = 'src0'
UNION ALL
SELECT doc_id, band_key FROM keys
"""


def _bucket_sql(planes: int) -> str:
    """DuckDB expression computing the IDENTICAL hyperplane sign bucket
    as operators/dedup.py:_sign_bucket: the Philox-seeded plane entries
    are embedded as decimal literals, the dot product is the same
    left-associated double sum (0.0 + x == x), and float->double element
    promotion is exact in both engines — so the bucket strings match
    bit-for-bit."""
    from dedupe_spark.operators.dedup import hyperplane_rows

    bits = []
    for row in hyperplane_rows(planes):
        dot = " + ".join(f"embedding[{i + 1}]*{p!r}" for i, p in enumerate(row))
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _simhash_oracle_sql() -> str:
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents),
toks AS (SELECT DISTINCT doc_id, unnest(string_split(t, ' ')) AS tok FROM norm),
th AS (SELECT doc_id, md5(tok) AS h FROM toks),
votes AS (
    SELECT doc_id, n.i * 4 + m.b AS bit,
           SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, n.i + 1, 1)) - 1)
                          >> m.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM th, range(0, 15) AS n(i), range(0, 4) AS m(b)
    GROUP BY doc_id, n.i * 4 + m.b
)
SELECT doc_id,
       SUM(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
"""


def _pii_oracle_sql() -> str:
    """q54 oracle: the identical PII splice (doc_id-keyed CASE concat)
    and the identical rule cascade as operators/privacy.py — counts are
    taken on the progressively-redacted text, replacements are global.
    The patterns are lookaround-free so java.util.regex (Spark) and RE2
    (DuckDB) agree."""
    from dedupe_spark.operators.privacy import PII_RULES

    (_, email, e_tok), (_, ipv4, i_tok), (_, phone, p_tok) = PII_RULES
    return f"""
WITH salted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.' || (doc_id % 200)::VARCHAR || '.0.' || (doc_id % 250)::VARCHAR
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call 555-867-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END AS t
  FROM documents
),
s1 AS (
  SELECT doc_id, len(regexp_extract_all(t, '{email}')) AS n_email,
         regexp_replace(t, '{email}', '{e_tok}', 'g') AS t1
  FROM salted
),
s2 AS (
  SELECT doc_id, n_email, len(regexp_extract_all(t1, '{ipv4}')) AS n_ipv4,
         regexp_replace(t1, '{ipv4}', '{i_tok}', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT doc_id, n_email, n_ipv4, len(regexp_extract_all(t2, '{phone}')) AS n_phone,
         regexp_replace(t2, '{phone}', '{p_tok}', 'g') AS t3
  FROM s2
)
SELECT doc_id, t3 AS redacted, n_email, n_ipv4, n_phone,
       (n_email + n_ipv4 + n_phone) > 0 AS has_pii
FROM s3
"""


def _lint_oracle_sql(chunk_tokens: int = 16) -> str:
    """q56 oracle: the identical chunk-as-turn synthesis (the q34
    chunking CTE pattern), the identical doc_id/chunk-keyed corruptions,
    and the identical lag-window lint aggregation as
    operators/transcript_qa.py:transcript_lint."""
    W = chunk_tokens
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
chunkidx AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, greatest(ceil(len(toks) / {W}.0)::BIGINT, 1) - 1)) AS c
    FROM tok
),
turns AS (
    SELECT doc_id AS conv_id,
           CASE WHEN doc_id % 17 = 0 AND c > 0 THEN c + 1 ELSE c END AS turn_idx,
           CASE WHEN c % 4 = 3 AND doc_id % 2 = 0 THEN 'tool'
                WHEN c = 0 AND doc_id % 11 = 0 THEN 'assistant'
                WHEN c % 2 = 0 THEN 'user'
                ELSE 'assistant' END AS role,
           CASE WHEN doc_id % 13 = 0 AND c % 5 = 4 THEN ''
                ELSE array_to_string(list_slice(toks, c*{W} + 1, c*{W} + {W}), ' ') END AS text,
           CASE WHEN c % 4 = 3 AND doc_id % 2 = 0 AND doc_id % 6 != 0
                THEN 'search' END AS tool
    FROM chunkidx
),
lagged AS (
    SELECT *, lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
    FROM turns
),
agg AS (
    SELECT conv_id,
           count(*) AS n_turns,
           min_by(role, turn_idx) = 'user' AS starts_with_user,
           CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END) AS BIGINT)
               AS same_role_runs,
           CAST(sum(CASE WHEN trim(coalesce(text, '')) = '' THEN 1 ELSE 0 END) AS BIGINT)
               AS empty_turns,
           CAST(sum(CASE WHEN role = 'tool' AND trim(coalesce(tool, '')) = '' THEN 1
                    ELSE 0 END) AS BIGINT)
               AS orphan_tool_turns,
           NOT (min(turn_idx) = 0 AND max(turn_idx) = count(*) - 1
                AND count(DISTINCT turn_idx) = count(*)) AS idx_gaps
    FROM lagged GROUP BY conv_id
)
SELECT conv_id, n_turns, starts_with_user, same_role_runs, empty_turns,
       orphan_tool_turns, idx_gaps,
       (starts_with_user AND same_role_runs = 0 AND empty_turns = 0
        AND orphan_tool_turns = 0 AND NOT idx_gaps) AS clean
FROM agg
"""


def _cross_corpus_oracle_sql(num_perm: int = 12, r: int = 2) -> str:
    """q57 oracle: the identical fp + md5-family MinHash band keys as
    operators/dedup.py:cross_corpus_verdicts, split into base (even
    doc_id) and incoming (odd) at join time — per-doc signatures are
    independent of the split."""
    perms = [f"min(md5('{j}:' || g)) AS m{j}" for j in range(num_perm)]
    band_keys = [
        f"'b{b}:' || md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + ")"
        for b in range(num_perm // r)
    ]
    return f"""
WITH {_GRAMS3_SQL},
fp AS (SELECT doc_id, md5(t) AS fp FROM norm),
mins AS (SELECT doc_id, {', '.join(perms)} FROM grams GROUP BY doc_id),
keys AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band_key FROM mins),
exact_ids AS (
    SELECT DISTINCT i.doc_id FROM fp i JOIN fp b ON i.fp = b.fp
    WHERE i.doc_id % 2 != 0 AND b.doc_id % 2 = 0
),
near_ids AS (
    SELECT DISTINCT i.doc_id FROM keys i JOIN keys b ON i.band_key = b.band_key
    WHERE i.doc_id % 2 != 0 AND b.doc_id % 2 = 0
)
SELECT d.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN n.doc_id IS NOT NULL THEN 'near'
            ELSE 'new' END AS verdict
FROM documents d
LEFT JOIN exact_ids e ON e.doc_id = d.doc_id
LEFT JOIN near_ids n ON n.doc_id = d.doc_id
WHERE d.doc_id % 2 != 0
"""


def oracle_sql() -> dict[str, str]:
    from dedupe_spark.functions.phonetic import soundex_sql as _soundex_sql
    from dedupe_spark.operators.dedup import EMBEDDING_DIM as _emb_dim

    stop_sum = " + ".join(
        f"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' {w} ', ''))) / {len(w) + 2}.0"
        for w in ["the", "and", "of", "to", "is", "in", "a", "for", "on", "with"]
    )
    perms53 = ", ".join(f"min(md5('{j}:' || g)) AS m{j}" for j in range(12))
    bands53 = ", ".join(
        f"'b{b}:' || md5(m{2 * b} || '|' || m{2 * b + 1})" for b in range(6)
    )
    lang_scores = {
        lang: " + ".join(
            f"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(m)}.0"
            for m in markers
        )
        for lang, markers in {
            "en": [" the ", " and ", " of ", " to ", " is "],
            "de": [" der ", " und ", " die ", " ist ", " nicht "],
            "fr": [" le ", " la ", " et ", " les ", " est "],
            "es": [" el ", " los ", " que ", " es ", " una "],
        }.items()
    }
    return {
        "q01_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "q02_mktsegment_revenue": """
SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
        "q03_region_customer_counts": """
SELECT r_name, n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
        "q04_customers_with_orders": """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
""",
        "q05_customers_without_orders": """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
        "q06_gc_renumber": """
SELECT p_partkey, row_number() OVER (ORDER BY p_partkey) - 1 AS new_id
FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
""",
        "q07_topk_per_group": """
SELECT o_custkey, o_orderkey, rank FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
""",
        "q08_intersect_keys": """
SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS k FROM orders
""",
        "q09_except_keys": """
SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS k FROM orders
""",
        "q10_rollup_customers": """
SELECT r_name, n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
        "q11_string_functions": r"""
SELECT p_partkey,
       regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
       string_split(p_type, ' ')[1] AS type_head,
       lower(to_hex(p_partkey)) AS hex_key,
       length(p_name) AS name_len,
       string_split(p_type, ' ')[-1] AS type_tail
FROM part
""",
        "q12_monthly_orders": """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1
""",
        "q13_part_refcount": """
SELECT p_partkey, coalesce(rc, 0) AS refcount
FROM part LEFT JOIN (SELECT l_partkey, count(*) AS rc FROM lineitem GROUP BY l_partkey) li
ON p_partkey = li.l_partkey
""",
        "q14_running_total": """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER w, 2) AS running_revenue,
       count(*) OVER w AS running_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "q15_pivot_order_status": """
SELECT c_mktsegment,
       SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS status_o,
       SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS status_f,
       SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS status_p
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
        "q16_cube_counts": """
SELECT r_name, c_mktsegment, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY CUBE (r_name, c_mktsegment)
""",
        "q19_multiway_join": """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
        "q43_json_extract": """
SELECT event_type,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       count(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 1 END) AS n_with_k
FROM events GROUP BY event_type
""",
        "q20_exact_dedup_docs": f"""
SELECT md5({_NORM_SQL.format(c='text')}) AS fp,
       min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
        "q21_minhash_lsh_pairs": _minhash_oracle_sql(),
        "q22_ngram_jaccard_pairs": f"""
WITH {_GRAMS3_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_inter / (sa.sz + sb.sz - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.5
""",
        "q23_simhash": _simhash_oracle_sql(),
        "q24_doc_fingerprint": """
SELECT doc_id, min(md5(substr(text, i, 8))) AS doc_fp
FROM (SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i
      FROM documents)
GROUP BY doc_id
""",
        "q25_lang_id": f"""
WITH scored AS (
    SELECT doc_id, lang,
           {lang_scores['en']} AS s_en,
           {lang_scores['de']} AS s_de,
           {lang_scores['fr']} AS s_fr,
           {lang_scores['es']} AS s_es
    FROM documents
),
best AS (SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
                greatest(s_en, s_de, s_fr, s_es) AS b FROM scored)
SELECT doc_id,
       CASE WHEN s_en = b THEN 'en' WHEN s_de = b THEN 'de'
            WHEN s_fr = b THEN 'fr' ELSE 'es' END AS pred_lang,
       (CASE WHEN s_en = b THEN 'en' WHEN s_de = b THEN 'de'
             WHEN s_fr = b THEN 'fr' ELSE 'es' END) = lang AS correct
FROM best
""",
        "q26_quality_scores": f"""
WITH f AS (
    SELECT doc_id,
           length(text) AS n_chars,
           array_length(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
           (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
               / greatest(length(text), 1) AS punct_ratio,
           ({stop_sum}) / greatest(array_length(regexp_split_to_array(trim(text), '\\s+')), 1) AS stopword_ratio
    FROM documents
)
SELECT doc_id, n_chars::BIGINT AS n_chars, n_words::BIGINT AS n_words,
       round(punct_ratio, 4) AS punct_ratio,
       round(stopword_ratio, 4) AS stopword_ratio,
       round(
         (CASE WHEN n_chars >= 50 AND n_chars <= 20000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN stopword_ratio >= 0.05 AND stopword_ratio <= 0.8 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.0 END), 2) AS quality_score
FROM f
""",
        "q27_token_counts": """
SELECT doc_id,
       array_length(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens_ws,
       ceil(length(text) / 4.0)::BIGINT AS n_tokens_bpe_est
FROM documents
""",
        "q47_repetition_metrics": """
WITH b AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
), g AS (
  SELECT doc_id, t,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              ELSE []::VARCHAR[] END AS grams
  FROM b
), top AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, gg, count(*) AS c
    FROM (SELECT doc_id, unnest(grams) AS gg FROM g)
    GROUP BY doc_id, gg)
  GROUP BY doc_id
)
SELECT g.doc_id,
       len(t)::BIGINT AS n_tokens,
       round(CASE WHEN len(t) > 0 THEN len(list_distinct(t))::DOUBLE / len(t)
                  ELSE 0.0 END, 6) AS uniq_token_frac,
       round(CASE WHEN len(grams) > 0
                  THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)
                  ELSE 0.0 END, 6) AS dup_2gram_frac,
       round(CASE WHEN len(grams) > 0
                  THEN coalesce(topc, 0)::DOUBLE / len(grams)
                  ELSE 0.0 END, 6) AS top_2gram_frac
FROM g LEFT JOIN top USING (doc_id)
""",
        "q48_passage_dedup": f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
pw AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 16
              THEN list_transform(range(0, len(toks) // 16),
                     i -> md5(array_to_string(toks[i*16+1 : i*16+16], ' ')))
              ELSE []::VARCHAR[] END AS ph
  FROM tok
),
p AS (SELECT doc_id, unnest(ph) AS phash FROM pw),
occ AS (SELECT phash, count(*) AS n_occ FROM p GROUP BY phash),
per_doc AS (
  SELECT p.doc_id, count(*) AS n_passages,
         sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM p JOIN occ USING (phash) GROUP BY p.doc_id
)
SELECT d.doc_id,
       coalesce(n_passages, 0)::BIGINT AS n_passages,
       coalesce(n_dup, 0)::BIGINT AS n_dup_passages,
       round(coalesce(n_dup, 0)::DOUBLE / greatest(coalesce(n_passages, 0), 1), 6)
           AS dup_passage_frac
FROM documents d LEFT JOIN per_doc USING (doc_id)
""",
        "q49_decontaminate": f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 8
         THEN list_transform(range(0, len(toks) - 7),
                i -> array_to_string(toks[i+1 : i+8], ' '))
         ELSE [array_to_string(toks, ' ')] END)) AS g
  FROM tok
)
SELECT t.doc_id AS train_id, b.doc_id AS bench_id, count(*)::BIGINT AS n_shared
FROM g t JOIN g b USING (g)
WHERE t.doc_id % 20 != 0 AND b.doc_id % 20 = 0
GROUP BY t.doc_id, b.doc_id
HAVING count(*) >= 3
""",
        "q50_filter_funnel": f"""
WITH f AS (
    SELECT doc_id,
           length(text) AS n_chars,
           regexp_split_to_array(trim(text), '\\s+') AS toks,
           (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
               / greatest(length(text), 1) AS punct_ratio,
           ({stop_sum}) / greatest(array_length(regexp_split_to_array(trim(text), '\\s+')), 1)
               AS stopword_ratio,
           {lang_scores['en']} AS s_en,
           {lang_scores['de']} AS s_de,
           {lang_scores['fr']} AS s_fr,
           {lang_scores['es']} AS s_es
    FROM documents
),
g AS (
    SELECT *, len(toks) AS n_words,
           CASE WHEN len(toks) > 0
                THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS uniq_frac,
           CASE WHEN len(toks) >= 2
                THEN 1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                         i -> toks[i] || ' ' || toks[i+1])))::DOUBLE / (len(toks) - 1)
                ELSE 0.0 END AS dup_2gram,
           greatest(s_en, s_de, s_fr, s_es) AS b
    FROM f
)
SELECT doc_id,
       CASE WHEN n_words < 10 THEN 'too_short'
            WHEN n_chars > 20000 THEN 'too_long'
            WHEN stopword_ratio < 0.05 THEN 'low_stopword'
            WHEN punct_ratio > 0.2 THEN 'high_punct'
            WHEN dup_2gram > 0.3 OR uniq_frac < 0.3 THEN 'repetitive'
            WHEN (CASE WHEN s_en = b THEN 'en' WHEN s_de = b THEN 'de'
                       WHEN s_fr = b THEN 'fr' ELSE 'es' END) != 'en' THEN 'non_english'
            ELSE 'keep' END AS verdict
FROM g
""",
        "q51_tfidf_top_terms": """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, token),
dfq AS (SELECT token, count(*)::BIGINT AS df_t FROM tf GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, tf.tf * ln(n_docs::DOUBLE / df_t) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN n
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
      FROM scored)
SELECT doc_id, rank::INT AS rank, token, tf, round(tfidf, 6) AS tfidf
FROM r WHERE rank <= 3
""",
        "q54_pii_scrub": _pii_oracle_sql(),
        "q56_transcript_lint": _lint_oracle_sql(),
        "q57_cross_corpus_dedup": _cross_corpus_oracle_sql(),
        "q59_threshold_sweep": f"""
WITH {_GRAMS3_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b, n_inter / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.5
)
SELECT th AS threshold,
       count(CASE WHEN jaccard >= th THEN 1 END) AS n_pairs,
       count(DISTINCT CASE WHEN jaccard >= th THEN id_b END) AS n_docs_removable
FROM pairs CROSS JOIN (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS th) t
GROUP BY th
""",
        "q60_cluster_size_histogram": f"""
WITH cl AS (
    SELECT md5({_NORM_SQL.format(c='text')}) AS fp, count(*) AS cluster_size,
           CAST(sum(n_chars) - min(n_chars) AS BIGINT) AS chars_saved
    FROM documents GROUP BY 1
)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(sum(chars_saved) AS BIGINT) AS total_chars_saved
FROM cl GROUP BY cluster_size
""",
        "q64_fs_em_linkage": _fs_em_oracle(),
        "q65_golden_records": f"""
WITH a AS (
  SELECT doc_id, text, lang, source, n_chars,
         min(doc_id) OVER (PARTITION BY md5({_NORM_SQL.format(c='text')}))
           AS cluster_id
  FROM documents
),
canon AS (
  SELECT cluster_id, doc_id AS canonical_id, text,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM a
),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM a GROUP BY 1),
lang_mode AS (
  SELECT cluster_id, lang FROM (
    SELECT cluster_id, lang,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY count(*) DESC, lang ASC) AS rk
    FROM a GROUP BY cluster_id, lang
  ) WHERE rk = 1
),
source_mode AS (
  SELECT cluster_id, source FROM (
    SELECT cluster_id, source,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY count(*) DESC, source ASC) AS rk
    FROM a GROUP BY cluster_id, source
  ) WHERE rk = 1
)
SELECT s.cluster_id, s.cluster_size, c.canonical_id, c.text, l.lang, m.source
FROM sizes s
JOIN canon c ON c.cluster_id = s.cluster_id AND c.rk = 1
JOIN lang_mode l ON l.cluster_id = s.cluster_id
JOIN source_mode m ON m.cluster_id = s.cluster_id
""",
        "q66_cluster_eval": f"""
WITH a AS (SELECT {_bucket_sql(4)} AS pred, label AS gold FROM embeddings),
cells AS (SELECT pred, gold, count(*)::DOUBLE AS n_cell FROM a GROUP BY 1, 2),
p AS (SELECT pred, sum(n_cell) AS n_pred FROM cells GROUP BY 1),
g AS (SELECT gold, sum(n_cell) AS n_gold FROM cells GROUP BY 1),
j AS (SELECT * FROM cells JOIN p USING (pred) JOIN g USING (gold)),
t AS (
  SELECT sum(n_cell) AS n_items,
         sum(n_cell * n_cell / n_pred) / sum(n_cell) AS b3p,
         sum(n_cell * n_cell / n_gold) / sum(n_cell) AS b3r,
         sum(n_cell * (n_cell - 1) / 2) AS tp,
         sum(n_pred * (n_pred - 1) / 2 * n_cell / n_pred) AS pp,
         sum(n_gold * (n_gold - 1) / 2 * n_cell / n_gold) AS ap
  FROM j
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       round(b3p, 6) AS b3_precision,
       round(b3r, 6) AS b3_recall,
       round(CASE WHEN b3p + b3r > 0 THEN 2 * b3p * b3r / (b3p + b3r) END, 6)
         AS b3_f1,
       round(CASE WHEN pp > 0 THEN tp / pp END, 6) AS pair_precision,
       round(CASE WHEN ap > 0 THEN tp / ap END, 6) AS pair_recall,
       round(CASE WHEN pp > 0 AND ap > 0 AND tp / pp + tp / ap > 0
                  THEN 2 * (tp / pp) * (tp / ap) / (tp / pp + tp / ap) END, 6)
         AS pair_f1
FROM t
""",
        "q67_duplicated_spans": """
WITH d AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
d2 AS (SELECT id, toks, len(toks) AS n FROM d WHERE len(toks) >= 8),
wins AS (
  SELECT id, unnest(generate_series(1, n - 7)) AS start, toks
  FROM d2
),
wtxt AS (
  SELECT id, start, array_to_string(list_slice(toks, start, start + 7), ' ') AS win
  FROM wins
),
dup AS (SELECT win FROM wtxt GROUP BY win HAVING count(DISTINCT id) >= 2),
hits AS (SELECT w.id, w.start FROM wtxt w JOIN dup USING (win)),
isl AS (
  SELECT id, start,
         CASE WHEN lag(start) OVER (PARTITION BY id ORDER BY start) IS NULL
                OR start - lag(start) OVER (PARTITION BY id ORDER BY start) > 8
              THEN 1 ELSE 0 END AS new_grp
  FROM hits
),
grp AS (
  SELECT id, start,
         sum(new_grp) OVER (PARTITION BY id ORDER BY start) AS g
  FROM isl
)
SELECT id AS doc_id,
       CAST(min(start) AS BIGINT) AS span_start,
       CAST(max(start) + 7 AS BIGINT) AS span_end,
       CAST(max(start) - min(start) + 8 AS BIGINT) AS span_tokens
FROM grp GROUP BY id, g
""",
        "q68_span_trimmed_docs": """
WITH d AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
d2 AS (SELECT id, toks, len(toks) AS n FROM d WHERE len(toks) >= 8),
wins AS (
  SELECT id, unnest(generate_series(1, n - 7)) AS start, toks
  FROM d2
),
wtxt AS (
  SELECT id, start, array_to_string(list_slice(toks, start, start + 7), ' ') AS win
  FROM wins
),
dup AS (SELECT win FROM wtxt GROUP BY win HAVING count(DISTINCT id) >= 2),
hits AS (SELECT w.id, w.start FROM wtxt w JOIN dup USING (win)),
isl AS (
  SELECT id, start,
         CASE WHEN lag(start) OVER (PARTITION BY id ORDER BY start) IS NULL
                OR start - lag(start) OVER (PARTITION BY id ORDER BY start) > 8
              THEN 1 ELSE 0 END AS new_grp
  FROM hits
),
grp AS (
  SELECT id, start,
         sum(new_grp) OVER (PARTITION BY id ORDER BY start) AS g
  FROM isl
),
spans AS (
  SELECT id, min(start) AS span_start, max(start) + 7 AS span_end
  FROM grp GROUP BY id, g
),
pos AS (SELECT id, unnest(generate_series(1, len(toks))) AS p, toks FROM d),
tok AS (SELECT id, p, toks[p] AS tok FROM pos),
kept AS (
  SELECT t.id, t.p, t.tok FROM tok t
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.id = t.id AND t.p BETWEEN s.span_start AND s.span_end
  )
),
agg AS (
  SELECT id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY id
)
SELECT d.id AS doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(len(d.toks) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM d LEFT JOIN agg a USING (id)
""",
        "q71_phonetic_blocking": f"""
WITH wrds AS (
  SELECT DISTINCT unnest(regexp_split_to_array(trim(p_name), '\\s+')) AS w
  FROM part
),
sx AS (SELECT w, {_soundex_sql("w")} AS code FROM wrds)
SELECT a.code, a.w AS w_a, b.w AS w_b
FROM sx a JOIN sx b ON a.code = b.code AND a.w < b.w
""",
        "q72_one_to_one_linkage": f"""
WITH {_GRAMS3_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b, n_inter / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.6
),
cross_side AS (
    SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS left_id,
           CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS right_id,
           jaccard
    FROM pairs WHERE (id_a % 2) != (id_b % 2)
),
ranked AS (
    SELECT *,
        row_number() OVER (PARTITION BY left_id ORDER BY jaccard DESC, right_id ASC) AS ra,
        row_number() OVER (PARTITION BY right_id ORDER BY jaccard DESC, left_id ASC) AS rb
    FROM cross_side
)
SELECT left_id, right_id, round(jaccard, 4) AS jaccard
FROM ranked WHERE ra = 1 AND rb = 1
""",
        "q73_tf_adjusted_linkage": _fs_tf_oracle(),
        "q83_linkage_waterfall": _linkage_waterfall_oracle_sql(),
        "q75_match_waterfall": _fs_waterfall_oracle(),
        "q78_unlinkables": _fs_unlinkables_oracle(),
        "q79_uncertainty_sample": _fs_uncertainty_oracle(),
        "q77_scorer_auc": f"""
WITH p0 AS (
{" UNION ALL ".join(f"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + {off}" for off in _AUC_PAIR_OFFSETS)}
),
sc AS (
    SELECT list_sum(list_transform(generate_series(1, {_emb_dim}), i ->
               CASE WHEN (ea.embedding[i] >= 0) = (eb.embedding[i] >= 0)
                    THEN 1 ELSE 0 END))::BIGINT AS s,
           ea.label = eb.label AS is_match
    FROM p0
    JOIN embeddings ea ON ea.vec_id = p0.id_a
    JOIN embeddings eb ON eb.vec_id = p0.id_b
),
g AS (
    SELECT s,
           sum(CASE WHEN is_match THEN 1 ELSE 0 END)::BIGINT AS pos,
           sum(CASE WHEN is_match THEN 0 ELSE 1 END)::BIGINT AS neg
    FROM sc GROUP BY s
),
g2 AS (
    SELECT *,
           coalesce(sum(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::DOUBLE
               AS cum_neg_below
    FROM g
)
SELECT CASE WHEN sum(pos) > 0 AND sum(neg) > 0
            THEN round(sum(pos * (cum_neg_below + 0.5 * neg))
                       / (sum(pos) * sum(neg)), 6) END AS auc,
       sum(pos)::BIGINT AS n_pos,
       sum(neg)::BIGINT AS n_neg
FROM g2
""",
        "q76_cluster_repair_edges": f"""
WITH {_GRAMS3_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
e AS (
    SELECT id_a AS src, id_b AS dst,
           n_inter / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_inter / (sa.sz + sb.sz - n_inter) >= 0.6
),
adj AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
deg AS (SELECT src AS node, count(*) AS deg FROM adj GROUP BY src),
tri AS (
    SELECT e.src, e.dst, count(*) AS support
    FROM e
    JOIN adj l ON l.src = e.src
    JOIN adj r ON r.src = e.dst AND r.dst = l.dst
    WHERE l.dst != e.src AND l.dst != e.dst
    GROUP BY e.src, e.dst
)
SELECT src, dst, round(jaccard, 4) AS jaccard, coalesce(support, 0) AS support
FROM e
LEFT JOIN tri USING (src, dst)
JOIN deg ds ON ds.node = src
JOIN deg dd ON dd.node = dst
WHERE NOT (ds.deg > 1 AND dd.deg > 1)
   OR coalesce(support, 0) >= 1 OR jaccard >= 0.9
""",
        "q74_containment_pairs": f"""
WITH {_GRAMS3_SQL},
sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_sub, b.doc_id AS id_super, count(*) AS n_inter
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id != b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_sub, id_super,
       round(n_inter / s.sz, 4) AS containment
FROM inter JOIN sizes s ON s.doc_id = id_sub
WHERE n_inter / s.sz >= 0.9
""",
        "q58_source_profile": """
SELECT source, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
       round(avg(n_chars), 4) AS avg_chars,
       round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
       round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
""",
        "q28_cc_exact_clusters": f"""
WITH fp AS (SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp FROM documents)
SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS cluster_id FROM fp
""",
        "q29_incremental_cc": f"""
WITH fp AS (SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp FROM documents)
SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS cluster_id FROM fp
""",
        "q36_jaro_winkler_pairs": """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(jaro_winkler_similarity(substr(a.text, 1, 256),
                                     substr(b.text, 1, 256)), 6) AS jw_sim
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
""",
        "q37_dedup_keep_best": f"""
WITH feat AS (
  SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fp,
         length(text)::BIGINT AS n_chars,
         (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
             / greatest(length(text), 1) AS punct_ratio,
         ({stop_sum}) / greatest(array_length(regexp_split_to_array(trim(text), '\\s+')), 1) AS stopword_ratio
  FROM documents
),
q AS (
  SELECT doc_id, fp, n_chars,
         (CASE WHEN n_chars >= 50 AND n_chars <= 20000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN stopword_ratio >= 0.05 AND stopword_ratio <= 0.8 THEN 0.3 ELSE 0.0 END)
         + (CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.0 END) AS quality
  FROM feat
),
c AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS cluster_id FROM q),
r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY quality DESC, doc_id ASC) AS rn FROM c),
a AS (SELECT cluster_id, count(*)::BIGINT AS n_members,
             sum(n_chars)::BIGINT AS tot_chars FROM c GROUP BY cluster_id)
SELECT r.cluster_id, r.doc_id AS kept_doc_id, round(r.quality, 2) AS kept_quality,
       a.n_members, (a.tot_chars - r.n_chars)::BIGINT AS saved_chars
FROM r JOIN a USING (cluster_id) WHERE rn = 1
""",
        "q38_corpus_dedup_stats": f"""
WITH f AS (
  SELECT source, md5({_NORM_SQL.format(c='text')}) AS fp,
         length(text)::BIGINT AS n_chars
  FROM documents
),
pf AS (
  SELECT source, fp, count(*)::BIGINT AS n_rows,
         sum(n_chars)::BIGINT AS org_chars, min(n_chars)::BIGINT AS kept_chars
  FROM f GROUP BY source, fp
)
SELECT source,
       sum(n_rows)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_unique,
       (sum(n_rows) - count(*))::BIGINT AS dup_rows,
       sum(org_chars)::BIGINT AS org_chars,
       (sum(org_chars) - sum(kept_chars))::BIGINT AS saved_chars,
       round((sum(org_chars) - sum(kept_chars))::BIGINT
             / greatest(sum(org_chars)::BIGINT, 1), 6) AS dedup_ratio
FROM pf GROUP BY source
""",
        "q31_embedding_neardup": f"""
WITH bkt AS (
  SELECT vec_id, embedding,
         {_bucket_sql(4)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
""",
        "q32_sniff_media_type": """
WITH p AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 4 = 0 THEN from_hex('89504E470D0A1A0A')
               WHEN doc_id % 4 = 1 THEN from_hex('FFD8FF')
               WHEN doc_id % 4 = 2 THEN from_hex('52494646')
               ELSE ''::BLOB END) || encode(text) AS payload
  FROM documents)
SELECT doc_id,
       CASE WHEN lower(hex(payload)) LIKE '89504e470d0a1a0a%' THEN 'image/png'
            WHEN lower(hex(payload)) LIKE '1a45dfa3%' THEN 'video/webm'
            WHEN lower(hex(payload)) LIKE '52494646%' THEN 'audio/wav'
            WHEN lower(hex(payload)) LIKE '47494638%' THEN 'image/gif'
            WHEN lower(hex(payload)) LIKE 'ffd8ff%' THEN 'image/jpeg'
            WHEN lower(hex(payload)) LIKE '494433%' THEN 'audio/mp3'
            ELSE 'application/octet-stream' END AS media_type
FROM p
""",
        "q33_aac_policy_keys": _aac_oracle_sql(),
        "q34_chunk_minhash_pairs": _chunk_minhash_oracle_sql(),
        "q44_streaming_dedup": """
SELECT DISTINCT user_id, event_type, floor(value * 10)::BIGINT AS value_bucket
FROM events
""",
        "q45_streaming_event_windows": """
SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
        # the stateful streaming sessionize reproduces the batch
        # sessionize exactly (state carries (last_ts, idx) across
        # micro-batches), so the q42 oracle applies verbatim
        "q46_streaming_sessionize": """
SELECT user_id, event_id,
       (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_idx
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events)
""",
        "q40_event_windows": """
SELECT (epoch_ms(ts) // 300000) * 300000 AS window_start_ms, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
        "q41_event_dedup": """
SELECT user_id, event_type, floor(value * 10)::BIGINT AS value_bucket,
       min(event_id) AS canonical_event_id, count(*) AS n_copies
FROM events GROUP BY 1, 2, 3
""",
        "q42_sessionize": """
SELECT user_id, event_id,
       (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_idx
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events)
""",
    }
