"""Explicit Bloom pre-prune stage (functions/bloom.py, blocking I1/I2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark.functions.bloom import (
    Bloom,
    BloomBudgetError,
    build_bloom,
    estimate_bloom_bytes,
    optimal_params,
)
from dedupe_spark.operators import blocking


def test_optimal_params_formula():
    # reference computeOptPara (BloomFilter.cpp:36-83): m/n = -ln p / ln2^2
    m, k = optimal_params(100_000, 1e-4)
    assert 19 <= m / 100_000 <= 20  # -ln(1e-4)/ln(2)^2 = 19.17
    assert k in (13, 14)  # m/n * ln2


def test_no_false_negatives(spark):
    keys = spark.range(0, 5000).select(F.concat(F.lit("k"), "id").alias("key"))
    bloom = build_bloom(keys, "key", fpp=1e-3)
    assert bloom.probe(keys, "key").count() == 5000


def test_false_positive_rate_bounded(spark):
    keys = spark.range(0, 5000).select(F.concat(F.lit("k"), "id").alias("key"))
    bloom = build_bloom(keys, "key", fpp=1e-3)
    other = spark.range(100_000, 120_000).select(F.concat(F.lit("x"), "id").alias("key"))
    fp = bloom.probe(other, "key").count()
    assert fp / 20_000 < 1e-2  # an order of slack over the 1e-3 target


def test_sharded_no_false_negatives_and_matches_monolith(spark):
    """Shard output ≡ monolith output on the same keys (VERDICT r2 task 1
    done-criterion): identical probe hits on inserted keys, comparable
    fpp on foreign keys, and the same candidate-pair set downstream."""
    keys = spark.range(0, 4000).select(F.concat(F.lit("k"), "id").alias("key"))
    mono = build_bloom(keys, "key", fpp=1e-3)
    shard = build_bloom(keys, "key", fpp=1e-3, shards=8)
    assert shard.num_shards == 8
    # no false negatives in either layout
    assert mono.probe(keys, "key").count() == 4000
    assert shard.probe(keys, "key").count() == 4000
    # false-positive rate stays bounded under sharding
    other = spark.range(100_000, 120_000).select(F.concat(F.lit("x"), "id").alias("key"))
    assert shard.probe(other, "key").count() / 20_000 < 1e-2
    # per-shard sizing: total bits within word-alignment slack of monolith
    assert abs(shard.num_bits - mono.num_bits) <= 64 * 8


def test_sharded_preprune_same_candidates(spark):
    rows = [(i, f"band{i % 40}") for i in range(200)] + [(i + 200, f"solo{i}") for i in range(300)]
    blocks = spark.createDataFrame(rows, "id long, band_key string")
    semi = blocking.candidate_pairs(blocking.bloom_preprune(blocks, mode="semi"))
    stats: dict = {}
    sharded = blocking.candidate_pairs(
        blocking.bloom_preprune(blocks, mode="bloom", shards=4, stats=stats)
    )
    assert sorted(map(tuple, semi.collect())) == sorted(map(tuple, sharded.collect()))
    assert stats["bloom_num_shards"] == 4
    assert stats["bloom_driver_bytes"] > 0


def test_budget_error_and_auto_fallback(spark):
    keys = spark.range(0, 2000).select(F.concat(F.lit("k"), "id").alias("key"))
    # the estimate alone must trip the budget — no bitmap materializes
    assert estimate_bloom_bytes(2000, 1e-4) > 64
    with pytest.raises(BloomBudgetError):
        build_bloom(keys, "key", fpp=1e-4, max_driver_bytes=64)
    # auto mode silently falls back to the semi-join and loses nothing
    rows = [(i, f"band{i % 40}") for i in range(200)] + [(i + 200, f"solo{i}") for i in range(300)]
    blocks = spark.createDataFrame(rows, "id long, band_key string")
    stats: dict = {}
    pruned = blocking.bloom_preprune(blocks, mode="auto", max_driver_bytes=8, stats=stats)
    assert stats["bloom_mode_used"] == "semi_budget_fallback"
    semi = blocking.candidate_pairs(blocking.bloom_preprune(blocks, mode="semi"))
    assert sorted(map(tuple, blocking.candidate_pairs(pruned).collect())) == sorted(
        map(tuple, semi.collect())
    )


def test_serialization_round_trip(spark):
    """to_bytes/from_bytes round trip (reference BLOOMFILTER_TEST
    serialize/deserialize, src/BloomFilter.cpp:439-487): identical probe
    behavior, for both layouts."""
    keys = spark.range(0, 3000).select(F.concat(F.lit("k"), "id").alias("key"))
    for shards in (1, 4):
        b = build_bloom(keys, "key", fpp=1e-3, shards=shards)
        r = Bloom.from_bytes(b.to_bytes())
        assert (r.num_bits, r.num_hash, r.shard_bits, r.n_items) == (
            b.num_bits, b.num_hash, b.shard_bits, b.n_items
        )
        assert (r.words == b.words).all()
        assert r.probe(keys, "key").count() == 3000


def test_save_load_file(spark, tmp_path):
    keys = spark.range(0, 500).select(F.concat(F.lit("k"), "id").alias("key"))
    b = build_bloom(keys, "key", fpp=1e-3)
    p = str(tmp_path / "registry.bloom")
    b.save(p)
    assert Bloom.load(p).probe(keys, "key").count() == 500


def test_insert_df_warm_path(spark):
    """insert_df == rebuild-over-union at the same shape — the
    incremental registry's persisted-filter update."""
    first = spark.range(0, 1000).select(F.concat(F.lit("k"), "id").alias("key"))
    second = spark.range(1000, 2000).select(F.concat(F.lit("k"), "id").alias("key"))
    both = first.unionByName(second)
    base = build_bloom(first, "key", expected_items=2000, fpp=1e-3)
    warm = base.insert_df(second, "key")
    rebuilt = build_bloom(both, "key", expected_items=2000, fpp=1e-3)
    assert (warm.words == rebuilt.words).all()
    assert warm.probe(both, "key").count() == 2000


def test_broadcast_cached_and_released(spark):
    keys = spark.range(0, 100).select(F.concat(F.lit("k"), "id").alias("key"))
    b = build_bloom(keys, "key", fpp=1e-3)
    b.probe(keys, "key").count()
    bc1 = b._bc
    b.probe(keys, "key").count()
    assert b._bc is bc1  # one broadcast across probes, not one per call
    b.release()
    assert b._bc is None
    # probing after release re-broadcasts and still works
    assert b.probe(keys, "key").count() == 100


def test_bloom_preprune_no_candidate_loss(spark):
    """The map-side bloom mode yields the SAME candidate pairs as the
    exact semi-join mode (VERDICT done-criterion)."""
    rows = [(i, f"band{i % 40}") for i in range(200)] + [(i + 200, f"solo{i}") for i in range(300)]
    blocks = spark.createDataFrame(rows, "id long, band_key string")
    stats: dict = {}
    semi = blocking.candidate_pairs(blocking.bloom_preprune(blocks, mode="semi"))
    bloomed = blocking.candidate_pairs(blocking.bloom_preprune(blocks, mode="bloom", stats=stats))
    assert sorted(map(tuple, semi.collect())) == sorted(map(tuple, bloomed.collect()))
    assert stats["bloom_repeated_keys"] == 40
    assert 0 < stats["bloom_fill_ratio"] < 1


def test_bloom_equality_does_not_raise(spark):
    """The dataclass __eq__ must not bool() the words ndarray — equality
    and list-membership tests are legal (identity-ish on metadata)."""
    from dedupe_spark.functions.bloom import build_bloom

    df = spark.createDataFrame([(str(i),) for i in range(10)], "k string")
    b1 = build_bloom(df, "k", fpp=0.01)
    b2 = build_bloom(df, "k", fpp=0.01)
    assert b1 == b2            # same metadata, words excluded
    assert b1 in [b2]          # membership uses __eq__
    assert (b1 == build_bloom(df, "k", fpp=0.001)) is False


def test_fill_ratio_chunked_popcount_matches_unpack(spark):
    """The chunked/bitwise_count popcount equals the naive full unpack."""
    import numpy as np

    from dedupe_spark.functions.bloom import build_bloom

    df = spark.createDataFrame([(str(i),) for i in range(500)], "k string")
    b = build_bloom(df, "k", fpp=0.01)
    naive = int(np.unpackbits(b.words.view(np.uint8)).sum()) / b.num_bits
    assert b.fill_ratio == naive
