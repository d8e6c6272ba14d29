from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators import blocking, minhash


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    near = base.replace("quick", "fast").replace("warm", "sunny")
    other = (
        "completely different content about distributed query engines and "
        "shuffle partitioning strategies for large scale analytical workloads"
    )
    rows = [("d1", base), ("d2", base), ("d3", near), ("d4", other)]
    df = spark.createDataFrame(rows, "conv_id string, doc string").withColumn(
        "doc_len", F.length("doc")
    )
    return minhash.with_minhash_bands(df, "doc").persist()


def test_signature_deterministic_across_partitionings(spark, docs):
    df = docs.select("conv_id", "doc", "doc_len")
    a = minhash.with_minhash_bands(df.repartition(1), "doc").select("conv_id", "bands").collect()
    b = minhash.with_minhash_bands(df.repartition(7), "doc").select("conv_id", "bands").collect()
    assert {r["conv_id"]: r["bands"] for r in a} == {r["conv_id"]: r["bands"] for r in b}


def test_identical_docs_share_all_bands(docs):
    rows = {r["conv_id"]: r["bands"] for r in docs.select("conv_id", "bands").collect()}
    assert rows["d1"] == rows["d2"]


def test_near_docs_share_some_band_and_far_docs_none(docs):
    rows = {r["conv_id"]: set(r["bands"]) for r in docs.select("conv_id", "bands").collect()}
    assert rows["d1"] & rows["d3"], "near-duplicate must collide in >=1 LSH band"
    assert not rows["d1"] & rows["d4"], "unrelated docs must not collide"


def test_band_count_and_format(docs):
    rows = docs.select("bands").collect()
    for r in rows:
        assert len(r["bands"]) == minhash.DEFAULT_BANDS
        assert all(b.startswith("b") and ":" in b for b in r["bands"])


def test_candidate_pairs_match_bruteforce(spark):
    # many rows sharing keys: candidate_pairs must equal the brute-force
    # pair set regardless of salting tier
    rows = [(f"id{i:03d}", f"k{i % 5}") for i in range(80)]
    df = spark.createDataFrame(rows, "id string, band_key string")
    got = {
        (r["id_a"], r["id_b"])
        for r in blocking.candidate_pairs(
            df, max_block=100, salt_threshold=8, salt_groups=4
        ).collect()
    }
    expect = {
        (a, b)
        for a, ka in rows
        for b, kb in rows
        if ka == kb and a < b
    }
    assert got == expect


def test_stop_band_suppression(spark):
    rows = [(f"id{i:03d}", "hot") for i in range(50)] + [("a", "cold"), ("b", "cold")]
    df = spark.createDataFrame(rows, "id string, band_key string")
    got = blocking.candidate_pairs(df, max_block=10).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {("a", "b")}


def test_one_pass_tiers_at_their_boundaries(spark):
    """One df column drives all three filters: keys at df 1, at and
    just past salt_threshold, at and just past max_block. Ids repeat
    across keys, so the tiers must also dedupe a pair two keys share."""
    salt_threshold, max_block = 4, 8
    sizes = {"k1": 1, "ks": salt_threshold, "ks1": salt_threshold + 1,
             "km": max_block, "km1": max_block + 1}
    rows = [(f"id{(i * 5 + j) % 13:02d}", k) for j, (k, n) in enumerate(sizes.items())
            for i in range(n)]
    df = spark.createDataFrame(rows, "id string, band_key string")
    assert {k: sum(1 for _, kk in rows if kk == k) for k in sizes} == sizes
    expect = {
        (a, b)
        for a, ka in rows
        for b, kb in rows
        if ka == kb and a < b and sizes[ka] <= max_block
    }
    deps: list = []
    got = blocking.candidate_pairs(
        df, max_block=max_block, salt_threshold=salt_threshold, salt_groups=3, deps=deps
    )
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == expect
    assert len(deps) == 1  # the one windowed frame, persisted
    counted = {(r["band_key"], r["df"]) for r in deps[0].collect()}
    assert counted == {(k, n) for k, n in sizes.items() if n >= 2}
    for d in deps:
        d.unpersist()
    # the traced replay prunes with the Bloom first: same pairs
    for mode in ("bloom", "semi"):
        pruned = blocking.bloom_preprune(df, mode=mode)
        again = blocking.candidate_pairs(
            pruned, max_block=max_block, salt_threshold=salt_threshold, salt_groups=3
        )
        assert {(r["id_a"], r["id_b"]) for r in again.collect()} == expect


def test_old_rows_pair_only_with_new_rows(spark):
    """A fold's blocks: batch rows plus committed rows flagged ``old``.
    df counts both, so a key pushed past max_block only by its committed
    rows is stop-banded; pairs are brute force over new×new ∪ new×old,
    and no old×old pair is emitted."""
    salt_threshold, max_block = 4, 8
    # key -> (new rows, old rows)
    keys = {
        "k_pushed": (2, max_block - 1),   # df max_block+1, batch alone 2
        "k_at_cap": (3, max_block - 3),   # df exactly max_block
        "k_salted": (2, salt_threshold),  # df past salt_threshold
        "k_new_only": (3, 0),
        "k_old_only": (0, 4),
        "k_one_new": (1, 0),
    }
    rows = []
    for j, (k, (n_new, n_old)) in enumerate(keys.items()):
        rows += [(f"n{(i * 3 + j) % 7}", k, False) for i in range(n_new)]
        rows += [(f"o{(i * 5 + j) % 11:02d}", k, True) for i in range(n_old)]
    df = spark.createDataFrame(rows, "id string, band_key string, old boolean")
    df_of = {k: n + o for k, (n, o) in keys.items()}
    expect = {
        (a, b)
        for a, ka, oa in rows
        for b, kb, ob in rows
        if ka == kb and a < b and not (oa and ob) and df_of[ka] <= max_block
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in blocking.candidate_pairs(
            df, max_block=max_block, salt_threshold=salt_threshold, salt_groups=3
        ).collect()
    }
    assert got == expect
    assert not any(a.startswith("o") and b.startswith("o") for a, b in got)
    # each boundary key is really exercised
    assert any(a.startswith("n") and b.startswith("o") for a, b in got)
    assert df_of["k_at_cap"] == max_block and df_of["k_pushed"] == max_block + 1
    assert keys["k_pushed"][0] <= max_block and df_of["k_salted"] > salt_threshold


def test_cross_pairs_per_key_salt_rule(spark):
    """The salted join decides hot vs cold per key, off greatest(dfa,
    dfb), so both sides of a key take the same tier: a key hot on one
    side only, keys at salt_threshold and salt_threshold + 1, and a key
    stop-banded on one side all give the brute-force pair set. A key on
    one side only gives no pair, whatever its tier on that side: the key
    join alone drops it. Ids repeat across keys, so a pair two keys
    share must come out once."""
    salt_threshold, max_block = 4, 8
    # key -> (rows on side A, rows on side B)
    keys = {
        "k_hot_a": (salt_threshold + 2, 2),  # dfa > salt_threshold >= dfb
        "k_hot_b": (1, salt_threshold + 1),  # dfb > salt_threshold >= dfa
        "k_at": (salt_threshold, salt_threshold),
        "k_at1": (salt_threshold + 1, salt_threshold + 1),
        "k_stop_a": (max_block + 1, 1),
        "k_a_only": (3, 0),
        "k_b_only": (0, 3),
        "k_hot_a_only": (salt_threshold + 2, 0),
        "k_stop_a_only": (max_block + 1, 0),
    }
    rows_a, rows_b = [], []
    for j, (k, (na, nb)) in enumerate(keys.items()):
        rows_a += [(f"a{(i * 3 + j) % 11:02d}", k) for i in range(na)]
        rows_b += [(f"b{(i * 5 + j) % 13:02d}", k) for i in range(nb)]
    df_a = spark.createDataFrame(rows_a, "id string, band_key string")
    df_b = spark.createDataFrame(rows_b, "id string, band_key string")
    assert len(set(rows_a)) == len(rows_a) and len(set(rows_b)) == len(rows_b)
    expect = {
        (a, b)
        for a, ka in rows_a
        for b, kb in rows_b
        if ka == kb and max(keys[ka]) <= max_block
    }
    got = blocking.cross_candidate_pairs(
        df_a, df_b, max_block=max_block, salt_threshold=salt_threshold, salt_groups=3
    ).collect()
    assert len(got) == len({(r["id_a"], r["id_b"]) for r in got})
    assert {(r["id_a"], r["id_b"]) for r in got} == expect


def test_bloom_preprune_keeps_only_pairable(spark):
    rows = [("a", "k1"), ("b", "k1"), ("c", "k2"), ("d", "k3"), ("e", "k3"), ("f", "k3")]
    df = spark.createDataFrame(rows, "id string, band_key string")
    kept = {(r["id"], r["band_key"]) for r in blocking.bloom_preprune(df).collect()}
    assert kept == {("a", "k1"), ("b", "k1"), ("d", "k3"), ("e", "k3"), ("f", "k3")}


def test_exact_key_pairs_first_writer_wins(spark):
    rows = [("a", "x"), ("c", "x"), ("b", "x"), ("z", "y"), ("q", "solo")]
    df = spark.createDataFrame(rows, "id string, k string")
    got = {(r["id_a"], r["id_b"]) for r in blocking.exact_key_pairs(df, "id", "k").collect()}
    assert got == {("a", "b"), ("a", "c")}


def test_exact_key_pairs_no_group_size_cap(spark):
    """A giant exact-duplicate group (boilerplate at scale) must yield
    first-writer-wins edges for EVERY member — output is linear in group
    size, so no stop-band cap applies here."""
    n = 20_000
    df = spark.createDataFrame(
        [(i, "same") for i in range(n)] + [(n, "other")], "id long, k string"
    )
    edges = blocking.exact_key_pairs(df, "id", "k")
    assert edges.count() == n - 1
    assert edges.agg(F.min("id_a"), F.max("id_b")).collect()[0] == (0, n - 1)


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_exact_key_pairs_matches_group_join(spark, id_type):
    """Brute force against the group-min-and-join-back semantics: every
    row of a non-NULL key whose id differs from its key's minimum id
    yields (min, id), once per row. NULL keys never pair; a singleton
    key, or a key whose rows all repeat one id, yields nothing."""
    rng = np.random.default_rng(7)
    ids = [int(i) for i in rng.integers(0, 40, 200)]
    keys = [None if k == 0 else f"k{k}" for k in rng.integers(0, 12, 200)]
    rows = list(zip(ids, keys)) + [
        (100, "solo"), (101, "twin"), (101, "twin"), (102, None), (103, None),
    ]
    conv = str if id_type == "string" else int
    rows = [(conv(i), k) for i, k in rows]
    df = spark.createDataFrame(rows, f"id {id_type}, k string")

    groups: dict = {}
    for i, k in rows:
        if k is not None:
            groups.setdefault(k, []).append(i)
    want = sorted((min(g), i) for g in groups.values() for i in g if i != min(g))
    got = sorted(tuple(r) for r in blocking.exact_key_pairs(df, "id", "k").collect())
    assert got == want
    assert not {x for p in got for x in p} & {conv(100), conv(101), conv(102), conv(103)}
