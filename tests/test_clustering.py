from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators import clustering
from dedupe_spark.operators.clustering import (
    clusters_with_singletons,
    connected_components,
)


@pytest.fixture
def star_loop(monkeypatch):
    """Force the large-star/small-star loop: with the local-finish bound
    at 0 only an empty graph skips it. The tests' graphs are far below
    ``LOCAL_FINISH_MAX_EDGES``, so without this they finish on the
    driver."""
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 0)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _assign(cc_df):
    return {r["node"]: r["cluster_id"] for r in cc_df.collect()}


def test_chain_component(spark):
    # a long chain exercises the multi-round star contraction
    e = _edges(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(9)])
    got = _assign(connected_components(e))
    assert set(got.values()) == {"n00"}
    assert len(got) == 10


def test_two_components_and_cycle(spark):
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x"), ("z", "y")],
    )
    got = _assign(connected_components(e))
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"}


def test_direction_and_duplicates_irrelevant(spark):
    e1 = _edges(spark, [("b", "a"), ("a", "b"), ("c", "b"), ("c", "b")])
    got = _assign(connected_components(e1))
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_singletons_fill(spark):
    e = _edges(spark, [("a", "b")])
    cc = connected_components(e)
    all_ids = spark.createDataFrame([("a",), ("b",), ("q",)], "conv_id string")
    got = {r["conv_id"]: r["cluster_id"] for r in clusters_with_singletons(all_ids, cc).collect()}
    assert got == {"a": "a", "b": "a", "q": "q"}


@pytest.mark.usefixtures("star_loop")
def test_checkpoint_resume(spark, tmp_path):
    # run once with checkpoints, then resume from the snapshot — identical result
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)] + [("m0", "m1"), ("m1", "m2")]
    e = _edges(spark, pairs)
    d1 = str(tmp_path / "cc1")
    full = _assign(connected_components(e, checkpoint_dir=d1))
    resumed = _assign(connected_components(e, checkpoint_dir=d1, resume=True))
    assert full == resumed
    # metrics were recorded per iteration
    import os

    assert os.path.isdir(os.path.join(d1, "metrics"))


@pytest.mark.usefixtures("star_loop")
def test_per_partition_lineage_verifies(spark, tmp_path):
    from dedupe_spark.operators.clustering import verify_snapshot_lineage

    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    d1 = str(tmp_path / "cc_lin")
    connected_components(_edges(spark, pairs), checkpoint_dir=d1)

    lineage = spark.read.parquet(f"{d1}/lineage")
    metrics = spark.read.parquet(f"{d1}/metrics")
    iters = sorted(r["iteration"] for r in metrics.select("iteration").collect())
    assert iters  # at least one checkpointed round
    # lineage rows exist per iteration and fold (sum, xor) to the metrics row
    for it in iters:
        m = metrics.where(F.col("iteration") == it).collect()[0]
        f = (
            lineage.where(F.col("iteration") == it)
            .agg(
                F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n"),
                F.coalesce(F.bit_xor("checksum"), F.lit(0)).alias("h"),
            )
            .collect()[0]
        )
        assert (int(f["n"]), int(f["h"])) == (int(m["n_edges"]), int(m["checksum"]))
        assert verify_snapshot_lineage(spark, d1, it)


@pytest.mark.usefixtures("star_loop")
def test_resume_skips_torn_snapshot(spark, tmp_path):
    """A snapshot whose partitions don't match its lineage (torn write)
    must not be the resume point — resume falls back to the newest
    verified iteration and still converges to the same clusters."""
    import os

    from dedupe_spark.operators.clustering import verify_snapshot_lineage

    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)] + [("m0", "m1"), ("m1", "m2")]
    e = _edges(spark, pairs)
    d1 = str(tmp_path / "cc_torn")
    full = _assign(connected_components(e, checkpoint_dir=d1))

    snaps = sorted(d for d in os.listdir(d1) if d.startswith("iter="))
    assert len(snaps) >= 2, "fixture must produce multiple checkpointed rounds"
    # tear the newest snapshot: drop its parquet part files but keep its
    # lineage rows — exactly what a crash mid-write leaves behind
    torn = os.path.join(d1, snaps[-1])
    for f in os.listdir(torn):
        if f.startswith("part-"):
            os.remove(os.path.join(torn, f))
    it_torn = int(snaps[-1].split("=")[1])
    assert not verify_snapshot_lineage(spark, d1, it_torn)

    resumed = _assign(connected_components(e, checkpoint_dir=d1, resume=True))
    assert resumed == full


@pytest.mark.usefixtures("star_loop")
def test_max_iterations_is_a_failure_mode_not_a_truncation(spark):
    """SURVEY §7: bound iterations AND fail loudly — a long path graph
    needs O(log n) alternating-star rounds, so max_iterations=1 must
    raise instead of silently returning a half-contracted graph."""
    import pytest

    from dedupe_spark.operators.clustering import ConvergenceError, connected_components

    edges = _edges(spark, [(i, i + 1) for i in range(64)])
    with pytest.raises(ConvergenceError):
        connected_components(edges, max_iterations=1).collect()


def test_adversarial_edge_set_converges_with_monotone_edges(spark):
    """Adversarial mix (long path + star + clique + dup/reversed edges):
    the loop's internal monotone edge-count assertion holds on every
    iteration (a violation raises ConvergenceError) and the assignment
    matches the transitive-closure oracle."""
    def n(i):
        return f"{i:03d}"

    pairs = (
        [(n(i), n(i + 1)) for i in range(100, 141)]      # 42-node path
        + [(n(0), n(i)) for i in range(1, 20)]           # star at 0
        + [(n(a), n(b)) for a in range(50, 55) for b in range(a + 1, 55)]  # clique
        + [(n(141), n(140)), (n(19), n(1)), (n(1), n(0))]  # reversed + dup-ish
    )
    cc = connected_components(_edges(spark, pairs))
    got = _assign(cc)
    assert all(got[n(i)] == n(0) for i in range(0, 20))
    assert all(got[n(i)] == n(100) for i in range(100, 142))
    assert all(got[n(i)] == n(50) for i in range(50, 55))


@pytest.mark.usefixtures("star_loop")
def test_resumed_run_equals_fresh_run(spark, tmp_path):
    """VERDICT r3 task 6 done-criterion: resuming from a mid-run
    snapshot yields the identical assignment as the uninterrupted run."""
    pairs = [(i, i + 1) for i in range(60)] + [(200, 201), (201, 202)]
    fresh = _assign(connected_components(_edges(spark, pairs)))
    ckpt = str(tmp_path / "cc")
    _assign(connected_components(_edges(spark, pairs), checkpoint_dir=ckpt))
    resumed = _assign(
        connected_components(_edges(spark, pairs), checkpoint_dir=ckpt, resume=True)
    )
    assert resumed == fresh


def _inc(spark, base_assign, new_pairs):
    from dedupe_spark.operators.clustering import incremental_components

    a = spark.createDataFrame(
        list(base_assign.items()), "node string, cluster_id string"
    )
    return _assign(incremental_components(a, _edges(spark, new_pairs)))


def test_incremental_equals_from_scratch(spark):
    # split a fixed edge set into two batches at every cut point: folding
    # batch 2 into CC(batch 1) must equal CC(all edges) exactly
    pairs = [
        ("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"),
        ("c", "x"),  # merges {a,b,c} with {x,y}
        ("m", "n"), ("q", "r"), ("n", "a"),
    ]
    want = _assign(connected_components(_edges(spark, pairs)))
    for cut in range(1, len(pairs)):
        base = _assign(connected_components(_edges(spark, pairs[:cut])))
        got = _inc(spark, base, pairs[cut:])
        # incremental output covers every node the base or delta mentions
        assert got == {k: v for k, v in want.items() if k in got}
        assert set(got) == set(base) | {n for p in pairs[cut:] for n in p}


def test_incremental_merges_two_existing_clusters(spark):
    base = {"b": "a", "a": "a", "y": "x", "x": "x"}
    got = _inc(spark, base, [("b", "y")])
    assert got == {"a": "a", "b": "a", "x": "a", "y": "a"}


def test_incremental_new_min_rewrites_root(spark):
    # the delta introduces a node smaller than the old root: the merged
    # component's id must move to the new minimum, as from-scratch would
    base = {"d": "c", "c": "c"}
    got = _inc(spark, base, [("a", "d")])
    assert got == {"a": "a", "c": "a", "d": "a"}


def test_incremental_untouched_components_survive_verbatim(spark):
    base = {"b": "a", "a": "a", "z": "z", "y": "x", "x": "x"}  # incl. a singleton
    got = _inc(spark, base, [("p", "q")])
    assert got == {**base, "p": "p", "q": "p"}


def test_incremental_empty_delta_is_identity(spark):
    base = {"b": "a", "a": "a", "z": "z"}
    got = _inc(spark, base, [])
    assert got == base


def test_edge_support_bridge_between_triangles(spark):
    """Two 3-cliques joined by one bridge: clique edges have support 1,
    the bridge has 0 — pruning it splits the over-merged component."""
    from dedupe_spark.operators.clustering import (
        connected_components,
        edge_support,
        prune_weak_edges,
    )

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(4, 5), (5, 6), (4, 6)]
    bridge = [(3, 4)]
    edges = spark.createDataFrame(tri1 + tri2 + bridge, "src long, dst long")

    sup = {(r["src"], r["dst"]): r["support"] for r in edge_support(edges).collect()}
    assert sup[(3, 4)] == 0
    assert all(sup[e] == 1 for e in tri1 + tri2)

    scored = edges.withColumn(
        "score", F.when((F.col("src") == 3) & (F.col("dst") == 4), 0.65).otherwise(0.7)
    )
    kept = prune_weak_edges(scored, min_support=1, strong_score=0.9)
    assert {(r["src"], r["dst"]) for r in kept.collect()} == set(tri1 + tri2)
    # the repaired graph yields two clusters where the raw graph gave one
    assert connected_components(edges).select("cluster_id").distinct().count() == 1
    assert (
        connected_components(kept.select("src", "dst"))
        .select("cluster_id").distinct().count() == 2
    )


def test_prune_weak_edges_only_bridges_prunable(spark):
    """Isolated pairs and leaf attachments cannot merge two multi-node
    clusters — they survive regardless of score. Of two unsupported
    BRIDGES between cliques, the strong-scored one survives via the
    exemption and the weak one is pruned."""
    from dedupe_spark.operators.clustering import prune_weak_edges

    tri1 = [(1, 2, 0.7), (2, 3, 0.7), (1, 3, 0.7)]
    tri2 = [(4, 5, 0.7), (5, 6, 0.7), (4, 6, 0.7)]
    tri3 = [(7, 8, 0.7), (8, 9, 0.7), (7, 9, 0.7)]
    weak_bridge = [(3, 4, 0.65)]
    strong_bridge = [(6, 7, 0.95)]
    isolated = [(20, 21, 0.61)]
    leaf = [(1, 30, 0.62)]  # 30 hangs off clique 1 by one edge
    edges = spark.createDataFrame(
        tri1 + tri2 + tri3 + weak_bridge + strong_bridge + isolated + leaf,
        "src long, dst long, score double",
    )
    kept = {(r["src"], r["dst"]) for r in prune_weak_edges(
        edges, min_support=1, strong_score=0.9
    ).collect()}
    expect = {(s, d) for s, d, _ in tri1 + tri2 + tri3 + strong_bridge + isolated + leaf}
    assert kept == expect


def test_prune_weak_edges_exact_witnesses_corroborate(spark):
    """A near-dup bridge whose support comes only from exact-fp witness
    edges survives — witnesses count as neighbors without being scored."""
    from dedupe_spark.operators.clustering import prune_weak_edges

    # near-dup edges: 1-2, 2-3 (chain; both endpoints of 2-3 have deg>1
    # once witnesses are in). witness 1-3 closes the triangle.
    scored = spark.createDataFrame(
        [(1, 2, 0.7), (2, 3, 0.7)], "src long, dst long, score double"
    )
    witness = spark.createDataFrame([(1, 3)], "src long, dst long")
    kept = {(r["src"], r["dst"]) for r in prune_weak_edges(
        scored, min_support=1, strong_score=0.9, witness_edges=witness
    ).collect()}
    assert kept == {(1, 2), (2, 3)}


def test_prune_weak_edges_orientation_and_duplicates_normalized(spark):
    """Both orientations / duplicate rows / witness overlap must not
    double-count neighbors: an isolated pair listed in both directions
    is still an isolated pair, not a bridge."""
    from dedupe_spark.operators.clustering import edge_support, prune_weak_edges

    edges = spark.createDataFrame(
        [(1, 2, 0.7), (2, 1, 0.7), (1, 2, 0.7)], "src long, dst long, score double"
    )
    # support stays 0 (no third node) and NO row is pruned
    assert all(
        r["support"] == 0 for r in edge_support(edges.select("src", "dst")).collect()
    )
    kept = prune_weak_edges(
        edges, min_support=1, strong_score=0.9,
        witness_edges=edges.select("src", "dst"),  # full overlap
    )
    assert kept.count() == 3  # every input row survives (isolated pair)


# Every case above without the star_loop fixture runs on the local
# finish (its graphs are far below LOCAL_FINISH_MAX_EDGES); each is
# rerun here on the star loop, so both paths of connected_components
# pass the same assertions.
_BOTH_PATHS = [
    test_chain_component,
    test_two_components_and_cycle,
    test_direction_and_duplicates_irrelevant,
    test_singletons_fill,
    test_adversarial_edge_set_converges_with_monotone_edges,
    test_incremental_equals_from_scratch,
    test_incremental_merges_two_existing_clusters,
    test_incremental_new_min_rewrites_root,
    test_incremental_untouched_components_survive_verbatim,
    test_incremental_empty_delta_is_identity,
    test_edge_support_bridge_between_triangles,
]


@pytest.mark.parametrize("case", _BOTH_PATHS, ids=lambda f: f.__name__)
@pytest.mark.usefixtures("star_loop")
def test_case_on_star_loop(spark, case):
    case(spark)


def test_small_graph_skips_star_loop(spark, monkeypatch):
    """A graph under the bound never enters a star round."""
    def boom(_):
        raise AssertionError("star round on a small graph")

    monkeypatch.setattr(clustering, "_large_star", boom)
    e = _edges(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(9)])
    got = _assign(connected_components(e))
    assert set(got.values()) == {"n00"} and len(got) == 10


def test_local_finish_keeps_id_type(spark):
    e = spark.createDataFrame([(3, 1), (2, 3), (9, 8)], "src long, dst long")
    cc = connected_components(e)
    assert [f.dataType.simpleString() for f in cc.schema.fields] == ["bigint", "bigint"]
    assert _assign(cc) == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}
    assert connected_components(e.limit(0)).count() == 0


def test_star_loop_finishes_locally_once_small(spark, monkeypatch):
    """A graph above the bound at the start runs star rounds only until
    its edge count falls to the bound, then finishes on the driver."""
    rounds = []
    star = clustering._large_star

    def counted(e):
        rounds.append(1)
        return star(e)

    monkeypatch.setattr(clustering, "_large_star", counted)
    # two 10-cliques: 90 edges; one star round contracts them to 18
    pairs = [(a + o, b + o) for o in (0, 20) for a in range(10) for b in range(a + 1, 10)]
    e = spark.createDataFrame(pairs, "src long, dst long")
    want = {n: (0 if n < 20 else 20) for n in [*range(10), *range(20, 30)]}
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 30)
    assert _assign(connected_components(e)) == want
    assert len(rounds) == 1
    rounds.clear()
    monkeypatch.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 0)
    assert _assign(connected_components(e)) == want
    assert len(rounds) == 2  # the star loop needs a no-change round to stop


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _graphs = st.one_of(
        st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=40).map(
            lambda es: ("long", es)
        ),
        st.lists(
            st.tuples(st.text("abcé日", max_size=3), st.text("abcé日", max_size=3)),
            max_size=40,
        ).map(lambda es: ("string", es)),
    )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(_graphs, st.booleans())
    def test_local_finish_equals_star_loop(spark, monkeypatch, graph, mirror):
        """Random graphs with self-loops, duplicate and reversed edges:
        the local finish and the star loop give the same assignment."""
        id_type, pairs = graph
        if mirror:  # every edge also reversed
            pairs = pairs + [(b, a) for a, b in pairs]
        e = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
        local = _assign(connected_components(e))
        with monkeypatch.context() as m:
            m.setattr(clustering, "LOCAL_FINISH_MAX_EDGES", 0)
            star = _assign(connected_components(e))
        assert local == star
except ImportError:  # pragma: no cover
    pass
