"""run_incremental: fold a new batch into a committed pipeline state.

The contract under test is the strongest one an incremental path can be
held to: after N increments, the merge-on-read cluster view equals a
from-scratch batch run over the concatenated input EXACTLY — same
(conv_id, cluster_id) set — while every commit stays O(delta) (the
cluster_updates log carries only changed+new rows, the registry/index
tables take append snapshots).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark import fixtures, pipeline
from dedupe_spark.catalog import SnapshotCatalog
from dedupe_spark.pipeline import compact_clusters, current_clusters, run_incremental


def _assign(df):
    return {r["conv_id"]: r["cluster_id"] for r in df.collect()}


def _split(tr, n_parts):
    # hash-interleaved split: duplicate pairs land on different sides
    # with ~50% probability, so clusters genuinely span the batches
    part = F.pmod(F.xxhash64("conv_id"), F.lit(n_parts))
    return [tr.where(part == i) for i in range(n_parts)]


def test_incremental_equals_batch_and_commits_are_delta(spark, tmp_path):
    tr = fixtures.transcripts(spark, n_conv=120).persist()
    p1, p2 = _split(tr, 2)

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    r1 = pipeline.run(p1, catalog=cat)
    base = _assign(current_clusters(cat))
    r1.release()

    r2 = run_incremental(p2, cat)
    got = _assign(current_clusters(cat))
    r2.release()

    full = pipeline.run(tr)
    want = _assign(full.clusters)
    full.release()

    assert got == want
    # the test is only meaningful if clusters actually span the split
    p1_ids = {r["conv_id"] for r in p1.select("conv_id").distinct().collect()}
    by_cluster: dict = {}
    for conv, cid in want.items():
        by_cluster.setdefault(cid, set()).add(conv in p1_ids)
    assert any(len(sides) == 2 for sides in by_cluster.values()), (
        "fixture/split produced no cross-batch cluster; weaken nothing — fix the split"
    )

    # O(delta) commit: the update log holds only changed+new rows —
    # new convs plus old convs whose root moved; never the whole corpus
    upd = cat.read("cluster_updates")
    n_upd = upd.count()
    changed_old = {
        c for c, cid in got.items() if c in base and base[c] != cid
    }
    new_convs = {c for c in got if c not in base}
    assert n_upd == len(changed_old) + len(new_convs)
    assert n_upd < len(got)

    # registry followed: merged fp set equals the batch run's
    from dedupe_spark.operators.lifecycle import register_turns

    u_full, _ = register_turns(tr)
    assert sorted(r["fp"] for r in cat.read("unique_turns").select("fp").collect()) == sorted(
        r["fp"] for r in u_full.select("fp").collect()
    )
    tr.unpersist()


def test_two_increments_then_compaction(spark, tmp_path):
    tr = fixtures.transcripts(spark, n_conv=90).persist()
    p1, p2, p3 = _split(tr, 3)

    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    pipeline.run(p1, catalog=cat).release()
    run_incremental(p2, cat).release()
    run_incremental(p3, cat).release()
    got = _assign(current_clusters(cat))

    full = pipeline.run(tr)
    want = _assign(full.clusters)
    full.release()
    assert got == want

    # the update log carries two versioned appends; compaction folds it
    # into the base table and truncates the log — the view is unchanged
    vs = [r["_v"] for r in cat.read("cluster_updates").select("_v").distinct().collect()]
    assert len(vs) == 2 and len(set(vs)) == 2
    compact_clusters(cat)
    assert cat.read("cluster_updates").count() == 0
    assert _assign(current_clusters(cat)) == want
    assert _assign(cat.read("clusters")) == want
    tr.unpersist()


def test_fold_of_exact_copy_then_another_fold(spark, tmp_path):
    """An exact copy of a committed conversation under a new id adds no
    unique turn, so its fold appends an EMPTY partitioned registry
    snapshot; the table must stay readable for the next fold."""
    tr = fixtures.transcripts(spark, n_conv=40).persist()
    p1, p2 = _split(tr, 2)
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    pipeline.run(p1, catalog=cat).release()

    orig = p1.select("conv_id").orderBy("conv_id").first()["conv_id"]
    copy = p1.where(F.col("conv_id") == orig).withColumn("conv_id", F.lit("copy-of-" + orig))
    n_unique = cat.read("unique_turns").count()
    run_incremental(copy, cat).release()
    assert cat.read("unique_turns").count() == n_unique
    run_incremental(p2, cat).release()

    got = _assign(current_clusters(cat))
    full = pipeline.run(p1.unionByName(copy).unionByName(p2))
    want = _assign(full.clusters)
    full.release()
    assert got == want
    assert got["copy-of-" + orig] == got[orig]
    tr.unpersist()


def test_run_incremental_refuses_cluster_repair(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    tr = fixtures.transcripts(spark, n_conv=10)
    with pytest.raises(ValueError, match="cluster_repair"):
        run_incremental(tr, cat, pipeline.PipelineConfig(cluster_repair=True))


#: Spark jobs one fold takes in the test session: half of
#: ``fixtures.transcripts(120)`` committed, the other half folded in.
#: Measured after the fold moved onto run()'s resolve core (one df
#: window over batch + committed block rows): 185-189 with this file
#: alone, 197 in the full suite (AQE plans its query stages from runtime
#: sizes, which the session's earlier caches shift); 401 before.
FOLD_JOBS = 197


def test_fold_job_count_guard(spark, transcripts_small, tmp_path):
    transcripts_small.count()  # the shared input is cached outside the group
    p1, p2 = _split(transcripts_small, 2)
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    pipeline.run(p1, catalog=cat).release()
    sc = spark.sparkContext
    group = "test-fold-job-count"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        run_incremental(p2, cat).release()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= FOLD_JOBS + 5, f"run_incremental took {jobs} Spark jobs"
