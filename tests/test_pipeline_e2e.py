from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark import fixtures, pipeline

N = 300


@pytest.fixture(scope="module")
def result(spark):
    tr = fixtures.transcripts(spark, n_conv=N).persist()
    res = pipeline.run(tr)
    res.clusters.persist().count()
    yield tr, res


def _f1(spark, clusters, n_conv):
    lp = fixtures.labeled_pairs(spark, n_conv=n_conv)
    ca = clusters.withColumnRenamed("conv_id", "conv_id_a").withColumnRenamed("cluster_id", "cl_a")
    cb = clusters.withColumnRenamed("conv_id", "conv_id_b").withColumnRenamed("cluster_id", "cl_b")
    ev = lp.join(ca, "conv_id_a").join(cb, "conv_id_b").withColumn(
        "pred", F.col("cl_a") == F.col("cl_b")
    )
    agg = ev.agg(
        F.sum(F.when(F.col("is_dup") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_dup") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_dup") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0, prec, rec


def test_pairwise_f1_target(spark, result):
    """BASELINE.json metric: pairwise F1 >= 0.99 on labeled pairs."""
    _, res = result
    f1, prec, rec = _f1(spark, res.clusters, N)
    assert f1 >= 0.99, f"F1={f1:.4f} precision={prec:.4f} recall={rec:.4f}"


def test_pairwise_f1_with_jaro_winkler_decider(spark, result):
    """The opt-in batch-vectorized Jaro-Winkler decider (the north
    star's named scorer) meets the same F1 target. Margin note: hard
    negatives share template skeletons, so their JW runs high (measured
    0.891 on this fixture vs the 0.90 accept threshold) — Levenshtein
    separates with more headroom, which is why it stays the default."""
    tr, _ = result
    res = pipeline.run(tr, pipeline.PipelineConfig(decider="jaro_winkler"))
    f1, prec, rec = _f1(spark, res.clusters, N)
    res.release()
    assert f1 >= 0.99, f"F1={f1:.4f} precision={prec:.4f} recall={rec:.4f}"


def test_pairwise_f1_with_fellegi_sunter_decider(spark, result):
    """The EM-learned ambiguous-band decider (operators/linkage.py via
    decider="fellegi_sunter") meets the same F1 target WITHOUT a
    hand-tuned accept threshold — the band's own comparison-vector
    distribution determines the boundary."""
    tr, _ = result
    res = pipeline.run(tr, pipeline.PipelineConfig(decider="fellegi_sunter"))
    f1, prec, rec = _f1(spark, res.clusters, N)
    res.release()
    assert f1 >= 0.99, f"F1={f1:.4f} precision={prec:.4f} recall={rec:.4f}"


def test_clusters_match_expected_partition(spark, result):
    """Cluster assignment equals the injected clusters as a set partition
    (FIXTURES.md §3: compare up to relabeling; representative = min id,
    so labels actually coincide)."""
    _, res = result
    exp = fixtures.expected_clusters(spark, n_conv=N)
    diff = (
        res.clusters.join(exp.withColumnRenamed("cluster_id", "expected"), "conv_id")
        .where(F.col("cluster_id") != F.col("expected"))
    )
    mismatched = diff.count()
    total = exp.count()
    # allow the F1 slack: <=1% of conversations may sit in a wrong cluster
    assert mismatched <= 0.01 * total, f"{mismatched}/{total} conversations mis-clustered"


def test_every_conversation_assigned_once(spark, result):
    tr, res = result
    n_conv = tr.select("conv_id").distinct().count()
    assert res.clusters.count() == n_conv
    assert res.clusters.select("conv_id").distinct().count() == n_conv


def test_edges_within_clusters_only(spark, result):
    """Transitivity sanity: every accepted edge connects same-cluster nodes."""
    _, res = result
    c = res.clusters
    bad = (
        res.edges.join(c.withColumnRenamed("conv_id", "src").withColumnRenamed("cluster_id", "cl_s"), "src")
        .join(c.withColumnRenamed("conv_id", "dst").withColumnRenamed("cluster_id", "cl_d"), "dst")
        .where(F.col("cl_s") != F.col("cl_d"))
    )
    assert bad.count() == 0


def test_pipeline_deterministic_across_runs(spark, result):
    tr, res = result
    res2 = pipeline.run(tr)
    a = sorted(tuple(r) for r in res.clusters.collect())
    b = sorted(tuple(r) for r in res2.clusters.collect())
    assert a == b


def test_pairwise_f1_with_cluster_repair(spark, result):
    """Triangle-support cluster repair on: F1 stays at target (repair
    must not shred legitimate 2-doc clusters — the strong-jaccard
    exemption and exact-edge witnesses protect them) and never ADDS
    links (repaired clusters refine the default partition)."""
    tr, base = result
    res = pipeline.run(tr, pipeline.PipelineConfig(cluster_repair=True))
    f1, prec, rec = _f1(spark, res.clusters, N)
    n_edges = res.edges.count()
    n_edges_base = base.edges.count()
    res.release()
    assert f1 >= 0.99, f"F1={f1:.4f} precision={prec:.4f} recall={rec:.4f}"
    assert n_edges <= n_edges_base


#: Spark jobs one uncommitted ``pipeline.run`` of ``fixtures.transcripts(120)``
#: takes in the test session, measured after blocking became one salted
#: join and the turn registry is built only when read (27-28 before). A
#: run of this size pays for its job count, not its rows.
RUN_JOBS = 22

#: Tasks the same run completes, measured after the docs stage became
#: one branch, AQE was allowed to coalesce the stages that build cached
#: frames (279-295 before) and blocking became one salted join (42-43
#: before). At this size each task wave costs more than the rows it
#: processes.
RUN_TASKS = 37

#: Commands the driver sends the JVM while the same run builds its plan,
#: up to the ``connected_components`` call (memory deletes, which follow
#: Python's garbage collector, not counted). Measured after band keys and
#: the shingle fold became one SQL expression each, blocking one salted
#: join and the registry lazy (4,942 before). Each command is a socket
#: round trip, paid before the first Spark job starts.
RUN_PLAN_ROUND_TRIPS = 2044


def _run_job_ids(spark, transcripts, group: str) -> list[int]:
    """Job ids of one uncommitted ``pipeline.run`` over ``transcripts``,
    run under job group ``group``."""
    transcripts.count()  # the shared input is cached outside the group
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        res = pipeline.run(transcripts)
        res.clusters.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    res.release()
    return sc.statusTracker().getJobIdsForGroup(group)


def test_run_job_count_guard(spark, transcripts_small):
    jobs = len(_run_job_ids(spark, transcripts_small, "test-run-job-count"))
    assert jobs <= RUN_JOBS + 5, f"pipeline.run took {jobs} Spark jobs"


def test_run_task_count_guard(spark, transcripts_small):
    tracker = spark.sparkContext.statusTracker()
    stages = {
        sid for job in _run_job_ids(spark, transcripts_small, "test-run-task-count")
        for sid in tracker.getJobInfo(job).stageIds
    }
    tasks = sum(
        st.numCompletedTasks for st in map(tracker.getStageInfo, stages) if st is not None
    )
    assert tasks <= RUN_TASKS + 18, f"pipeline.run completed {tasks} Spark tasks"


def test_run_plan_round_trip_guard(spark, transcripts_small, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    from dedupe_spark.operators import clustering

    transcripts_small.count()
    box = {"sent": 0, "at_cc": None}
    send = ClientServerConnection.send_command
    connected_components = clustering.connected_components

    def counting_send(self, command):
        if not command.startswith("m\nd\n"):  # memory delete
            box["sent"] += 1
        return send(self, command)

    def at_connected_components(*args, **kwargs):
        box["at_cc"] = box["sent"]
        return connected_components(*args, **kwargs)

    monkeypatch.setattr(clustering, "connected_components", at_connected_components)
    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    res = pipeline.run(transcripts_small)
    monkeypatch.undo()
    res.release()
    assert box["at_cc"] is not None
    assert box["at_cc"] <= RUN_PLAN_ROUND_TRIPS * 1.1, (
        f"pipeline.run sent {box['at_cc']} commands before connected_components"
    )
