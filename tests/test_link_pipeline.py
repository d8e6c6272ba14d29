"""pipeline.link: A↔B two-table record linkage end-to-end.

BASELINE.json-style target on the labeled two-source fixture
(fixtures.linkage_sources): linkage F1 >= 0.99 with truth known for
EVERY probe record — no pair sampling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedupe_spark import fixtures, pipeline

N = 300


@pytest.fixture(scope="module")
def sources(spark):
    probe, registry, truth = fixtures.linkage_sources(spark, n_conv=N)
    return probe.persist(), registry.persist(), truth.persist()


def _link_f1(links, truth):
    pred = links.select("conv_id_a", "conv_id_b")
    tp = pred.join(truth, ["conv_id_a", "conv_id_b"], "left_semi").count()
    n_pred = pred.count()
    n_truth = truth.count()
    prec = tp / n_pred if n_pred else 1.0
    rec = tp / n_truth if n_truth else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return f1, prec, rec


def test_link_many_to_one_f1(spark, sources):
    """Probe-vs-registry linkage (each copy finds its seed) at F1>=0.99;
    hard-negative probes (true match absent) must not link."""
    probe, registry, truth = sources
    res = pipeline.link(
        probe, registry, pipeline.PipelineConfig(link_mode="many_to_one")
    )
    links = res.links.persist()
    f1, prec, rec = _link_f1(links, truth)
    # every A record appears at most once in many_to_one mode
    dup_a = links.groupBy("conv_id_a").count().where("count > 1").count()
    links.unpersist()
    res.release()
    assert dup_a == 0
    assert f1 >= 0.99, f"F1={f1:.4f} precision={prec:.4f} recall={rec:.4f}"


def test_link_one_to_one_no_conflicts(spark, sources):
    """1:1 mode: no record on either side appears twice, and restricted
    to one copy per seed the assignment is near-perfect."""
    probe, registry, truth = sources
    # one copy per seed: the 1:1 ground truth is then a perfect matching
    first_copy = truth.groupBy("conv_id_b").agg(F.min("conv_id_a").alias("conv_id_a"))
    probe1 = probe.join(
        first_copy.select(F.col("conv_id_a").alias("conv_id")), "conv_id", "left_semi"
    )
    truth1 = truth.join(first_copy, ["conv_id_a", "conv_id_b"], "left_semi")
    res = pipeline.link(
        probe1, registry, pipeline.PipelineConfig(link_mode="one_to_one")
    )
    links = res.links.persist()
    dup_a = links.groupBy("conv_id_a").count().where("count > 1").count()
    dup_b = links.groupBy("conv_id_b").count().where("count > 1").count()
    f1, prec, rec = _link_f1(links, truth1)
    links.unpersist()
    res.release()
    assert dup_a == 0 and dup_b == 0
    assert f1 >= 0.99, f"F1={f1:.4f} precision={prec:.4f} recall={rec:.4f}"


def test_link_all_mode_superset(spark, sources):
    """'all' returns every accepted link — a superset of the assigned
    modes' pairs, with exact links carrying score 2.0."""
    probe, registry, truth = sources
    res = pipeline.link(probe, registry, pipeline.PipelineConfig(link_mode="all"))
    links = res.links.persist()
    assert links.where("link_type = 'exact' AND score != 2.0").count() == 0
    assert links.where("link_type = 'near' AND score > 1.0").count() == 0
    f1, prec, rec = _link_f1(links, truth)
    links.unpersist()
    res.release()
    # unassigned mode can carry extra near links; recall must be high
    assert rec >= 0.99, f"recall={rec:.4f} (precision={prec:.4f})"


#: Spark jobs one ``link(many_to_one, compute_metrics=True)`` of the
#: module's sources takes in the test session: 30 with no Bloom
#: pre-prune in front of ``cross_candidate_pairs`` (its inner key join
#: already drops every key one side lacks), 44 with one. A link of this
#: size pays for its job count, not its rows.
LINK_JOBS = 30


def test_link_job_count_guard(spark, sources):
    probe, registry, _ = sources
    probe.count(), registry.count()  # the shared inputs are cached outside the group
    sc = spark.sparkContext
    group = "test-link-job-count"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        res = pipeline.link(
            probe, registry,
            pipeline.PipelineConfig(link_mode="many_to_one", compute_metrics=True),
        )
        res.links.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    res.release()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= LINK_JOBS + 5, f"pipeline.link took {jobs} Spark jobs"


def test_link_commits_tables(spark, sources, tmp_path):
    from dedupe_spark.catalog import SnapshotCatalog

    probe, registry, _ = sources
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = pipeline.link(probe, registry, catalog=cat)
    committed = cat.read("links")
    assert committed.count() == res.links.count()
    assert set(committed.columns) == {"conv_id_a", "conv_id_b", "score", "link_type"}
    metrics = {r["metric"]: r["value"] for r in cat.read("link_metrics").collect()}
    assert metrics["n_links"] == res.links.count()
    res.release()


def test_link_rejects_unknown_mode(spark, sources):
    probe, registry, _ = sources
    with pytest.raises(ValueError):
        pipeline.link(probe, registry, pipeline.PipelineConfig(link_mode="bogus"))


def test_link_incremental_equals_batch(spark, sources, tmp_path):
    """Equivalence contract: link() commits the registry state; probing
    the probe set in two incremental batches appends link deltas whose
    union equals the one-shot link() over the full probe set
    (many_to_one, no stop-band crossing at this scale)."""
    from dedupe_spark.catalog import SnapshotCatalog

    probe, registry, truth = sources
    cfg = pipeline.PipelineConfig(link_mode="many_to_one")

    # ground truth: one-shot link over the full probe set
    full = pipeline.link(probe, registry, cfg)
    want = {
        (r["conv_id_a"], r["conv_id_b"], r["link_type"])
        for r in full.links.collect()
    }
    full.release()

    # seed the committed registry state with an EMPTY probe first run
    cat = SnapshotCatalog(spark, str(tmp_path / "wh"))
    empty_probe = probe.where(F.lit(False))
    seed = pipeline.link(empty_probe, registry, cfg, catalog=cat)
    assert seed.links.count() == 0
    seed.release()

    # then fold the probe set in as two incremental batches
    ids = sorted(r["conv_id"] for r in probe.select("conv_id").distinct().collect())
    half = set(ids[: len(ids) // 2])
    b1 = probe.where(F.col("conv_id").isin(half))
    b2 = probe.where(~F.col("conv_id").isin(half))
    r1 = pipeline.link_incremental(b1, cat, cfg)
    n1 = r1.links.count()
    r1.release()
    r2 = pipeline.link_incremental(b2, cat, cfg)
    n2 = r2.links.count()
    r2.release()

    got = {
        (r["conv_id_a"], r["conv_id_b"], r["link_type"])
        for r in cat.read("links").collect()
    }
    assert n1 + n2 == len(got)  # batches are disjoint in id_a
    assert got == want


def test_link_incremental_rejects_one_to_one(spark, sources, tmp_path):
    from dedupe_spark.catalog import SnapshotCatalog

    probe, registry, _ = sources
    cat = SnapshotCatalog(spark, str(tmp_path / "wh1"))
    pipeline.link(
        probe.where(F.lit(False)), registry,
        pipeline.PipelineConfig(link_mode="many_to_one"), catalog=cat,
    ).release()
    with pytest.raises(ValueError):
        pipeline.link_incremental(
            probe, cat, pipeline.PipelineConfig(link_mode="one_to_one")
        )
