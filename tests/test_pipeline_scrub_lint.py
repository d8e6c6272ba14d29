"""Pipeline integration of the hygiene stages: PII scrub before
fingerprinting (PipelineConfig.scrub_pii) and the committed
per-conversation lint table (PipelineConfig.lint)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_spark import pipeline
from dedupe_spark.catalog import SnapshotCatalog


def _pii_transcripts(spark):
    """Two conversations identical except for spliced PII, plus one
    unrelated conversation. Without scrubbing, c1/c2 differ on every
    turn fingerprint; with scrubbing they are exact duplicates."""
    base = [
        ("user", "please look up the shipment status for my order"),
        ("assistant", "the shipment left the warehouse yesterday evening"),
        ("user", "great can you email me the tracking information"),
        ("assistant", "sent the tracking details to your address just now"),
    ]
    rows = []
    for conv, marker in (("c1", "alice@example.com"), ("c2", "bob@other.org")):
        for i, (role, text) in enumerate(base):
            rows.append((conv, i, role, f"{text} contact {marker}", None))
    for i, (role, text) in enumerate(base):
        rows.append(("c3", i, role, f"totally different topic {i} about gardening and weather", None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )
    return df.withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))


def test_scrub_pii_merges_pii_only_variants(spark):
    tr = _pii_transcripts(spark)
    plain = pipeline.run(tr)
    plain_fps = {r["conv_id"]: r["exact_fp"] for r in plain.docs.select("conv_id", "exact_fp").collect()}
    n_unique_plain = plain.unique_turns.count()
    plain.release()
    scrubbed = pipeline.run(tr, pipeline.PipelineConfig(scrub_pii=True))
    fps = {r["conv_id"]: r["exact_fp"] for r in scrubbed.docs.select("conv_id", "exact_fp").collect()}
    cs = {r["conv_id"]: r["cluster_id"] for r in scrubbed.clusters.collect()}
    texts = [r["text"] for r in scrubbed.unique_turns.collect()]
    n_unique_scrubbed = len(texts)
    scrubbed.release()
    # scrubbed: c1/c2 collide on the EXACT blocking key (not merely the
    # near-dup path) and cluster together; c3 stays apart
    assert fps["c1"] == fps["c2"] != fps["c3"]
    assert cs["c1"] == cs["c2"] != cs["c3"]
    # the turn registry collapses the PII-only turn variants
    assert n_unique_scrubbed < n_unique_plain
    # and holds redacted text only
    assert all("@" not in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)
    # unscrubbed: PII-bearing turns produce distinct exact fingerprints
    assert plain_fps["c1"] != plain_fps["c2"]


def test_lint_table_is_committed(spark, tmp_path):
    tr = _pii_transcripts(spark)
    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = pipeline.run(tr, pipeline.PipelineConfig(lint=True), catalog=catalog)
    res.release()
    lint = catalog.read("lint")
    assert set(lint.columns) >= {
        "conv_id", "n_turns", "starts_with_user", "same_role_runs",
        "empty_turns", "orphan_tool_turns", "idx_gaps", "clean",
    }
    rows = {r["conv_id"]: r for r in lint.collect()}
    assert len(rows) == 3 and all(r["clean"] for r in rows.values())


def _clusters(df):
    return {r["conv_id"]: r["cluster_id"] for r in df.collect()}


def test_run_incremental_scrubs_pii_and_appends_lint(spark, tmp_path):
    """A fold takes the same hygiene steps as run(): no raw e-mail
    reaches the committed registry, the folded clusters equal a scrubbed
    one-shot run over the concatenated input, and the batch's lint rows
    are appended to the committed lint table."""
    tr = _pii_transcripts(spark)
    cfg = pipeline.PipelineConfig(scrub_pii=True, lint=True)
    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    pipeline.run(tr.where(F.col("conv_id") == "c1"), cfg, catalog=catalog).release()
    # c2 scrubs to an exact copy of c1: its fold appends no registry row
    res = pipeline.run_incremental(tr.where(F.col("conv_id") != "c1"), catalog, cfg)
    assert {r["conv_id"] for r in res.lint.collect()} == {"c2", "c3"}
    res.release()
    lint = {r["conv_id"]: r["clean"] for r in catalog.read("lint").collect()}
    assert lint == {"c1": True, "c2": True, "c3": True}
    texts = [r["text"] for r in catalog.read("unique_turns").collect()]
    assert texts and all("@" not in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)
    full = pipeline.run(tr, cfg)
    want = _clusters(full.clusters)
    full.release()
    got = _clusters(pipeline.current_clusters(catalog))
    assert got == want
    assert got["c1"] == got["c2"] != got["c3"]


def test_link_commits_scrubbed_registry_docs(spark, tmp_path):
    tr = _pii_transcripts(spark)
    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    res = pipeline.link(
        tr.where(F.col("conv_id") == "c2"),
        tr.where(F.col("conv_id") != "c2"),
        pipeline.PipelineConfig(scrub_pii=True, link_mode="many_to_one"),
        catalog=catalog,
    )
    links = {(r["conv_id_a"], r["conv_id_b"]) for r in res.links.collect()}
    res.release()
    docs = {r["conv_id"]: r["doc"] for r in catalog.read("link_registry_docs").collect()}
    assert set(docs) == {"c1", "c3"} and all("@" not in d for d in docs.values())
    # docs are normalized text ('@' and '.' become spaces): the address
    # itself must be gone, replaced by the redaction token
    assert "alice example com" not in docs["c1"] and "contact email" in docs["c1"]
    # scrubbed, the probe is an exact copy of c1
    assert links == {("c2", "c1")}
