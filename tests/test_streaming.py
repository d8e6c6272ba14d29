from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_spark import fixtures
from dedupe_spark.streaming.dedupe_stream import stream_register_turns


def test_stream_register_turns_equals_batch(spark, tmp_path):
    """Stream N files through foreachBatch incremental ingest -> the
    final registry equals the one-shot batch registry (same fp set,
    dense ids, exact reconstruction) — VERDICT r2 task 7 done-criterion.
    Also exercises the persisted-bloom warm path across micro-batches."""
    import os

    from dedupe_spark.catalog import SnapshotCatalog
    from dedupe_spark.operators.lifecycle import reconstruct, register_turns

    tr = fixtures.transcripts(spark, n_conv=36).persist()
    convs = sorted(r["conv_id"] for r in tr.select("conv_id").distinct().collect())
    src = tmp_path / "incoming"
    src.mkdir()
    thirds = [convs[len(convs) // 3], convs[2 * len(convs) // 3]]
    parts = [
        tr.where(F.col("conv_id") < thirds[0]),
        tr.where((F.col("conv_id") >= thirds[0]) & (F.col("conv_id") < thirds[1])),
        tr.where(F.col("conv_id") >= thirds[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(src / f"file{i}"))

    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    bloom_path = str(tmp_path / "registry.bloom")
    q = stream_register_turns(
        spark,
        str(src / "*"),
        catalog,
        checkpoint_dir=str(tmp_path / "ckpt"),
        bloom_path=bloom_path,
        max_files=1,
    )
    assert not q.isActive  # availableNow drained synchronously
    assert os.path.exists(bloom_path)  # the warm filter was persisted
    # one snapshot per micro-batch (3 input files, maxFilesPerTrigger=1)
    assert catalog.current_snapshot_id("unique_turns") >= 3

    u = catalog.read("unique_turns")
    m = catalog.read("membership")
    full_u, _ = register_turns(tr)
    assert sorted(r["fp"] for r in u.select("fp").collect()) == sorted(
        r["fp"] for r in full_u.select("fp").collect()
    )
    ids = sorted(r["block_id"] for r in u.select("block_id").collect())
    assert ids == list(range(len(ids)))
    rebuilt = reconstruct(m, u).select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, tr.select("conv_id", "turn_idx", "text").collect())
    )

    # O(batch) commits (VERDICT r3 'What's wrong #3'): every snapshot
    # after the first is an append whose NEW data dir holds only that
    # micro-batch's rows — per-batch write cost scales with the batch,
    # not the registry. The deltas partition the final table exactly.
    m_metas = catalog.snapshots("membership")
    assert all(meta["mode"] == "append" for meta in m_metas[1:])
    part_rows = sorted(p.count() for p in parts)
    delta_rows = sorted(
        spark.read.parquet(meta["data_dirs"][-1]).count() for meta in m_metas
    )
    assert delta_rows == part_rows  # each commit wrote one batch, nothing more
    assert sum(delta_rows) == m.count()
    u_metas = catalog.snapshots("unique_turns")
    assert all(meta["mode"] == "append" for meta in u_metas[1:])
    u_delta_total = sum(
        spark.read.parquet(meta["data_dirs"][-1]).count() for meta in u_metas
    )
    assert u_delta_total == u.count()  # unique deltas are disjoint and complete
    tr.unpersist()


def test_stream_register_turns_redelivery_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-processing the same files (a
    fresh checkpoint simulates a crash-restart re-delivery) must leave
    the registry unchanged — no duplicate membership rows, no id churn."""
    from dedupe_spark.catalog import SnapshotCatalog

    tr = fixtures.transcripts(spark, n_conv=12).persist()
    src = tmp_path / "in"
    src.mkdir()
    tr.coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))

    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    stream_register_turns(spark, str(src / "*"), catalog, checkpoint_dir=str(tmp_path / "c1"))
    u1 = sorted(map(tuple, catalog.read("unique_turns").collect()))
    m1 = sorted(map(tuple, catalog.read("membership").collect()))
    sid1 = catalog.current_snapshot_id("membership")

    # fresh checkpoint -> the file source re-delivers everything
    stream_register_turns(spark, str(src / "*"), catalog, checkpoint_dir=str(tmp_path / "c2"))
    assert sorted(map(tuple, catalog.read("unique_turns").collect())) == u1
    assert sorted(map(tuple, catalog.read("membership").collect())) == m1
    # full re-delivery short-circuits before committing snapshots
    assert catalog.current_snapshot_id("membership") == sid1
    tr.unpersist()


def test_stream_register_conversation_spanning_batches(spark, tmp_path):
    """A conversation whose turns span two input files must register ALL
    its turns: the at-least-once guard is (conv_id, turn_idx)-grained —
    a conv_id-level anti-join would silently drop the second file's
    turns (ADVICE r3 data-loss finding)."""
    import time

    from dedupe_spark.catalog import SnapshotCatalog
    from dedupe_spark.operators.lifecycle import reconstruct

    tr = fixtures.transcripts(spark, n_conv=8).persist()
    # split each conversation's turns in half across the two files
    med = tr.groupBy("conv_id").agg(F.expr("percentile(turn_idx, 0.5)").alias("med"))
    early = tr.join(med, "conv_id").where(F.col("turn_idx") <= F.col("med")).drop("med")
    late = tr.join(med, "conv_id").where(F.col("turn_idx") > F.col("med")).drop("med")
    assert early.count() > 0 and late.count() > 0

    src = tmp_path / "span_src"
    src.mkdir()
    early.coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))
    late.coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    import os

    now = time.time()
    for d, t in ((src / "f0", now - 60), (src / "f1", now)):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t, t))

    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    stream_register_turns(
        spark, str(src / "*"), catalog, checkpoint_dir=str(tmp_path / "ck"), max_files=1
    )
    rebuilt = reconstruct(
        catalog.read("membership"), catalog.read("unique_turns")
    ).select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, tr.select("conv_id", "turn_idx", "text").collect())
    )
    tr.unpersist()


def test_stream_sessionize_state_spans_batches(spark, tmp_path):
    """applyInPandasWithState sessionization: two time-ordered files
    streamed one per micro-batch produce EXACTLY the batch lag+cumsum
    session assignment — the (last_ts, session_idx) state must carry a
    user's numbering across the batch boundary."""
    import os
    import time

    from pyspark.sql import Window

    from dedupe_spark.streaming.dedupe_stream import stream_sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").persist()
    # split at the global time median: per-user event-time order is
    # preserved across micro-batches (the operator's documented contract)
    cut = ev.selectExpr("percentile(unix_millis(cast(ts as timestamp)), 0.5) p").collect()[0]["p"]
    src = tmp_path / "sess_src"
    src.mkdir()
    early = ev.where(F.unix_millis(F.col("ts").cast("timestamp")) <= cut)
    late = ev.where(F.unix_millis(F.col("ts").cast("timestamp")) > cut)
    early.coalesce(1).write.mode("overwrite").parquet(str(src / "f0_early"))
    late.coalesce(1).write.mode("overwrite").parquet(str(src / "f1_late"))
    # the file source orders by modification time; same-second writes
    # could tie — force early strictly before late
    now = time.time()
    for d, t in ((src / "f0_early", now - 60), (src / "f1_late", now)):
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (t, t))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src / "*"))
    )
    sess = stream_sessionize(stream)
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_sink")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        got = {
            (r["user_id"], r["event_id"]): r["session_idx"]
            for r in spark.table("sess_sink").collect()
        }
        # batch oracle: q42 semantics
        w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ms = F.unix_millis(F.col("ts").cast("timestamp"))
        gap = ms - F.lag(ms).over(w_lag)
        new_sess = F.when(gap.isNull() | (gap > 1800000), 1).otherwise(0)
        want = {
            (r["user_id"], r["event_id"]): r["session_idx"]
            for r in ev.select(
                "user_id",
                "event_id",
                F.sum(new_sess)
                .over(w_lag.rowsBetween(Window.unboundedPreceding, 0))
                .alias("session_idx"),
            ).collect()
        }
        assert got == want
        # the split really exercised state: both batches were non-empty
        assert early.count() > 0 and late.count() > 0
    finally:
        spark.catalog.dropTempView("sess_sink")
        ev.unpersist()


def test_stream_register_compact_every_bounds_read_view(spark, tmp_path):
    """compact_every folds append deltas back into one snapshot dir mid-
    stream: the registry's read view stays bounded by the batches since
    the last compaction instead of growing with ingest history, and the
    final registry still equals batch semantics exactly."""
    from dedupe_spark.catalog import SnapshotCatalog
    from dedupe_spark.operators.lifecycle import reconstruct, register_turns

    tr = fixtures.transcripts(spark, n_conv=36).persist()
    convs = sorted(r["conv_id"] for r in tr.select("conv_id").distinct().collect())
    src = tmp_path / "incoming"
    src.mkdir()
    thirds = [convs[len(convs) // 3], convs[2 * len(convs) // 3]]
    parts = [
        tr.where(F.col("conv_id") < thirds[0]),
        tr.where((F.col("conv_id") >= thirds[0]) & (F.col("conv_id") < thirds[1])),
        tr.where(F.col("conv_id") >= thirds[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(src / f"file{i}"))

    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    stream_register_turns(
        spark,
        str(src / "*"),
        catalog,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files=1,
        compact_every=2,
    )

    # batches: 0 bootstrap (overwrite), 1 append + compact, 2 append —
    # the current read view is (compacted dir + one delta), not 3 deltas
    u_meta = catalog._read_meta("unique_turns", catalog.current_snapshot_id("unique_turns"))
    assert len(u_meta["data_dirs"]) == 2
    m_meta = catalog._read_meta("membership", catalog.current_snapshot_id("membership"))
    assert len(m_meta["data_dirs"]) == 2
    modes = [s["mode"] for s in catalog.snapshots("unique_turns")]
    assert "overwrite" in modes[1:]  # the mid-stream compaction commit

    # compaction changed layout only: the registry still equals batch
    u = catalog.read("unique_turns")
    m = catalog.read("membership")
    full_u, _ = register_turns(tr)
    assert sorted(r["fp"] for r in u.select("fp").collect()) == sorted(
        r["fp"] for r in full_u.select("fp").collect()
    )
    rebuilt = reconstruct(m, u).select("conv_id", "turn_idx", "text")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, tr.select("conv_id", "turn_idx", "text").collect())
    )
    tr.unpersist()


def test_stream_register_turns_scrubs_pii(spark, tmp_path):
    """Streamed ingest honours ``scrub_pii`` like the batch entry points:
    neither the bootstrap batch nor an append batch commits a raw e-mail
    address to ``unique_turns``."""
    import os
    import time
    from datetime import datetime

    from dedupe_spark import schemas
    from dedupe_spark.catalog import SnapshotCatalog
    from dedupe_spark.pipeline import PipelineConfig

    src = tmp_path / "pii_src"
    src.mkdir()
    now = time.time()
    for i in range(2):
        rows = [
            (f"c{i}", 0, "user", f"mail me at user{i}@example.com please", None,
             datetime(2026, 1, 1, 12, 0, 0)),
            (f"c{i}", 1, "assistant", "sure, noted", None, datetime(2026, 1, 1, 12, 0, 1)),
        ]
        d = src / f"f{i}"
        spark.createDataFrame(rows, schemas.TRANSCRIPTS).coalesce(1).write.parquet(str(d))
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now - 60 + 60 * i, now - 60 + 60 * i))

    catalog = SnapshotCatalog(spark, str(tmp_path / "wh"))
    stream_register_turns(
        spark, str(src / "*"), catalog, checkpoint_dir=str(tmp_path / "ck"), max_files=1,
        config=PipelineConfig(scrub_pii=True),
    )
    assert catalog.current_snapshot_id("unique_turns") >= 2  # bootstrap + append
    texts = [r["text"] for r in catalog.read("unique_turns").select("text").collect()]
    assert not any("@" in t for t in texts), texts
    # the mail turns differ only in the address: scrubbed, they are one turn
    assert sorted(texts) == ["mail me at <EMAIL> please", "sure, noted"]
