"""Structured Streaming ingestion.

The reference is strictly batch (SURVEY.md §2.6) — this module is the
capability a transcript pipeline needs on top:

  * ``readStream`` over a parquet/Iceberg directory (files appear ->
    micro-batch), each micro-batch registered with the same incremental
    registry code as batch ingest (``stream_register_turns``)
  * stateful sessionization across micro-batches
    (``stream_sessionize``, ``applyInPandasWithState``)

Tests drive these with file sources and an ``availableNow`` trigger, no
external broker needed.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dedupe_spark import schemas

if TYPE_CHECKING:
    from dedupe_spark.pipeline import PipelineConfig


def read_transcript_stream(spark: SparkSession, path: str, max_files: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def stream_register_turns(
    spark: SparkSession,
    input_path: str,
    catalog,
    checkpoint_dir: str | None = None,
    bloom_path: str | None = None,
    max_files: int = 1,
    synchronous: bool = True,
    compact_every: int = 0,
    n_buckets: int | None = None,
    config: PipelineConfig | None = None,
):
    """Continuous registry ingest: ``foreachBatch`` drives
    ``register_turns_incremental`` so the stream maintains the SAME
    unique-turn/membership tables as batch ingest (VERDICT r2 task 7 —
    streaming dedup and incremental ingest become one path).

    Per micro-batch:
      1. read the current registry snapshot from ``catalog`` (empty
         tables before the first commit);
      2. probe/merge the batch with ``register_turns_incremental`` —
         including the persisted-bloom warm path when ``bloom_path`` is
         given (batch N+1 loads the filter batch N saved instead of
         rebuilding over the registry);
      3. commit **only the batch's deltas** with ``mode="append"``
         snapshots: per-batch write cost is O(batch rows), independent
         of registry size — the reference splices only new data onto the
         package (src/deduplication.cpp:612-637); rewriting the merged
         tables every micro-batch would be O(registry) write
         amplification, a scale-killer at 10^12 turns (VERDICT r3). A
         crash between batches resumes from the last good snapshot, and
         Structured Streaming's checkpoint guarantees each input file is
         processed once.

    At-least-once re-delivery is guarded at **(conv_id, turn_idx)**
    granularity, not conv_id: a conversation whose turns span two input
    files must register the second file's turns (a conv-level anti-join
    silently drops them — ADVICE r3), while re-delivered rows are
    suppressed exactly.

    ``compact_every=N`` folds the accumulated append deltas back into a
    single snapshot directory every N batches (``catalog.compact``), so
    the registry's read-side file count is bounded by N·batch instead of
    growing with the whole ingest history.

    Every micro-batch first goes through the pipeline's one hygiene
    step, ``pipeline._prepare`` under ``config`` (defaults when None),
    so ``scrub_pii`` holds for streamed ingest as it does for batch: no
    raw identifier reaches the registry.

    Returns the StreamingQuery (already drained when ``synchronous``).
    """
    import os

    from dedupe_spark.functions.bloom import Bloom
    from dedupe_spark.operators.lifecycle import (
        REGISTRY_BUCKETS,
        register_turns,
        register_turns_incremental,
        with_fp_bucket,
    )
    from dedupe_spark.pipeline import PipelineConfig, _prepare

    cfg = config or PipelineConfig()

    # one modulus for the bootstrap layout, every probe, and every delta
    # append — a mismatch anywhere silently misses existing fps
    buckets = REGISTRY_BUCKETS if n_buckets is None else n_buckets

    stream = read_transcript_stream(spark, input_path, max_files=max_files)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _prepare(batch_df, cfg)
        if not catalog.exists("unique_turns"):
            # first batch bootstraps the tables (snapshot 1); the
            # registry is laid out bucket-partitioned on fp (SURVEY §1.2
            # HashDB mapping) so later probes prune to their buckets
            u0, m0 = register_turns(batch_df)
            catalog.write(
                "unique_turns", with_fp_bucket(u0, n_buckets=buckets),
                partition_by=["fp_bucket"], summary={"batch_id": batch_id},
            )
            catalog.write("membership", m0, summary={"batch_id": batch_id})
            return
        u = catalog.read("unique_turns")
        m = catalog.read("membership")
        # foreachBatch is at-least-once: a crash after the catalog
        # commit but before the stream checkpoint re-delivers the
        # batch. Registration is idempotent for unique_turns (known
        # fps add nothing) but would append duplicate membership
        # rows — drop already-registered (conv_id, turn_idx) rows up
        # front (exactly-once at turn granularity; new turns of a
        # known conversation still register).
        batch_df = batch_df.join(
            m.select("conv_id", "turn_idx").distinct(),
            ["conv_id", "turn_idx"],
            "left_anti",
        )
        if batch_df.limit(1).count() == 0:
            return  # full re-delivery: nothing new, no snapshot churn
        bloom = None
        if bloom_path and os.path.exists(bloom_path):
            bloom = Bloom.load(bloom_path)
            # a filter persisted when the registry was small saturates as
            # the registry grows (still correct — false positives only —
            # but it stops pruning); drop it so this batch rebuilds at
            # the current registry size. Rebuilds therefore amortize:
            # one per ~doubling of the registry.
            if bloom.fill_ratio > 0.5:
                bloom = None
        state: dict = {}
        # deps matters: without it the probe's flagged set is not
        # persisted, and the bucket-pruning collect + probe join +
        # new-fps union + bloom insert each recompute the batch's
        # md5/distinct/bloom-flag subtree from scratch (~2x batch-side
        # work per micro-batch)
        batch_deps: list = []
        register_turns_incremental(
            batch_df, u, m, registry_bloom=bloom, state=state,
            n_buckets=buckets, deps=batch_deps,
        )
        # O(batch) append commits: only the delta rows are written.
        # unique_turns first — readers joining membership to unique_turns
        # never see a block_id the registry lacks. new_unique is cached
        # across the two commits (the membership delta joins against the
        # merged registry, which embeds the same new_unique subtree).
        new_unique = state["new_unique"].persist()
        try:
            # bloom BEFORE the catalog commit: an extra fp in the filter
            # is only a false positive (the maybe-path still probes the
            # registry), but the reverse crash window — commit done,
            # save skipped — leaves a filter MISSING committed fps,
            # whose bloom-negative short-circuit would silently
            # re-register them under fresh block ids in a later batch
            if bloom_path and "bloom" in state:
                state["bloom"].save(bloom_path)
            catalog.write(
                "unique_turns", with_fp_bucket(new_unique, n_buckets=buckets),
                mode="append",
                partition_by=["fp_bucket"], summary={"batch_id": batch_id},
            )
            catalog.write(
                "membership", state["new_membership"], mode="append",
                summary={"batch_id": batch_id},
            )
        finally:
            new_unique.unpersist()
            for d in batch_deps:
                d.unpersist()
        if compact_every and (batch_id + 1) % compact_every == 0:
            # append commits are O(batch) but each adds a data dir to the
            # read view; periodic compaction folds the view back to one
            # directory so probe scan cost tracks registry SIZE, not
            # ingest history (catalog.compact — Iceberg rewrite_data_files
            # / the reference's splice pass, deduplication.cpp:318-436)
            catalog.compact("unique_turns", summary={"batch_id": batch_id})
            catalog.compact("membership", summary={"batch_id": batch_id})

    writer = stream.writeStream.foreachBatch(process_batch).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    if synchronous:
        q.awaitTermination()
    return q


def stream_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    id_col: str = "event_id",
    ts_col: str = "ts",
    gap_ms: int = 1_800_000,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` — the Structured Streaming analog of the
    batch lag + running-sum sessionize (``q42``), with identical
    semantics: a gap > ``gap_ms`` between consecutive events of a user
    opens a new session; session indices are 1-based per user.

    State per user is two longs — (ts of the last event seen, current
    session index) — so state size is O(users), independent of event
    volume; this is what lets session numbering continue seamlessly
    across micro-batches. Inside a batch the computation is vectorized
    numpy over the whole group (diff + cumsum), no per-row Python.

    Events must arrive in non-decreasing event-time order per user
    *across* micro-batches (within a batch any order is fine — the group
    is sorted once). Out-of-order delivery needs the watermarked window
    operators instead; this operator is the low-latency ordered-ingest
    path, e.g. tailing an append-only event log partitioned by arrival
    time.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(user_col, stream.schema[user_col].dataType, True),
            T.StructField(id_col, stream.schema[id_col].dataType, True),
            T.StructField("session_idx", T.LongType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ms", T.LongType(), True),
            T.StructField("cur_idx", T.LongType(), True),
        ]
    )

    def fn(key, pdfs, state):
        chunks = list(pdfs)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
        ms = (pdf[ts_col].astype("datetime64[ns]").astype("int64") // 1_000_000).to_numpy()
        last_ms, cur_idx = state.get if state.exists else (None, 0)
        newflag = np.empty(len(ms), dtype=np.int64)
        newflag[0] = 1 if last_ms is None else int(ms[0] - last_ms > gap_ms)
        newflag[1:] = (ms[1:] - ms[:-1] > gap_ms).astype(np.int64)
        sess = cur_idx + np.cumsum(newflag)
        state.update((int(ms[-1]), int(sess[-1])))
        yield pd.DataFrame(
            {
                user_col: pdf[user_col].to_numpy(),
                id_col: pdf[id_col].to_numpy(),
                "session_idx": sess,
            }
        )

    return stream.groupBy(user_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
