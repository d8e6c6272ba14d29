"""Spans around calls into the program's layers, and their Spark counters.

A span is a named wall-clock interval. Every Spark job started inside it
is tagged with the span's own job group, so after the run the span's
jobs, tasks, failed tasks, stage retries (``statusTracker``) and shuffle
bytes written (the live status store) can be summed per span. Spans are
kept in memory and read out once, after the traced work is done.

Spans nest: a span's self time is its duration minus its children's.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedupe_spark import pipeline
from dedupe_spark.catalog import SnapshotCatalog
from dedupe_spark.operators import blocking, clustering, lifecycle, scoring

#: Layer spans of the traced ``pipeline.run`` replay, in stage order.
RESOLVE_LAYERS = (
    "lifecycle",
    "minhash",
    "blocking.bloom_preprune",
    "blocking.candidate_pairs",
    "scoring",
    "clustering",
)

#: Counters recorded for every span.
COUNTERS = ("jobs", "tasks", "failed_tasks", "stage_retries", "shuffle_write_bytes")


class Tracer:
    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "group": f"perfbench-{len(self.spans)}",
            "parent": parent,
            "children_s": 0.0,
            "t0": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - rec["t0"]
            self._stack.pop()
            if parent is not None:
                parent["children_s"] += rec["dur_s"]
            self.sc.setLocalProperty(
                "spark.jobGroup.id", parent["group"] if parent else None
            )

    def by_name(self) -> dict[str, dict]:
        """Per span name: summed self_s and COUNTERS. A shuffle stage that
        a later job reuses is listed by both jobs; it is counted once, for
        the span whose job ran it first."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen: set[int] = set()
        out: dict[str, dict] = {}
        for rec in self.spans:
            agg = out.setdefault(rec["name"], dict.fromkeys(("self_s",) + COUNTERS, 0))
            agg["self_s"] += rec["dur_s"] - rec["children_s"]
            jobs = sorted(tracker.getJobIdsForGroup(rec["group"]))
            agg["jobs"] += len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in list(info.stageIds) if info else []:
                    if stage in seen:
                        continue
                    seen.add(stage)
                    st = tracker.getStageInfo(stage)
                    if st is None:
                        continue
                    agg["tasks"] += st.numCompletedTasks + st.numFailedTasks
                    agg["failed_tasks"] += st.numFailedTasks
                    agg["stage_retries"] += st.currentAttemptId
                    try:
                        agg["shuffle_write_bytes"] += store.lastStageAttempt(
                            stage
                        ).shuffleWriteBytes()
                    except Py4JJavaError:  # stage evicted from the store
                        pass
        return out


def traced_resolve(tracer: Tracer, transcripts: DataFrame, cfg: pipeline.PipelineConfig):
    """Replay ``pipeline.run(transcripts, cfg)`` (no catalog) layer by
    layer inside a ``resolve`` span, materializing each layer's output in
    its own child span; then count the layer outputs in a separate
    ``trace.counts`` span.

    Returns (clusters rows, count ratios); the caller compares the rows
    with an untraced run's."""
    persisted: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        df = df.persist()
        persisted.append(df)
        df.count()
        return df

    try:
        with tracer.span("resolve"):
            with tracer.span("lifecycle"):
                unique_turns, _ = lifecycle.register_turns(transcripts, deps=persisted)
            with tracer.span("minhash"):
                # the program's own doc builder, so the span times its code
                docs = keep(pipeline._docs_with_bands(transcripts, cfg))
            exact_edges = blocking.exact_key_pairs(docs, "conv_id", "exact_fp")
            with tracer.span("blocking.bloom_preprune"):
                raw_blocks = blocking.explode_blocks(docs, "conv_id", "bands")
                blocks = blocking.bloom_preprune(
                    raw_blocks, mode=cfg.bloom_mode, stats={}, shards=cfg.bloom_shards,
                    max_driver_bytes=cfg.bloom_max_driver_bytes, deps=persisted,
                )
                blocks.count()
            with tracer.span("blocking.candidate_pairs"):
                cands = keep(
                    blocking.candidate_pairs(
                        blocks, max_block=cfg.max_block,
                        salt_threshold=cfg.salt_threshold, salt_groups=cfg.salt_groups,
                    ).join(
                        exact_edges.withColumnRenamed("id_a", "ea")
                        .withColumnRenamed("id_b", "eb"),
                        (F.col("id_a") == F.col("ea")) & (F.col("id_b") == F.col("eb")),
                        "left_anti",
                    )
                )
            with tracer.span("scoring"):
                scored = keep(scoring.score_pairs(
                    cands, docs.select("conv_id", "doc", "doc_len", "sh"),
                    min_len_ratio=cfg.min_len_ratio, decider=cfg.decider, sh_col="sh",
                    deps=persisted,
                ))
            with tracer.span("clustering"):
                edges = exact_edges.union(scored.where("is_dup").select("id_a", "id_b"))
                cc = clustering.connected_components(
                    edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
                )
                rows = clustering.clusters_with_singletons(docs.select("conv_id"), cc).collect()
        with tracer.span("trace.counts"):
            counts = resolve_counts(
                transcripts, unique_turns, docs, raw_blocks, blocks, cands, scored, cfg
            )
    finally:
        for df in persisted:
            df.unpersist()
    return rows, counts


def resolve_counts(transcripts, unique_turns, docs, raw_blocks, blocks, cands, scored, cfg) -> dict:
    """Count ratios at the layer boundaries of one resolve."""
    n_turns = transcripts.count()
    n_docs = docs.count()
    n_raw = raw_blocks.count()
    freq = blocking.block_frequencies(blocks)
    pairs = F.col("df") * (F.col("df") - 1) / 2
    live = F.col("df") <= cfg.max_block
    hot = live & (F.col("df") > cfg.salt_threshold)
    f = freq.agg(
        F.sum("df").alias("rows"),
        F.sum(F.when(~live, F.col("df")).otherwise(0)).alias("stop_rows"),
        F.sum(F.when(hot, 1).otherwise(0)).alias("hot_keys"),
        F.sum(F.when(hot, pairs).otherwise(0)).alias("hot_pairs"),
        F.sum(F.when(live, pairs).otherwise(0)).alias("live_pairs"),
    ).first()
    s = scored.agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_dup").cast("int")).alias("dup"),
        F.sum((F.col("lev_ratio") >= 0).cast("int")).alias("band"),
    ).first()
    n_cands = cands.count()

    def ratio(a, b):
        return float(a or 0) / b if b else 0.0

    return {
        "lifecycle.unique_turn_ratio": (ratio(unique_turns.count(), n_turns), "ratio"),
        "minhash.exact_only_share": (
            ratio(docs.where(F.size("bands") == 0).count(), n_docs), "ratio"),
        "blocking.prune_keep_ratio": (ratio(f["rows"], n_raw), "ratio"),
        "blocking.hot_keys": (int(f["hot_keys"] or 0), "count"),
        # share of the pairs the join tiers enumerate (sum of C(df, 2) over
        # live keys, before dedup) that the salted tier enumerates
        "blocking.hot_pair_share": (ratio(f["hot_pairs"], f["live_pairs"]), "ratio"),
        "blocking.stopband_rows": (int(f["stop_rows"] or 0), "count"),
        "scoring.dup_yield": (ratio(s["dup"], n_cands), "ratio"),
        "scoring.band_share": (ratio(s["band"], s["n"]), "ratio"),
    }


class TracedCatalog:
    """A ``SnapshotCatalog`` whose ``write`` and ``read`` each run in a
    span named ``catalog.write.<table>`` / ``catalog.read.<table>``.

    A commit write is the action that executes the table's lazy plan, so
    in ``pipeline.run`` the ``unique_turns`` write covers the turn
    registry, and in ``run_incremental`` the ``edges`` write covers
    blocking and scoring and the ``cluster_updates`` write covers
    incremental clustering. Also counts the bytes and parquet files each
    write adds and the data directories each read scans."""

    def __init__(self, inner: SnapshotCatalog, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self.bytes_written = 0
        self.files_written = 0
        self.data_dirs_read = 0

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def write(self, table: str, df: DataFrame, *args, **kwargs) -> int:
        with self.tracer.span(f"catalog.write.{table}"):
            sid = self.inner.write(table, df, *args, **kwargs)
        new_dir = self._meta(table, sid)["data_dirs"][-1]
        for dirpath, _, files in os.walk(new_dir):
            for name in files:
                self.bytes_written += os.path.getsize(os.path.join(dirpath, name))
                self.files_written += name.endswith(".parquet")
        return sid

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        with self.tracer.span(f"catalog.read.{table}"):
            df = self.inner.read(table, snapshot_id)
        sid = snapshot_id or self.inner.current_snapshot_id(table)
        self.data_dirs_read += len(self._meta(table, sid)["data_dirs"])
        return df

    def _meta(self, table: str, sid: int) -> dict:
        return next(m for m in self.inner.snapshots(table) if m["snapshot_id"] == sid)
