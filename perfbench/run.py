"""Record-linkage benchmark for dedupe_spark.

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the workload's input from --seed,
sets up a local Spark session sized to this machine, then runs closed-
loop operations (one ``pipeline.run`` or one ``pipeline.run_incremental``
at a time) until --seconds have passed, checking every operation's
clusters. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the line before it
("# perfbench {...}") records the configuration and raw samples.

--trace 0 reports the end-to-end metrics; --trace 1 replays one
operation layer by layer with spans, and runs one committed operation
through a traced catalog (see spans.py), and reports the per-layer
metrics instead. Workloads and metrics: see NOTES.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402
from dedupe_spark import fixtures, pipeline  # noqa: E402
from dedupe_spark.catalog import SnapshotCatalog  # noqa: E402
from dedupe_spark.operators.evaluation import cluster_eval  # noqa: E402

#: Input sizes (conversations handed to ``fixtures.build_plan``).
BATCH_CONVS = 300
SKEW_BASE_CONVS = 150
SKEW_HOT_SEEDS = 10
FOLD_CONVS = 100

#: Input generations per run; setup_s counts their median.
GEN_REPEATS = 2
#: Floor on a run's pair_f1 (a broken clustering, not a quality change:
#: the bound on the pair_f1 metric gates those). At these sizes one
#: chance merge of two gold clusters costs up to ~5.5% of pair F1; see
#: "Correctness" in NOTES.md.
MIN_PAIR_F1 = 0.95
UNITS = {"self_s": "s", "shuffle_write_bytes": "B"}

#: A run that is still going this long after it started kills the JVM,
#: reports what it has with the unfinished operation counted as failed,
#: and exits. The fold workload does not fit the batch workloads' limit.
DEADLINE_S = {"batch_resolve": 170, "dup_skewed": 170, "incremental_fold": 3000}


def driver_memory_mb(cpus: int) -> int:
    """Driver heap for this machine: 768 MB per core, at most a third of
    the memory available now, at least 1 GB."""
    with open("/proc/meminfo") as f:
        avail_kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    return max(1024, min(768 * cpus, avail_kb // 1024 // 3))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, files in os.walk(path) for n in files
    )


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(files):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class Run:
    """State of one benchmark run: the session, the op counts and the
    metrics gathered so far."""

    def __init__(self, args):
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.metrics: dict[str, tuple[float, str]] = {}
        self.info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.in_op = False
        self._out_lock = threading.Lock()
        self._printed = False

    # -- session -------------------------------------------------------
    def start_session(self) -> None:
        cpus = len(os.sched_getaffinity(0))
        mem_mb = driver_memory_mb(cpus)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
            SPARK_GRAFT_LOCAL_DIR=os.path.join(self.work, "spark-local"),
            TMPDIR=tmp,
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        )
        self.info.update(cpus=cpus, driver_memory=f"{mem_mb}m")
        t0 = time.perf_counter()
        from dedupe_spark.session import build_session  # reads SPARK_GRAFT_CPUS

        self.spark = build_session(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                # the traced run reads per-job counters back from the status
                # store; keep every job of a run (one fold runs ~900)
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        # start the Python worker pool, so input generations time alike
        warm = F.pandas_udf(lambda s: s * 1.0, "double")
        self.spark.range(10_000, numPartitions=cpus).select(F.sum(warm(F.col("id").cast("double")))).collect()
        self.session_s = time.perf_counter() - t0

    def stop_session(self) -> None:
        jvm = getattr(self, "jvm", None)
        if jvm is None:
            return
        try:
            self.spark.stop()
        except Exception:  # a lost JVM cannot stop cleanly
            traceback.print_exc()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    # -- ops -----------------------------------------------------------
    def op(self, fn):
        """Run one measured operation; returns its result, or None if it
        raised (counted as failed)."""
        self.attempted += 1
        self.in_op = True
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.op_failed("operation raised")
            return None
        finally:
            self.in_op = False

    def op_failed(self, why: str) -> None:
        self.failed += 1
        self.fail(why)

    def abort(self, why: str) -> None:
        """Count the work that is cut short as a failed operation: the
        running one, or, outside any operation, one of its own."""
        if not self.in_op:
            self.attempted += 1
        self.op_failed(why)

    def fail(self, why: str) -> None:
        """Mark the run incorrect (a failed check outside any operation)."""
        print(f"perfbench: {why}", file=sys.stderr)
        self.correct = False

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (value, unit)

    # -- output --------------------------------------------------------
    def emit(self) -> None:
        with self._out_lock:
            if self._printed:
                return
            self._printed = True
            print("# perfbench " + json.dumps(self.info, sort_keys=True))
            print(json.dumps({
                "correct": self.correct,
                "attempted": max(self.attempted, 1),
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()},
            }), flush=True)

    def watchdog(self, limit_s: float) -> None:
        """After limit_s, count the running operation as failed, print the
        result, stop the JVM and exit, so a hung or thrashing JVM cannot
        stall the run."""

        def fire():
            self.abort(f"deadline of {limit_s:.0f}s reached")
            self.emit()
            jvm = getattr(self, "jvm", None)
            if jvm is not None:
                jvm.kill()
                jvm.wait()
            shutil.rmtree(self.work, ignore_errors=True)
            os._exit(0)

        t = threading.Timer(limit_s, fire)
        t.daemon = True
        t.start()


# ---------------------------------------------------------------- helpers


def pair_f1(spark, rows, gold) -> float:
    """All-pairs pairwise F1 of (conv_id, cluster_id) rows against the
    gold (conv_id, gold) frame, via the program's own cluster_eval."""
    pred = pd.DataFrame([tuple(r) for r in rows], columns=["conv_id", "cluster_id"])
    assign = pred.merge(gold, on="conv_id", how="outer")
    if assign.isna().any().any():
        return 0.0  # a conversation lost or invented is a wrong clustering
    f1 = cluster_eval(spark.createDataFrame(assign), "cluster_id", "gold").first()["pair_f1"]
    return float(f1 or 0.0)  # NULL when neither side has a pair


def generate(run: Run, plan):
    """GEN_REPEATS timed materializations of plan; returns the last one,
    persisted, and its turn count."""
    times = []
    tr = None
    for _ in range(GEN_REPEATS):
        if tr is not None:
            tr.unpersist()
        t0 = time.perf_counter()
        tr = workloads.materialize(run.spark, plan).persist()
        n_turns = tr.count()
        times.append(time.perf_counter() - t0)
    run.info["gen_s"] = times
    return tr, n_turns, statistics.median(times)


def resolve(tr):
    """One untraced op: pipeline.run until clusters are materialized."""
    t0 = time.perf_counter()
    res = pipeline.run(tr)
    rows = sorted(tuple(r) for r in res.clusters.collect())
    dt = time.perf_counter() - t0
    res.release()
    return rows, dt


def traced_commit(run: Run, tracer: spans.Tracer, tr):
    """One committed pipeline.run in a ``commit`` span, through a
    TracedCatalog on a fresh warehouse. Returns (clusters rows read back
    from the catalog, the catalog, warehouse bytes)."""
    wh = os.path.join(run.work, "commit")
    cat = spans.TracedCatalog(SnapshotCatalog(run.spark, wh), tracer)
    with tracer.span("commit"):
        res = pipeline.run(tr, catalog=cat)
    rows = sorted(tuple(r) for r in cat.read("clusters").collect())
    res.release()
    stored = dir_bytes(wh)
    shutil.rmtree(wh)
    return rows, cat, stored


def catalog_metrics(run: Run, layers: dict, cat, outside: str) -> None:
    """Per-table write spans, reads and file counts of a TracedCatalog;
    ``outside`` names the span around the whole call, whose self time is
    the work outside any catalog call."""
    prefix = "catalog.write."
    for name, agg in sorted(layers.items()):
        if name.startswith(prefix):
            table = name[len(prefix):]
            run.metric(f"catalog.write_s.{table}", agg["self_s"], "s")
            run.metric(f"catalog.jobs.{table}", agg["jobs"], "count")
            run.metric(f"catalog.shuffle_write_bytes.{table}", agg["shuffle_write_bytes"], "B")
    run.metric("catalog.read_s", sum(
        a["self_s"] for n, a in layers.items() if n.startswith("catalog.read.")), "s")
    run.metric(f"{outside}.self_s", layers[outside]["self_s"], "s")
    run.metric(f"{outside}.jobs", layers[outside]["jobs"], "count")
    run.metric("catalog.bytes_written", cat.bytes_written, "B")
    run.metric("catalog.files_written", cat.files_written, "count")
    run.metric("catalog.data_dirs_read", cat.data_dirs_read, "count")


# -------------------------------------------------------------- workloads


def batch(run: Run, plan) -> None:
    """batch_resolve / dup_skewed: repeated pipeline.run over one input."""
    gold = workloads.truth(plan)
    tr, n_turns, gen_s = generate(run, plan)
    run.info.update(conversations=len(plan), turns=n_turns)

    # cold: JIT and codegen happen here
    warm = run.op(lambda: resolve(tr))
    if warm is None:
        return
    ref, warm_s = warm
    run.info.update(warmup_s=warm_s, setup_s=run.session_s + gen_s + warm_s)
    f1 = pair_f1(run.spark, ref, gold)
    run.info["pair_f1"] = f1
    if f1 < MIN_PAIR_F1:
        run.fail(f"pair_f1 {f1:.4f} < {MIN_PAIR_F1}")

    if run.args.trace:
        traced_batch(run, tr, ref)
        return

    times = []
    jit = []
    mx = run.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def timed():
        j0 = mx.getTotalCompilationTime()
        out = resolve(tr)
        jit.append((mx.getTotalCompilationTime() - j0) / 1000)
        return out

    t_end = time.perf_counter() + run.args.seconds
    while True:
        out = run.op(timed)
        if out is not None:
            rows, dt = out
            if rows == ref:
                times.append(dt)
            else:
                run.op_failed("clusters differ from the warm-up run's")
        if time.perf_counter() >= t_end:
            break
    run.info.update(resolve_s=times, jit_s=jit)
    if times:
        med = statistics.median(times)
        run.metric("resolve_s", med, "s")
        # not a metric: op time is flat in input size here, so across
        # seeds this ratio spreads with the seed's turn count
        run.info["resolve_turns_per_s"] = n_turns / med
    run.metric("setup_s", run.info["setup_s"], "s")
    run.metric("pair_f1", f1, "ratio")
    run.info["peak_rss_mb"] = vm_hwm_mb(run.jvm.pid)


def traced_batch(run: Run, tr, ref) -> None:
    """Traced replay, untraced op, traced committed run. The untraced op
    is the reference for the tracing overhead; as warm operations still
    get faster run after run, the reference is a little fast and the
    overhead a little high. The committed run gives the catalog spans on
    every batch workload."""
    tracer = spans.Tracer(run.spark)
    traced = run.op(lambda: spans.traced_resolve(tracer, tr, pipeline.PipelineConfig()))
    untraced = run.op(lambda: resolve(tr))
    committed = run.op(lambda: traced_commit(run, tracer, tr))
    if traced is None or untraced is None or committed is None:
        return
    if untraced[0] != ref:
        run.op_failed("untraced clusters differ from the warm-up run's")
    rows, counts = traced
    if sorted(tuple(r) for r in rows) != ref:
        run.op_failed("traced clusters differ from the untraced run's")
    if committed[0] != ref:
        run.op_failed("committed clusters differ from the untraced run's")
    layers = tracer.by_name()
    for layer in spans.RESOLVE_LAYERS:
        for key, value in layers[layer].items():
            run.metric(f"{layer}.{key}", value, UNITS.get(key, "count"))
    for name, (value, unit) in counts.items():
        run.metric(name, value, unit)
    total = next(s["dur_s"] for s in tracer.spans if s["name"] == "resolve")
    covered = sum(layers[layer]["self_s"] for layer in spans.RESOLVE_LAYERS)
    run.metric("trace.coverage", covered / total, "ratio")
    run.metric("trace.overhead_s", total - untraced[1], "s")
    _, cat, stored = committed
    catalog_metrics(run, layers, cat, "commit")
    text_bytes = tr.agg(F.sum(F.octet_length("text"))).first()[0]
    run.metric("catalog.stored_bytes_per_input_byte", stored / text_bytes, "ratio")
    run.metric("jvm.peak_rss_mb", vm_hwm_mb(run.jvm.pid), "MB")
    commit_s = next(s["dur_s"] for s in tracer.spans if s["name"] == "commit")
    run.info.update(untraced_s=untraced[1], traced_s=total, commit_s=commit_s)


def fold(run: Run) -> None:
    """incremental_fold: commit 70% of the fixture once, then fold the
    three remaining hash-split 10% batches into fresh byte-identical
    copies of that base, repetition after repetition."""
    plan = fixtures.build_plan(FOLD_CONVS, run.args.seed)
    gold = workloads.truth(plan)
    tr, n_turns, gen_s = generate(run, plan)
    bucket = workloads.fold_bucket()
    batches = [
        tr.where(bucket == b).persist()
        for b in range(workloads.FOLD_BASE_BUCKETS, workloads.FOLD_BUCKETS)
    ]
    batch_turns = [b.count() for b in batches]
    text_bytes = tr.agg(F.sum(F.octet_length("text"))).first()[0]
    run.info.update(conversations=len(plan), turns=n_turns, batch_turns=batch_turns)

    base_dir = os.path.join(run.work, "base")
    t0 = time.perf_counter()
    base_tr = tr.where(bucket < workloads.FOLD_BASE_BUCKETS)
    pipeline.run(base_tr, catalog=SnapshotCatalog(run.spark, base_dir)).release()
    commit_s = time.perf_counter() - t0
    base_digest = dir_digest(base_dir)
    run.info.update(base_commit_s=commit_s, setup_s=run.session_s + gen_s + commit_s)

    def fold_once(batch, cat) -> float:
        t0 = time.perf_counter()
        pipeline.run_incremental(batch, cat).release()
        return time.perf_counter() - t0

    def repetition(i: int, tracer=None):
        """Fold every batch into a fresh copy of the base, one op per
        fold (each in a ``fold`` span when traced). Returns (per-fold
        seconds, final cluster rows, warehouse bytes, catalog), or None
        if the base changed or a fold failed."""
        if dir_digest(base_dir) != base_digest:
            run.fail("the committed base changed under a repetition")
            return None
        wh = os.path.join(run.work, f"rep-{i}")
        shutil.copytree(base_dir, wh)
        copied = dir_bytes(wh)
        cat = SnapshotCatalog(run.spark, wh)
        if tracer is not None:
            cat = spans.TracedCatalog(cat, tracer)
        times = []
        for batch in batches:
            with tracer.span("fold") if tracer else contextlib.nullcontext():
                dt = run.op(lambda: fold_once(batch, cat))
            if dt is None:
                return None
            times.append(dt)
        rows = sorted(tuple(r) for r in pipeline.current_clusters(cat).collect())
        f1 = pair_f1(run.spark, rows, gold)
        if f1 < MIN_PAIR_F1:
            run.fail(f"pair_f1 {f1:.4f} < {MIN_PAIR_F1} after the folds")
        run.info["pair_f1"] = f1
        # the copy's snapshots still list the base's data dirs
        stored = dir_bytes(base_dir) + dir_bytes(wh) - copied
        shutil.rmtree(wh)
        return times, rows, stored, cat

    if run.args.trace:
        traced_fold(run, repetition)
        return

    fold_times, growth = [], []
    stored = None
    t_end = time.perf_counter() + run.args.seconds
    i = 0
    while True:
        out = repetition(i)
        i += 1
        if out is not None:
            times, _, stored, _ = out
            fold_times += times
            growth.append(times[-1] / times[0])
        if time.perf_counter() >= t_end:
            break
    run.info.update(fold_s=fold_times, fold_growth=growth)
    run.metric("setup_s", run.info["setup_s"], "s")
    if fold_times:
        med = statistics.median(fold_times)
        run.metric("fold_s", med, "s")
        run.metric("fold_turns_per_s", statistics.mean(batch_turns) / med, "1/s")
        run.metric("fold_growth", statistics.median(growth), "ratio")
        run.metric("pair_f1", run.info["pair_f1"], "ratio")
        run.metric("stored_bytes_per_input_byte", stored / text_bytes, "ratio")
    run.metric("peak_rss_mb", vm_hwm_mb(run.jvm.pid), "MB")


def traced_fold(run: Run, repetition) -> None:
    untraced = repetition(0)
    tracer = spans.Tracer(run.spark)
    traced = repetition(1, tracer)
    if untraced is None or traced is None:
        return
    if traced[1] != untraced[1]:
        run.op_failed("traced clusters differ from the untraced run's")
    catalog_metrics(run, tracer.by_name(), traced[3], "fold")
    run.metric("trace.overhead_s", sum(traced[0]) - sum(untraced[0]), "s")
    run.metric("jvm.peak_rss_mb", vm_hwm_mb(run.jvm.pid), "MB")
    run.info.update(untraced_fold_s=untraced[0], traced_fold_s=traced[0])


# ------------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(DEADLINE_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args)
    run.watchdog(DEADLINE_S[args.workload])
    os.makedirs(run.work)
    try:
        run.start_session()
        if args.workload == "incremental_fold":
            fold(run)
        else:
            if args.workload == "batch_resolve":
                plan = fixtures.build_plan(BATCH_CONVS, args.seed)
            else:
                plan = workloads.skewed_plan(SKEW_BASE_CONVS, SKEW_HOT_SEEDS, args.seed)
            batch(run, plan)
    except Exception:
        traceback.print_exc()
        run.abort("the run raised outside any operation")
    finally:
        run.stop_session()
        shutil.rmtree(run.work, ignore_errors=True)
    run.emit()
    return 0


if __name__ == "__main__":
    sys.exit(main())
