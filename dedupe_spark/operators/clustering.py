"""Transitive clustering: large-star/small-star connected components.

The reference's "cluster" is the unique-block registry + per-file id
lists (/root/reference/include/deduplication.h:224-248) — membership is
decided the moment a fingerprint matches. Generalized record linkage
needs the transitive closure of the scored-edge graph; we use the
Kiveris et al. ("Connected Components in MapReduce and Beyond", SoCC'14
— public algorithm) alternating star operations, which converge in
O(log n) rounds and keep every step a plain DataFrame groupBy/join:

  large-star: each node points its *larger* neighbors at the minimum of
              its neighborhood (including itself)
  small-star: each node points its *smaller-or-equal* neighbors at the
              minimum of its neighborhood

Small graphs skip the loop: once the edge count the loop's checksum
already brings to the driver is at most ``LOCAL_FINISH_MAX_EDGES``, the
edges are collected (Arrow) and finished with union-find in Python —
Kiveris et al.'s own advice for the tail of the computation. It
replaces every star round, a few Spark jobs each, with one collect.

Each star iteration is checkpointed — ``localCheckpoint`` to truncate lineage
(else the DAG doubles every round), and optionally parquet snapshots per
iteration (``checkpoint_dir``) with a metrics row per iteration AND a
**per-partition lineage table** (iteration, partition_id, n_rows,
checksum — one row per written snapshot partition), so the loop is
resumable mid-run and every resume can prove the snapshot it restarts
from is intact: XOR is associative, so the fold of the per-partition
checksums must equal the whole-snapshot checksum
(``verify_snapshot_lineage``). North-rule resumability; reference
analog: ``prepare_insert`` rebuilding state from the package,
/root/reference/src/deduplication.cpp:658-792.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

MAX_ITERATIONS = 50
#: Edge count at or below which connected components finishes on the
#: driver with union-find instead of the star loop. On a 4-core local
#: session, collect + union-find of random string edges took 1.1-1.2 s
#: at 10^5 edges and ~10 s at 10^6, against 2.6-3.2 s and ~13.5 s for
#: ONE star round (the loop needs several): the bound caps driver
#: memory, not time.
LOCAL_FINISH_MAX_EDGES = 100_000


class ConvergenceError(RuntimeError):
    """The star-contraction loop violated an invariant: edge count grew
    between iterations (both star operations are provably non-increasing
    on the deduplicated edge set, so growth means corrupted state), or
    the loop hit ``max_iterations`` without reaching a fixpoint (the
    alternating algorithm converges in O(log n) rounds — SURVEY §7 names
    the bound as a mandatory failure mode, not a silent truncation)."""


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, deduped, self-loops dropped, src < dst."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    return e.distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (v, m(u)) for every neighbor v > u, where m(u)=min(N(u) ∪ {u})."""
    sym = edges.select("src", "dst").union(edges.select(F.col("dst"), F.col("src")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("nbr_min"))
    mins = mins.withColumn("m", F.least("src", "nbr_min")).select("src", "m")
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges (big -> small); each node links its small neighbors
    (and itself) to the neighborhood minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbrs = oriented.union(mins.select(F.col("src"), F.col("src").alias("dst"))).distinct()
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free under ANSI mode
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_iterations: int = MAX_ITERATIONS,
    resume: bool = False,
) -> DataFrame:
    """(node, cluster_id) for every node that appears in ``edges``.

    cluster_id is the minimum node id of the component — matching the
    fixture oracle's representative choice (FIXTURES.md §3). Nodes not
    present in any edge are absent (caller unions singletons).

    A graph with at most ``LOCAL_FINISH_MAX_EDGES`` edges — at the start
    or after any star round — is finished on the driver by
    :func:`_local_finish`, with the same output. With
    ``checkpoint_dir``, every star iteration writes its edge set and a
    metrics row (the local finish writes none); ``resume=True``
    restarts from the newest snapshot.
    """
    spark = edges.sparkSession
    e = _canonical(edges)
    start_iter = 0
    if checkpoint_dir and resume:
        # resume from the newest snapshot whose per-partition lineage
        # verifies — a crash can tear the last snapshot (written but its
        # lineage rows lost, or vice versa); earlier iterations are
        # still valid restart points, just more rounds to redo
        for it, path in _snapshots_desc(checkpoint_dir):
            if verify_snapshot_lineage(spark, checkpoint_dir, it):
                start_iter, e = it, spark.read.parquet(path)
                break

    # lazy checkpoint + checksum: the checksum action materializes the
    # checkpoint in the SAME job, halving driver round-trips per iteration
    # (driver latency is the serial fraction that caps scaling efficiency)
    e = e.localCheckpoint(eager=False)
    prev = _checksum(e)
    if prev[0] <= LOCAL_FINISH_MAX_EDGES:
        return _local_finish(e)
    converged = prev[0] == 0
    # a resume that lands exactly on max_iterations still gets one
    # verification round — convergence is only observable as a no-change
    # iteration
    for it in range(start_iter, max(max_iterations, start_iter + 1)):
        if converged:
            break
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur[0] > prev[0]:
            raise ConvergenceError(
                f"edge count grew {prev[0]} -> {cur[0]} at iteration {it + 1}; "
                "star contraction is non-increasing — state is corrupt"
            )
        if checkpoint_dir:
            _write_snapshot(e, checkpoint_dir, it + 1, cur)
        if cur == prev or cur[0] == 0:
            converged = True
        elif cur[0] <= LOCAL_FINISH_MAX_EDGES:
            return _local_finish(e)
        prev = cur
    if not converged:
        raise ConvergenceError(
            f"no fixpoint after {max_iterations} iterations "
            f"({prev[0]} edges remain); raise max_iterations or inspect the edge set"
        )

    # converged star graph: every edge is (node -> component min); the
    # representatives themselves are roots.
    assign = e.select(F.col("src").alias("node"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("cluster_id")).distinct()
    return assign.union(roots).groupBy("node").agg(F.min("cluster_id").alias("cluster_id"))


def _local_finish(edges: DataFrame) -> DataFrame:
    """(node, cluster_id) of ``edges`` by union-find on the driver.

    Linking the larger root under the smaller keeps every root its
    component's minimum node, the star loop's representative. Python's
    ``<`` orders ints and strings as Spark does (UTF-8 byte order is
    code-point order), so both paths pick the same minimum."""
    table = edges.select("src", "dst").toArrow()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(table.column("src").to_pylist(), table.column("dst").to_pylist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    id_type = table.schema.field("src").type
    out = pa.table({
        "node": pa.array(nodes, type=id_type),
        "cluster_id": pa.array([find(x) for x in nodes], type=id_type),
    })
    id_spark = edges.schema["src"].dataType
    return edges.sparkSession.createDataFrame(
        out, StructType([StructField("node", id_spark), StructField("cluster_id", id_spark)])
    )


def _write_snapshot(e: DataFrame, checkpoint_dir: str, iteration: int, checksum: tuple[int, int]) -> None:
    path = os.path.join(checkpoint_dir, f"iter={iteration:04d}")
    e.write.mode("overwrite").parquet(path)
    spark = e.sparkSession
    metrics = spark.createDataFrame(
        [(iteration, checksum[0], checksum[1])], "iteration int, n_edges long, checksum long"
    )
    metrics.write.mode("append").parquet(os.path.join(checkpoint_dir, "metrics"))
    # per-partition lineage: one row per partition of the snapshot just
    # written (the write preserves e's checkpointed partitioning, so
    # partition_id identifies the written file). The XOR fold of these
    # checksums equals the iteration checksum — resume integrity is
    # verifiable without trusting the metrics row. Hive-style
    # iteration=N subdir, overwritten per redo: a resumed run that
    # re-executes an iteration replaces its lineage rather than
    # appending a second (stale) copy.
    (
        e.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("checksum"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(checkpoint_dir, "lineage", f"iteration={iteration}"))
    )


def verify_snapshot_lineage(
    spark: SparkSession, checkpoint_dir: str, iteration: int | None = None
) -> bool:
    """Does the stored snapshot match its per-partition lineage rows?

    Recomputes (row count, edge checksum) from the snapshot parquet and
    compares against the lineage fold — ``sum(n_rows)`` and
    ``bit_xor(checksum)`` (XOR of per-partition XORs IS the global XOR).
    A missing, truncated, or corrupted snapshot partition changes both.
    Returns True when no lineage table exists (pre-lineage checkpoints
    stay resumable), and likewise when the lineage table has **no rows
    for this iteration** — a pre-lineage snapshot mixed in with newer
    ones, or a lost lineage write while the snapshot itself is intact,
    is "unverifiable", not "corrupt"; an empty fold would otherwise
    read as (0,0), never match a non-empty snapshot, and silently
    discard a valid restart point (ADVICE r3).
    """
    if iteration is None:
        latest = _latest_snapshot(checkpoint_dir)
        if latest is None:
            return True
        iteration = latest[0]
    lineage_path = os.path.join(checkpoint_dir, "lineage")
    if not os.path.isdir(lineage_path):
        return True
    lin = (
        spark.read.parquet(lineage_path)
        .where(F.col("iteration") == iteration)
        .agg(
            F.count("*").alias("n_lineage_rows"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n"),
            F.coalesce(F.bit_xor("checksum"), F.lit(0)).alias("h"),
        )
        .collect()[0]
    )
    if int(lin["n_lineage_rows"]) == 0:
        return True
    try:
        snap = spark.read.parquet(os.path.join(checkpoint_dir, f"iter={iteration:04d}"))
        n, h = _checksum(snap)
    except Exception:
        # unreadable snapshot (all part files gone, corrupt footer, ...)
        # is the strongest possible lineage mismatch
        return False
    return (n, h) == (int(lin["n"]), int(lin["h"]))


def _snapshots_desc(checkpoint_dir: str) -> list[tuple[int, str]]:
    """(iteration, path) for every stored snapshot, newest first."""
    if not os.path.isdir(checkpoint_dir):
        return []
    iters = sorted(
        (d for d in os.listdir(checkpoint_dir) if d.startswith("iter=") and not d.endswith("_tmp")),
        reverse=True,
    )
    return [(int(d.split("=")[1]), os.path.join(checkpoint_dir, d)) for d in iters]


def _latest_snapshot(checkpoint_dir: str) -> tuple[int, str] | None:
    snaps = _snapshots_desc(checkpoint_dir)
    return snaps[0] if snaps else None


def clusters_with_singletons(all_ids: DataFrame, cc: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """Every id gets a cluster: CC assignment if linked, itself otherwise."""
    return (
        all_ids.select(F.col(id_col).alias("conv_id"))
        .join(cc.withColumnRenamed("node", "conv_id"), "conv_id", "left")
        .select(
            "conv_id", F.coalesce("cluster_id", F.col("conv_id")).alias("cluster_id")
        )
    )


def incremental_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_iterations: int = MAX_ITERATIONS,
) -> DataFrame:
    """Fold ``new_edges`` into an existing (node, cluster_id) assignment
    WITHOUT recomputing components over the original edge set.

    A converged assignment IS a star graph (every node points at its
    component's minimum), and star contraction preserves connectivity:
    ``CC(star(G1) ∪ G2) == CC(G1 ∪ G2)``. So the incremental step unions
    the assignment's star edges with the delta edges and reruns the same
    large-star/small-star loop. Components no delta edge touches are
    already depth-1 stars — they pass through unchanged in the first
    verification round — so per-update work tracks the DELTA's
    neighborhood, not corpus size; nothing is re-scored and the original
    edge set is never re-read. cluster_id stays the component-minimum
    node id: old roots are their components' minima, so the merged
    component's minimum is the minimum over the union, exactly what a
    from-scratch run over all edges would pick (the oracle for q29
    exploits this: the incremental result must equal the closed-form
    full-corpus answer).

    This is the streaming-ingest complement: the registry grows by
    O(batch) appends (``stream_register_turns``), and the clusters table
    follows by O(delta) CC updates instead of a full relink — the
    reference's incremental insert splices new blocks onto the existing
    package the same way (/root/reference/src/deduplication.cpp:612-637).

    ``assignments`` may include self-assigned singletons (the
    ``clusters_with_singletons`` shape); rows untouched by any delta
    edge survive verbatim. Nodes appearing only in ``new_edges`` enter
    the assignment as usual CC output.
    """
    star = assignments.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("src"), F.col("cluster_id").alias("dst")
    )
    merged = connected_components(
        star.union(new_edges.select("src", "dst")),
        checkpoint_dir=checkpoint_dir,
        max_iterations=max_iterations,
    )
    untouched = assignments.join(merged.select("node"), "node", "left_anti")
    return merged.unionByName(untouched.select("node", "cluster_id"))


def edge_support(edges: DataFrame) -> DataFrame:
    """Common-neighbor support per edge: for each (src, dst), how many
    nodes are adjacent to BOTH endpoints (triangle support).

    Transitive clustering over-merges through single spurious edges — a
    chain a~b~c bridges two real entities on one bad score. Edges inside
    a genuine duplicate cluster sit in triangles (every member matched
    every other); a bridge has support 0. This is the k-truss signal
    (Cohen 2008) restricted to k=3, which is the standard ER
    cluster-repair heuristic (drop weak unsupported edges BEFORE the CC
    loop, cf. Splink/JedAI cluster splitting).

    Shape at scale: adjacency = both edge orientations; support = one
    self-join of adjacency keyed on the neighbor then a pair-keyed
    count — cost O(sum deg^2) over the CANDIDATE graph, whose degree the
    blocking stage already bounds (stop-band caps / meta-blocking); the
    entity tables are never touched.

    The input is treated as an UNDIRECTED simple graph: orientation and
    duplicate rows are normalized away (least/greatest + distinct), and
    self-loops never count as neighbors — a caller passing both (a, b)
    and (b, a) gets the same support as one passing either."""
    e_in = edges.select("src", "dst")
    canon = (
        e_in.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    adj = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # neighbor lists keyed by the shared neighbor w: (w, a) x (w, b)
    left = adj.select(F.col("dst").alias("w"), F.col("src").alias("src"))
    right = adj.select(F.col("dst").alias("w"), F.col("src").alias("dst"))
    tri = (
        canon.join(left, "src")
        .join(right, ["dst", "w"])
        .where((F.col("w") != F.col("src")) & (F.col("w") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("support"))
    )
    return (
        e_in.withColumn("_cs", F.least("src", "dst"))
        .withColumn("_cd", F.greatest("src", "dst"))
        .join(
            tri.select(
                F.col("src").alias("_cs"),
                F.col("dst").alias("_cd"),
                "support",
            ),
            ["_cs", "_cd"],
            "left",
        )
        .select("src", "dst", F.coalesce("support", F.lit(0)).alias("support"))
    )


def prune_weak_edges(
    scored_edges: DataFrame,
    min_support: int = 1,
    strong_score: float | None = None,
    score_col: str = "score",
    witness_edges: DataFrame | None = None,
) -> DataFrame:
    """Drop candidate edges with fewer than ``min_support`` common
    neighbors, keeping edges at or above ``strong_score`` regardless —
    high-confidence pairs must survive even as isolated 2-node clusters
    (a pair of twins has no third witness).

    Only BRIDGE edges are prunable — edges whose endpoints BOTH have
    other neighbors. An isolated pair or a leaf attachment cannot merge
    two multi-node clusters, and on a corpus with no over-merge problem
    pruning them would only shred genuine 2-doc clusters (measured:
    recall 0.974 vs 1.0 on the labeled fixture before this guard).

    ``witness_edges``: additional (src, dst) edges that COUNT as
    neighbors but are never pruned themselves — e.g. exact-fingerprint
    duplicate links, which are certain and should both survive and
    corroborate the near-dup edges around them.

    Like :func:`edge_support`, the graph is normalized to an undirected
    simple graph first — duplicate rows, reversed orientations, and
    overlap between scored and witness edges never double-count a
    neighbor (which would misclassify an isolated pair as a bridge)."""
    graph = scored_edges.select("src", "dst")
    if witness_edges is not None:
        graph = graph.unionByName(witness_edges.select("src", "dst"))
    canon = (
        graph.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    adj = canon.unionByName(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    sup = edge_support(canon)
    out = (
        scored_edges.withColumn("_cs", F.least("src", "dst"))
        .withColumn("_cd", F.greatest("src", "dst"))
        .join(
            sup.select(
                F.col("src").alias("_cs"), F.col("dst").alias("_cd"), "support"
            ),
            ["_cs", "_cd"],
        )
        .join(
            deg.select(F.col("node").alias("_cs"), F.col("deg").alias("deg_src")),
            "_cs",
        )
        .join(
            deg.select(F.col("node").alias("_cd"), F.col("deg").alias("deg_dst")),
            "_cd",
        )
    )
    is_bridge = (F.col("deg_src") > 1) & (F.col("deg_dst") > 1)
    keep = ~is_bridge | (F.col("support") >= min_support)
    if strong_score is not None:
        keep = keep | (F.col(score_col) >= strong_score)
    return out.where(keep).drop("_cs", "_cd", "deg_src", "deg_dst")
