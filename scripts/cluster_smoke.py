#!/usr/bin/env python
"""Run the entity-resolution pipeline across REAL executor processes.

The north rule's deployment shape is ``spark-submit --py-files`` on a
multi-executor cluster. ``local[*]`` hides a class of bugs that only
appear when code and data actually cross process boundaries: closure
pickling and Arrow batch transfer to per-executor Python workers (the
MinHash signature UDF). ``pipeline.run`` broadcasts no Bloom bitmap: it
prunes singleton band keys off one exact frequency pass. This script is
submitted by tests/test_cluster_smoke.py via ``spark-submit --master
local-cluster[2,2,2048] --py-files dedupe_spark.zip`` — two separate
worker JVMs, each with its own Python workers — and writes the
resulting cluster assignment as JSON for equality comparison against
the in-process local-mode run.

Usage:
    spark-submit --master local-cluster[2,2,2048] \
        --py-files dedupe_spark.zip scripts/cluster_smoke.py \
        --convs 80 --out /tmp/clusters.json
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=80)
    ap.add_argument("--out", required=True)
    ap.add_argument("--warehouse", default=None,
                    help="SnapshotCatalog warehouse dir; commits + re-reads "
                         "snapshots across the real executor boundary")
    args = ap.parse_args()

    # master comes from spark-submit; build_session must not override it
    from dedupe_spark import fixtures, pipeline
    from dedupe_spark.session import build_session

    spark = build_session(
        app_name="cluster_smoke",
        # honor the spark-submit master when present (build_session would
        # otherwise default back to local[*])
        master=_submitted_master() or "local-cluster[2,2,2048]",
        shuffle_partitions=8,
        extra_conf={"spark.executor.memory": "2g"},
    )
    tr = fixtures.transcripts(spark, n_conv=args.convs)
    catalog = None
    if args.warehouse:
        from dedupe_spark.catalog import SnapshotCatalog

        catalog = SnapshotCatalog(spark, args.warehouse)
    res = pipeline.run(tr, catalog=catalog)
    rows = sorted(
        (r["conv_id"], r["cluster_id"]) for r in res.clusters.collect()
    )
    n_execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    res.release()
    out = {"clusters": rows, "n_executors": n_execs}
    if catalog is not None:
        # re-read the committed snapshots (executors wrote the parquet,
        # the driver swapped the pointer): the round-trip must reproduce
        # the in-memory result — pipeline.commit under a REAL multi-JVM
        # cluster, not just local threads (VERDICT r3 task 7)
        from dedupe_spark.operators.lifecycle import reconstruct

        committed = sorted(
            (r["conv_id"], r["cluster_id"])
            for r in catalog.read("clusters").collect()
        )
        rebuilt = reconstruct(
            catalog.read("membership"), catalog.read("unique_turns")
        )
        out["committed_clusters_equal"] = committed == rows
        out["registry_roundtrip_rows"] = rebuilt.count()
        out["input_rows"] = tr.count()
        out["registry_partitioned"] = "fp_bucket" in catalog.read("unique_turns").columns
    with open(args.out, "w") as f:
        json.dump(out, f)
    spark.stop()


def _submitted_master() -> str | None:
    from pyspark import SparkConf

    return SparkConf().get("spark.master", None)


if __name__ == "__main__":
    main()
