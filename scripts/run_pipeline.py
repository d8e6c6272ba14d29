#!/usr/bin/env python
"""spark-submit entry point for the entity-resolution pipeline.

Cluster usage (the deployment shape the north rule specifies):

    cd /root/repo && zip -r /tmp/dedupe_spark.zip dedupe_spark
    spark-submit --master <cluster-master> \
        --py-files /tmp/dedupe_spark.zip \
        scripts/run_pipeline.py \
        --input  <parquet-or-iceberg path of transcripts> \
        --output <warehouse dir> \
        [--checkpoint-dir <dir>] [--resume]

Local smoke (this sandbox):

    python scripts/run_pipeline.py --fixture-convs 500 --output /tmp/wh
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet path with transcript schema")
    ap.add_argument("--input-dir", help="recursive directory tree of transcript parquet (S2)")
    ap.add_argument("--fixture-convs", type=int, help="generate the synthetic fixture instead")
    ap.add_argument("--output", required=True, help="warehouse directory for result tables")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    ap.add_argument("--bloom-mode", default="auto", choices=["auto", "bloom", "semi"],
                    help="--link-registry probe: explicit map-side bloom pre-prune vs "
                         "semi-join + runtime filter; auto picks bloom while the bitmap "
                         "fits the driver budget")
    ap.add_argument("--bloom-shards", type=int, default=1,
                    help="shard the bloom build of --link-registry and --incremental "
                         "(bounded per-shard aggregates)")
    ap.add_argument("--decider", default="levenshtein",
                    choices=["levenshtein", "jaro_winkler", "fellegi_sunter"],
                    help="ambiguous-band second-stage scorer")
    ap.add_argument("--no-aac", action="store_true",
                    help="disable the tool-role-aware blocking-key policy (C4)")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="redact emails/IPs/phones from turn text BEFORE "
                         "fingerprinting (no raw identifier reaches the warehouse)")
    ap.add_argument("--lint", action="store_true",
                    help="commit a per-conversation structural-lint table "
                         "(role runs, empty turns, orphan tools, index gaps)")
    ap.add_argument("--catalog", default="snapshot", choices=["snapshot", "iceberg"],
                    help="iceberg requires the runtime jar + catalog conf")
    ap.add_argument("--incremental", action="store_true",
                    help="fold --input into an EXISTING committed warehouse: "
                         "probe the committed block index, score only delta "
                         "pairs, O(delta) cluster-update append (run_incremental)")
    ap.add_argument("--link-registry", default=None,
                    help="parquet path of a SECOND transcript table: run two-"
                         "table record linkage (pipeline.link) — --input is "
                         "the probe side, this is the registry side; commits "
                         "the links table instead of clusters")
    ap.add_argument("--link-mode", default=None,
                    choices=["one_to_one", "many_to_one", "all"],
                    help="linkage assignment: reciprocal-best 1:1, best "
                         "registry link per probe record, or all accepted "
                         "links (default: one_to_one for --link-registry, "
                         "many_to_one for --link-incremental, which cannot "
                         "do 1:1 batch-locally)")
    ap.add_argument("--link-incremental", action="store_true",
                    help="link --input (a NEW probe batch) against the "
                         "registry state a prior --link-registry run "
                         "committed to --output; appends a links delta "
                         "(many_to_one / all modes only)")
    ap.add_argument("--compact-clusters", action="store_true",
                    help="after an incremental run, fold the cluster_updates "
                         "log back into the base clusters table")
    ap.add_argument("--stream-input", default=None,
                    help="glob of a directory Structured Streaming watches for "
                         "transcript parquet; runs continuous registry ingest "
                         "(S3 streaming register_file) instead of the batch pipeline")
    ap.add_argument("--compact-every", type=int, default=8,
                    help="streaming: fold append deltas into one snapshot dir "
                         "every N micro-batches (0 = never)")
    ap.add_argument("--bloom-path", default=None,
                    help="streaming: persist/load the registry bloom between "
                         "micro-batches instead of rebuilding it")
    ap.add_argument("--max-files-per-batch", type=int, default=1,
                    help="streaming: maxFilesPerTrigger")
    args = ap.parse_args()

    from dedupe_spark.catalog import IcebergCatalog, SnapshotCatalog
    from dedupe_spark.pipeline import PipelineConfig, run
    from dedupe_spark.session import build_session

    spark = build_session(app_name="dedupe_pipeline", master=args.master)

    if args.catalog == "iceberg":
        catalog = IcebergCatalog(spark)
    else:
        catalog = SnapshotCatalog(spark, args.output)
    cfg = PipelineConfig(
        checkpoint_dir=args.checkpoint_dir,
        resume=args.resume,
        bloom_mode=args.bloom_mode,
        bloom_shards=args.bloom_shards,
        decider=args.decider,
        aac_policy=not args.no_aac,
        scrub_pii=args.scrub_pii,
        lint=args.lint,
        # --link-incremental cannot assign 1:1 batch-locally, so its
        # default differs; an explicit one_to_one there is rejected by
        # link_incremental with a clear error
        link_mode=args.link_mode
        or ("many_to_one" if args.link_incremental else "one_to_one"),
    )

    if args.stream_input:
        # continuous registry ingest: the streaming shape of register_file
        # (S3) — availableNow drains whatever is in the directory now and
        # exits; re-running picks up new files from the stream checkpoint.
        from dedupe_spark.streaming.dedupe_stream import stream_register_turns

        t0 = time.time()
        stream_register_turns(
            spark,
            args.stream_input,
            catalog,
            checkpoint_dir=args.checkpoint_dir,
            bloom_path=args.bloom_path,
            max_files=args.max_files_per_batch,
            compact_every=args.compact_every,
            config=cfg,
        )
        out = {"wall_sec": round(time.time() - t0, 2), "warehouse": args.output}
        for t in ("unique_turns", "membership"):
            out[f"{t}_rows"] = catalog.read(t).count() if catalog.exists(t) else 0
        print(json.dumps(out))
        spark.stop()
        return

    if args.fixture_convs:
        from dedupe_spark import fixtures

        transcripts = fixtures.transcripts(spark, n_conv=args.fixture_convs)
    elif args.input:
        from dedupe_spark import schemas

        transcripts = spark.read.schema(schemas.TRANSCRIPTS).parquet(args.input)
    elif args.input_dir:
        from dedupe_spark.sources.files import read_transcript_dir

        transcripts = read_transcript_dir(spark, args.input_dir)
    else:
        ap.error("one of --input / --input-dir / --fixture-convs is required")

    t0 = time.time()
    if args.link_incremental:
        from dedupe_spark.pipeline import link_incremental

        result = link_incremental(transcripts, catalog, cfg)
        print(json.dumps({
            "links_delta_rows": result.links.count(),
            "links_table_rows": catalog.read("links").count(),
            "wall_sec": round(time.time() - t0, 2),
            "warehouse": args.output,
        }))
        spark.stop()
        return
    if args.link_registry:
        from dedupe_spark import schemas
        from dedupe_spark.pipeline import link

        registry = spark.read.schema(schemas.TRANSCRIPTS).parquet(args.link_registry)
        result = link(transcripts, registry, cfg, catalog=catalog)
        print(json.dumps({
            "links_table_rows": result.links.count(),
            "wall_sec": round(time.time() - t0, 2),
            "warehouse": args.output,
        }))
        spark.stop()
        return
    if args.incremental:
        from dedupe_spark.pipeline import compact_clusters, current_clusters, run_incremental

        result = run_incremental(transcripts, catalog, cfg)
        if args.compact_clusters:
            compact_clusters(catalog)
        n = current_clusters(catalog).count()
    else:
        result = run(transcripts, cfg, catalog=catalog)
        n = result.clusters.count()
    print(json.dumps({"clusters_table_rows": n, "wall_sec": round(time.time() - t0, 2),
                      "warehouse": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
