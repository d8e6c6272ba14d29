"""Batch file sources: recursive directory ingestion (S2/S3).

Reference analog: ``register_dir`` walks a directory tree and dispatches
every regular file to the chunker (/root/reference/src/deduplication.cpp:
795-846), with ``register_file`` stat-ing and streaming each one
(:848-983). Spark-first, the "walk" is the data source's distributed
file index — ``recursiveFileLookup`` — so listing and reading are
partition-parallel and there is no driver loop over paths. Schemas are
always explicit (schemas.py): no inference, fail fast on drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dedupe_spark import schemas


def read_transcript_dir(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Recursively ingest a directory tree of transcript files.

    Any nesting layout (per-day dirs, per-source dirs) is flattened by
    the recursive file index; predicate pushdown and column pruning
    apply per-file as usual.
    """
    reader = spark.read.schema(schemas.TRANSCRIPTS).option("recursiveFileLookup", "true")
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.json(path)
    raise ValueError(f"unsupported transcript format: {fmt}")
