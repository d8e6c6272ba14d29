"""Recursive directory sources (S2): transcript trees."""

from __future__ import annotations

from dedupe_spark import fixtures
from dedupe_spark.sources.files import read_transcript_dir


def test_recursive_transcript_dir(spark, tmp_path):
    tr = fixtures.transcripts(spark, n_conv=20)
    # nested layout: two "daily" subdirectories
    a = tr.where("conv_id < 'c0010'")
    b = tr.where("conv_id >= 'c0010'")
    a.write.parquet(str(tmp_path / "ingest" / "day=01" / "batch1"))
    b.write.parquet(str(tmp_path / "ingest" / "day=02" / "nested" / "batch2"))

    got = read_transcript_dir(spark, str(tmp_path / "ingest"))
    assert got.count() == tr.count()
    # parquet round-trips relax nullability; names/types must match exactly
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in tr.schema
    ]
    assert (
        got.select("conv_id").distinct().count()
        == tr.select("conv_id").distinct().count()
    )

