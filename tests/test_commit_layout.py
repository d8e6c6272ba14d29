"""A committed run's bucketed tables: one parquet file per bucket
directory at fixture sizes, and pinned contents."""

from __future__ import annotations

import hashlib
import os

from dedupe_spark import pipeline
from dedupe_spark.catalog import SnapshotCatalog

#: Row count and sha256 of the sorted rows (columns in name order) of the
#: bucketed tables a committed ``run()`` of ``fixtures.transcripts(120)``
#: writes.
COMMITTED_DIGESTS = {
    "unique_turns": (1339, "77e75d3c884991c18b3db77e02532f9970d688e210961a24cf014fb9ab71e84b"),
    "doc_index": (187, "9214d010ae1608fdbee694646b79ade2642db3d962c5faf1e0ffc3052c941694"),
    "doc_blocks": (5984, "d6e6732446b647f8243759bce3b54065d28318b66beb7dbe19daed59b963f5ed"),
}


def _parquet_files_per_dir(root: str) -> dict[str, int]:
    counts = {}
    for dirpath, _, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            counts[dirpath] = n
    return counts


def _digest(df) -> tuple[int, str]:
    rows = sorted(repr(tuple(r)) for r in df.select(*sorted(df.columns)).collect())
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_committed_run_buckets_hold_one_file(spark, transcripts_small, tmp_path):
    wh = str(tmp_path / "wh")
    cat = SnapshotCatalog(spark, wh)
    pipeline.run(transcripts_small, catalog=cat).release()
    for table, digest in COMMITTED_DIGESTS.items():
        counts = _parquet_files_per_dir(os.path.join(wh, table))
        assert counts and max(counts.values()) == 1, (table, counts)
        assert _digest(cat.read(table)) == digest, table
