"""dedupe_spark — a from-scratch PySpark-native record-linkage / dedup engine.

Re-expresses the semantics of the C++ storage-dedup reference (wawababe/Dedupe,
see /root/reference and SURVEY.md) as idiomatic Spark DataFrame stages:

    blocking keys (MinHash/LSH over normalized-text shingles, role-aware
    chunk_aac policy dispatch)
        -> salted skew-aware candidate self-join, singleton keys pruned
           off one exact frequency pass (the cross-table join of linkage
           drops keys one side lacks the same way); a Bloom filter
           (functions/bloom.py) fronts only the incremental registry probe
        -> JVM-expression pair scoring (shingle-hash token-Jaccard set ops;
           bounded Levenshtein on the ambiguous band only;
           cheap-predicate-first, mirroring blocks_cmp)
        -> thresholded edges -> large-star/small-star connected components
        -> cluster / membership / unique-turn registry tables with
           reconstruction, GC and metrics (the reference's package lifecycle),
           committed through SnapshotCatalog or IcebergCatalog.

All hot-path logic is JVM-side (pyspark.sql.functions) or Arrow-batched
vectorized numpy; no per-row Python anywhere.
"""

__version__ = "0.1.0"
