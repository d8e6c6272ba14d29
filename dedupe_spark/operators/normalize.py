"""Text normalization + turn fingerprints — all JVM-side expressions.

Reference analog: the chunker computes MD5 of raw chunk bytes
(/root/reference/src/deduplication.cpp:1114-1115); here the "chunk" is a
turn and the fingerprint is MD5 of *normalized* text so that trivially
different encodings of the same content collide into one block, while the
original text is preserved for reconstruction (the per-turn text equality
invariant uses the raw column).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_text(col: Column | str) -> Column:
    """lower → strip non-alnum (keep spaces) → collapse whitespace → trim.

    Pure built-in expressions: stays inside whole-stage codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def conversation_docs(df: DataFrame) -> DataFrame:
    """Collapse turns into one document row per conversation.

    Output: (conv_id, doc, n_turns, doc_len, tool_frac). ``doc`` is the
    normalized turn texts joined in stable (turn_idx) order — the
    stable-ordering invariant from BASELINE.json input_hint. The
    sort is per-group via array_sort on (turn_idx, norm) structs, not a
    global orderBy, so it costs one shuffle (the groupBy) and nothing more.
    """
    d = df.withColumn("norm", norm_text("text"))
    return (
        d.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "norm"))),
                    lambda s: s["norm"],
                ),
                " ",
            ).alias("doc"),
            F.count("*").alias("n_turns"),
            # fraction of tool-role turns — drives the chunk_aac-style
            # blocking-key policy (C4): tool output is machine-generated,
            # so near-dup linkage keys are disabled for tool-dominated
            # conversations (exact fingerprints still apply)
            F.avg(F.when(F.col("role") == "tool", 1.0).otherwise(0.0)).alias("tool_frac"),
        )
        .withColumn("doc_len", F.length("doc"))
    )
