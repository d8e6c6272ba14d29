from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_spark.operators.normalize import conversation_docs, norm_text


def test_norm_text(spark):
    df = spark.createDataFrame(
        [("  Hello,   WORLD!! 42  ",), ("already clean",), ("",)], "t string"
    )
    got = [r["n"] for r in df.select(norm_text("t").alias("n")).collect()]
    assert got == ["hello world 42", "already clean", ""]


def test_fp_collides_for_equivalent_text(spark):
    df = spark.createDataFrame(
        [("a", 0, "user", "Hello World", None), ("b", 0, "user", "hello,  world!", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    fps = [r["fp"] for r in df.select(F.md5(norm_text("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_conversation_docs_stable_order(spark):
    rows = [
        ("c1", 2, "user", "third turn", None),
        ("c1", 0, "user", "first turn", None),
        ("c1", 1, "assistant", "second turn", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    row = conversation_docs(df).collect()[0]
    assert row["doc"] == "first turn second turn third turn"
    assert row["n_turns"] == 3
    # partitioning must not change the doc
    row2 = conversation_docs(df.repartition(5)).collect()[0]
    assert row2["doc"] == row["doc"]
