"""Unit tests for the round-4 curation operators: PII scrubbing
(operators/privacy.py) and transcript structural lint
(operators/transcript_qa.py). The oracle parity of the corresponding
q54/q56 queries is covered by test_entry_oracle.py; these tests pin
the operator-level invariants the oracle can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from dedupe_spark.operators.privacy import PII_RULES, pii_scrub, redact_expr
from dedupe_spark.operators.transcript_qa import transcript_lint


# ---------------------------------------------------------------- privacy


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (1, "write to alice.smith@corp.example.org or bob@ex.io today"),
        (2, "server at 192.168.0.1 then 10.0.0.255 responded"),
        (3, "call 555-123-4567 now"),
        (4, "mixed: a@b.co from 1.2.3.4 call 555-000-1111"),
        (5, "clean text with no identifiers at all"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r for r in pii_scrub(df, "id", "text").collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (2, 0, 0)
    assert got[1]["redacted"] == "write to <EMAIL> or <EMAIL> today"
    assert (got[2]["n_email"], got[2]["n_ipv4"]) == (0, 2)
    assert got[3]["n_phone"] == 1 and "<PHONE>" in got[3]["redacted"]
    assert (got[4]["n_email"], got[4]["n_ipv4"], got[4]["n_phone"]) == (1, 1, 1)
    assert got[5]["has_pii"] is False and got[5]["redacted"] == rows[4][1]
    assert got[6]["redacted"] is None  # NULL text passes through


def test_pii_scrub_is_idempotent(spark):
    """Scrubbing already-scrubbed text finds nothing: replacement tokens
    must not re-match any rule."""
    rows = [(i, t) for i, t in enumerate([
        "alice@example.com at 10.1.2.3 call 555-222-3333",
        "double scrub <EMAIL> <IP> <PHONE> stays put",
    ])]
    df = spark.createDataFrame(rows, ["id", "text"])
    once = df.select("id", redact_expr(F.col("text")).alias("text"))
    again = pii_scrub(once, "id", "text").collect()
    for r in again:
        assert (r["n_email"], r["n_ipv4"], r["n_phone"]) == (0, 0, 0)


def test_pii_rules_have_distinct_tokens():
    tokens = [t for _, _, t in PII_RULES]
    assert len(set(tokens)) == len(tokens)


# ------------------------------------------------------------------- lint


def _turns(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    )


def test_transcript_lint_clean_conversation(spark):
    t = _turns(spark, [
        ("c1", 0, "user", "hi", None),
        ("c1", 1, "assistant", "hello", None),
        ("c1", 2, "user", "bye", None),
    ])
    r = transcript_lint(t).collect()[0]
    assert r["clean"] and r["n_turns"] == 3 and r["same_role_runs"] == 0
    assert not r["idx_gaps"] and r["starts_with_user"]


def test_transcript_lint_flags_every_defect(spark):
    t = _turns(spark, [
        # c2: assistant start + same-role run + empty turn
        ("c2", 0, "assistant", "hi", None),
        ("c2", 1, "assistant", "again", None),
        ("c2", 2, "user", "  ", None),
        # c3: orphan tool turn + index gap (0,2)
        ("c3", 0, "user", "q", None),
        ("c3", 2, "tool", "result", None),
    ])
    got = {r["conv_id"]: r for r in transcript_lint(t).collect()}
    c2, c3 = got["c2"], got["c3"]
    assert not c2["starts_with_user"] and c2["same_role_runs"] == 1
    assert c2["empty_turns"] == 1 and not c2["clean"]
    assert c3["orphan_tool_turns"] == 1 and c3["idx_gaps"] and not c3["clean"]


def test_transcript_lint_duplicate_idx_is_a_gap(spark):
    t = _turns(spark, [
        ("c4", 0, "user", "a", None),
        ("c4", 1, "assistant", "b", None),
        ("c4", 1, "user", "dup idx", None),
    ])
    r = transcript_lint(t).collect()[0]
    assert r["idx_gaps"] and not r["clean"]
