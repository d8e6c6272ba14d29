from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dedupe_spark.operators.scoring import (
    JACCARD_ACCEPT,
    jaro_winkler_batch,
    jaro_winkler_py,
    levenshtein_ratio_py,
    score_pairs,
)


def test_jaro_winkler_batch_matches_oracle():
    """The batch-vectorized JW (numpy over padded codepoint matrices, the
    decision-path implementation) equals the scalar oracle on random,
    adversarial, and non-ASCII inputs."""
    rng = np.random.default_rng(3)
    alphabet = "abcdefgh "
    cases = [
        ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"), ("abc", "abc"),
        ("abc", "xyz"), ("", "abc"), ("", ""), ("a", "a"), ("a", "b"),
        ("ab", "ba"), ("aaaa", "aaa"), ("prefix shared tail x", "prefix shared tail y"),
        # multibyte: units must be CHARACTERS (utf-8 bytes would differ)
        ("über straße", "uber strasse"), ("naïve café", "naive cafe"),
        ("日本語のテキスト", "日本語のテクスト"), ("ø", "o"), ("日本", "日本"),
    ]
    for _ in range(300):
        n1, n2 = rng.integers(0, 30, size=2)
        s = "".join(rng.choice(list(alphabet), size=n1))
        t = "".join(rng.choice(list(alphabet), size=n2))
        cases.append((s, t))
    got = jaro_winkler_batch([s for s, _ in cases], [t for _, t in cases])
    for (s, t), g in zip(cases, got):
        assert g == pytest.approx(jaro_winkler_py(s, t), abs=1e-12), (s, t)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.text(alphabet="abcdef 123.!éß日", max_size=40),
                st.text(alphabet="abcdef 123.!éß日", max_size=40),
            ),
            min_size=1,
            max_size=20,
        )
    )
    def test_jaro_winkler_batch_property(pairs):
        got = jaro_winkler_batch([s for s, _ in pairs], [t for _, t in pairs])
        for (s, t), g in zip(pairs, got):
            assert g == pytest.approx(jaro_winkler_py(s, t), abs=1e-12)
            assert 0.0 <= g <= 1.0
except ImportError:  # pragma: no cover
    pass


def test_jaro_winkler_udf_batched(spark):
    from dedupe_spark.operators.scoring import jaro_winkler_udf

    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("abc", "xyz"), (None, "x"), ("same", "same")],
        "a string, b string",
    )
    rows = {(r["a"], r["b"]): r["jw"] for r in df.select("a", "b", jaro_winkler_udf()(F.col("a"), F.col("b")).alias("jw")).collect()}
    assert rows[("MARTHA", "MARHTA")] == pytest.approx(0.9611, abs=1e-3)
    assert rows[("abc", "xyz")] == 0.0
    assert rows[(None, "x")] == 0.0
    assert rows[("same", "same")] == 1.0


def test_jaro_winkler_known_values():
    # classic textbook values
    assert jaro_winkler_py("MARTHA", "MARHTA") == pytest.approx(0.9611, abs=1e-3)
    assert jaro_winkler_py("DIXON", "DICKSONX") == pytest.approx(0.8133, abs=1e-3)
    assert jaro_winkler_py("abc", "abc") == 1.0
    assert jaro_winkler_py("abc", "xyz") == 0.0
    assert jaro_winkler_py("", "abc") == 0.0


def test_levenshtein_known_values():
    assert levenshtein_ratio_py("kitten", "sitting") == pytest.approx(1 - 3 / 7)
    assert levenshtein_ratio_py("flaw", "lawn") == pytest.approx(1 - 2 / 4)
    assert levenshtein_ratio_py("same", "same") == 1.0
    assert levenshtein_ratio_py("", "ab") == 0.0


def test_score_pairs_end_to_end(spark):
    docs = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog near the river bank today"),
            ("b", "the quick brown fox jumps over the lazy dog near the river bank today"),
            ("c", "the fast brown fox jumps over the lazy dog near the river bank today"),
            ("d", "completely unrelated text about spark shuffle partitions and joins"),
            ("e", "xy"),
        ],
        "conv_id string, doc string",
    ).withColumn("doc_len", F.length("doc"))
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("a", "e")], "id_a string, id_b string"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["is_dup"])
        for r in score_pairs(pairs, docs).collect()
    }
    assert got[("a", "b")][0] == 1.0 and got[("a", "b")][1]
    assert got[("a", "c")][1]  # near duplicate accepted
    assert not got[("a", "d")][1]  # unrelated rejected
    assert ("a", "e") not in got  # length-band prefilter removed it


def _set_jaccard(a, b):
    if a is None or b is None or not (set(a) | set(b)):
        return 0.0
    return len(set(a) & set(b)) / len(set(a) | set(b))


def test_jaccard_from_overlap_matches_set_oracle(spark):
    """Precomputed distinct shingle arrays: jaccard from |A∩B| alone
    equals |A∩B| / |A∪B| of Python sets, including empty arrays, a NULL
    array (0.0) and a pair at exactly JACCARD_ACCEPT (accepted)."""
    rng = np.random.default_rng(11)
    sh = {f"r{i}": sorted({int(x) for x in rng.integers(0, 60, rng.integers(1, 40))})
          for i in range(12)}
    sh.update({"e1": [], "e2": [], "null": None, "acc_a": [1, 2, 3, 4], "acc_b": [1, 2, 5]})
    docs = spark.createDataFrame(
        [(k, "x", 1, v) for k, v in sh.items()],
        "conv_id string, doc string, doc_len int, sh array<bigint>",
    )
    ids = sorted(sh)
    pairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a string, id_b string"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["jaccard"], r["is_dup"])
        for r in score_pairs(pairs, docs, sh_col="sh").collect()
    }
    assert len(got) == len(ids) * (len(ids) - 1) // 2
    for (a, b), (jac, _) in got.items():
        assert jac == _set_jaccard(sh[a], sh[b]), (a, b)
    assert got[("e1", "e2")][0] == 0.0
    assert got[("e1", "null")][0] == 0.0 and got[("null", "r0")][0] == 0.0
    assert got[("acc_a", "acc_b")] == (JACCARD_ACCEPT, True)


def test_jaccard_recompute_path_matches_set_oracle(spark):
    """Docs without a shingle column (the path folds take for committed
    docs): repeated shingles within a doc count once, as in sets."""
    from dedupe_spark.operators.minhash import shingle_hashes

    texts = {
        "a": "a b c a b c a b c d e f",
        "b": "a b c d e f g h a b c",
        "c": "x y z x y z",
        "d": "a b",
        "e": "",
    }
    docs = spark.createDataFrame(list(texts.items()), "conv_id string, doc string").withColumn(
        "doc_len", F.length("doc")
    )
    sh = {r["conv_id"]: r["sh"] for r in docs.select("conv_id", shingle_hashes("doc").alias("sh")).collect()}
    pairs = spark.createDataFrame(
        [(a, b) for a in texts for b in texts if a < b], "id_a string, id_b string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in score_pairs(pairs, docs, min_len_ratio=0.0).collect()
    }
    assert len(got) == 10
    for (a, b), jac in got.items():
        assert jac == _set_jaccard(sh[a], sh[b]), (a, b)
    assert 0.0 < got[("a", "b")] < 1.0


def test_lev_only_computed_in_ambiguous_band(spark):
    docs = spark.createDataFrame(
        [
            ("a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("b", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            ("d", "one two three four five six seven eight nine ten"),
        ],
        "conv_id string, doc string",
    ).withColumn("doc_len", F.length("doc"))
    pairs = spark.createDataFrame([("a", "b"), ("a", "d")], "id_a string, id_b string")
    rows = {(r["id_a"], r["id_b"]): r["lev_ratio"] for r in score_pairs(pairs, docs).collect()}
    # identical pair: jaccard >= accept -> lev sentinel -1 (not computed)
    assert rows[("a", "b")] == -1.0
    assert rows[("a", "d")] == -1.0  # below gate -> also skipped


def test_lev_ratio_expr_matches_python_oracle(spark):
    from dedupe_spark.operators.scoring import lev_ratio_expr, levenshtein_ratio_py

    cases = [
        ("kitten", "sitting"),
        ("the quick brown fox", "the quack brawn fox"),
        ("same text either side", "same text either side"),
        ("", "nonempty"),
        ("abcdef", "xyzuvw"),
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    got = {
        (r["a"], r["b"]): r["lr"]
        for r in df.select("a", "b", lev_ratio_expr(F.col("a"), F.col("b")).alias("lr")).collect()
    }
    for a, b in cases:
        expected = levenshtein_ratio_py(a, b)
        # the JVM expr floors sub-threshold ratios to 0 (early-exit), so
        # compare exactly only when the oracle is above the cutoff
        if expected >= 0.75:
            assert got[(a, b)] == pytest.approx(expected)
        else:
            assert got[(a, b)] < 0.75
