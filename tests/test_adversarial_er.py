"""Adversarial / degenerate inputs through the round-4 ER operators
(VERDICT r4 task 6): empty and NULL text, single-token docs, and
all-tied posteriors at the top-k boundary. The round-3 operators got
this treatment (test_skew, NULL as-of); this closes the gap for
containment and uncertainty sampling.
"""

from __future__ import annotations

from dedupe_spark.operators.dedup import ngram_containment_pairs_prefix
from dedupe_spark.operators.linkage import uncertainty_sample


def test_containment_empty_null_single_token(spark):
    # pinned degenerate-doc semantics (shared with the q74 DuckDB
    # oracle): NULL/empty/whitespace docs normalize to the single ""
    # fallback gram, so they pair with EACH OTHER at containment 1.0 but
    # never with a real document; a single-token doc's whole-text
    # fallback gram likewise never matches a longer doc's 3-grams (a
    # sub-doc needs >= n shared tokens to assert containment).
    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "alpha"),
        (5, "alpha beta gamma delta epsilon zeta"),
        (6, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_sub"], r["id_super"]): r["containment"]
        for r in ngram_containment_pairs_prefix(
            df, "doc_id", "text", n=3, threshold=0.9
        ).collect()
    }
    # the >=3-token sub-doc is fully contained in its superset
    assert got[(6, 5)] == 1.0
    # degenerate docs pair only among themselves, in both directions
    degenerate = {1, 2, 3}
    for (sub, sup), c in got.items():
        if sub in degenerate or sup in degenerate:
            assert sub in degenerate and sup in degenerate
            assert c == 1.0
    # the single-token doc asserts no containment in anything
    assert not any(sub == 4 for sub, _ in got)
    # no NaN/None scores anywhere
    assert all(c is not None and c == c for c in got.values())


def test_uncertainty_sample_all_tied_at_k_boundary(spark):
    # every posterior exactly 0.5: the k selected must be the
    # (id_a, id_b)-ordered prefix, stable across repeated runs and
    # partitionings (VERDICT r4 task 6's tie-break determinism case)
    rows = [(i % 5, i, 0.5) for i in range(40)]  # duplicate id_a values
    scored = spark.createDataFrame(rows, "id_a long, id_b long, match_prob double")
    want = sorted((a, b) for a, b, _ in rows)[:7]
    for n_parts in (1, 7):
        got = [
            (r["id_a"], r["id_b"])
            for r in uncertainty_sample(scored.repartition(n_parts), k=7).collect()
        ]
        assert got == want

    # k larger than the input: return everything, still ordered
    got_all = uncertainty_sample(scored, k=100).count()
    assert got_all == 40
