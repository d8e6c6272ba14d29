"""uncertainty_sample (active-learning batch selection)."""

from __future__ import annotations

from dedupe_spark.operators.linkage import uncertainty_sample


def test_uncertainty_sample_picks_closest_to_half(spark):
    rows = [(i, i + 1000, p) for i, p in enumerate([0.01, 0.30, 0.48, 0.52, 0.77, 0.95, 0.50])]
    scored = spark.createDataFrame(rows, "id_a long, id_b long, match_prob double")
    got = uncertainty_sample(scored, k=3).collect()
    # 0.50, then 0.48/0.52 (tied uncertainty 0.48, ordered by id_a)
    assert [(r["id_a"], r["uncertainty"]) for r in got] == [
        (6, 0.5),
        (2, 0.48),
        (3, 0.48),
    ]


def test_uncertainty_sample_deterministic_ties(spark):
    # all equally uncertain: the k selected must be the id-ordered prefix
    rows = [(i, i + 10, 0.5) for i in range(8)]
    scored = spark.createDataFrame(rows, "id_a long, id_b long, match_prob double")
    got = uncertainty_sample(scored, k=4).select("id_a").collect()
    assert [r["id_a"] for r in got] == [0, 1, 2, 3]
