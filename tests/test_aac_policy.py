"""C4 chunk_aac policy dispatch in the pipeline: tool-dominated
conversations get exact-fp keys only (no LSH near-dup linkage)."""

from __future__ import annotations

from datetime import datetime

from dedupe_spark import pipeline, schemas


def _tr(spark, convs):
    rows = []
    for conv_id, role, texts in convs:
        for i, text in enumerate(texts):
            rows.append(
                (conv_id, i, role, text, "exec" if role == "tool" else None,
                 datetime(2026, 1, 1, 12, 0, i))
            )
    return spark.createDataFrame(rows, schemas.TRANSCRIPTS)


_BASE = [
    "ran step one of the batch job and collected forty two output rows",
    "ran step two of the batch job and collected seventeen output rows",
    "ran step three of the batch job and collected ninety one output rows",
]
_NEAR = [t.replace("batch", "nightly") for t in _BASE]


def _clusters(spark, aac_policy):
    tr = _tr(
        spark,
        [
            ("t_base", "tool", _BASE),
            ("t_exact", "tool", _BASE),  # byte-identical -> exact fp links
            ("t_near", "tool", _NEAR),  # near-dup -> links only via LSH
        ],
    )
    cfg = pipeline.PipelineConfig(aac_policy=aac_policy)
    res = pipeline.run(tr, cfg)
    out = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    res.release()
    return out

def test_tool_dominated_convs_link_exact_only(spark):
    cl = _clusters(spark, aac_policy=True)
    assert cl["t_base"] == cl["t_exact"]  # exact-fp edge survives the policy
    assert cl["t_near"] != cl["t_base"]  # no LSH keys -> no near-dup edge


def test_policy_off_links_near_duplicates(spark):
    cl = _clusters(spark, aac_policy=False)
    assert cl["t_base"] == cl["t_exact"] == cl["t_near"]


def _mixed_run(spark):
    tr = _tr(
        spark,
        [
            ("t_base", "tool", _BASE),
            ("t_near", "tool", _NEAR),
            ("u_base", "user", _BASE),
            ("u_near", "user", _NEAR),
        ],
    )
    return pipeline.run(tr, pipeline.PipelineConfig(aac_policy=True))


def test_tool_dominated_docs_get_no_bands_or_shingles(spark):
    res = _mixed_run(spark)
    rows = {r["conv_id"]: r for r in res.docs.select("conv_id", "bands", "sh").collect()}
    res.release()
    for cid in ("t_base", "t_near"):
        assert rows[cid]["bands"] == [] and rows[cid]["sh"] == []
    for cid in ("u_base", "u_near"):
        assert len(rows[cid]["bands"]) == pipeline.PipelineConfig().bands
        assert len(rows[cid]["sh"]) > 0


def test_docs_stage_is_one_branch(spark):
    """The policy splits rows inside one projection: the materialized
    docs plan runs the signature UDF once over one conv_id shuffle."""
    import re

    res = _mixed_run(spark)
    res.docs.count()
    plan = res.docs._jdf.queryExecution().executedPlan().treeString()
    res.release()
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, final
    assert len(re.findall(r"Exchange hashpartitioning\(conv_id#", final)) == 1, final
