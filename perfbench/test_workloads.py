"""Checks on the benchmark's own input generators.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads  # noqa: E402
from dedupe_spark.operators import blocking  # noqa: E402
from dedupe_spark.pipeline import PipelineConfig, _docs_with_bands  # noqa: E402
from dedupe_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    return build_session(app_name="perfbench_tests", master="local[2]", shuffle_partitions=4)


def _turns(spark, plan):
    return sorted(tuple(r) for r in workloads.materialize(spark, plan).collect())


def test_skewed_plan_same_seed_same_plan():
    a = workloads.skewed_plan(40, 2, seed=5)
    b = workloads.skewed_plan(40, 2, seed=5)
    assert a.equals(b)
    assert not a.equals(workloads.skewed_plan(40, 2, seed=6))


def test_skewed_plan_hot_clusters():
    plan = workloads.skewed_plan(40, 2, seed=5)
    sizes = plan.groupby("cluster_seed_id").size()
    hot = sizes[sizes == workloads.HOT_COPIES + 1].index
    assert len(hot) == 2 and (sizes <= 5).sum() == len(sizes) - 2
    assert (plan.loc[plan["cluster_seed_id"].isin(hot), "n_turns"] == workloads.HOT_TURNS).all()
    assert plan["conv_id"].is_unique


def test_same_seed_same_turns(spark):
    turns = _turns(spark, workloads.skewed_plan(40, 2, seed=5))
    assert turns == _turns(spark, workloads.skewed_plan(40, 2, seed=5))
    assert turns != _turns(spark, workloads.skewed_plan(40, 2, seed=6))


def test_hot_keys_reach_salted_tier(spark):
    """Some band keys are hotter than the salt threshold and under the
    stop band, so candidate generation runs its salted tier."""
    tr = workloads.materialize(spark, workloads.skewed_plan(40, 2, seed=5))
    docs = _docs_with_bands(tr, PipelineConfig())
    freq = blocking.block_frequencies(blocking.explode_blocks(docs, "conv_id", "bands"))
    hot = freq.where(
        (freq.df > blocking.DEFAULT_SALT_THRESHOLD) & (freq.df <= blocking.DEFAULT_MAX_BLOCK)
    )
    assert hot.count() > 0
