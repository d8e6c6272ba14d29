"""Seeded input generators for the benchmark's workloads.

Every workload is a pure function of its seed: the harness builds the
inputs here and hands the program only the resulting DataFrame. Ground
truth comes from the generation plan (``cluster_seed_id``), never from
similarity, so ``pair_f1`` is exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedupe_spark import fixtures, schemas

#: Hot-cluster augmentation of ``dup_skewed``: each hot seed gets this
#: many extra copies, so its band keys reach a document frequency of
#: HOT_COPIES + 1 or more -- above ``blocking.DEFAULT_SALT_THRESHOLD`` (16)
#: and mostly below ``blocking.DEFAULT_MAX_BLOCK`` (64). The salted tier
#: runs, and clustering gets (HOT_COPIES + 1)-member components.
HOT_COPIES = 40

#: Turns of every hot seed, so the hot copies add the same number of turns
#: at every seed (their share of the input would otherwise swing with the
#: seeds' geometric turn counts).
HOT_TURNS = 12

#: Number of folded batches in ``incremental_fold`` and the hash split
#: that makes them: the base is every conversation whose bucket is below
#: FOLD_BASE_BUCKETS, and batch i is bucket FOLD_BASE_BUCKETS + i.
FOLD_BUCKETS = 10
FOLD_BASE_BUCKETS = 7


def skewed_plan(n_base: int, hot_seeds: int, seed: int) -> pd.DataFrame:
    """``fixtures.build_plan`` plus HOT_COPIES exact/near/structural copies
    of each of ``hot_seeds`` base conversations, which get HOT_TURNS turns.

    Hot seeds are drawn from base rows that are singletons (no copies from
    ``build_plan``) and not hard negatives, so every hot cluster is exactly
    its seed plus its HOT_COPIES copies."""
    plan = fixtures.build_plan(n_base, seed)
    rng = np.random.default_rng([seed, 1])
    singleton = plan["cluster_seed_id"].map(plan["cluster_seed_id"].value_counts()) == 1
    eligible = plan.index[singleton & (plan["dup_class"] == "base") & ~plan["is_hardneg"]]
    picks = rng.choice(eligible, size=hot_seeds, replace=False)
    plan.loc[picks, "n_turns"] = HOT_TURNS
    classes = rng.choice(["exact", "near", "structural"], size=(hot_seeds, HOT_COPIES))
    corruption = rng.integers(0, 2**31 - 1, size=(hot_seeds, HOT_COPIES))
    next_id = len(plan)
    rows = []
    for k, i in enumerate(picks):
        src = plan.loc[i]
        for c in range(HOT_COPIES):
            rows.append(
                dict(
                    src,
                    conv_id=f"conv-{next_id:08d}",
                    corruption_seed=int(corruption[k, c]),
                    dup_class=str(classes[k, c]),
                    conv_offset_s=next_id * 3600 + 180,
                )
            )
            next_id += 1
    return pd.concat([plan, pd.DataFrame(rows)], ignore_index=True)


def materialize(spark: SparkSession, plan: pd.DataFrame) -> DataFrame:
    """Turn rows for ``plan`` with the fixture's own per-row generator, so
    every row is generated exactly as ``fixtures.transcripts`` would."""
    n_parts = max(8, min(256, len(plan) // 64 or 8))
    return (
        spark.createDataFrame(plan)
        .repartition(n_parts, "conv_id")
        .mapInPandas(fixtures._materialize_partition, schema=schemas.TRANSCRIPTS)
    )


def truth(plan: pd.DataFrame) -> pd.DataFrame:
    """(conv_id, gold) ground-truth cluster per conversation."""
    return plan[["conv_id", "cluster_seed_id"]].rename(columns={"cluster_seed_id": "gold"})


def fold_bucket(col: str = "conv_id"):
    """Hash bucket in [0, FOLD_BUCKETS): duplicates of one cluster land in
    different buckets, so folded batches link into committed clusters."""
    return F.pmod(F.xxhash64(col), F.lit(FOLD_BUCKETS))
