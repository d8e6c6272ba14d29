"""End-to-end entity-resolution pipeline over transcript tables.

The reference's flagship flow (``insert_files``,
/root/reference/src/deduplication.cpp:517-655) becomes one declarative
batch job:

  transcripts
    -> _prepare: PII scrub (the one hygiene step)            [C4]
    -> register_turns (unique-turn registry + membership,
       built when commit() or the caller reads it)            [D1]
    -> conversation docs (stable turn order)                  [S6 analog]
    -> blocking keys: exact md5 + MinHash/LSH bands           [C1, C2]
    -> one band-key df pass + salted skew-aware self-join     [I1, D1]
    -> vectorized pair scoring (Jaccard gate -> Jaro-Winkler) [D2]
    -> thresholded edges + exact-fp edges
    -> large-star/small-star connected components             [clusters]
    -> clusters / metrics committed as catalog snapshots      [S4]

Like the reference's single insert flow (an incremental insert runs the
same ``register_block`` probe as a first insert), ``run`` and
``run_incremental`` share one core, ``_resolve_delta``: a batch run is
a delta against no committed state. ``link`` and ``link_incremental``
share its stages (``_prepare``, ``_drop_exact``, ``_score``) but keep
``cross_candidate_pairs``, whose stop band is per side.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dedupe_spark.catalog import SnapshotCatalog
from dedupe_spark.operators import blocking, clustering, lifecycle, minhash, normalize, scoring
from dedupe_spark.operators.transcript_qa import transcript_lint


@dataclass
class PipelineConfig:
    shingle_k: int = 3
    num_perm: int = 128
    bands: int = 32
    seed: int = 42
    max_block: int = blocking.DEFAULT_MAX_BLOCK
    salt_threshold: int = blocking.DEFAULT_SALT_THRESHOLD
    salt_groups: int = blocking.DEFAULT_SALT_GROUPS
    min_len_ratio: float = scoring.MIN_LEN_RATIO
    # ambiguous-band second-stage scorer: "levenshtein" (pure JVM, fastest),
    # "jaro_winkler" (batch-vectorized Arrow UDF — the north star's named
    # scorer; same F1 on the labeled fixture, see test_scoring), or
    # "fellegi_sunter" (EM-learned accept rule over the band's comparison
    # vectors, operators/linkage.py — no hand-tuned accept threshold)
    decider: str = "levenshtein"
    # bloom_mode applies to link (cross_bloom_preprune) only, and
    # bloom_shards / bloom_max_driver_bytes to link and run_incremental's
    # registry probe; run() prunes singleton band keys exactly, off its
    # one frequency pass.
    # "bloom" = explicit map-side Bloom pre-prune (functions/bloom.py);
    # "semi" = semi-join + Catalyst runtime bloom filter;
    # "auto" (default) = bloom while the key bitmap fits
    # bloom_max_driver_bytes, semi beyond it — the 10^12-key registry
    # can never pin a multi-TB bitmap on the driver
    bloom_mode: str = "auto"
    bloom_shards: int = 1
    bloom_max_driver_bytes: int = blocking.DEFAULT_BLOOM_BUDGET_BYTES
    # chunk_aac-style blocking-key policy (C4, reference
    # src/deduplication.cpp:1350-1390): conversations dominated by
    # tool-role turns (machine output) get exact-fp keys only — the
    # MinHash signature is never computed for them
    aac_policy: bool = True
    aac_exact_tool_frac: float = 0.6
    # PII scrub BEFORE fingerprinting (operators/privacy.py): two turns
    # differing only in an email/IP/phone still collide on their blocking
    # key, and no raw identifier ever reaches a committed table. Pure
    # codegen'd regex — the 10^12-turn cost is scan bandwidth
    scrub_pii: bool = False
    # per-conversation structural lint table (operators/transcript_qa.py),
    # committed next to clusters so a broken conversation is visible
    # before it becomes its cluster's canonical copy
    lint: bool = False
    # triangle-support cluster repair (operators/clustering.py:
    # prune_weak_edges): accepted near-dup edges with no common neighbor
    # in the full duplicate graph are dropped unless their jaccard is
    # high-confidence — transitive clustering otherwise merges two real
    # entities through one spurious score. Exact-fp edges are certain:
    # they count as witnesses and are never pruned. run() only:
    # run_incremental refuses it (support needs the committed graph)
    cluster_repair: bool = False
    cluster_repair_min_support: int = 1
    cluster_repair_strong: float = 0.9
    checkpoint_dir: str | None = None
    resume: bool = False
    # metrics cost ~25 extra Spark jobs (each count re-executes its
    # frame): 48 against 23 for run() on fixtures.build_plan(300), 4
    # cores; opt in when publishing a run
    compute_metrics: bool = False
    # A↔B linkage assignment mode (pipeline.link only):
    #   "one_to_one"  — exact links assigned by per-fingerprint rank-zip
    #                   (guaranteed 1:1), fuzzy residual by reciprocal
    #                   best match; no record appears twice
    #   "many_to_one" — every A record keeps its single best link (a
    #                   probe batch matched against a registry; several
    #                   A records may hit the same B record)
    #   "all"         — every accepted link, unassigned (caller resolves)
    link_mode: str = "one_to_one"
    # link(catalog=...) also commits the registry-side probe state
    # (fp index, band blocks, docs+shingles) so link_incremental can
    # probe later batches without re-blocking the registry; disable when
    # the warehouse should hold only the links table (the state costs
    # O(registry) storage and is dead weight if no batches follow)
    link_commit_registry_state: bool = True
    extra: dict = field(default_factory=dict)


@dataclass
class PipelineResult:
    clusters: DataFrame
    edges: DataFrame
    scored_pairs: DataFrame
    candidate_pairs: DataFrame
    docs: DataFrame
    metrics: DataFrame
    #: builds (unique_turns, membership), called on the first read of
    #: either: a run whose registry nothing reads never plans it
    registry: Callable[[], tuple[DataFrame, DataFrame]]
    lint: DataFrame | None = None
    persisted: list = field(default_factory=list)

    @cached_property
    def _registry(self) -> tuple[DataFrame, DataFrame]:
        return self.registry()

    @property
    def unique_turns(self) -> DataFrame:
        return self._registry[0]

    @property
    def membership(self) -> DataFrame:
        return self._registry[1]

    def release(self) -> None:
        """Unpersist every intermediate this run cached (the registry's
        too, once built). Call after the final action on the result
        DataFrames — repeated pipeline runs in one session (bench,
        notebooks) otherwise accumulate cached tables in executor
        memory."""
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


def _docs_with_bands(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Conversation docs + exact fp + MinHash band keys (+ shingles).

    Shared by the batch and incremental paths so both derive IDENTICAL
    blocking keys from the same text — key parity is what makes the
    incremental candidate probe equivalent to the batch self-join.
    """
    docs = normalize.conversation_docs(transcripts).withColumn("exact_fp", F.md5("doc"))
    # C4 dispatch: tool-dominated conversations get an empty band set
    # (exact-fp edges only) and no shingles, in the same projection as
    # every other row — one conv_id shuffle feeds the signature UDF
    skip = (
        F.col("tool_frac") >= F.lit(cfg.aac_exact_tool_frac) if cfg.aac_policy else None
    )
    return minhash.with_minhash_bands(
        docs, "doc", k=cfg.shingle_k, num_perm=cfg.num_perm, bands=cfg.bands, seed=cfg.seed,
        keep_shingles=True, skip=skip,
    )


def _prepare(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The one hygiene step every entry point runs before any
    fingerprint, key or commit: the optional PII scrub, so two turns
    differing only in an e-mail/IP/phone collide on every key and no raw
    identifier reaches a committed table (registry, link registry
    docs). The only reader of ``cfg.scrub_pii``."""
    if cfg.scrub_pii:
        from dedupe_spark.operators.privacy import redact_expr

        transcripts = transcripts.withColumn("text", redact_expr(F.col("text")))
    return transcripts


def _drop_exact(cands: DataFrame, exact: DataFrame) -> DataFrame:
    """Candidates minus the exact pairs, which need no scoring. Compared
    in CANONICAL orientation: candidates are (least, greatest), but a
    fold's exact pair (committed group min, new id) is not when the new
    id sorts first — a verbatim compare would re-score that duplicate."""
    return cands.join(
        exact.select(
            F.least("id_a", "id_b").alias("ea"), F.greatest("id_a", "id_b").alias("eb")
        ),
        (F.col("id_a") == F.col("ea")) & (F.col("id_b") == F.col("eb")),
        "left_anti",
    )


def _score(cands: DataFrame, docs: list, cfg: PipelineConfig, persisted: list) -> DataFrame:
    """Verification scoring (cheap -> expensive) of ``cands`` over the
    union of the ``docs`` frames; reuses their distinct-shingle column
    when every frame carries one (``_docs_with_bands``), recomputes it
    otherwise (docs rebuilt from the registry)."""
    sh = "sh" if all("sh" in d.columns for d in docs) else None
    cols = ["conv_id", "doc", "doc_len", *([sh] if sh else [])]
    union = docs[0].select(*cols)
    for d in docs[1:]:
        union = union.unionByName(d.select(*cols))
    return scoring.score_pairs(
        cands, union,
        min_len_ratio=cfg.min_len_ratio, k=cfg.shingle_k,
        decider=cfg.decider, sh_col=sh, deps=persisted,
    )


def _resolve_delta(
    docs: DataFrame,
    cfg: PipelineConfig,
    persisted: list,
    committed: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The self-dedup core of ``run`` and ``run_incremental``: a batch
    of banded ``docs`` resolved against ``committed`` state (None for a
    batch run — a delta against nothing). Returns (blocks, candidate
    pairs, scored pairs, edges ``(src, dst)``).

    With ``committed`` (the ``doc_index``, ``doc_blocks``,
    ``membership`` and ``unique_turns`` frames of the committed run):
      * each batch doc also links to its fp's committed group minimum
        (bucket-restricted probe of ``doc_index``);
      * the committed ``doc_blocks`` rows of the keys the batch touches
        join the batch's block rows, flagged ``old``. The one df window
        then counts committed + batch frequency, so the stop band is the
        one a from-scratch run over the full corpus applies, and
        ``candidate_pairs`` emits new×new and new×old pairs, never
        old×old (the committed clusters already encode those);
      * scoring reads only the committed docs a candidate touches,
        reconstructed from the registry — O(candidates), not O(corpus).
    """
    exact = blocking.exact_key_pairs(docs, "conv_id", "exact_fp")
    blocks = blocking.explode_blocks(docs, "conv_id", "bands")
    if committed is not None:
        new_idx = _with_key_bucket(docs.select("conv_id", "exact_fp"), "exact_fp")
        old_min = (
            committed["doc_index"]
            .join(new_idx.select("key_bucket", "exact_fp").distinct(), ["key_bucket", "exact_fp"])
            .groupBy("key_bucket", "exact_fp")
            .agg(F.min("conv_id").alias("id_a"))
        )
        exact_old = (
            new_idx.join(old_min, ["key_bucket", "exact_fp"])
            .where(F.col("id_a") != F.col("conv_id"))
            .select("id_a", F.col("conv_id").alias("id_b"))
        )
        exact = exact_old.union(exact).distinct()
        keys = _with_key_bucket(blocks, "band_key").select("key_bucket", "band_key").distinct()
        old_blocks = committed["doc_blocks"].join(keys, ["key_bucket", "band_key"])
        blocks = blocks.withColumn("old", F.lit(False)).unionByName(
            old_blocks.select("id", "band_key", F.lit(True).alias("old"))
        )
    # one df pass: singleton prune, stop band, salt split
    blocks = blocking.repeated_blocks(blocks, deps=persisted)
    cands = _drop_exact(
        blocking.candidate_pairs(
            blocks,
            max_block=cfg.max_block,
            salt_threshold=cfg.salt_threshold,
            salt_groups=cfg.salt_groups,
        ),
        exact,
    )
    score_docs = [docs]
    if committed is not None:
        ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("conv_id")).distinct()
        old_ids = ids.join(docs.select("conv_id"), "conv_id", "left_anti")
        score_docs.append(normalize.conversation_docs(
            lifecycle.reconstruct(
                committed["membership"].join(old_ids, "conv_id", "left_semi"),
                committed["unique_turns"],
            )
        ))
    scored = _score(cands, score_docs, cfg, persisted)

    exact_edges = exact.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    sim_edges = scored.where("is_dup").select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard"
    )
    if cfg.cluster_repair:
        sim_edges = clustering.prune_weak_edges(
            sim_edges,
            min_support=cfg.cluster_repair_min_support,
            strong_score=cfg.cluster_repair_strong,
            score_col="jaccard",
            witness_edges=exact_edges,
        )
    return blocks, cands, scored, exact_edges.union(sim_edges.select("src", "dst"))


def run(
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
    catalog: SnapshotCatalog | None = None,
) -> PipelineResult:
    cfg = config or PipelineConfig()
    spark = transcripts.sparkSession
    persisted: list[DataFrame] = []

    transcripts = _prepare(transcripts, cfg)
    lint_df = transcript_lint(transcripts) if cfg.lint else None

    # 1. conversation documents in stable (conv_id, turn_idx) order
    docs = _docs_with_bands(transcripts, cfg)
    # the doc table is reused by blocking AND scoring — cache it once
    docs = docs.persist()
    persisted.append(docs)

    # 2-4. exact pairs, candidates, scoring, edges
    blocks, cands, scored, edges = _resolve_delta(docs, cfg, persisted)

    # 5. transitive clustering
    # durable-by-default iteration state: when this run has a catalog,
    # CC snapshots land under its warehouse — localCheckpoint state dies
    # with an executor at real scale, a warehouse parquet snapshot doesn't
    # (the loop still uses localCheckpoint for lineage truncation; the
    # warehouse snapshots are the resume/verify points)
    checkpoint_dir = cfg.checkpoint_dir
    if checkpoint_dir is None and catalog is not None:
        warehouse = getattr(catalog, "warehouse", None)
        if warehouse:
            import os

            checkpoint_dir = os.path.join(warehouse, "_cc_checkpoints")
    cc = clustering.connected_components(
        edges, checkpoint_dir=checkpoint_dir, resume=cfg.resume
    )
    clusters = clustering.clusters_with_singletons(docs.select("conv_id"), cc)

    if cfg.compute_metrics or catalog is not None:
        metrics = _metrics(docs, blocks, cands, scored, clusters, cfg)
    else:
        metrics = spark.createDataFrame([], "metric string, value double")

    result = PipelineResult(
        clusters=clusters,
        edges=edges,
        scored_pairs=scored,
        candidate_pairs=cands,
        docs=docs,
        metrics=metrics,
        # 6. turn-level registry (exact dedup of turns, the reference's
        # core) of the scrubbed transcripts; commit() reads it
        registry=lambda: lifecycle.register_turns(transcripts, deps=persisted),
        lint=lint_df,
        persisted=persisted,
    )
    if catalog is not None:
        commit(result, catalog)
    return result


@dataclass
class LinkResult:
    links: DataFrame
    scored_pairs: DataFrame
    candidate_pairs: DataFrame
    docs_a: DataFrame
    docs_b: DataFrame
    metrics: DataFrame
    persisted: list = field(default_factory=list)

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


#: Unit-separator side tag: prepended to conv_ids internally so the two
#: sources can share id values without colliding anywhere in the shared
#: blocking/scoring machinery; stripped from every output column.
_SIDE_A = "a\x1f"
_SIDE_B = "b\x1f"


def _tag_side(transcripts: DataFrame, tag: str) -> DataFrame:
    return transcripts.withColumn("conv_id", F.concat(F.lit(tag), F.col("conv_id")))


def _strip_side(col: str) -> Column:
    return F.substring(F.col(col), len(_SIDE_A) + 1, 2**30).alias(col)


def _assign_links(exact: DataFrame, scored: DataFrame, mode: str) -> DataFrame:
    """Links from exact pairs ``(id_a, id_b)`` and the accepted scored
    pairs, assigned per ``mode`` (see ``PipelineConfig.link_mode``), as
    ``(conv_id_a, conv_id_b, score, link_type)`` with side tags stripped.
    Exact links carry score 2.0 so they outrank any fuzzy score."""
    exact_links = exact.select(
        "id_a", "id_b", F.lit(2.0).alias("score"), F.lit("exact").alias("link_type")
    )
    near_links = scored.where("is_dup").select(
        "id_a", "id_b", F.col("jaccard").cast("double").alias("score"),
        F.lit("near").alias("link_type"),
    )
    if mode == "one_to_one":
        # exact links are 1:1 by rank-zip construction and outrank any
        # fuzzy score; reciprocal-best runs on the residual records only.
        # (Reciprocal-best must NOT see the zip-ranked exact pairs: its
        # smaller-partner tie-break would keep only each group's first
        # rank and drop the rest of a perfectly valid 1:1 assignment.)
        residual = (
            near_links.join(exact_links.select("id_a"), "id_a", "left_anti")
            .join(exact_links.select("id_b"), "id_b", "left_anti")
        )
        from dedupe_spark.operators.linkage import reciprocal_best_links

        links = exact_links.unionByName(
            reciprocal_best_links(residual, "id_a", "id_b", "score")
        )
    elif mode == "many_to_one":
        w = Window.partitionBy("id_a").orderBy(F.col("score").desc(), F.col("id_b").asc())
        links = (
            exact_links.unionByName(near_links)
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .drop("_r")
        )
    else:
        links = exact_links.unionByName(near_links)
    return links.select(
        _strip_side("id_a").alias("conv_id_a"),
        _strip_side("id_b").alias("conv_id_b"),
        "score",
        "link_type",
    )


def _link_result(links, scored, cands, docs_a, docs_b, metrics, persisted) -> LinkResult:
    """A LinkResult whose every frame speaks the caller's id namespace:
    the internal side tags are stripped from ids on ALL outputs, not
    just links (ids come back as strings — _tag_side stringifies
    non-string conv_ids; callers cast back where the source ids were
    numeric)."""

    def strip(df: DataFrame, *cols: str) -> DataFrame:
        for c in cols:
            df = df.withColumn(c, _strip_side(c))
        return df

    return LinkResult(
        links=links,
        scored_pairs=strip(scored, "id_a", "id_b"),
        candidate_pairs=strip(cands, "id_a", "id_b"),
        docs_a=strip(docs_a, "conv_id"),
        docs_b=strip(docs_b, "conv_id"),
        metrics=metrics,
        persisted=persisted,
    )


def link(
    transcripts_a: DataFrame,
    transcripts_b: DataFrame,
    config: PipelineConfig | None = None,
    catalog: SnapshotCatalog | None = None,
) -> LinkResult:
    """A↔B record linkage: link every conversation in ``transcripts_a``
    to its duplicate in ``transcripts_b`` (two sources describing
    overlapping entities), reusing the self-dedup machinery stage for
    stage — the reference's probe-stream-vs-build-registry flow
    (/root/reference/src/deduplication.cpp:1393-1461) generalized from
    "batch probes its own registry" to "table A probes table B":

      1. per-side docs + exact fp + MinHash band keys (IDENTICAL key
         derivation to ``run`` — _docs_with_bands — so a corpus linked
         today and self-deduped tomorrow agrees on its blocks);
      2. exact links across tables on the fingerprint; one-to-one mode
         rank-zips each fingerprint group (k A-copies × j B-copies give
         min(k, j) links, linear output, no quadratic group fan-out);
      3. fuzzy candidates: Bloom probe of A's blocks against B's key
         set, then the salted skew-aware CROSS join
         (blocking.cross_candidate_pairs — no id_a < id_b, the sides
         are distinct namespaces);
      4. the same cheap→expensive verification scoring as ``run``
         (Jaccard gate → configured decider) over the union doc table;
      5. assignment per ``config.link_mode``: reciprocal-best one-to-one
         (the distributed relaxation of Fellegi-Sunter's 1:1 rule),
         best-per-A many-to-one, or all accepted links.

    Output ``links``: (conv_id_a, conv_id_b, score, link_type) with
    link_type in ('exact', 'near'); exact links carry score 2.0 so they
    outrank any fuzzy score in assignment. Committed to the catalog as
    the ``links`` table when one is passed.
    """
    cfg = config or PipelineConfig()
    if cfg.link_mode not in ("one_to_one", "many_to_one", "all"):
        raise ValueError(f"unknown link_mode: {cfg.link_mode!r}")
    spark = transcripts_a.sparkSession
    persisted: list[DataFrame] = []

    docs_a = _docs_with_bands(_tag_side(_prepare(transcripts_a, cfg), _SIDE_A), cfg).persist()
    docs_b = _docs_with_bands(_tag_side(_prepare(transcripts_b, cfg), _SIDE_B), cfg).persist()
    persisted += [docs_a, docs_b]

    # 2. exact cross links (linear in group size on both sides)
    if cfg.link_mode == "one_to_one":
        wa = Window.partitionBy("exact_fp").orderBy("conv_id")
        ra = docs_a.select("conv_id", "exact_fp").withColumn(
            "_r", F.row_number().over(wa)
        )
        rb = docs_b.select(
            F.col("conv_id").alias("_bid"), "exact_fp"
        ).withColumn("_r", F.row_number().over(Window.partitionBy("exact_fp").orderBy("_bid")))
        exact = ra.join(rb, ["exact_fp", "_r"]).select(
            F.col("conv_id").alias("id_a"), F.col("_bid").alias("id_b")
        )
    else:
        bmin = docs_b.groupBy("exact_fp").agg(F.min("conv_id").alias("id_b"))
        exact = docs_a.select("conv_id", "exact_fp").join(bmin, "exact_fp").select(
            F.col("conv_id").alias("id_a"), "id_b"
        )
    exact = exact.persist()
    persisted.append(exact)

    # 3. fuzzy candidates: bloom probe + salted cross join
    blocks_a = blocking.explode_blocks(docs_a, "conv_id", "bands")
    blocks_b = blocking.explode_blocks(docs_b, "conv_id", "bands")
    bloom_stats: dict = {}
    blocks_a, blocks_b = blocking.cross_bloom_preprune(
        blocks_a, blocks_b,
        mode=cfg.bloom_mode, stats=bloom_stats, shards=cfg.bloom_shards,
        max_driver_bytes=cfg.bloom_max_driver_bytes, deps=persisted,
    )
    cands = blocking.cross_candidate_pairs(
        blocks_a, blocks_b,
        max_block=cfg.max_block,
        salt_threshold=cfg.salt_threshold,
        salt_groups=cfg.salt_groups,
    )
    # persisted: the scoring plan and the n_candidate_pairs metric both
    # read it — the salted cross join and its distinct run once
    cands = _drop_exact(cands, exact).persist()
    persisted.append(cands)

    # 4. verification scoring over the union doc table (tagged ids make
    # the two sources collision-free in one keyed table)
    scored = _score(cands, [docs_a, docs_b], cfg, persisted)

    # 5. assignment
    links = _assign_links(exact, scored, cfg.link_mode)

    if cfg.compute_metrics or catalog is not None:
        # the links DAG is read up to three times below (n_links metric,
        # catalog.write, the caller's own count) — persist it so the
        # salted cross join + scoring run once, not per action
        links = links.persist()
        persisted.append(links)
        n_a = docs_a.count()
        n_b = docs_b.count()
        n_cand = cands.count()
        n_links = links.count()
        metrics = spark.createDataFrame(
            [
                ("n_records_a", float(n_a)),
                ("n_records_b", float(n_b)),
                ("n_candidate_pairs", float(n_cand)),
                ("n_links", float(n_links)),
                ("link_rate_a", float(n_links) / n_a if n_a else 0.0),
                # 1.0 = map-side Bloom pruned the probe; 0.0 = semi-join
                # fallback (budget or config) — visible from the artifact
                ("bloom_mode_is_bloom", 1.0 if bloom_stats.get("bloom_mode_used") == "bloom" else 0.0),
            ],
            "metric string, value double",
        )
    else:
        metrics = spark.createDataFrame([], "metric string, value double")

    result = _link_result(links, scored, cands, docs_a, docs_b, metrics, persisted)
    if catalog is not None:
        catalog.write("links", links)
        catalog.write("link_metrics", metrics)
    if catalog is not None and cfg.link_commit_registry_state:
        # registry-side probe state, so later probe batches can link
        # against this registry WITHOUT re-blocking it
        # (link_incremental): the registry's exact-fp index and band
        # blocks bucket-partitioned for pruned probes (the same layout
        # the self-dedup incremental path uses), and the normalized
        # registry docs id-bucketed (WITH their distinct-shingle arrays,
        # so per-batch scoring reuses them instead of re-deriving the
        # tokenize+shingle tree every batch). Ids are committed UNTAGGED
        # (the caller's namespace).
        reg = result.docs_b
        catalog.write(
            "link_registry_docs",
            lifecycle.with_fp_bucket(
                reg.select("conv_id", "doc", "doc_len", "sh"),
                key_col="conv_id", out_col="id_bucket",
            ),
            partition_by=["id_bucket"],
        )
        catalog.write(
            "link_registry_index",
            _with_key_bucket(reg.select("conv_id", "exact_fp"), "exact_fp"),
            partition_by=["key_bucket"],
        )
        catalog.write(
            "link_registry_blocks",
            _with_key_bucket(
                blocking.explode_blocks(reg, "conv_id", "bands").withColumnRenamed("id", "conv_id"),
                "band_key",
            ),
            partition_by=["key_bucket"],
        )
    return result


def link_incremental(
    new_probe: DataFrame,
    catalog: SnapshotCatalog,
    config: PipelineConfig | None = None,
) -> LinkResult:
    """Link a NEW batch of probe conversations against the registry a
    prior ``link(..., catalog=...)`` committed — the linkage analogue of
    ``run_incremental``: nothing re-blocks, re-fingerprints, or
    re-scores the registry side.

      1. the batch's docs + band keys derive exactly as in ``link``
         (key parity is what makes the probe equivalent to the batch
         cross join);
      2. exact links: batch fps probe the committed
         ``link_registry_index`` (bucket-pruned: the scan is statically
         restricted to the batch's key buckets) → per-fp registry
         minimum;
      3. fuzzy candidates: batch bands probe the committed
         ``link_registry_blocks`` pruned to touched (bucket, key) pairs;
         the per-side stop band and salted cross join are the same
         ``cross_candidate_pairs`` machinery;
      4. scoring reads ONLY the touched registry docs
         (``link_registry_docs`` id-bucket-pruned + semi-joined to the
         candidate ids) — O(candidates), not O(registry);
      5. assignment is batch-local, so only ``many_to_one`` and
         ``all`` are valid: each probe record appears in exactly one
         batch, making the per-batch best-link assignment globally
         consistent. ``one_to_one`` needs cross-batch state (a registry
         record consumed by batch 1 must reject batch 2) and is refused
         loudly rather than silently mis-assigned.
      6. the links delta appends to the committed ``links`` table.

    Equivalence contract (tested): with ``many_to_one`` and no band key
    crossing the stop band across the batch split, the union of
    incremental link deltas equals ``link()`` over the concatenated
    probe input.
    """
    cfg = config or PipelineConfig()
    if cfg.link_mode not in ("many_to_one", "all"):
        raise ValueError(
            "link_incremental supports link_mode 'many_to_one' or 'all'; "
            "one_to_one assignment needs cross-batch state (re-run link() "
            "over the full probe set instead)"
        )
    spark = new_probe.sparkSession
    persisted: list[DataFrame] = []

    # re-probe guard: a probe record the committed links table already
    # links must not link again (a re-delivered or overlapping batch
    # would otherwise append duplicate conv_id_a rows, silently breaking
    # many_to_one's at-most-one-link invariant). Previously-probed-but-
    # UNLINKED records re-probe harmlessly: against an unchanged
    # registry they produce the same no-link.
    if catalog.exists("links"):
        new_probe = new_probe.join(
            catalog.read("links").select(F.col("conv_id_a").alias("conv_id")),
            "conv_id",
            "left_anti",
        )

    ndocs = _docs_with_bands(_tag_side(_prepare(new_probe, cfg), _SIDE_A), cfg).persist()
    persisted.append(ndocs)

    # 2. exact links against the committed fp index
    new_idx = _with_key_bucket(
        ndocs.select("conv_id", "exact_fp"), "exact_fp"
    ).persist()
    persisted.append(new_idx)
    # every registry table is read with static partition pruning, same
    # rationale as the registry probe: DPP cannot see through the batch
    # side (lifecycle.bucket_pruned)
    reg_idx = lifecycle.bucket_pruned(
        catalog.read("link_registry_index"), "key_bucket", new_idx
    ).join(
        new_idx.select("key_bucket", "exact_fp").distinct(),
        ["key_bucket", "exact_fp"],
    )
    bmin = reg_idx.groupBy("key_bucket", "exact_fp").agg(
        F.min("conv_id").alias("_rid")
    )
    exact = (
        new_idx.join(bmin, ["key_bucket", "exact_fp"])
        .select(
            F.col("conv_id").alias("id_a"),
            F.concat(F.lit(_SIDE_B), F.col("_rid")).alias("id_b"),
        )
        .persist()
    )
    persisted.append(exact)

    # 3. fuzzy candidates: batch bands x committed registry blocks
    nblocks = _with_key_bucket(
        blocking.explode_blocks(ndocs, "conv_id", "bands"), "band_key"
    ).persist()
    persisted.append(nblocks)
    reg_blocks = (
        lifecycle.bucket_pruned(catalog.read("link_registry_blocks"), "key_bucket", nblocks)
        .join(
            nblocks.select("key_bucket", "band_key").distinct(),
            ["key_bucket", "band_key"],
        )
        .persist()  # pruned to touched keys — small
    )
    persisted.append(reg_blocks)
    # persisted: the candidate join is read by the bucket collect below,
    # the scoring plan, and the links write — one execution, not three
    cands = blocking.cross_candidate_pairs(
        nblocks.select("band_key", F.col("id")),
        _tag_side(reg_blocks, _SIDE_B).select("band_key", F.col("conv_id").alias("id")),
        max_block=cfg.max_block,
        salt_threshold=cfg.salt_threshold,
        salt_groups=cfg.salt_groups,
    )
    cands = _drop_exact(cands, exact).persist()
    persisted.append(cands)

    # 4. scoring over the batch docs + ONLY the touched registry docs
    # (committed with their distinct-shingle arrays, so sh_col reuse
    # skips the per-batch tokenize+shingle recompute on both sides)
    pair_b_idx = lifecycle.with_fp_bucket(
        cands.select(
            F.substring("id_b", len(_SIDE_B) + 1, 2**30).alias("conv_id")
        ).distinct(),
        key_col="conv_id",
        out_col="id_bucket",
    ).persist()
    persisted.append(pair_b_idx)
    reg_docs = _tag_side(
        lifecycle.bucket_pruned(catalog.read("link_registry_docs"), "id_bucket", pair_b_idx)
        .join(pair_b_idx.select("conv_id"), "conv_id", "left_semi"),
        _SIDE_B,
    )
    scored = _score(cands, [ndocs, reg_docs], cfg, persisted)

    # 5. batch-local assignment (valid globally: each probe record
    # appears in exactly one batch)
    links = _assign_links(exact, scored, cfg.link_mode).persist()
    persisted.append(links)

    # 6. O(delta) append + refreshed metrics snapshot (the committed
    # link_metrics would otherwise go silently stale after the first
    # incremental batch)
    catalog.write("links", links, mode="append")
    n_delta = links.count()
    n_total = catalog.read("links").count()
    metrics = spark.createDataFrame(
        [
            ("n_links", float(n_total)),
            ("n_links_delta", float(n_delta)),
            ("n_records_a_delta", float(ndocs.count())),
            ("n_candidate_pairs_delta", float(cands.count())),
        ],
        "metric string, value double",
    )
    catalog.write("link_metrics", metrics)

    # NOTE: docs_b here is the TOUCHED registry docs slice
    # (conv_id, doc, doc_len, sh, id_bucket) — narrower and smaller than
    # link()'s full banded registry table; consumers needing the full
    # registry read link_registry_docs from the catalog
    return _link_result(links, scored, cands, ndocs, reg_docs, metrics, persisted)


def _metrics(docs, blocks, cands, scored, clusters, cfg) -> DataFrame:
    spark = docs.sparkSession
    # stop-band suppression is never silent: the keys/rows the
    # df > max_block cap removed from candidate generation, read off the
    # df column blocking already computed (blocks = repeated_blocks)
    stop = F.col("df") > cfg.max_block
    b = blocks.agg(
        F.count("*").alias("rows"),
        F.count_distinct(F.when(stop, F.col("band_key"))).alias("stop_keys"),
        F.count(F.when(stop, 1)).alias("stop_rows"),
    ).first()
    # one execution of the scoring plan for both scored counts
    sc = scored.agg(
        F.count("*").alias("n"), F.count_if(F.col("is_dup")).alias("dup")
    ).first()
    rows = [
        ("n_conversations", float(docs.count())),
        ("n_block_rows_after_prune", float(b["rows"])),
        ("n_stopband_keys_dropped", float(b["stop_keys"])),
        ("n_stopband_rows_dropped", float(b["stop_rows"])),
        ("n_candidate_pairs", float(cands.count())),
        ("n_scored_pairs", float(sc["n"])),
        ("n_duplicate_pairs", float(sc["dup"])),
        ("n_clusters", float(clusters.select("cluster_id").distinct().count())),
    ]
    return spark.createDataFrame(rows, "metric string, value double")


def commit(result: PipelineResult, catalog: SnapshotCatalog) -> None:
    """Atomic publish of all output tables (reference: splice + rename,
    src/deduplication.cpp:612-640)."""
    _commit_docs(catalog, result.docs, result.unique_turns, result.membership)
    catalog.write("clusters", result.clusters)
    catalog.write("edges", result.edges)
    catalog.write("metrics", result.metrics)
    if result.lint is not None:
        catalog.write("lint", result.lint)


def _commit_docs(
    catalog: SnapshotCatalog,
    docs: DataFrame,
    unique_turns: DataFrame,
    membership: DataFrame,
    mode: str = "overwrite",
) -> None:
    """The turn registry and the blocking-key index tables, in full
    (``run``) or as the batch's append (``run_incremental``). The
    unique-turn registry is laid out bucket-partitioned on fp — the
    SURVEY §1.2 mapping of HashDB's bucketed disk KV
    (src/HashDB.cpp:339-450) — so registry probes (incremental/streaming
    ingest) prune to the buckets they touch instead of rescanning the
    whole table. ``doc_index``/``doc_blocks`` are what a fold probes
    instead of re-blocking the corpus, bucket-partitioned the same way.
    doc_blocks is written UNPRUNED (singleton bands included): a band
    that pairs with nothing today may pair with tomorrow's batch."""
    catalog.write(
        "unique_turns",
        lifecycle.with_fp_bucket(unique_turns),
        mode=mode, partition_by=["fp_bucket"],
    )
    catalog.write("membership", membership, mode=mode)
    catalog.write(
        "doc_index",
        _with_key_bucket(docs.select("conv_id", "exact_fp"), "exact_fp"),
        mode=mode, partition_by=["key_bucket"],
    )
    catalog.write(
        "doc_blocks",
        _with_key_bucket(blocking.explode_blocks(docs, "conv_id", "bands"), "band_key"),
        mode=mode, partition_by=["key_bucket"],
    )


def _with_key_bucket(df: DataFrame, key_col: str) -> DataFrame:
    """key_bucket partition column for the doc-level index tables —
    delegates to lifecycle.with_fp_bucket so the bucket formula AND
    modulus live in exactly one place (a drifted copy here would
    silently miss every committed key on incremental probes)."""
    return lifecycle.with_fp_bucket(
        df, n_buckets=lifecycle.REGISTRY_BUCKETS, key_col=key_col, out_col="key_bucket"
    )


def current_clusters(catalog: SnapshotCatalog) -> DataFrame:
    """Latest-wins view of cluster assignments: the base ``clusters``
    table merged with the ``cluster_updates`` append log (merge-on-read,
    Iceberg MoR semantics). Incremental runs append ONLY changed/new
    rows — O(delta) per commit — so the read view must pick each
    conv_id's newest assignment; ``compact_clusters`` folds the log back
    into the base table when it grows."""
    base = catalog.read("clusters").select(
        "conv_id", "cluster_id", F.lit(0).alias("_v")
    )
    if catalog.exists("cluster_updates"):
        base = base.unionByName(
            catalog.read("cluster_updates").select("conv_id", "cluster_id", "_v")
        )
    w = Window.partitionBy("conv_id").orderBy(F.desc("_v"))
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("conv_id", "cluster_id")
    )


def compact_clusters(catalog: SnapshotCatalog) -> None:
    """Fold the cluster_updates append log into the base clusters table
    (one overwrite snapshot each) — same motivation as catalog.compact:
    the merge-on-read window must not pay for unbounded update history."""
    merged = current_clusters(catalog)
    catalog.write("clusters", merged)
    if catalog.exists("cluster_updates"):
        catalog.write("cluster_updates", catalog.read("cluster_updates").limit(0))


def run_incremental(
    new_transcripts: DataFrame,
    catalog: SnapshotCatalog,
    config: PipelineConfig | None = None,
) -> PipelineResult:
    """Fold a NEW batch of conversations into a committed pipeline state
    — the reference's incremental ``insert_files`` against an existing
    package (prepare_insert + splice,
    /root/reference/src/deduplication.cpp:612-637, 658-792) at the
    cluster level. Nothing re-blocks, re-scores, or re-clusters the
    existing corpus:

      1. the same ``_prepare`` hygiene step as ``run``;
      2. registry: ``register_turns_incremental`` (bloom-split probe,
         dense-id continuation) — appends O(batch) delta snapshots;
      3. blocking and scoring: ``run``'s own core, ``_resolve_delta``,
         against the committed ``doc_index`` / ``doc_blocks`` /
         registry tables — candidates = new×old ∪ new×new, never
         old×old, and the stop band reads the key's TOTAL frequency
         (committed + batch), what a from-scratch run would drop;
      4. clustering: ``incremental_components`` unions the committed
         assignment's star edges with the delta edges — O(delta)
         contraction work;
      5. commit: registry/index/edges (and ``lint``) tables take
         append-mode deltas; cluster assignments append ONLY
         changed+new rows to the ``cluster_updates`` log
         (``current_clusters`` is the merge-on-read view,
         ``compact_clusters`` folds it).

    ``cluster_repair`` is refused: triangle support needs the committed
    graph, and repairing the delta's edges alone would break the
    contract below.

    Equivalence contract (tested): when no band key crosses the
    stop-band threshold across the split, ``current_clusters`` after
    increments equals ``run()`` over the concatenated input exactly.
    (A key that crosses mid-stream is dropped later than a full-corpus
    run would have dropped it — already-committed edges stay; the same
    monotonicity the reference's registry has.)
    """
    cfg = config or PipelineConfig()
    if cfg.cluster_repair:
        raise ValueError(
            "run_incremental does not support cluster_repair: triangle support "
            "needs the committed graph (re-run run() over the full input instead)"
        )
    persisted: list[DataFrame] = []
    new_transcripts = _prepare(new_transcripts, cfg)
    lint_df = transcript_lint(new_transcripts) if cfg.lint else None
    committed = {
        t: catalog.read(t) for t in ("unique_turns", "membership", "doc_index", "doc_blocks")
    }

    # 1. registry increment (probe bounded by bloom + bucket pruning)
    state: dict = {}
    merged_unique, merged_membership = lifecycle.register_turns_incremental(
        new_transcripts, committed["unique_turns"], committed["membership"],
        deps=persisted, bloom_shards=cfg.bloom_shards,
        max_driver_bytes=cfg.bloom_max_driver_bytes, state=state,
    )

    # 2. the batch's docs, keyed identically to the batch path
    ndocs = _docs_with_bands(new_transcripts, cfg).persist()
    persisted.append(ndocs)

    # 3. the shared core against the committed state
    _, cands, scored, edges = _resolve_delta(ndocs, cfg, persisted, committed)

    # 4. O(delta) cluster maintenance
    prev = current_clusters(catalog).select(
        F.col("conv_id").alias("node"), "cluster_id"
    ).persist()
    persisted.append(prev)
    merged_cc = clustering.incremental_components(prev, edges)
    all_ids = prev.select(F.col("node").alias("conv_id")).union(
        ndocs.select("conv_id")
    ).distinct()
    clusters = clustering.clusters_with_singletons(all_ids, merged_cc)

    # changed+new rows only — the O(delta) append the update log expects
    delta_rows = clusters.join(
        prev.select(F.col("node").alias("conv_id"), F.col("cluster_id").alias("_old")),
        "conv_id", "left",
    ).where(
        F.col("_old").isNull() | (F.col("_old") != F.col("cluster_id"))
    ).select("conv_id", "cluster_id")

    # 5. commit: every table takes an O(delta) append; the clusters log
    # carries a monotone version for the merge-on-read window. The
    # version is PIPELINE-OWNED (max _v in the log + 1), never a backend
    # snapshot id: SnapshotCatalog ids happen to be monotone but Iceberg
    # snapshot ids are random longs, and a non-monotone _v would rank an
    # older update above a newer one in current_clusters — silently
    # stale assignments on that backend
    if catalog.exists("cluster_updates"):
        prev_v = (
            catalog.read("cluster_updates").agg(F.max("_v")).collect()[0][0] or 0
        )
        v = int(prev_v) + 1
    else:
        v = 1
    _commit_docs(
        catalog, ndocs, state["new_unique"], state["new_membership"], mode="append"
    )
    catalog.write("edges", edges, mode="append")
    if lint_df is not None:
        catalog.write("lint", lint_df, mode="append")
    catalog.write(
        "cluster_updates",
        delta_rows.select("conv_id", "cluster_id", F.lit(v).cast("long").alias("_v")),
        mode="append",
    )

    return PipelineResult(
        clusters=clusters,
        edges=edges,
        scored_pairs=scored,
        candidate_pairs=cands,
        docs=ndocs,
        metrics=new_transcripts.sparkSession.createDataFrame(
            [], "metric string, value double"
        ),
        registry=lambda: (merged_unique, merged_membership),
        lint=lint_df,
        persisted=persisted,
    )
