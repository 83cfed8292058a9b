"""End-to-end corpus curation: the composed training-data pipeline.

The individual operators (quality scoring, language ID, near-dup
clustering, canonical selection, deterministic splits, token-shard
packing) each have their own oracle-checked query; this module wires
them into the one flow a 100 TB pretraining-data run actually
executes, in the cost-correct order:

1. map-only gates first (quality, language, length) — cheapest per
   byte, run at scan speed, shrink everything downstream;
2. exact dedup next (one hash shuffle);
3. near-dup clustering on the survivors (bucketed LSH, log-round
   connected components) with highest-quality canonical selection;
4. deterministic split + token-shard packing last, on the final
   corpus.

Every stage is observable: the returned stats frame counts what each
gate removed (the reference's "critical subset" logging discipline,
pipelines/rj_smtr/utils.py:436-465, applied to corpus hygiene).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelines_spark.llm.dedup import (
    _attach_staging,
    connected_components,
    exact_dedup,
    minhash_near_dup_pairs,
    release_staging,
)
from pipelines_spark.llm.sampling import (
    assign_split,
    cap_per_source,
    pack_token_shards,
)
from pipelines_spark.llm.text import language_id, quality_score, token_count


#: The registered-query configuration of the composed pipeline
#: (queries.curation_pipeline / curation_funnel_stats). Interpolated
#: into BOTH engines — the Spark CurationConfig and the DuckDB oracle
#: CTE chain (oracles._CURATION_CTE) — so tuning it can never
#: desynchronize the two (the DEDUP_CAP discipline, llm/dedup.py:47).
BENCH_CONFIG: dict = {
    "min_quality": 0.3,
    "min_tokens": 5,
    "near_dup_threshold": 0.5,
    "shard_tokens": 2_000,
    "shard_buckets": 8,
    "max_per_source": 20,
}

#: the FULL-gate configuration: every optional stage on — the CCNet
#: LM-entropy gate (trained on the post-exact-dedup corpus) and the
#: span-dedup gate run between exact dedup and LSH. Thresholds picked
#: to BITE on the test corpus (h_bits p90 ≈ 4.95; 33 docs carry
#: duplicated 8-word windows at sf0.01) so the driver row actually
#: exercises the gates. Interpolated into the oracle cascade like
#: BENCH_CONFIG.
BENCH_CONFIG_FULL: dict = {
    **BENCH_CONFIG,
    "max_entropy_bits": 4.95,
    "max_dup_frac": 0.2,
}

#: the SCORED configuration: the full cascade plus the hashed-feature
#: linear-classifier gate (llm/text.py::linear_classifier_score) as
#: stage 1c — the RedPajama/CCNet "quality classifier" slot. 0.54
#: sits just below the corpus's score median so the gate bites
#: without starving the downstream dedup stages.
BENCH_CONFIG_SCORED: dict = {
    **BENCH_CONFIG_FULL,
    "min_classifier_score": 0.54,
}


@dataclass
class CurationConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    min_quality: float = 0.3
    allowed_langs: tuple[str, ...] | None = None
    min_tokens: int = 5
    near_dup_threshold: float = 0.5
    shard_tokens: int = 100_000
    shard_buckets: int = 8
    split: bool = True
    #: CCNet-style LM gate: drop docs whose bigram cross-entropy
    #: (bits, llm/text.py::ngram_cross_entropy — trained on the
    #: post-exact-dedup corpus) exceeds this. None disables.
    max_entropy_bits: float | None = None
    #: span-dedup gate: drop docs whose corpus-duplicated-window
    #: fraction (llm/text.py::duplicate_spans) exceeds this.
    #: None disables.
    max_dup_frac: float | None = None
    #: hashed-feature linear-classifier gate (the RedPajama "quality
    #: classifier" slot): drop docs whose
    #: llm/text.py::linear_classifier_score falls below this.
    #: Map-only (one JVM HOF, no shuffle). None disables.
    min_classifier_score: float | None = None
    #: RefinedWeb-style per-source cap: keep at most this many docs
    #: per ``source_col`` (highest quality first, id-asc ties), so no
    #: head domain dominates the token budget or the dedup stages'
    #: hot keys. None disables.
    max_per_source: int | None = None
    source_col: str = "source"
    extra: dict = field(default_factory=dict)


def curate_corpus(
    docs: DataFrame,
    config: CurationConfig | None = None,
    *,
    collect_stats: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Run the full curation pipeline; returns (curated, stats).

    ``curated``: one row per kept document with ``quality``,
    ``detected_lang``, ``n_tokens``, ``component_id`` (its near-dup
    cluster), plus ``split`` / ``bucket`` / ``shard_no`` assignment.
    ``stats``: (stage, n_docs) counts after each stage; the input
    count is an extra scan of the raw corpus and the per-stage counts
    are actions over persisted frames — pass ``collect_stats=False``
    for a zero-extra-job plan — no counts, no eager actions; stage
    boundaries use LAZY localCheckpoints (GC-freed, nothing for the
    caller to release) so multi-consumer stages materialize once
    (stats comes back ``None``).

    Cache lifecycle: intermediate persists are released before
    return; the final canonical frame stays cached (the returned
    DataFrame is a projection over it, so follow-up actions — the
    normal case: write-to-lake next — reuse stages 1-3) and is
    recorded on ``curated``: call ``llm/dedup.py::release_staging``
    on it once the corpus is written. ``collect_stats=False`` skips
    persisting entirely.
    """
    cfg = config or CurationConfig()
    id_c, text_c = cfg.id_col, cfg.text_col
    spark = docs.sparkSession

    # docs keeps the caller's partitioning: a registered table arrives
    # widened by queries.register (guide §2.5, size-derived split
    # count), the one place a scan is split; every downstream stage
    # boundary inherits that layout, and a small single-split input
    # stays unsplit (no fan-out to near-empty tasks).

    def persist(df: DataFrame) -> DataFrame:
        # stats path: explicit persist + unpersist (we control when
        # everything materializes). Lazy path: LAZY localCheckpoint —
        # no extra job, but each stage boundary still materializes
        # ONCE on first use instead of re-deriving the whole upstream
        # chain per consumer (the full-gate config has ~6 consumers of
        # the gated chain: measured 28.7 s → 8.1 s warm at sf0.1).
        # Blocks are executor-local and freed when the frames are
        # GC'd — no unpersist obligation on the caller.
        if collect_stats:
            return df.persist()
        from pipelines_spark.plans.staging import stage

        return stage(df, eager=False)

    counts: list[tuple[str, int]] = (
        [("input", docs.count())] if collect_stats else []
    )

    # 1. map-only gates (ride the scan; no shuffle)
    gated = (
        docs.withColumn("quality", quality_score(text_c))
        .withColumn("detected_lang", language_id(text_c))
        .withColumn("n_tokens", token_count(text_c))
        .filter(
            (F.col("quality") >= cfg.min_quality)
            & (F.col("n_tokens") >= cfg.min_tokens)
        )
    )
    if cfg.allowed_langs is not None:
        gated = gated.filter(F.col("detected_lang").isin(*cfg.allowed_langs))
    gated = persist(gated)
    if collect_stats:
        counts.append(("quality_lang_gate", gated.count()))
    # every superseded stage frame, unpersisted on the stats path
    released: list[DataFrame] = []

    # 1b. optional linear-classifier gate. Two equivalent
    # formulations exist (equality pinned in tests): the map-only HOF
    # (llm/text.py::linear_classifier_score — zero shuffle, the
    # 1000-executor shape) and this explode + hash-aggregate +
    # semi-join one. Locally the HOF's interpreted per-element
    # lambdas (md5+conv per word) cost ~5× the codegen'd explode —
    # the same measured tradeoff behind minhash's explode formulation
    # (llm/dedup.py::_minhash_signatures) — so the composed pipeline
    # takes the codegen path; swap to the HOF when the extra doc_id
    # shuffle costs more than the lambda overhead.
    if cfg.min_classifier_score is not None:
        from pipelines_spark.llm.sampling import hash_bucket

        scores = (
            gated.select(
                id_c,
                F.explode(F.array_distinct(F.split(text_c, " "))).alias("_w"),
            )
            .select(
                id_c, ((hash_bucket("_w", buckets=64) % 21) - 10).alias("_wt")
            )
            .groupBy(id_c)
            .agg(
                F.sum("_wt").alias("_sw"), F.count(F.lit(1)).alias("_nf")
            )
            .select(
                id_c,
                F.round(
                    F.lit(1.0)
                    / (
                        F.lit(1.0)
                        + F.exp(
                            -(
                                F.lit(0.2)
                                + (F.col("_sw") / F.lit(10.0)) / F.col("_nf")
                            )
                        )
                    ),
                    6,
                ).alias("_score"),
            )
        )
        keep = scores.filter(
            F.col("_score") >= cfg.min_classifier_score
        ).select(id_c)
        released.append(gated)
        gated = persist(gated.join(keep, id_c, "semi"))
        if collect_stats:
            counts.append(("classifier_gate", gated.count()))

    # 1c. optional per-source cap (one window shuffle on the source
    # key, WindowGroupLimit-bounded) — before the dedup stages so
    # their shuffles see the already-shrunk, head-domain-free corpus
    if cfg.max_per_source is not None:
        released.append(gated)
        gated = persist(
            cap_per_source(
                gated,
                source_col=cfg.source_col,
                id_col=id_c,
                order_col="quality",
                n_max=cfg.max_per_source,
            )
        )
        if collect_stats:
            counts.append(("source_cap", gated.count()))

    # 2. exact dedup: keep the min-id doc of each identical-text group
    canon = exact_dedup(gated, [text_c], id_c).select(
        F.col("canonical_id").alias(id_c)
    )
    exact_kept = persist(gated.join(canon, id_c, "semi"))
    if collect_stats:
        counts.append(("exact_dedup", exact_kept.count()))

    # 2b. optional corpus-statistics gates, trained on the
    # post-exact-dedup corpus (CCNet order: dedup before the LM so
    # duplicated boilerplate can't dominate the model it is judged
    # by). Both are linear aggregate+join passes.
    if cfg.max_entropy_bits is not None:
        from pipelines_spark.llm.text import ngram_cross_entropy

        # left-join rather than semi: docs with <2 tokens produce no
        # bigrams and therefore no score row — they pass the gate
        # (h_bits IS NULL) instead of being silently dropped.
        scores = ngram_cross_entropy(
            exact_kept, id_col=id_c, text_col=text_c
        ).select(id_c, "h_bits")
        released.append(exact_kept)
        exact_kept = persist(
            exact_kept.join(scores, id_c, "left")
            .filter(
                F.col("h_bits").isNull()
                | (F.col("h_bits") <= cfg.max_entropy_bits)
            )
            .drop("h_bits")
        )
        if collect_stats:
            counts.append(("lm_entropy_gate", exact_kept.count()))
    if cfg.max_dup_frac is not None:
        from pipelines_spark.llm.text import duplicate_spans

        keep_ids = duplicate_spans(
            exact_kept, id_col=id_c, text_col=text_c
        ).filter(F.col("dup_frac") <= cfg.max_dup_frac).select(id_c)
        released.append(exact_kept)
        exact_kept = persist(exact_kept.join(keep_ids, id_c, "semi"))
        if collect_stats:
            counts.append(("dup_span_gate", exact_kept.count()))

    # 3. near-dup clustering + best-quality canonical per component
    # staging caches are only attached (and later released) on the
    # stats path, where we control when everything materializes; with
    # collect_stats=False the stage boundaries are lazy localCheckpoints
    # (GC-freed), so nothing needs explicit release for the session.
    if collect_stats:
        # the stats path's persist() keeps stage RE-READS cheap but
        # does NOT truncate the LOGICAL plan; by stage 3 the tree is
        # deep enough that connected_components' per-iteration
        # re-analysis dominates the driver (measured: the canonical
        # stage took 16 s at sf0.1 with the full-gate tree and 45 s
        # with one more gate stage, on 361 cached docs). A lazy
        # localCheckpoint boundary hands CC a shallow LogicalRDD
        # input — blocks free on GC like the lazy path's.
        from pipelines_spark.plans.staging import stage as _cut

        # keep the cached frame on the release list — the checkpoint
        # wrapper would otherwise shadow it and leak its cache entry
        released.append(exact_kept)
        exact_kept = _cut(exact_kept, eager=False)
    pairs = minhash_near_dup_pairs(
        exact_kept, id_col=id_c, text_col=text_c,
        threshold=cfg.near_dup_threshold,
        log_hot_buckets=collect_stats,
        persist_staging=collect_stats,
    )
    labels = connected_components(pairs).select(
        F.col("node").alias(id_c), "component_id"
    )
    labeled = exact_kept.join(labels, id_c, "left").withColumn(
        "component_id", F.coalesce("component_id", F.col(id_c))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality").desc(), F.col(id_c).asc()
    )
    canonical = curated = persist(
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if collect_stats:
        counts.append(("near_dup_canonical", curated.count()))

    # 4. deterministic split + token-shard packing
    if cfg.split:
        curated = assign_split(curated, id_c)
    curated = pack_token_shards(
        curated, id_c, "n_tokens",
        shard_tokens=cfg.shard_tokens, n_buckets=cfg.shard_buckets,
    )

    if collect_stats:
        gated.unpersist()
        exact_kept.unpersist()
        for frame in released:
            frame.unpersist()
        # the LSH staging tables (shingles, banded keys) are persisted
        # inside minhash_near_dup_pairs; the canonical count above has
        # materialized everything that needs them
        release_staging(pairs)
        # the caller owns the cached canonical frame: release_staging
        # (curated) after its last action
        curated = _attach_staging(curated, (canonical,))
        stats = spark.createDataFrame(counts, "stage string, n_docs long")
    else:
        stats = None
    return curated, stats
