"""Training-data curation pipeline (SURVEY.md §2.11, BASELINE.json:6).

The LLM-data analogue of the reference's validate->chunk->report
pipelines (plans/pipeline.py): a composed DataFrame plan that takes a
raw documents table through the standard pretraining curation stages:

    1. exact dedup     — keep min(doc_id) per normalized fingerprint
                         (16-byte shuffle key, never the document body)
    2. quality filter  — length band + stopword ratio + punctuation
                         ratio (JVM column expressions, operators/text)
    3. language filter — marker-ratio language ID, keep allowed langs
    4. near-dup dedup  — optional SimHash stage: among pairs within
                         max_hamming, drop the higher doc_id

Stages 1-3 are pure column expressions and SQL-expressible (the
q_curation_pipeline oracle restates them in DuckDB); stage 4's hash
family is engine-specific, so it stays pytest-verified (rows-only
territory), mirroring how q_dedup_simhash is checked.

Scale notes: stage 1 shuffles 16-byte digests; stages 2-3 are
scan-local (no shuffle, fused into one WholeStageCodegen pass over the
scan); stage 4 is the banded SimHash equi-join (operators/dedup) whose
candidate count is bounded by band collisions. At 100 TB the plan's
only full-data shuffle is the fingerprint dedup.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from laser_hadoop_spark.operators import text as T
from laser_hadoop_spark.operators.dedup import simhash_pairs


@dataclass
class CurationResult:
    kept: DataFrame = field(repr=False)
    stage_counts: dict[str, int] = field(default_factory=dict)


def curation_stage_prefixes(
    documents: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 50,
    max_chars: int = 10_000,
    min_stopword_ratio: float = 0.02,
    max_punct_ratio: float = 0.2,
    allowed_langs: tuple[str, ...] = ("en",),
    dedup_strategy: str = "window",
) -> dict[str, DataFrame]:
    """Ordered lazy prefixes of the curation plan, one per stage.

    The SINGLE source of the stage construction (ADVICE r9: the round-9
    composite-pipeline probe, PERF_NOTES.md "Composite-pipeline x10
    probes", hand-duplicated these slices and would silently drift if
    the plan changed): curation_plan returns the
    last prefix of THIS dict, so a per-stage probe and the registered
    pipeline are the same computation by construction. Keys:

    - ``s1_fingerprint_dedup`` — after exact dedup (stage 1)
    - ``s2_quality_filters``   — after length/stopword/punct (stage 2)
    - ``s3_langid_filter``     — the full plan (stage 3 == curation_plan)

    dedup_strategy picks the stage-1 physical shape (results identical):

    - "window" (default): one scan, min(id) window over the fingerprint
      — shuffles full document bodies once. Measured faster at bench
      scale (1.41s vs 1.56s at sf0.1): a single scan beats the join
      form's double scan when IO dominates.
    - "none": skip stage 1 entirely (the caller dedups; see
      plans/incremental.py's split counters).
    - "semi_join": groupBy(fp).min(id) + left-semi join — scans twice
      but shuffles only 16-byte (fp, id) pairs for the aggregate, with
      AQE broadcasting the keeper set when it fits. The right choice
      when shuffling bodies is the bottleneck (very large documents or
      network-bound clusters).
    """
    # 1. exact dedup on normalized fingerprint: min(doc_id) survives
    norm = F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " ")))
    withfp = documents.withColumn("__fp", F.xxhash64(norm))
    if dedup_strategy == "semi_join":
        keepers = withfp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
        deduped = withfp.join(
            keepers, on=["__fp", id_col], how="left_semi"
        ).drop("__fp")
    elif dedup_strategy == "window":
        keep = F.col(id_col) == F.min(id_col).over(Window.partitionBy("__fp"))
        deduped = (
            withfp.withColumn("__keep", keep).where("__keep").drop("__fp", "__keep")
        )
    elif dedup_strategy == "none":
        # caller handles dedup itself (e.g. plans/incremental.py, which
        # needs separate in-batch-dup vs quality-reject counters);
        # quality verdicts are text-deterministic, so gating before an
        # external min-id dedup yields the same survivors as the fused
        # dedup-first order
        deduped = withfp.drop("__fp")
    else:
        raise ValueError(f"unknown dedup_strategy {dedup_strategy!r}")
    # 2-3. quality + language filters: scan-local column predicates.
    # The token array is materialized once ("__w") and shared by the
    # stopword ratio and all language scores — one split per row, not
    # one per marker list.
    length_ok = (F.length(text_col) >= min_chars) & (F.length(text_col) <= max_chars)
    with_words = deduped.withColumn("__w", T.words(text_col))
    w = F.col("__w")
    stop_ok = T.marker_ratio(text_col, words_col=w) >= min_stopword_ratio
    punct_ok = T.punct_ratio(text_col) <= max_punct_ratio
    lang = T.predict_lang(text_col, words_col=w)
    filtered = with_words.where(length_ok & stop_ok & punct_ok)
    full = (
        filtered.withColumn("predicted_lang", lang)
        .where(F.col("predicted_lang").isin(*allowed_langs))
        .drop("__w")
    )
    return {
        "s1_fingerprint_dedup": deduped,
        "s2_quality_filters": filtered.drop("__w"),
        "s3_langid_filter": full,
    }


def curation_plan(
    documents: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 50,
    max_chars: int = 10_000,
    min_stopword_ratio: float = 0.02,
    max_punct_ratio: float = 0.2,
    allowed_langs: tuple[str, ...] = ("en",),
    dedup_strategy: str = "window",
) -> DataFrame:
    """Stages 1-3 as one lazy plan (no action): the SQL-expressible core.

    Kept separate from curate_documents so the oracle-checked query can
    register exactly this DataFrame, and callers can append their own
    stages before triggering execution. Exactly the last prefix of
    curation_stage_prefixes — one construction site, no drift.
    """
    return curation_stage_prefixes(
        documents,
        id_col=id_col,
        text_col=text_col,
        min_chars=min_chars,
        max_chars=max_chars,
        min_stopword_ratio=min_stopword_ratio,
        max_punct_ratio=max_punct_ratio,
        allowed_langs=allowed_langs,
        dedup_strategy=dedup_strategy,
    )["s3_langid_filter"]


def curate_documents(
    documents: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup: bool = True,
    max_hamming: int = 3,
    **plan_kwargs,
) -> CurationResult:
    """Full curation run with per-stage survivor counts.

    Counting runs one action per stage boundary (like the reference's
    counter reads, LASERInputValidator.java:142-145); pipelines that
    don't need stage telemetry should use curation_plan directly and
    keep everything lazy.
    """
    counts = {"input": documents.count()}
    core = curation_plan(
        documents, id_col=id_col, text_col=text_col, **plan_kwargs
    )
    if not near_dup:
        counts["after_filters"] = core.count()
        return CurationResult(core, counts)
    core = core.cache()
    try:
        counts["after_filters"] = core.count()
        pairs = simhash_pairs(
            core, id_col=id_col, text_col=text_col, max_hamming=max_hamming
        )
        losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
        kept = core.join(losers, on=id_col, how="left_anti")
        counts["after_near_dup"] = kept.count()
        return CurationResult(kept, counts)
    finally:
        core.unpersist()
