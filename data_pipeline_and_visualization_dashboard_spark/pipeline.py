"""End-to-end batch pipeline runner (SURVEY §3.1 entry point A).

The reference notebook's lifecycle — ingest -> validate -> clean (with
removal accounting) -> derive -> persist -> register for SQL — as ONE
lazy Spark plan materialized exactly once at the parquet sink, with the
accounting aggregate riding that job (df.observe). The reference's Polars
version eagerly materializes after every step; here Catalyst fuses the
filter chain and derivations into the scan (see `explain()` on the
returned frame: one WholeStageCodegen span over the file scan).

Output is partitioned by event date: at 100 TB this is what makes
downstream date-range queries (charts F7) prune partitions instead of
scanning the world.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from .clean import clean_events_observed
from .derive import derive_event_columns
from .io import read_table, write_parquet
from .schemas import EVENTS
from .validate import validate_schema


@dataclass
class PipelineResult:
    cleaned: DataFrame          # cleaned+derived frame read back from out_path
    removal_report: dict        # single-pass V5 accounting
    out_path: str


def run_events_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
) -> PipelineResult:
    """Full reference lifecycle on the events table. The cleaned data is
    persisted to `out_path` partitioned by event date and the returned
    frame reads BACK from parquet (so downstream analytics benefit from
    partition pruning + fresh statistics, exactly like the reference's
    clean-parquet handoff, ipynb:212-243)."""
    raw = read_table(spark, sf_dir, "events")
    validate_schema(raw, EVENTS, timestamp_columns=["ts"])

    # accounting metrics ride the sink job itself (df.observe) — ONE
    # full pass total instead of write + accounting scan; see
    # clean.clean_events_observed
    cleaned, obs = clean_events_observed(raw)
    derived = derive_event_columns(cleaned)
    derived = derived.withColumn("event_date", F.to_date("ts"))
    write_parquet(derived, out_path, partition_by=["event_date"])
    report = dict(obs.get)
    derived = spark.read.parquet(out_path)

    derived.createOrReplaceTempView("events_clean")
    return PipelineResult(derived, report, out_path)


@dataclass
class CorpusPipelineResult:
    funnel: dict        # per-stage removal accounting (corpus_funnel row)
    out_dir: str
    n_survivors: int
    n_packs: int
    n_merges: int
    n_shards: int       # shard directories written under out/shards
    manifest: list      # per-shard (n_docs, n_tokens, checksum) rows


def run_corpus_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    prev_release_dir: str | None = None,
) -> CorpusPipelineResult:
    """The LLM-corpus lifecycle as ONE runner — what a user points at a
    raw documents table to get training artifacts out (the corpus twin
    of run_events_pipeline):

      1. quality → exact-dup → near-dup funnel with per-stage
         accounting (corpus_funnel);
      2. surviving docs PII-SCRUBBED (redaction happens before any
         text leaves curation — every downstream artifact is built
         from clean_text) and materialized as their own corpus
         (out/curated/documents.parquet — the layout every downstream
         operator reads), with the per-rule redaction totals in
         out/pii_report.parquet;
      3. multi-benchmark decontamination report
         (out/contamination.parquet);
      4. BPE tokenizer trained on the FULL corpus (the artifact
         predates filtering) → out/tokenizer_merges.parquet;
      5. curated corpus chunked, packed, split →
         out/packs.parquet, out/splits.parquet;
      6. retrieval index over the curated corpus →
         out/index.parquet;
      7. (r16, VERDICT r15 ask #3 — the release loop closed) the
         curated corpus written as training SHARD FILES
         (out/shards/shard=NNN/, deterministic content-hash layout
         via io.write_training_shards with curated=True: every
         curated doc ships, no second funnel), the per-shard
         accounting recomputed FROM THE WRITTEN FILES →
         out/shard_manifest.parquet, the per-(source, lang)
         release data card → out/data_card.parquet, and the
         temperature-scaled training MIXTURE PLAN over the curated
         (scrubbed) corpus → out/mixture_plan.parquet — computed
         from the text that actually ships, so its token budget is
         exactly the manifest's (totals cross-checked in tests).

    Every artifact is a plain parquet table a cluster job can read
    back; each stage is the already-oracle-backed operator, so the
    runner adds orchestration, not new semantics.  One call now emits
    the COMPLETE release: curated parquet, PII report, contamination
    report, tokenizer, packs/splits, index, shard files, manifest,
    data card.

    `prev_release_dir` (r16): point it at a PREVIOUS release's out_dir
    and the runner additionally emits out/shard_manifest_diff.parquet
    — the new manifest joined against the previous release's
    PERSISTED shard_manifest.parquet (dedup.manifest_diff_of: one
    ≤n_shards-row join, neither corpus re-scanned), whose
    needs_rewrite column is exactly the set of shard files an
    incremental publish must replace.  Content-hash shard assignment
    makes that set minimal: docs that didn't change never migrate
    shards, so an unchanged corpus diffs to needs_rewrite=false
    everywhere (pinned in tests)."""
    import os

    from pyspark.sql import functions as SF

    from .extras.bpe import bpe_train
    from .extras.dedup import (
        _funnel_flags,
        _token_hash_proj,
        contamination_multi,
        corpus_data_card,
        manifest_diff_of,
        mixture_plan_of,
    )
    from .extras.search import index_postings
    from .extras.text import PII_RULES, packing, scrub_pii, split_assign
    from .io import write_training_shards

    # ONE _funnel_flags frame feeds both the accounting row and the
    # survivor ids: corpus_funnel + corpus_survivors each rebuild it,
    # and its CC loop runs eagerly per invocation — the runner's most
    # expensive stage would otherwise be paid twice
    flags = _funnel_flags(spark, sf_dir)
    funnel = flags.agg(
        SF.count(SF.lit(1)).alias("docs_in"),
        SF.sum(SF.when(~SF.col("kept"), 1).otherwise(0)).alias(
            "removed_quality"
        ),
        SF.sum(
            SF.when(SF.col("kept") & ~SF.col("pe"), 1).otherwise(0)
        ).alias("removed_exact"),
        SF.sum(
            SF.when(SF.col("pe") & ~SF.col("pn"), 1).otherwise(0)
        ).alias("removed_neardup"),
        SF.sum(SF.when(SF.col("pn"), 1).otherwise(0)).alias("docs_out"),
    ).first().asDict()

    docs = read_table(spark, sf_dir, "documents")
    surv_ids = flags.filter(SF.col("pn")).select("doc_id")
    curated_dir = os.path.join(out_dir, "curated")
    # scrub-at-ingest: survivors' text is replaced by the redacted
    # clean_text BEFORE materialization, so packs/splits/index — and
    # anything else reading the curated layout — can never leak raw
    # PII; the per-rule totals land as their own report artifact
    # (counts are row-local codegen riding the same survivor join)
    scrubbed = scrub_pii(spark, sf_dir)
    curated_scrubbed = (
        docs.join(surv_ids, "doc_id")
        .join(scrubbed, "doc_id")
        .withColumn("text", SF.col("clean_text"))
    )
    pii_cols = [f"n_{name}" for name, _ in PII_RULES]
    write_parquet(
        curated_scrubbed.drop("clean_text", *pii_cols),
        os.path.join(curated_dir, "documents.parquet"),
    )
    pii_report = curated_scrubbed.agg(
        SF.count(SF.lit(1)).alias("docs_scrubbed"),
        *[SF.sum(c).cast("bigint").alias(c) for c in pii_cols],
    )
    write_parquet(pii_report, os.path.join(out_dir, "pii_report.parquet"))

    write_parquet(
        contamination_multi(spark, sf_dir),
        os.path.join(out_dir, "contamination.parquet"),
    )
    merges_df = bpe_train(spark, sf_dir)
    write_parquet(
        merges_df, os.path.join(out_dir, "tokenizer_merges.parquet")
    )
    packs = packing(spark, curated_dir)
    write_parquet(packs, os.path.join(out_dir, "packs.parquet"))
    write_parquet(
        split_assign(spark, curated_dir),
        os.path.join(out_dir, "splits.parquet"),
    )
    write_parquet(
        index_postings(spark, curated_dir),
        os.path.join(out_dir, "index.parquet"),
    )
    # 7. the release loop closed (VERDICT r15 ask #3): shard files
    # over the CURATED (scrubbed) corpus — curated=True because the
    # funnel already ran; re-running it on its own survivors would
    # double-filter and double-pay — manifest recomputed from the
    # written files (so it accounts for what is actually on disk,
    # scrubbed text included), and the release data card over the RAW
    # corpus (keep-rates/dup-rates describe the curation decisions,
    # which need the pre-curation denominator)
    shards_dir = os.path.join(out_dir, "shards")
    manifest_df = write_training_shards(
        spark, curated_dir, shards_dir, curated=True
    )
    write_parquet(
        manifest_df, os.path.join(out_dir, "shard_manifest.parquet")
    )
    manifest = spark.read.parquet(
        os.path.join(out_dir, "shard_manifest.parquet")
    ).orderBy("shard").collect()
    write_parquet(
        corpus_data_card(spark, sf_dir),
        os.path.join(out_dir, "data_card.parquet"),
    )
    # the sampling table a trainer consumes, computed over the
    # CURATED (scrubbed) layout — the text that actually ships — with
    # the shared _token_hash_proj tokenizer, so the plan's token
    # budget is definitionally the shard manifest's (cross-checked in
    # tests: sum(tokens_avail) == sum(manifest.n_tokens))
    curated_docs = spark.read.parquet(
        os.path.join(curated_dir, "documents.parquet")
    )
    slice_agg = (
        curated_docs.select("source", "lang", _token_hash_proj()[0])
        .groupBy("source", "lang")
        .agg(
            SF.count(SF.lit(1)).alias("n_docs"),
            SF.sum("n_tokens").alias("tokens_avail"),
        )
    )
    write_parquet(
        mixture_plan_of(slice_agg),
        os.path.join(out_dir, "mixture_plan.parquet"),
    )
    if prev_release_dir is not None:
        prev_manifest = spark.read.parquet(
            os.path.join(prev_release_dir, "shard_manifest.parquet")
        )
        write_parquet(
            manifest_diff_of(
                prev_manifest,
                spark.read.parquet(
                    os.path.join(out_dir, "shard_manifest.parquet")
                ),
            ),
            os.path.join(out_dir, "shard_manifest_diff.parquet"),
        )
    return CorpusPipelineResult(
        funnel=funnel,
        out_dir=out_dir,
        n_survivors=int(funnel["docs_out"]),
        n_packs=spark.read.parquet(
            os.path.join(out_dir, "packs.parquet")
        ).count(),
        n_merges=merges_df.count(),
        n_shards=len(manifest),
        manifest=manifest,
    )
