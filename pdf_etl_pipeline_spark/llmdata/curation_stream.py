"""Streaming curation verdict (st11) — the streaming twin of cc9's
span-trimmed curation recipe.

The admission signals exist separately (st7 near-dup admission against
the banding index, st10 span coverage against the span-count index) but
a streaming ingest needs them COMPOSED into the per-document decision a
curation pipeline actually acts on at arrival time: keep / drop, and if
kept, with which trimmed text. Per micro-batch this module runs, in
cc9's stage order:

1. **Near-dup admission** (st7, ``ingest.ingest_batch``): intra-batch
   LSH canonicalization + cross-batch banding probe against the
   accumulated index; non-admitted docs are near-duplicates of the
   corpus (or lost their batch's canonical race).
2. **Span trim** (st10's index, ``span_ingest.trim_batch``): every
   token inside an n-gram window duplicated against (index ∪ batch) is
   removed — dd11's transform at admission time.
3. **Lang/quality gates on the TRIMMED text** (cc9's discipline: score
   what would actually ship, not the raw bytes).

The per-doc verdict row is final at admission (st7/st10's contract —
later batches never retro-update it): ``drop_neardup`` /
``drop_lang`` / ``drop_quality`` / ``keep``, beside the token
accounting (n_tokens raw, n_kept after trim) and the gate features.
:func:`curation_funnel` folds a verdict relation into the cc9-shaped
per-batch funnel (ONE conditional aggregate — no per-stage rescans).

Both underlying indexes keep their own replay/crash idempotence
contracts (st7's verify-sets-first append ordering; st10's
(batch_id, h)-dedup + self-excluding probe + meta-committed merge
generations), so a replayed micro-batch recomputes bit-identical
verdicts and :func:`read_curation_verdicts` collapses duplicate report
rows exactly.

Scale shape per batch: st7's probe is two keyed equi-joins with band
PartitionFilters; the span trim is one equi-join probe plus
doc_id-partitioned interval windows; the gates are codegen Column
expressions over the trimmed relation; the funnel is one aggregate.
Nothing corpus-global, nothing Python-side, no global sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.dedup import DUP_SPAN_N
from pdf_etl_pipeline_spark.streaming import driver

NEARDUP_SUBDIR = "neardup"
SPANIX_SUBDIR = "spans"
VERDICTS_SUBDIR = "verdicts"

LANG_KEEP = "en"
QUALITY_MIN = 0.5

_STAGES = ["raw", "neardup_admit", "span_trim", "lang", "quality"]


def curation_verdict_df(
    docs: DataFrame, admitted: DataFrame, trimmed: DataFrame
) -> DataFrame:
    """The LAZY verdict plan over one batch's signals: ``admitted`` is the
    st7 admission relation (doc_id), ``trimmed`` the st10 trim relation
    (doc_id, n_tokens, n_kept, trimmed_text). Factored out so the
    physical-plan audit can assert the composed batch body without the
    side-effecting index appends."""
    from pdf_etl_pipeline_spark.llmdata.text import with_text_gates

    # one shared tokenization for both gates (r16); q_trim rounded BEFORE
    # the gate so the oracle's round(…, 6) >= 0.5 comparison is bit-identical
    scored = with_text_gates(
        trimmed, "trimmed_text", "lang_trim", "q_trim", round_q=True
    ).select("doc_id", "n_tokens", "n_kept", "lang_trim", "q_trim")
    flagged = scored.join(
        admitted.select("doc_id", F.lit(1).alias("_a")), "doc_id", "left"
    ).withColumn("admitted", F.col("_a").isNotNull())
    return flagged.select(
        "doc_id",
        "n_tokens",
        "n_kept",
        "admitted",
        "lang_trim",
        "q_trim",
        F.when(~F.col("admitted"), F.lit("drop_neardup"))
        .when(F.col("lang_trim") != LANG_KEEP, F.lit("drop_lang"))
        .when(F.col("q_trim") < QUALITY_MIN, F.lit("drop_quality"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


def curation_verdict_batch(
    docs: DataFrame,
    index_dir: str,
    batch_id: int | None = None,
    threshold: float = 0.9,
    n: int = DUP_SPAN_N,
    span_buckets: int | None = None,
) -> DataFrame:
    """Process one ingest batch end to end: st7 admission (appends the
    near-dup index under ``<index_dir>/neardup``), st10 span trim
    (appends the span index under ``<index_dir>/spans``), lang/quality
    gates on the trimmed text. Returns the final per-doc verdict relation
    (doc_id, n_tokens, n_kept, admitted, lang_trim, q_trim, verdict);
    the heavy inputs are already materialized by the two index twins, so
    the returned plan is bounded joins over checkpointed relations."""
    from pdf_etl_pipeline_spark.llmdata.ingest import ingest_batch
    from pdf_etl_pipeline_spark.llmdata.span_ingest import trim_batch

    admitted = ingest_batch(docs, os.path.join(index_dir, NEARDUP_SUBDIR), threshold)
    trimmed = trim_batch(
        docs,
        os.path.join(index_dir, SPANIX_SUBDIR),
        n,
        batch_id=batch_id,
        span_buckets=span_buckets,
    )
    return curation_verdict_df(docs, admitted, trimmed)


def curation_funnel(verdicts: DataFrame) -> DataFrame:
    """cc9-shaped per-batch funnel over a verdict relation carrying a
    ``batch_id`` column: raw → neardup_admit → span_trim → lang →
    quality, with doc and token counts (raw tokens through the admit
    stage, TRIMMED tokens from the span_trim stage on) and retentions
    relative to the batch's raw stage. ONE conditional aggregate."""
    f_admit = F.col("admitted")
    f_lang = f_admit & (F.col("lang_trim") == LANG_KEEP)
    f_qual = f_lang & (F.col("q_trim") >= QUALITY_MIN)
    stages = [
        (F.lit(True), "n_tokens"),
        (f_admit, "n_tokens"),
        (f_admit, "n_kept"),
        (f_lang, "n_kept"),
        (f_qual, "n_kept"),
    ]
    aggs = []
    for i, (s, tok) in enumerate(stages):
        aggs.append(F.sum(F.when(s, 1).otherwise(0)).cast("long").alias(f"s{i}d"))
        aggs.append(
            F.sum(F.when(s, F.col(tok)).otherwise(0)).cast("long").alias(f"s{i}t")
        )
    wide = verdicts.groupBy("batch_id").agg(*aggs)
    stack_args = ", ".join(
        f"{i}L, '{name}', s{i}d, s{i}t, round(CAST(s{i}d AS DOUBLE) / s0d, 6), "
        f"round(CAST(s{i}t AS DOUBLE) / s0t, 6)"
        for i, name in enumerate(_STAGES)
    )
    return wide.select(
        "batch_id",
        F.expr(
            f"stack({len(_STAGES)}, {stack_args}) AS "
            "(stage, stage_name, n_docs, n_tokens, doc_retention, token_retention)"
        ),
    ).select(
        "batch_id", "stage", "stage_name", "n_docs", "n_tokens",
        "doc_retention", "token_retention",
    )


def streaming_curation_stream(docs_stream: DataFrame, index_dir: str):
    """Each micro-batch goes through :func:`curation_verdict_batch`, and
    its verdict rows append under ``verdicts`` — one growing relation of
    final curation decisions. A restart resumes from
    ``<index_dir>/_checkpoint`` (st10's restart-resume contract)."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        v = curation_verdict_batch(batch_df, index_dir, batch_id=batch_id)
        driver.append_batch(v, batch_id, os.path.join(index_dir, VERDICTS_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(index_dir, "_checkpoint"))


def read_curation_verdicts(spark, index_dir: str) -> DataFrame:
    """The final verdicts, one row per document: a recovery replay
    re-appends a batch's rows verbatim (both indexes' probes are
    replay-idempotent), so the (batch_id, doc_id) dedup is exact."""
    return driver.read_batches(spark, os.path.join(index_dir, VERDICTS_SUBDIR), "doc_id")


def drop_curation_state(spark, index_dir: str) -> None:
    from pdf_etl_pipeline_spark.llmdata.ingest import drop_index
    from pdf_etl_pipeline_spark.llmdata.span_ingest import drop_span_index
    from pdf_etl_pipeline_spark.operators import fsutil

    drop_index(spark, os.path.join(index_dir, NEARDUP_SUBDIR))
    drop_span_index(spark, os.path.join(index_dir, SPANIX_SUBDIR))
    fsutil.delete(index_dir, recursive=True, spark=spark)
