"""Streaming corpus builder (st14) — the composed delivery pipeline the
r12 pieces afford: one foreachBatch body running the st13 contamination
guard, then the st11 curation verdict, then cc11's shard packing, and
emitting a per-batch delivery manifest — "what shipped from this batch,
in which shards, under which verdicts".

Per micro-batch, in production order:

1. **Contamination guard** (st13, ``guard_contamination_batch``): every
   arriving doc is screened against the PINNED benchmark shingle set
   (the guard refuses to run unpinned). Contaminated docs get a FINAL
   ``drop_contaminated`` verdict and — critically — never reach the
   curation indexes: an eval-suite document must not enter the near-dup
   banding index (where it would shadow genuine corpus docs as their
   "already admitted" twin) or the span-count index (where its n-grams
   would read as corpus duplication).
2. **Curation verdict** (st11, ``curation_verdict_batch``): the CLEAN
   docs run the composed st7 near-dup admission + st10 span trim +
   lang/quality gates, appending both indexes under
   ``<state_dir>/curation``.
3. **Shard packing** (cc11's pk1 discipline, ``pack_counts``): the
   batch's ``keep`` verdicts pack greedily into ``PACK_BUDGET``-token
   shards by their TRIMMED token counts, shard ids batch-local from 0 —
   the unit a training loader pulls from a streaming ingest.

Replay contract (the composition inherits every piece's): the guard
screens against the immutable pin only; the curation verdict replays
bit-identically (st7's same-doc_id admission exclusion + st10's
covered-batch suppression); packing is a deterministic function of the
verdicts. A crash-replayed batch therefore re-emits byte-identical
verdict AND manifest rows, and the readers' (batch_id, key) dedups are
exact, not lossy.

Scale shape per batch: the guard is one corpus-linear shingle explode +
a broadcast-pin equi-join; the curation body is the audited st7/st10
probe plans; the packing is a filter over the batch's (bounded,
materialized) verdict relation into pk1's two-level cumsum. Nothing
stream-global, nothing Python-side, no corpus-wide sort.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.corpus import DECON_N, PACK_BUDGET, pack_counts
from pdf_etl_pipeline_spark.llmdata.dedup import DUP_SPAN_N, tokens_col
from pdf_etl_pipeline_spark.streaming import driver

CURATION_SUBDIR = "curation"
LEAKAGE_SUBDIR = "leakage"
VERDICTS_SUBDIR = "builder_verdicts"
MANIFEST_SUBDIR = "builder_manifest"


def builder_manifest_df(verdicts: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """The LAZY per-batch delivery manifest over a verdict relation:
    keep-verdict docs packed into ``budget``-token shards by TRIMMED
    counts (pk1's two-level cumsum), one row per shard — (shard_id,
    n_docs, total_tokens, first_doc_id, last_doc_id). Factored out for
    the plan audit and the registered two-batch unroll."""
    keepers = verdicts.filter(F.col("verdict") == "keep").select(
        "doc_id", F.col("n_kept").alias("n_tokens")
    )
    return (
        pack_counts(keepers, budget)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


def build_corpus_batch(
    docs: DataFrame,
    state_dir: str,
    batch_id: int,
    threshold: float = 0.9,
    n: int = DUP_SPAN_N,
    decon_n: int = DECON_N,
    span_buckets: int | None = None,
    budget: int = PACK_BUDGET,
    leakage_guard: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Process one ingest batch end to end; returns ``(verdicts,
    manifest)``, both materialized. ``verdicts`` carries one FINAL row
    per incoming doc — st11's schema plus the ``drop_contaminated``
    verdict (n_kept 0, gate columns null: a contaminated doc is dropped
    before anything is trimmed or scored) and, with
    ``leakage_guard=True``, the ``drop_leaks_heldout`` verdict (st15's
    screen against the held-out index pinned under
    ``<state_dir>/leakage`` — a train doc near-dupping val/test data is
    dropped BEFORE the curation indexes, for the same isolation reason
    as contamination: a leaking doc must not enter the near-dup banding
    where it would shadow genuine corpus docs as their admitted twin).
    Verdict precedence: contaminated > leaks > curation. ``manifest`` is
    the batch's delivery manifest over its keep verdicts. Raises if no
    benchmark is pinned under ``state_dir`` (st13's refuse-to-run
    contract) — and, when the leakage stage is on, if no held-out index
    is pinned (st15's)."""
    from pdf_etl_pipeline_spark.llmdata.curation_stream import curation_verdict_batch
    from pdf_etl_pipeline_spark.streaming.contamination_guard import (
        guard_contamination_batch,
    )

    guard = guard_contamination_batch(docs, state_dir, decon_n)
    clean = docs.join(
        guard.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    v_leak = None
    if leakage_guard:
        from pdf_etl_pipeline_spark.streaming.leakage_guard import guard_leakage_batch

        leak = guard_leakage_batch(clean, os.path.join(state_dir, LEAKAGE_SUBDIR), threshold)
        leaking = leak.filter(F.col("leaks")).select("doc_id")
        v_leak = (
            clean.join(leaking, "doc_id", "left_semi")
            .select(
                "doc_id",
                F.size(tokens_col("text", distinct=False)).cast("long").alias("n_tokens"),
                F.lit(0).cast("long").alias("n_kept"),
                F.lit(False).alias("admitted"),
                F.lit(None).cast("string").alias("lang_trim"),
                F.lit(None).cast("double").alias("q_trim"),
                F.lit("drop_leaks_heldout").alias("verdict"),
            )
        )
        clean = clean.join(leaking, "doc_id", "left_anti")
    v_clean = curation_verdict_batch(
        clean,
        os.path.join(state_dir, CURATION_SUBDIR),
        batch_id=batch_id,
        threshold=threshold,
        n=n,
        span_buckets=span_buckets,
    )
    v_cont = (
        docs.join(
            guard.filter(F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
        )
        .select(
            "doc_id",
            F.size(tokens_col("text", distinct=False)).cast("long").alias("n_tokens"),
            F.lit(0).cast("long").alias("n_kept"),
            F.lit(False).alias("admitted"),
            F.lit(None).cast("string").alias("lang_trim"),
            F.lit(None).cast("double").alias("q_trim"),
            F.lit("drop_contaminated").alias("verdict"),
        )
    )
    verdicts = v_clean.unionByName(v_cont)
    if v_leak is not None:
        verdicts = verdicts.unionByName(v_leak)
    # verdicts MUST materialize eagerly: their plan reads the curation
    # indexes this batch just appended, and a later batch's append would
    # otherwise leak into a deferred evaluation (replay contract).
    verdicts = verdicts.localCheckpoint()
    # the manifest derives ONLY from the checkpointed verdict relation (no
    # index reads), so its checkpoint can be lazy (r16): consumers that
    # need it (the streaming writer, st14) materialize it with their first
    # action; consumers that don't (st16's verdict-only output) never pay
    # the packing job.
    manifest = builder_manifest_df(verdicts, budget).localCheckpoint(eager=False)
    return verdicts, manifest


def corpus_builder_stream(docs_stream: DataFrame, state_dir: str):
    """Each micro-batch runs :func:`build_corpus_batch`; verdict rows
    append under ``builder_verdicts``, manifest rows under
    ``builder_manifest``. The benchmark must be pinned
    (``contamination_guard.pin_benchmark``) before the stream starts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        verdicts, manifest = build_corpus_batch(batch_df, state_dir, batch_id)
        driver.append_batch(verdicts, batch_id, os.path.join(state_dir, VERDICTS_SUBDIR))
        driver.append_batch(manifest, batch_id, os.path.join(state_dir, MANIFEST_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_builder_verdicts(spark, state_dir: str) -> DataFrame:
    """One final verdict row per (batch, doc): every stage of the batch
    body replays bit-identically, so the dedup is exact."""
    return driver.read_batches(spark, os.path.join(state_dir, VERDICTS_SUBDIR), "doc_id")


def read_builder_manifest(spark, state_dir: str) -> DataFrame:
    """One manifest row per (batch, shard): packing is a deterministic
    function of the batch's replay-stable verdicts, so the dedup is
    exact."""
    return driver.read_batches(spark, os.path.join(state_dir, MANIFEST_SUBDIR), "shard_id")


def drop_builder_state(spark, state_dir: str) -> None:
    from pdf_etl_pipeline_spark.llmdata.curation_stream import drop_curation_state
    from pdf_etl_pipeline_spark.operators import fsutil

    drop_curation_state(spark, os.path.join(state_dir, CURATION_SUBDIR))
    fsutil.delete(state_dir, recursive=True, spark=spark)
