"""Multimodal guarded streaming RELEASE builder (st20) — the multimodal
twin of st16's composed capstone: one foreachBatch body running, in
production order over a stream of (doc_id, text, phash) multimodal
documents,

1. **Containment guard** (st19, ``guard_containment_batch``): every
   arriving doc's TEXT is screened against the pinned held-corpus
   containment index — an excerpt/expansion of held content gets a FINAL
   ``drop_contained`` verdict and never reaches the later stages (index
   isolation: a held twin must not enter the asset index where it would
   shadow genuine corpus assets as their admitted copy).
2. **Frame-grab guard** (st18, ``guard_framegrab_batch``): survivors'
   IMAGE hashes are screened against the pinned held-video frame index —
   a frame grab of held footage gets ``drop_framegrab``.
3. **Asset admission with canonical resolution** (st17 + cc15's
   semantics): survivors run the mm-ingest body — intra-batch banding-
   pair components keep one canonical asset per component, component
   keepers probe the accumulated band-partitioned index, unmatched
   keepers ADMIT (band rows append). Every surviving doc resolves its
   ``canonical_asset``: itself when it is the admitted keeper, its
   component keeper when deduped intra-batch, or the MIN matching
   already-admitted asset when its keeper near-dups the index. Docs whose
   asset is a near-dup (``canonical_asset != doc_id``) get
   ``drop_dup_asset`` — the canonical column tells the training loader
   WHICH shipped asset carries the content (cc15's keeper resolution,
   streaming edition).
4. **Per-batch delivery manifest**: the batch's ``admit`` verdicts pack
   greedily into ``budget``-token shards by token count (pk1's two-level
   cumsum), one row per (batch, shard).

Verdict precedence: contained > frame-grab > dup-asset > admit — both
guard families drop BEFORE the asset index sees the doc.

Replay contract (every fragment's, composed): guards screen against
immutable pins only; the admission probe excludes same-``asset_id``
index rows (a row with the batch's own asset id can only be the
replayed batch's own append) and admitted assets are pairwise
Hamming-separated BY CONSTRUCTION — two same-batch keepers within the
budget would have been banding-paired into one component — so a
replayed keeper can never newly match its own batch's appends; the MIN
canonical aggregate is duplicate-insensitive. A crash-replayed batch
therefore re-emits byte-identical verdict AND manifest rows, and the
readers' (batch_id, key) dedups are exact.

Scale shape per batch: the containment guard is one corpus-linear
tokenize+rank pass + prefix×postings equi-joins (positional/length
pre-filtered); the frame-grab guard is the bipartite distinct-hash
banding against the pin; admission is one equi-join against the pruned
band partitions + a codegen popcount; packing is the audited two-level
cumsum over the batch's bounded verdict relation. Nothing stream-global,
no corpus-wide sort, no Python in the hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.corpus import PACK_BUDGET, pack_counts
from pdf_etl_pipeline_spark.llmdata.dedup import (
    SHINGLE_N,
    STAR_ROUNDS,
    label_components,
    shingles_col,
    tokens_col,
)
from pdf_etl_pipeline_spark.streaming import driver

# The containment screen's set unit is word SHINGLES (order-sensitive
# n-grams), not bag-of-words tokens: an excerpt is a SPAN of held content,
# and on a small shared vocabulary every doc's token set is contained in
# every longer doc's — shingles keep the screen meaningful (measured on
# the synthetic corpus: token containment flags 100% of docs, shingle
# containment flags exactly the planted cross-split excerpts).
CONT_UNIT_N = SHINGLE_N

CONT_SUBDIR = "cont"
FG_SUBDIR = "fg"
ASSETS_SUBDIR = "assets"
VERDICTS_SUBDIR = "mmr_verdicts"
MANIFEST_SUBDIR = "mmr_manifest"


def pin_mm_release_state(
    held_docs: DataFrame, held_frames: DataFrame, state_dir: str
) -> bool:
    """Pin both guard indexes for the release stream (write-once each):
    the held corpus's text containment index under ``<state>/cont`` and
    its video frame hashes under ``<state>/fg``. Returns True when both
    pins EXIST after the call — created now, pre-existing, or a mix. The
    mixed case matters (r15 ADVICE): a crash between the two sub-pin
    writes leaves a half-pinned state where the retry's first sub-pin
    reports 'already existed' (False) while the retry genuinely completes
    the pin — ``a and b`` would then fail every retry forever. Each
    sub-pin is itself crash-safe (existence judged on its LAST-written
    relation), so success is judged on post-call existence, not on who
    created what."""
    from pdf_etl_pipeline_spark.llmdata.mm_ingest import _frames_path, pin_frame_index
    from pdf_etl_pipeline_spark.operators import fsutil
    from pdf_etl_pipeline_spark.streaming.containment_guard import (
        _cont_paths,
        pin_containment_index,
    )

    spark = held_docs.sparkSession
    cont_dir = os.path.join(state_dir, CONT_SUBDIR)
    fg_dir = os.path.join(state_dir, FG_SUBDIR)
    pin_containment_index(
        held_docs, cont_dir, unit_col=shingles_col("text", CONT_UNIT_N)
    )
    pin_frame_index(held_frames, fg_dir)
    return bool(fsutil.list_data_files(_cont_paths(cont_dir)[0], spark)) and bool(
        fsutil.list_data_files(_frames_path(fg_dir), spark)
    )


def mm_release_manifest_df(verdicts: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """The LAZY per-batch delivery manifest: admit-verdict docs packed into
    ``budget``-token shards (pk1's two-level cumsum), one row per shard."""
    admits = verdicts.filter(F.col("verdict") == "admit").select("doc_id", "n_tokens")
    return (
        pack_counts(admits, budget)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
    )


def mm_release_batch(
    docs: DataFrame,
    state_dir: str,
    batch_id: int,
    threshold: float = 0.9,
    max_hamming: int = 3,
    budget: int = PACK_BUDGET,
) -> tuple[DataFrame, DataFrame]:
    """Process one multimodal ingest batch (``doc_id``, ``text``,
    ``phash``) end to end; returns ``(verdicts, manifest)``, both
    materialized. ``verdicts`` carries one FINAL row per incoming doc —
    (doc_id, n_tokens, verdict, canonical_asset); guard-dropped docs
    carry a NULL canonical (they never reach resolution). Raises when
    either pin is missing (st13's refuse-to-run contract)."""
    from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
        _bands_path,
        _ensure_registered,
        asset_bands,
        guard_framegrab_batch,
        mm_admission_canonicals,
        mm_bands_table,
    )
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        _banded_hash_pairs,
        _require_banding_complete,
    )
    from pdf_etl_pipeline_spark.streaming.containment_guard import (
        guard_containment_batch,
    )

    _require_banding_complete(max_hamming)
    spark = docs.sparkSession
    n_toks = F.size(tokens_col("text", distinct=False)).cast("long")

    # 1. containment guard (text) — FINAL drop, never reaches the index
    cont = guard_containment_batch(
        docs.select("doc_id", "text"), os.path.join(state_dir, CONT_SUBDIR),
        batch_id, threshold, unit_col=shingles_col("text", CONT_UNIT_N),
    )
    contained = cont.filter(F.col("is_excerpt")).select("doc_id")
    s1 = docs.join(contained, "doc_id", "left_anti")

    # 2. frame-grab guard (image vs pinned held frames)
    fg = guard_framegrab_batch(
        s1.select(F.col("doc_id").alias("asset_id"), "phash"),
        os.path.join(state_dir, FG_SUBDIR), batch_id, max_hamming,
    )
    grabbed = fg.filter(F.col("is_framegrab")).select(
        F.col("asset_id").alias("doc_id")
    )
    s2 = s1.join(grabbed, "doc_id", "left_anti")

    # 3. asset admission + canonical resolution (the mm-ingest body, with
    # cc15's keeper resolution kept instead of discarded)
    index_dir = os.path.join(state_dir, ASSETS_SUBDIR)
    hashes = s2.select(
        F.col("doc_id").alias("asset_id"), F.col("phash").alias("h")
    ).localCheckpoint()
    pairs = _banded_hash_pairs(hashes, "h", max_hamming).select(
        F.col("asset_a").alias("doc_a"), F.col("asset_b").alias("doc_b")
    )
    labels = label_components(
        hashes.select(F.col("asset_id").alias("doc_id")),
        pairs,
        rounds=STAR_ROUNDS,
        doubling=True,
        until_converged=True,
    ).select(F.col("doc_id").alias("asset_id"), "cluster_id", "is_keeper")
    kept_hashes = hashes.join(
        labels.filter(F.col("is_keeper")).select("asset_id"), "asset_id", "left_semi"
    )
    if _ensure_registered(spark, index_dir):
        canon_ix = mm_admission_canonicals(spark, kept_hashes, index_dir, max_hamming)
        admitted = kept_hashes.join(canon_ix, "asset_id", "left_anti")
    else:
        canon_ix = spark.createDataFrame([], "asset_id long, index_canonical long")
        admitted = kept_hashes
    admitted = admitted.localCheckpoint()
    name = mm_bands_table(index_dir)
    w = (
        asset_bands(admitted, "h")
        .write.mode("append")
        .format("parquet")
        .partitionBy("band_idx")
    )
    if not spark.catalog.tableExists(name):
        w = w.option("path", _bands_path(index_dir))
    w.saveAsTable(name)
    # canonical per surviving doc: its component keeper, redirected to the
    # keeper's min index match when the keeper was already represented
    resolved = (
        labels.select("asset_id", "cluster_id")
        .join(
            canon_ix.select(
                F.col("asset_id").alias("cluster_id"), "index_canonical"
            ),
            "cluster_id",
            "left",
        )
        .select(
            F.col("asset_id").alias("doc_id"),
            F.coalesce("index_canonical", "cluster_id").alias("canonical_asset"),
        )
    )

    # 4. one FINAL verdict row per incoming doc (precedence: contained >
    # frame-grab > dup-asset > admit)
    v_cont = docs.join(contained, "doc_id", "left_semi").select(
        "doc_id", n_toks.alias("n_tokens"),
        F.lit("drop_contained").alias("verdict"),
        F.lit(None).cast("long").alias("canonical_asset"),
    )
    v_grab = docs.join(grabbed, "doc_id", "left_semi").select(
        "doc_id", n_toks.alias("n_tokens"),
        F.lit("drop_framegrab").alias("verdict"),
        F.lit(None).cast("long").alias("canonical_asset"),
    )
    v_live = s2.join(resolved, "doc_id").select(
        "doc_id", n_toks.alias("n_tokens"),
        F.when(F.col("canonical_asset") != F.col("doc_id"), "drop_dup_asset")
        .otherwise("admit")
        .alias("verdict"),
        "canonical_asset",
    )
    verdicts = v_live.unionByName(v_cont).unionByName(v_grab).localCheckpoint()
    manifest = mm_release_manifest_df(verdicts, budget).localCheckpoint()
    return verdicts, manifest


def mm_release_stream(docs_stream: DataFrame, state_dir: str):
    """Verdict rows append under ``mmr_verdicts``, manifest rows under
    ``mmr_manifest``. Both pins (``pin_mm_release_state``) must exist
    before the stream starts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        verdicts, manifest = mm_release_batch(batch_df, state_dir, batch_id)
        driver.append_batch(verdicts, batch_id, os.path.join(state_dir, VERDICTS_SUBDIR))
        driver.append_batch(manifest, batch_id, os.path.join(state_dir, MANIFEST_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_mm_release_verdicts(spark, state_dir: str) -> DataFrame:
    """One final verdict row per (batch, doc): every stage replays
    bit-identically, so the dedup is exact."""
    return driver.read_batches(spark, os.path.join(state_dir, VERDICTS_SUBDIR), "doc_id")


def read_mm_release_manifest(spark, state_dir: str) -> DataFrame:
    return driver.read_batches(spark, os.path.join(state_dir, MANIFEST_SUBDIR), "shard_id")


def drop_mm_release_state(spark, state_dir: str) -> None:
    from pdf_etl_pipeline_spark.llmdata.mm_ingest import drop_mm_index
    from pdf_etl_pipeline_spark.operators import fsutil

    drop_mm_index(spark, os.path.join(state_dir, ASSETS_SUBDIR))
    fsutil.delete(state_dir, recursive=True, spark=spark)
