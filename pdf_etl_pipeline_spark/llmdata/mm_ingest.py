"""Incremental multimodal asset ingest (st17) — st7's on-disk-index
admission pattern (``llmdata/ingest.py``) applied to 64-bit perceptual
hashes: new asset batches (images/audio/video frames hashed upstream by
``multimodal.perceptual_hash`` et al.) are admitted only if they are not
near-duplicates (Hamming ≤ ``max_hamming``) of what the corpus already
holds.

Per batch:

1. **Intra-batch canonicalization**: exact pigeonhole banding pairs
   (``multimodal._banded_hash_pairs`` — distinct-hash candidates,
   hot-band recursion, popcount verify) → connected components
   (``dedup.label_components``) → keep the min-``asset_id`` canonical
   per component.
2. **Cross-batch admission**: survivors probe the ACCUMULATED index — an
   on-disk ``(asset_id, h, band_idx, band_val)`` relation partitioned by
   ``band_idx`` so the probe prunes to the probed band partitions
   (st7's ``PartitionFilters`` contract). Candidates come from the
   (band_idx, band_val) equi-join; the popcount verify runs on the
   joined row itself — the 64-bit hash RIDES IN the band row, so unlike
   MinHash ingest there is no second verify-set relation to fetch,
   no torn two-relation write window, and the whole probe is one
   equi-join + codegen filter.
3. **Index append**: admitted assets' band rows append, partitioned by
   ``band_idx``. State grows by ``PHASH_BANDS`` rows per admitted asset.

Replay contract (st7's): the probe excludes same-``asset_id`` index rows
— an index row with the batch's own asset id can only be the replayed
batch's own append — and duplicate appends are admission-neutral
(candidates are ``dropDuplicates``-ed), so a crash-replayed batch
recomputes a bit-identical admitted set.

Structural dedup guarantee the text path lacks: admitted index entries
are pairwise Hamming > ``max_hamming`` by construction (an entry within
the budget of an existing one is rejected at admission), so identical-
hash pile-ups can never accumulate IN the index — index-side banding
degeneracy is bounded without any collapse machinery; residual hot
bands (distinct hashes sharing a band value) stay bounded by the same
Hamming-separation. Batch-side degeneracy is collapsed by step 1 before
the probe ever runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.dedup import STAR_ROUNDS, label_components
from pdf_etl_pipeline_spark.llmdata.multimodal import (
    PHASH_BANDS,
    _banded_hash_pairs,
    _require_banding_complete,
)
from pdf_etl_pipeline_spark.operators.index_table import MAX_FILES_PER_BAND, Index, IndexTable
from pdf_etl_pipeline_spark.streaming import driver

BANDS_SUBDIR = "mm_bands"
DEFAULT_MAX_HAMMING = 3

# the index's single catalog table (operators/index_table.py)
MM_BANDS_REL = IndexTable("st17_bands", BANDS_SUBDIR, partition_by="band_idx")
MM_INDEX = Index(MM_BANDS_REL)
mm_bands_table = MM_BANDS_REL.name
_ensure_registered = MM_INDEX.ensure_registered
drop_mm_index = MM_INDEX.drop


def asset_bands(hashes: DataFrame, hash_col: str) -> DataFrame:
    """Per-ASSET band rows ``(asset_id, h, band_idx, band_val)`` — the
    index row shape (the distinct-hash collapse lives in the pair/probe
    plans, not the storage layout; admitted hashes are distinct anyway)."""
    return hashes.select(
        "asset_id",
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col(hash_col), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("asset_id", "h", "b.band_idx", "b.band_val")


def asset_labels(hashes: DataFrame, max_hamming: int) -> DataFrame:
    """Intra-batch canonicalization of ``(asset_id, h)``: exact banding
    pairs -> connected components, ``(asset_id, cluster_id, is_keeper)``
    with the min asset_id of each component as its keeper."""
    pairs = _banded_hash_pairs(hashes, "h", max_hamming).select(
        F.col("asset_a").alias("doc_a"), F.col("asset_b").alias("doc_b")
    )
    return label_components(
        hashes.select(F.col("asset_id").alias("doc_id")),
        pairs,
        rounds=STAR_ROUNDS,
        doubling=True,
        until_converged=True,
    ).select(F.col("doc_id").alias("asset_id"), "cluster_id", "is_keeper")


def _index_probe(
    spark, kept_hashes: DataFrame, index_dir: str, max_hamming: int, probe_bands=None
) -> DataFrame:
    """The verified ``(n, o)`` probe rows both admission plans share."""
    probe = list(range(PHASH_BANDS)) if probe_bands is None else sorted(probe_bands)
    _ensure_registered(spark, index_dir)
    ix = spark.table(mm_bands_table(index_dir)).filter(F.col("band_idx").isin(probe))
    nb = asset_bands(kept_hashes, "h").filter(F.col("band_idx").isin(probe))
    return (
        nb.alias("n")
        .join(
            ix.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_val") == F.col("o.band_val"))
            # replay exclusion: an index row with the batch's own asset id
            # is the replayed batch's own append (st7's contract)
            & (F.col("n.asset_id") != F.col("o.asset_id")),
        )
        .filter(
            F.bit_count(F.col("n.h").bitwiseXOR(F.col("o.h"))) <= max_hamming
        )
    )


def mm_admission_matches(
    spark,
    kept_hashes: DataFrame,
    index_dir: str,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    probe_bands=None,
) -> DataFrame:
    """Assets of ``kept_hashes`` (``asset_id``, ``h``) that near-dup-match
    the on-disk index: (band_idx, band_val) equi-join candidates against
    the probed band partitions (static ``PartitionFilters`` — unprobed
    partitions never read), same-asset_id replay exclusion, codegen
    popcount verify on the joined row. Probing a band subset trades
    recall for index I/O (st7's cheap-admission lever)."""
    return (
        _index_probe(spark, kept_hashes, index_dir, max_hamming, probe_bands)
        .select(F.col("n.asset_id").alias("asset_id"))
        .distinct()
    )


def mm_admission_canonicals(
    spark,
    kept_hashes: DataFrame,
    index_dir: str,
    max_hamming: int = DEFAULT_MAX_HAMMING,
) -> DataFrame:
    """:func:`mm_admission_matches` with the CANONICAL resolution st20's
    release manifest needs: for each matched probe asset, the MIN admitted
    index asset_id within the Hamming budget — ``(asset_id,
    index_canonical)``. Same probe plan (pruned band partitions, same-asset
    replay exclusion, popcount verify on the joined row); MIN is duplicate-
    insensitive, so crash-replayed appends never change the resolution."""
    return (
        _index_probe(spark, kept_hashes, index_dir, max_hamming)
        .groupBy(F.col("n.asset_id").alias("asset_id"))
        .agg(F.min(F.col("o.asset_id")).alias("index_canonical"))
    )


def mm_ingest_batch(
    batch_hashes: DataFrame,
    index_dir: str,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    hash_col: str = "phash",
) -> DataFrame:
    """Admit one batch of hashed assets against (and into) the perceptual
    index at ``index_dir``; returns the admitted ``(asset_id)`` relation,
    materialized before the index append the next batch will read."""
    _require_banding_complete(max_hamming)
    spark = batch_hashes.sparkSession
    hashes = batch_hashes.select(
        "asset_id", F.col(hash_col).alias("h")
    ).localCheckpoint()

    # 1. intra-batch: banding pairs -> components -> min-asset_id keepers
    kept = asset_labels(hashes, max_hamming).filter(F.col("is_keeper")).select("asset_id")
    kept_hashes = hashes.join(kept, "asset_id", "left_semi")

    # 2. cross-batch admission against the accumulated index
    if _ensure_registered(spark, index_dir):
        matched = mm_admission_matches(spark, kept_hashes, index_dir, max_hamming)
        kept_hashes = kept_hashes.join(matched, "asset_id", "left_anti")

    # materialize admissions BEFORE appending to the index this plan reads
    kept_hashes = kept_hashes.localCheckpoint()

    # 3. append admitted band rows (single relation — no torn-write window)
    MM_BANDS_REL.append(asset_bands(kept_hashes, "h"), index_dir)
    return kept_hashes.select("asset_id")


def compact_mm_index(
    spark,
    index_dir: str,
    max_files_per_band: int = MAX_FILES_PER_BAND,
    target_bytes: int = 128 << 20,
) -> list:
    """Steady-state maintenance for the st17 index (st7's
    ``compact_index`` contract, single-relation edition): each micro-batch
    appends one file family per ``band_idx`` partition, so admission
    probes open O(batches) files per probed partition while data volume
    doesn't grow. Rewrites only the OVER-THRESHOLD partitions via
    append-then-prune through the catalog table (no renames — object-store
    safe); admitted-set semantics are bit-identical before/after (the
    probe is duplicate-insensitive: ``distinct`` on matches), pinned by
    test. A crash between append and prune leaves duplicate index rows —
    an I/O cost, never a correctness one; re-running converges."""
    if not _ensure_registered(spark, index_dir):
        return []
    # driver-side partition loop: bounded by PHASH_BANDS (= 4) band_idx
    # directories, never by data volume — a wider-banding refactor that
    # grows the partition count must re-check this bound (same discipline
    # as _distinct_hash_band_pairs' band comment)
    compacted = MM_BANDS_REL.compact(spark, index_dir, max_files_per_band, target_bytes)
    if compacted:
        MM_INDEX.refresh(spark, index_dir)
    return compacted


def multimodal_ingest_stream(assets_stream: DataFrame, index_dir: str):
    """Each micro-batch of hashed assets goes through
    :func:`mm_ingest_batch` — same body as batch, same index on disk,
    offsets resumed from the checkpoint so a restart never replays the
    corpus; a crash-replayed batch recomputes bit-identically (see module
    docstring)."""

    def _batch(batch_df: DataFrame, _batch_id: int) -> None:
        mm_ingest_batch(batch_df, index_dir)

    return driver.run_batches(assets_stream, _batch, os.path.join(index_dir, "_checkpoint"))


# --- st18: frame-grab admission guard (pinned cross-modal screen) ---------------
# mm4's image-in-video containment as an ADMISSION GUARD (st13/st15's
# pinned-state pattern): the held corpus's video frame hashes pin ONCE
# (write-once, flat (asset_id, frame_idx, h) rows — banding happens in
# the probe plan, where the full bipartite hot-band recursion applies);
# every arriving IMAGE batch is screened before admission — an image
# within Hamming max_hamming of any pinned frame is a frame grab of held
# footage (provenance/dedup at ingest time). Batches screen against the
# PIN only (never each other), so replays recompute bit-identical
# verdict rows and the (batch_id, asset_id) report dedup is exact.

FRAMES_SUBDIR = "fg_frames"
REPORTS_SUBDIR = "fg_reports"


def _frames_path(state_dir: str) -> str:
    return os.path.join(state_dir, FRAMES_SUBDIR)


def pin_frame_index(frame_hashes: DataFrame, state_dir: str) -> bool:
    """Pin the held videos' frame hashes (write-once). Returns True when
    this call created the pin, False when one already existed."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = frame_hashes.sparkSession
    if fsutil.list_data_files(_frames_path(state_dir), spark):
        return False
    frame_hashes.select(
        "asset_id", "frame_idx", F.col("fhash").alias("h")
    ).write.mode("append").parquet(_frames_path(state_dir))
    return True


def framegrab_batch_df(
    image_hashes: DataFrame,
    pinned_frames: DataFrame,
    max_hamming: int = DEFAULT_MAX_HAMMING,
) -> DataFrame:
    """One verdict row per incoming image — (asset_id, n_matched_videos,
    n_matched_frames, best_hamming, is_framegrab). Candidates come from
    :func:`~pdf_etl_pipeline_spark.llmdata.multimodal._bipartite_distinct_band_pairs`
    (distinct image hashes × distinct pinned frame hashes with the
    hot-band recursion on BOTH sides — a letterboxed pin can't go
    quadratic), the popcount verify runs once per distinct cross pair,
    and the asset expansion is output-bounded."""
    from pdf_etl_pipeline_spark.llmdata.multimodal import (
        _bipartite_distinct_band_pairs,
    )

    _require_banding_complete(max_hamming)
    imgs = image_hashes.select("asset_id", F.col("phash").alias("h"))
    hp = (
        _bipartite_distinct_band_pairs(imgs, "h", pinned_frames, "h")
        .withColumn("hd", F.bit_count(F.col("hl").bitwiseXOR(F.col("hr"))))
        .filter(F.col("hd") <= max_hamming)
    )
    matched = (
        hp.join(imgs.select(F.col("h").alias("hl"), "asset_id"), "hl")
        .join(
            pinned_frames.select(
                F.col("h").alias("hr"),
                F.col("asset_id").alias("asset_vid"),
                "frame_idx",
            ),
            "hr",
        )
        .groupBy("asset_id")
        .agg(
            F.countDistinct("asset_vid").alias("nv"),
            F.countDistinct("asset_vid", "frame_idx").alias("nf"),
            F.min("hd").alias("bh"),
        )
    )
    return image_hashes.select("asset_id").join(matched, "asset_id", "left").select(
        "asset_id",
        F.coalesce("nv", F.lit(0)).cast("long").alias("n_matched_videos"),
        F.coalesce("nf", F.lit(0)).cast("long").alias("n_matched_frames"),
        F.col("bh").cast("long").alias("best_hamming"),
        (F.coalesce("nv", F.lit(0)) > 0).alias("is_framegrab"),
    )


def guard_framegrab_batch(
    image_hashes: DataFrame,
    state_dir: str,
    max_hamming: int = DEFAULT_MAX_HAMMING,
) -> DataFrame:
    """Screen one image batch against the pinned frame index; returns the
    materialized verdict rows. Raises if no index was pinned (st13's
    contract — a guard with nothing to guard against is a wiring error)."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = image_hashes.sparkSession
    if not fsutil.list_data_files(_frames_path(state_dir), spark):
        raise ValueError(
            f"no frame index pinned under {state_dir!r}: call pin_frame_index "
            "first (an unpinned guard would silently admit everything)"
        )
    return framegrab_batch_df(
        image_hashes, spark.read.parquet(_frames_path(state_dir)), max_hamming
    ).localCheckpoint()


def framegrab_guard_stream(images_stream: DataFrame, state_dir: str):
    """Epoch ids tag the verdict rows; the frame index must be pinned
    before the stream starts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = guard_framegrab_batch(batch_df, state_dir)
        driver.append_batch(rows, batch_id, os.path.join(state_dir, REPORTS_SUBDIR))

    return driver.run_batches(images_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_framegrab_reports(spark, state_dir: str) -> DataFrame:
    """One verdict row per (batch, image): screening is against the
    immutable pin only, so replays are bit-identical and the dedup exact."""
    return driver.read_batches(spark, os.path.join(state_dir, REPORTS_SUBDIR), "asset_id")
