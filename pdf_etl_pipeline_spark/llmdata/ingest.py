"""Incremental near-dup corpus ingest — the streaming twin of the
MinHash-LSH dedup path (north-star op set).

A 100 TB training corpus is not deduped once: it is INGESTED — new document
batches arrive (crawl drops, partner deliveries) and must be admitted only
if they are not near-duplicates of what the corpus already holds. This
module implements the standard online semantics:

1. **Intra-batch canonicalization**: connected components over the batch's
   own LSH pair graph (``label_components``, pointer-doubling, convergence
   observed) — keep one canonical doc (min doc_id) per near-dup component.
2. **Cross-batch admission**: surviving docs are checked against the
   ACCUMULATED index — an on-disk ``(doc_id, band, key)`` banding relation
   plus ``(doc_id, toks)`` verify sets of every previously-admitted doc.
   Candidates come from the same (band, key) equi-join as the batch path;
   exact Jaccard verifies; matched docs are rejected.
3. **Index append**: admitted docs' bands and token-hash sets append to the
   index. The bands relation is written **partitioned by ``band``** so the
   admission scan prunes to exactly the probed band partitions
   (``PartitionFilters`` on the index scan — asserted in tests); the verify
   sets are hash-clustered by ``doc_id`` on write (one file family per hash
   bucket; a metastore-bucketed table at cluster scale) so the survivor
   semi-join touches a clustered, splittable layout rather than whatever
   file boundaries the batch happened to produce.

Online-vs-offline divergence (inherent, documented): admission compares
against ADMITTED docs only. A chain A≈B, B≈C split across batches admits C
when B was rejected (B≈A) but C≉A — offline clustering would drop C via
the B-bridge. Offline keepers are always a SUBSET of the ingest's kept set
when batches arrive in doc_id order (the component minimum is kept at
batch level and can never match an earlier-admitted doc of its own
component — that doc would have a smaller id); pinned by test.

Scale notes: per batch, cost is one md5 pass over the batch + two keyed
equi-joins whose shuffle key is the band key; the index side is
semi-joined down to banding survivors before the verify join, so the
full index's token sets are never shuffled. Nothing is quadratic in the
corpus; state grows by (4 band rows + 1 tok-set row) per admitted doc.

Reference parity note: this generalizes the reference's only incremental
behavior — insert-dedup on re-runs (db_connection.py:41-47, exact-key
anti-join) — from exact keys to near-duplicate content.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.dedup import (
    BANDS,
    STAR_ROUNDS,
    band_pairs,
    bands_from_signatures,
    hashed_tokens,
    jaccard,
    label_components,
    pair_sets,
    signatures_from_hashed,
    verified,
)
from pdf_etl_pipeline_spark.operators import fsutil
from pdf_etl_pipeline_spark.operators.index_table import MAX_FILES_PER_BAND, Index, IndexTable
from pdf_etl_pipeline_spark.session import materialized
from pdf_etl_pipeline_spark.streaming import driver

BANDS_SUBDIR = "bands"
TOKS_SUBDIR = "toks"
TOK_BUCKETS = 8  # hash-cluster width for the verify-set files

# the index's catalog tables (operators/index_table.py); existence is
# judged on the bands relation
BANDS_REL = IndexTable("st7_bands", BANDS_SUBDIR, partition_by="band")
TOKS_REL = IndexTable("st7_toks", TOKS_SUBDIR)
INDEX = Index(BANDS_REL, TOKS_REL)
bands_table = BANDS_REL.name
toks_table = TOKS_REL.name
_ensure_registered = INDEX.ensure_registered
drop_index = INDEX.drop


def admission_matches(
    spark,
    bands: DataFrame,
    toks: DataFrame,
    kept: DataFrame,
    index_dir: str,
    threshold: float = 0.9,
    probe_bands=None,
) -> DataFrame:
    """Docs of ``kept`` that near-dup-match the on-disk index: banding
    candidates from a (band, key) equi-join against the index, verified by
    exact Jaccard on the pruned verify sets.

    ``probe_bands`` (default: all ``BANDS``) is the cheap-admission lever —
    probing a subset of bands trades recall for index I/O, and because the
    index is partitioned by ``band`` the subset becomes a static
    ``PartitionFilters`` entry on the scan: unprobed partitions are never
    read (asserted in tests). With the default all-band probe the filter
    still bounds the scan to the current banding config's partitions, so
    rows from a retired wider config can coexist in the index without ever
    being scanned."""
    probe = list(range(BANDS)) if probe_bands is None else sorted(probe_bands)
    _ensure_registered(spark, index_dir)
    ex_bands = spark.table(bands_table(index_dir)).filter(F.col("band").isin(probe))
    xc = (
        bands.filter(F.col("band").isin(probe))
        .join(kept, "doc_id", "left_semi")
        .alias("n")
        .join(
            ex_bands.alias("o"),
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.key") == F.col("o.key"))
            # Self-match guard for crash-replay: a doc is ingested exactly
            # once, so an index row with the SAME doc_id can only be the
            # replayed batch's own append (the crash happened after the
            # index write). Without this, every replayed doc self-matches
            # at Jaccard 1.0 and the replay flips all verdicts to
            # drop_neardup — breaking the bit-identical-replay contract
            # (st11). Pinned by test_curation_replay_is_bit_identical.
            & (F.col("n.doc_id") != F.col("o.doc_id")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("o.doc_id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    ex_toks = (
        spark.table(toks_table(index_dir))
        # semi-join the index's verify sets down to banding survivors
        # BEFORE the verify join — the full index never shuffles
        .join(xc.select(F.col("old_id").alias("doc_id")).distinct(), "doc_id", "left_semi")
    )
    pairs = xc.join(
        toks.select(F.col("doc_id").alias("new_id"), F.col("toks").alias("ta")), "new_id"
    ).join(ex_toks.select(F.col("doc_id").alias("old_id"), F.col("toks").alias("tb")), "old_id")
    return (
        verified(pairs, ["new_id"], threshold, jaccard=jaccard("ta", "tb"))
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )


def ingest_batch(
    batch_docs: DataFrame,
    index_dir: str,
    threshold: float = 0.9,
    compact_threshold: int | None = None,
) -> DataFrame:
    """Admit one batch against (and into) the near-dup index at
    ``index_dir``; returns the admitted ``(doc_id)`` relation, already
    materialized (the index directory may be rewritten by later batches).

    ``compact_threshold``: when set, band partitions holding more than
    that many data files after the append are compacted in place
    (:func:`compact_index`) — the steady-state maintenance lever: without
    it, every micro-batch leaves one file family per partition and the
    file count grows without bound (measured in SCALE.md: 267
    files/partition after 24 batches vs bounded with compaction; on
    local SSD the per-batch admission latency is flat either way at that
    count — the lever is sized for object-store file-open/listing costs,
    and the in-loop compaction itself costs ~10% per batch).
    """
    spark = batch_docs.sparkSession
    # the batch relations stay cached up to the last index append and are
    # released on exit, also when a step in between raises
    with (
        materialized(hashed_tokens(batch_docs)) as hashed,
        materialized(bands_from_signatures(signatures_from_hashed(hashed))) as bands,
        materialized(hashed.groupBy("doc_id").agg(F.collect_set("h").alias("toks"))) as toks,
    ):
        # 1. intra-batch: LSH pairs -> connected components -> component minima
        cands = band_pairs(bands, "doc_id", "doc_a", "doc_b")
        pairs = verified(
            pair_sets(cands, toks, "toks"), ["doc_a", "doc_b"], threshold, jaccard=jaccard("ta", "tb")
        )
        kept = (
            label_components(
                batch_docs.select("doc_id"),
                pairs,
                rounds=STAR_ROUNDS,
                doubling=True,
                until_converged=True,
            )
            .filter(F.col("is_keeper"))
            .select("doc_id")
        )

        # 2. cross-batch: banding candidates vs the admitted index, verified
        if _ensure_registered(spark, index_dir):
            matched = admission_matches(spark, bands, toks, kept, index_dir, threshold)
            kept = kept.join(matched, "doc_id", "left_anti")

        # materialize admissions BEFORE appending to the index this plan reads
        kept = kept.localCheckpoint()

        # 3. append the admitted docs' index rows. toks FIRST: the two writes
        # are not atomic, and a failure in between must leave a safe state. A
        # doc with toks but no bands is merely invisible to future admission
        # joins (its near-dups get re-admitted — an availability error); a doc
        # with bands but no toks would generate banding candidates whose inner
        # join on the missing verify set silently DROPS them, wrongly admitting
        # true near-duplicates (a correctness error). At cluster scale both
        # writes move into one transactional-table commit.
        # toks: hash-clustered by doc_id (repartition = one file family per hash
        # bucket; a metastore-bucketed table at cluster scale would make the
        # survivor semi-join shuffle-free on the index side too).
        TOKS_REL.append(
            toks.join(kept, "doc_id", "left_semi").repartition(TOK_BUCKETS, "doc_id"),
            index_dir,
        )
        # bands: partitioned by band so admission probes prune to the probed
        # band partitions (PartitionFilters on the scan — see admission_matches).
        # Repartitioned BY BAND before the dynamic-partition write (r16, guide
        # §6 small files): without it every one of the 32 shuffle tasks opens a
        # writer per band it touches (up to 32×BANDS tiny files per batch +
        # commit overhead, measured 4-5 s/append); aligned, the write is one
        # file per band partition per batch and the probe-side file count grows
        # BANDS/batch instead of ~32·BANDS/batch.
        BANDS_REL.append(bands.join(kept, "doc_id", "left_semi").repartition("band"), index_dir)
    if compact_threshold is not None:
        compact_index(spark, index_dir, max_files_per_band=compact_threshold)
    return kept


def near_dup_ingest_stream(docs_stream: DataFrame, index_dir: str):
    """Each micro-batch of documents goes through :func:`ingest_batch` —
    same body as batch, same index on disk; a restart resumes offsets
    from ``<index_dir>/_checkpoint`` instead of replaying the corpus. A
    crash-replayed batch (index rows already appended) recomputes a
    bit-identical admitted set: the admission probe excludes same-doc_id
    index rows (the replayed batch's own append — see
    :func:`admission_matches`), and duplicate appends are
    admission-neutral (candidates dropDuplicates, matches distinct) — the
    only replay cost is index I/O."""

    def _batch(batch_df: DataFrame, _batch_id: int) -> None:
        ingest_batch(batch_df, index_dir)

    return driver.run_batches(docs_stream, _batch, os.path.join(index_dir, "_checkpoint"))


def compact_index(
    spark,
    index_dir: str,
    max_files_per_band: int = MAX_FILES_PER_BAND,
    target_bytes: int = 128 << 20,
) -> list:
    """Steady-state index maintenance: compact band partitions (and the
    toks relation) whose data-file count exceeds ``max_files_per_band``.

    Each micro-batch appends one file family per band partition, so after
    N batches every admission probe opens N files per probed partition —
    footer reads and task-launch overhead grow linearly while data volume
    doesn't. Compaction rewrites only the OVER-THRESHOLD partitions
    (cost bounded by fragmentation, not index size), preserving layout:
    band partitions stay band-partitioned, the toks relation is rewritten
    back through the same doc_id hash-clustering as the original writes.
    The admitted-set semantics are bit-identical before/after (pinned by
    test) — this is pure physical-layout maintenance, the OPTIMIZE verb
    of a table format.

    The rewrite is **append-then-prune through the catalog tables** — the
    compacted rows append via ``saveAsTable`` (same committer as the
    ingest writes), then the superseded files are deleted individually
    through the Hadoop FileSystem API and the table is refreshed. No
    rename and no temp directory anywhere: object stores have neither an
    atomic rename nor cheap directory moves, so this path runs unchanged
    off local disk. Crash-recovery contract: a crash between append and
    prune leaves DUPLICATE index rows — admission is duplicate-insensitive
    (candidates are ``dropDuplicates``-ed, matches are ``distinct``-ed),
    so the degraded state costs I/O, never correctness, and re-running
    compaction converges it. A table-format transaction subsumes this at
    cluster scale.

    Returns the list of compacted relation names (``band=K`` / ``toks``).
    """
    if not _ensure_registered(spark, index_dir):
        # never-ingested (or already-dropped) index: nothing to compact —
        # keep the old glob-era no-op contract instead of raising on
        # spark.table() below
        return []
    compacted = BANDS_REL.compact(spark, index_dir, max_files_per_band, target_bytes)
    tfiles = [uri for uri, _ in fsutil.list_data_files(TOKS_REL.path(index_dir), spark)]
    # toks writes one TOK_BUCKETS-file family per batch; same threshold,
    # scaled by the clustering width
    if len(tfiles) > max_files_per_band * TOK_BUCKETS:
        df = spark.read.parquet(*tfiles).repartition(TOK_BUCKETS, "doc_id")
        TOKS_REL.rewrite(spark, index_dir, tfiles, df)
        compacted.append(TOKS_SUBDIR)
    if compacted:
        INDEX.refresh(spark, index_dir)
    return compacted
