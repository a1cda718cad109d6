"""Incremental duplicated-span monitor (st10) — the streaming-scale form
of the span-dedup family (dd8/dd10/dd11), mirroring st7's incremental
near-dup ingest.

At 100 TB the corpus arrives in batches, and span dedup must answer at
ADMISSION TIME: "how much of this incoming document duplicates anything
already ingested (or arriving beside it)?" — the gating signal a
training-data pipeline acts on before the document enters the corpus.

Index design: a parquet relation of ``(h, nd, batch_id, generation)``
partitioned by ``bucket`` (a manifest-recorded hash-range of ``h``) —
each batch appends ONE ``generation = 0`` row per distinct window hash
it saw, where ``nd`` is that batch's DISTINCT-document count for the
hash and ``batch_id`` tags the row's provenance. Documents are ingested
exactly once, so doc sets across batches are disjoint and the
corpus-wide distinct-doc count for a hash is the plain SUM of its
per-batch ``nd`` rows — the merge is associative, append-only, and
needs no doc-id storage. A window of an incoming doc is DUPLICATED iff
``nd(index) + nd(batch) >= 2`` for its hash.

Count-merging compaction (generations): per-batch provenance rows would
otherwise accrue one row per (batch, hash) for the life of the monitor
— a hot boilerplate 10-gram grows with BATCHES, not with distinct
hashes. :func:`compact_span_index` therefore SUM-merges a bucket's live
rows into a single row per hash tagged ``generation = g+1`` (synthetic
``batch_id = -(g+1)`` — negative ids are reserved for merged rows), and
COMMITS the merge by appending that bucket's covered batch-id list to a
tiny meta relation. Readers admit, per bucket, exactly: the latest
META-COMMITTED generation's merged rows, plus ``generation = 0`` batch
rows whose ``batch_id`` is NOT in that generation's covered set. Index
rows are then bounded by distinct hashes plus the un-merged batch tail.

Admission semantics (same contract as st7): a batch's report is FINAL.
A batch-1 window that only becomes duplicated when batch 2 arrives does
not retro-update batch 1's report — batch 2's own report sees it.

Idempotence / crash contract (st7's: duplicates and torn maintenance
are admission-NEUTRAL, never double- or under-counted):

- every index read first ``dropDuplicates`` on ``(batch_id, h)`` over
  the live rows — a row appended twice (micro-batch replay after a
  crash, a compaction rewrite that crashed between append and prune)
  collapses back to one;
- the admission probe EXCLUDES rows carrying the incoming batch's own
  ``batch_id``; if a compaction already MERGED that batch's rows (its
  id is in a covered set), the batch's own recomputed counts are
  suppressed for those buckets instead — span hashing is deterministic,
  so the merged row holds exactly the counts the replay would re-add,
  and the replayed report stays bit-identical;
- compaction commits via the meta append: merged data rows written
  before a crash but never meta-committed are ORPHANS no reader admits,
  and a rerun picks a strictly larger generation number (max over data
  AND meta, +1) so orphan rows can never alias a later commit;
- ``batch_id`` must be deterministic under replay: the streaming
  wrapper uses the checkpointed ``epoch_id`` (checkpointLocation is
  plumbed by default), direct callers either pass one or get a
  content-derived id (order-independent hash of the batch's doc_ids).
  One index is fed through ONE of those disciplines — the manifest
  records which, and every open validates it (the two id spaces are not
  collision-protected against each other).

The manifest (``span_counts/_manifest.json``, write-once at creation)
records ``span_buckets`` (write parallelism — size it for the cluster at
index birth; changing it on a live index would silently split a hash's
rows across bucket values), the window length ``n``, and the batch-id
discipline. :func:`monitor_batch`, :func:`read_index_counts` and
:func:`compact_span_index` fail loudly on any mismatch.

Scale shape per batch: the incoming spans explode corpus-linearly; the
index probe is ONE equi-join on the hash (the index side is pre-
aggregated, one row per (batch, hash) or per merged hash); the meta
relation is only ever broadcast and stays O(buckets) under the epoch
discipline (coverage is a PREFIX of the monotonic epoch ids, committed
as one watermark row per bucket per generation — "all ids ≤ W merged");
derived-id indexes keep the explicit covered set, bounded by batch
count (content-hash ids carry no order to watermark over);
coverage is dd10's audited doc_id-partitioned interval merge over
duplicated starts only. Nothing iterative, nothing Python-side, no
window over the corpus, no global sort (reports are unordered; sort at
read time if you need order).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.dedup import (
    DUP_SPAN_N,
    coverage_from_dup_starts,
    span_hashes_df,
    tokens_col,
)
from pdf_etl_pipeline_spark.streaming import driver

SPANS_SUBDIR = "span_counts"
META_SUBDIR = "span_counts_meta"
MANIFEST_NAME = "_manifest.json"

# Default bucket count for NEW indexes (recorded in the manifest at
# creation; pass span_buckets to the monitor_batch call that creates the
# index to size write parallelism for the cluster — at 100 TB you want
# hundreds. span_monitor_stream keeps the count the manifest recorded).
SPAN_BUCKETS = 8


def _index_path(index_dir: str) -> str:
    return os.path.join(index_dir, SPANS_SUBDIR)


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, META_SUBDIR)


def _manifest_path(index_dir: str) -> str:
    # underscore-prefixed: hidden from parquet file listing by convention
    return os.path.join(_index_path(index_dir), MANIFEST_NAME)


def _bucket_col(n_buckets: int):
    return F.pmod(F.col("h"), F.lit(n_buckets)).alias("bucket")


def _derived_batch_id(docs: DataFrame) -> int:
    """Content-derived batch id: order-independent sum of per-doc hashes —
    deterministic under replay of the same doc set, collision-improbable
    across distinct batches. Hashes are folded to 40 bits before the sum
    so the ANSI-mode long add can't overflow below ~2^23 docs per batch."""
    row = docs.agg(
        F.sum(F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(1 << 40))).alias("b")
    ).first()
    return int(row.b or 0)


# --- manifest ---------------------------------------------------------------


def read_manifest(spark, index_dir: str) -> dict | None:
    from pdf_etl_pipeline_spark.operators import fsutil

    p = _manifest_path(index_dir)
    if not fsutil.exists(p, spark):
        return None
    return json.loads(fsutil.read_text(p, spark))


def _require_manifest(spark, index_dir: str) -> dict:
    m = read_manifest(spark, index_dir)
    if m is None:
        raise ValueError(
            f"span index at {index_dir!r} has data but no manifest "
            f"({MANIFEST_NAME}): unmanaged or pre-manifest layout — "
            "rebuild it through monitor_batch, which records bucket "
            "count, window length and batch-id discipline at creation"
        )
    return m


def _load_or_create_manifest(
    spark,
    index_dir: str,
    n: int,
    id_discipline: str,
    span_buckets: int | None,
) -> dict:
    from pdf_etl_pipeline_spark.operators import fsutil

    m = read_manifest(spark, index_dir)
    if m is None:
        if fsutil.list_data_files(_index_path(index_dir), spark):
            _require_manifest(spark, index_dir)  # raises: data without manifest
        m = {
            "version": 1,
            "span_buckets": int(span_buckets if span_buckets is not None else SPAN_BUCKETS),
            "n": int(n),
            "id_discipline": id_discipline,
        }
        fsutil.write_text(_manifest_path(index_dir), json.dumps(m), spark)
        return m
    _validate_manifest(m, index_dir, n=n, id_discipline=id_discipline, span_buckets=span_buckets)
    return m


def _validate_manifest(
    m: dict,
    index_dir: str,
    n: int | None = None,
    id_discipline: str | None = None,
    span_buckets: int | None = None,
) -> None:
    if n is not None and int(m["n"]) != int(n):
        raise ValueError(
            f"span index {index_dir!r} was built with n={m['n']}, "
            f"called with n={n} — window lengths cannot be mixed in one index"
        )
    if id_discipline is not None and m["id_discipline"] != id_discipline:
        raise ValueError(
            f"span index {index_dir!r} uses {m['id_discipline']!r} batch ids, "
            f"this call supplies {id_discipline!r} ones — the two id spaces "
            "are not collision-protected; feed one index through one discipline"
        )
    if span_buckets is not None and int(m["span_buckets"]) != int(span_buckets):
        raise ValueError(
            f"span index {index_dir!r} was created with "
            f"span_buckets={m['span_buckets']}; got span_buckets={span_buckets} — "
            "the bucket count is fixed at index creation (changing it would "
            "silently split a hash's rows across bucket values)"
        )


# --- commit-aware index read -------------------------------------------------


def _latest_meta(spark, index_dir: str) -> DataFrame | None:
    """(bucket, g_live, batch_id) — the coverage rows of each bucket's
    latest COMMITTED merge generation. None when no merge ever committed.

    Interpretation depends on the index's batch-id discipline (manifest):
    under ``epoch`` ids the relation holds ONE WATERMARK row per bucket —
    ``batch_id`` = W means "every generation-0 row with batch_id ≤ W is
    merged" (epoch ids are monotonic, so the covered set is always a
    prefix; meta rows per bucket stay O(1) for the life of the index).
    Under ``derived`` (content-hash) ids there is no order, so the
    covered set stays EXPLICIT — one row per covered id, bounded by batch
    count. Only ever broadcast."""
    from pdf_etl_pipeline_spark.operators import fsutil

    mp = _meta_path(index_dir)
    if not fsutil.exists(mp, spark):
        return None
    meta = spark.read.parquet(mp)
    gmax = meta.groupBy("bucket").agg(F.max("generation").alias("g_live"))
    return (
        meta.join(gmax, "bucket")
        .filter(F.col("generation") == F.col("g_live"))
        .select("bucket", "g_live", F.col("covered_batch_id").alias("batch_id"))
        .dropDuplicates(["bucket", "batch_id"])
    )


def _covers_watermark(spark, index_dir: str) -> bool:
    """True iff this index's meta coverage rows are watermark rows (the
    epoch discipline) rather than explicit covered-id sets (derived)."""
    return _require_manifest(spark, index_dir)["id_discipline"] == "epoch"


def _uncovered_raw(raw: DataFrame, meta: DataFrame, watermark: bool) -> DataFrame:
    """Generation-0 rows NOT absorbed by the latest committed merge:
    watermark coverage keeps rows with ``batch_id > W(bucket)`` (one
    broadcast row per bucket); set coverage anti-joins the explicit ids."""
    if watermark:
        wm = meta.groupBy("bucket").agg(F.max("batch_id").alias("_wm"))
        return (
            raw.join(F.broadcast(wm), "bucket", "left")
            .filter(F.col("_wm").isNull() | (F.col("batch_id") > F.col("_wm")))
            .drop("_wm")
        )
    return raw.join(
        F.broadcast(meta.select("bucket", "batch_id")), ["bucket", "batch_id"], "left_anti"
    )


def _live_index_rows(spark, index_dir: str) -> DataFrame:
    """The committed view of the index: per bucket, the latest
    meta-committed generation's merged rows plus generation-0 batch rows
    not covered by it. Orphan generations (merged data whose meta append
    never committed) are invisible, so a torn compaction reads exactly
    like the state before it started."""
    idx = spark.read.parquet(_index_path(index_dir))
    meta = _latest_meta(spark, index_dir)
    if meta is None:
        return idx.filter(F.col("generation") == F.lit(0))
    raw = _uncovered_raw(
        idx.filter(F.col("generation") == F.lit(0)),
        meta,
        _covers_watermark(spark, index_dir),
    )
    merged = (
        idx.filter(F.col("generation") > F.lit(0))
        .join(F.broadcast(meta.select("bucket", "g_live").distinct()), "bucket")
        .filter(F.col("generation") == F.col("g_live"))
        .drop("g_live")
    )
    return raw.unionByName(merged)


def read_index_counts(spark, index_dir: str, exclude_batch_id: int | None = None) -> DataFrame:
    """(h, nd_idx): per-hash distinct-doc totals over the committed index.
    Replay/compaction duplicates collapse via the (batch_id, h) dedup;
    ``exclude_batch_id`` drops a batch's own UN-MERGED rows so its
    replayed probe sees the pre-batch state (a batch already merged into
    a generation is handled by the probe suppressing its own recomputed
    counts instead — see batch_report_df)."""
    _require_manifest(spark, index_dir)
    live = _live_index_rows(spark, index_dir)
    if exclude_batch_id is not None:
        live = live.filter(F.col("batch_id") != F.lit(exclude_batch_id))
    return (
        live.dropDuplicates(["batch_id", "h"])
        .groupBy("h")
        .agg(F.sum("nd").alias("nd_idx"))
    )


def _covered_buckets_for(spark, index_dir: str, batch_id: int | None) -> list[int]:
    """Buckets whose latest committed merge generation already absorbed
    ``batch_id``'s rows. Driver-side read of the meta relation — bounded
    by bucket count, empty in the common (never-replayed) case."""
    if batch_id is None:
        return []
    meta = _latest_meta(spark, index_dir)
    if meta is None:
        return []
    covered = (
        F.col("batch_id") >= F.lit(batch_id)  # watermark W >= id covers it
        if _covers_watermark(spark, index_dir)
        else F.col("batch_id") == F.lit(batch_id)
    )
    return [
        r.bucket
        for r in meta.filter(covered).select("bucket").distinct().collect()
    ]


# --- admission ----------------------------------------------------------------


def batch_dup_starts(
    docs: DataFrame,
    index_dir: str,
    n: int = DUP_SPAN_N,
    batch_id: int | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, pos): the incoming batch's window starts whose hash is
    DUPLICATED against (index ∪ batch) — the shared probe fragment of the
    coverage report (:func:`batch_report_df`) and the streaming span trim
    (:func:`batch_trimmed_df`). One equi-join against the pre-aggregated
    committed index.

    Replay correctness when the batch was already MERGED by a compaction:
    for buckets where ``batch_id`` is covered, the merged index rows
    already contain this batch's deterministic counts, so the batch's own
    recomputed counts are suppressed there (own = 0) — the total equals
    nd_idx, bit-identical to the original pre-merge probe."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = docs.sparkSession
    if spans is None:
        spans = span_hashes_df(docs, n)
    batch_counts = spans.groupBy("h").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    idx = None
    # data-file check, not dir existence: the manifest is written before
    # the first batch's rows, so a fresh index dir exists but holds no data
    if fsutil.list_data_files(_index_path(index_dir), spark):
        manifest = _require_manifest(spark, index_dir)
        _validate_manifest(manifest, index_dir, n=n)
        idx = read_index_counts(spark, index_dir, exclude_batch_id=batch_id)
    if idx is not None:
        covered_bkts = _covered_buckets_for(spark, index_dir, batch_id)
        own = F.col("nd")
        if covered_bkts:
            n_buckets = int(manifest["span_buckets"])
            own = F.when(
                F.pmod(F.col("h"), F.lit(n_buckets)).isin(covered_bkts), F.lit(0)
            ).otherwise(F.col("nd"))
        total = batch_counts.join(idx, "h", "left").select(
            "h", (own + F.coalesce("nd_idx", F.lit(0))).alias("nd_total")
        )
    else:
        total = batch_counts.select("h", F.col("nd").alias("nd_total"))
    dup_h = total.filter(F.col("nd_total") >= 2).select("h")
    return spans.join(dup_h, "h", "left_semi").select("doc_id", "pos")


def batch_report_df(
    docs: DataFrame,
    index_dir: str,
    n: int = DUP_SPAN_N,
    batch_id: int | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The LAZY admission report for one batch against (index ∪ batch):
    (doc_id, n_tokens, n_dup_tokens, dup_token_frac), unordered. This is
    the plan the foreachBatch body runs — factored out so the physical-
    plan audit can assert its scale contract (one equi-join probe against
    the pre-aggregated index, doc_id-partitioned coverage windows only,
    no global sort) without triggering the side-effecting append."""
    dup_starts = batch_dup_starts(docs, index_dir, n, batch_id=batch_id, spans=spans)
    covered = coverage_from_dup_starts(dup_starts, n)
    totals = docs.select(
        "doc_id",
        F.size(tokens_col("text", distinct=False)).cast("long").alias("n_tokens"),
    )
    return totals.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_tokens", F.lit(0)).cast("long").alias("n_dup_tokens"),
        F.round(
            F.coalesce("n_dup_tokens", F.lit(0))
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            6,
        ).alias("dup_token_frac"),
    )


def batch_trimmed_df(
    docs: DataFrame,
    index_dir: str,
    n: int = DUP_SPAN_N,
    batch_id: int | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The LAZY streaming span TRIM for one batch: (doc_id, n_tokens,
    n_kept, trimmed_text) with every token inside a window duplicated
    against (index ∪ batch) removed — dd11's trim at admission time, the
    transform the st11 streaming-curation verdict scores its lang/quality
    gates on. Same probe as :func:`batch_report_df` (n_tokens − n_kept
    equals that report's n_dup_tokens by construction), same audited
    assembly as the offline ``trimmed_docs``."""
    from pdf_etl_pipeline_spark.llmdata.dedup import trimmed_from_dup_starts

    dup_starts = batch_dup_starts(docs, index_dir, n, batch_id=batch_id, spans=spans)
    return trimmed_from_dup_starts(docs, dup_starts, n)


def monitor_batch(
    docs: DataFrame,
    index_dir: str,
    n: int = DUP_SPAN_N,
    batch_id: int | None = None,
    span_buckets: int | None = None,
) -> DataFrame:
    """Process one ingest batch: report every incoming doc's duplicated-
    token coverage against (index ∪ this batch), then append the batch's
    per-hash distinct-doc counts to the index tagged ``batch_id``.
    Returns (doc_id, n_tokens, n_dup_tokens, dup_token_frac) for the
    batch, localCheckpoint'ed (the report must survive the index append
    and be immune to recomputation against a mutated index). Unordered —
    sort at read time.

    ``batch_id=None`` derives a content hash id ("derived" discipline);
    an explicit non-negative id is the checkpointed-epoch discipline,
    which additionally promises NEW batch ids are monotonically
    increasing (the streaming wrapper's epoch_id guarantees it; replays
    of already-ingested ids are fine) — merge coverage is committed as a
    per-bucket watermark under that promise, so a direct caller
    inventing a fresh id BELOW an already-merged one would be wrongly
    suppressed as a replay.
    The first batch creates the manifest (recording ``span_buckets``, a
    write-parallelism knob fixed at creation); every later batch
    validates against it and fails loudly on mismatch."""
    discipline = "derived" if batch_id is None else "epoch"
    if batch_id is not None and batch_id < 0:
        raise ValueError(
            f"batch_id must be non-negative (got {batch_id}): negative ids "
            "are reserved for compaction-merged generation rows"
        )
    spark = docs.sparkSession
    manifest = _load_or_create_manifest(spark, index_dir, n, discipline, span_buckets)
    n_buckets = int(manifest["span_buckets"])
    if batch_id is None:
        batch_id = _derived_batch_id(docs)
    spans = span_hashes_df(docs, n).persist()
    try:
        report = batch_report_df(
            docs, index_dir, n, batch_id=batch_id, spans=spans
        ).localCheckpoint()
        _append_batch_counts(spans, index_dir, batch_id, n_buckets)
    finally:
        # unpersist even when the report or append raises — a long-running
        # foreachBatch monitor must not accrue storage-pool pressure from
        # failed batches
        spans.unpersist()
    return report


def _append_batch_counts(
    spans: DataFrame, index_dir: str, batch_id: int, n_buckets: int
) -> None:
    """Append one batch's per-hash distinct-doc counts as generation-0
    rows. Runs AFTER the batch's report/trim is materialized — those must
    reflect the pre-batch index state plus this batch only. One file per
    non-empty bucket per batch (the repartition clusters bucket values)."""
    (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .select(
            "h",
            "nd",
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.lit(0).cast("long").alias("generation"),
            _bucket_col(n_buckets),
        )
        .repartition(n_buckets, "bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(_index_path(index_dir))
    )


def trim_batch(
    docs: DataFrame,
    index_dir: str,
    n: int = DUP_SPAN_N,
    batch_id: int | None = None,
    span_buckets: int | None = None,
) -> DataFrame:
    """:func:`monitor_batch`'s TRIM twin: materialize the batch's span
    trim against (index ∪ batch), then append the batch's counts to the
    index. Returns (doc_id, n_tokens, n_kept, trimmed_text),
    localCheckpoint'ed. Same manifest/discipline/idempotence contract as
    monitor_batch — the two share one index interchangeably (both append
    the identical generation-0 counts)."""
    discipline = "derived" if batch_id is None else "epoch"
    if batch_id is not None and batch_id < 0:
        raise ValueError(
            f"batch_id must be non-negative (got {batch_id}): negative ids "
            "are reserved for compaction-merged generation rows"
        )
    spark = docs.sparkSession
    manifest = _load_or_create_manifest(spark, index_dir, n, discipline, span_buckets)
    n_buckets = int(manifest["span_buckets"])
    if batch_id is None:
        batch_id = _derived_batch_id(docs)
    spans = span_hashes_df(docs, n).persist()
    try:
        trimmed = batch_trimmed_df(
            docs, index_dir, n, batch_id=batch_id, spans=spans
        ).localCheckpoint()
        _append_batch_counts(spans, index_dir, batch_id, n_buckets)
    finally:
        spans.unpersist()
    return trimmed


REPORTS_SUBDIR = "span_reports"


def span_monitor_stream(docs_stream: DataFrame, index_dir: str):
    """Each micro-batch goes through :func:`monitor_batch` — same body as
    batch, same index on disk — and its report appends under
    ``span_reports``, one growing relation of final verdicts. A restart
    resumes offsets and epoch numbering from ``<index_dir>/_checkpoint``
    instead of replaying the corpus against a non-empty index under fresh
    epoch ids."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        report = monitor_batch(batch_df, index_dir, batch_id=batch_id)
        driver.append_batch(report, batch_id, os.path.join(index_dir, REPORTS_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(index_dir, "_checkpoint"))


def read_span_reports(spark, index_dir: str) -> DataFrame:
    """The final admission verdicts, one row per document: a recovery
    replay re-appends a batch's reports verbatim (same batch_id, same
    values — the probe suppressed the batch's already-indexed or
    already-merged counts), so the (batch_id, doc_id) dedup is exact,
    not lossy."""
    return driver.read_batches(spark, os.path.join(index_dir, REPORTS_SUBDIR), "doc_id")


MAX_INDEX_FILES_PER_BUCKET = 4


def compact_span_index(
    spark,
    index_dir: str,
    max_files: int = MAX_INDEX_FILES_PER_BUCKET,
    target_bytes: int = 128 << 20,
) -> list[str]:
    """Steady-state index maintenance: every batch appends one file per
    non-empty bucket, so a long-running monitor fragments exactly like
    st7's band partitions — rewrite ONLY the over-threshold buckets, cost
    bounded by fragmentation, never by index size.

    This is LOGICAL count-merging compaction: a bucket's live rows are
    SUM-merged to one row per hash, written as ``generation = g+1`` with
    the reserved ``batch_id = -(g+1)``, and the merge is COMMITTED by
    appending the bucket's coverage to the per-bucket meta relation —
    ONE watermark row (max covered id; epoch ids are monotonic so
    coverage is a prefix) under the epoch discipline, the explicit
    covered set (previous ∪ the raw ids merged now) under derived ids. Readers key on
    the meta commit, so per bucket the sequence is crash-neutral at every
    cut: (1) append merged data rows — a crash here leaves an orphan
    generation no reader admits, and the rerun picks a strictly larger
    generation (max over data AND meta, +1) so orphans never alias a
    commit; (2) append the meta rows — the commit point; (3) prune the
    old data files from the explicit pre-merge list; (4) prune the old
    meta files — both prunes idempotent (readers take the max committed
    generation and ignore covered/older rows). No renames anywhere —
    append-then-prune through the Hadoop FS, object-store safe.

    Index rows after a full merge are bounded by DISTINCT HASHES (plus
    the un-merged batch tail), not batches × hashes — the growth term the
    per-batch provenance layout carried is gone. A compaction pass costs a
    CONSTANT four Spark jobs regardless of bucket count (one stats
    aggregate over the target buckets, one meta read, one combined merged
    append, one combined meta append) plus the driver-side listings and
    per-file deletes; the collected state (per-bucket max generation +
    batch-id sets) is bounded by total batch count.

    Returns the list of compacted bucket partition names.
    """
    from pdf_etl_pipeline_spark.operators import fsutil

    _require_manifest(spark, index_dir)
    path = _index_path(index_dir)
    meta_root = _meta_path(index_dir)

    # driver-side listing: the over-threshold buckets and their explicit
    # pre-merge file lists (everything later prunes exactly these)
    targets: dict[int, list[tuple[str, int]]] = {}
    for pdir in fsutil.list_subdirs(path, spark):
        base = pdir.rstrip("/").rsplit("/", 1)[-1]
        if not base.startswith("bucket="):
            continue
        files = fsutil.list_data_files(pdir, spark)
        if len(files) > max_files:
            targets[int(base.split("=", 1)[1])] = files
    if not targets:
        return []

    # ONE read of every target bucket (basePath keeps the partition
    # column), ONE stats job: per-bucket max generation seen in DATA
    # (orphans included — g_new must exceed them) and the gen-0 batch ids
    # (covered_new = meta covered ∪ all gen-0 ids; bounded by batch count).
    # The r12.0 per-bucket loop issued ~5 tiny jobs per bucket and its
    # scheduling overhead dominated the in-loop compaction cost (measured
    # 8.5 s/batch vs the old physical path's ~1.6 at sf0.01); this pass
    # is a constant FOUR jobs regardless of bucket count.
    all_uris = [u for files in targets.values() for u, _ in files]
    rows = spark.read.option("basePath", path).parquet(*all_uris)
    stats = {
        r.bucket: r
        for r in rows.groupBy("bucket")
        .agg(
            F.max("generation").alias("g_data"),
            F.collect_set(
                F.when(F.col("generation") == 0, F.col("batch_id"))
            ).alias("raw_ids"),
        )
        .collect()
    }
    watermark = _covers_watermark(spark, index_dir)
    latest = _latest_meta(spark, index_dir)
    meta_pairs: dict[int, tuple[int, set[int]]] = {}
    if latest is not None:
        for r in latest.filter(F.col("bucket").isin(list(targets))).collect():
            g, ids = meta_pairs.get(r.bucket, (0, set()))
            meta_pairs[r.bucket] = (max(g, r.g_live), ids | {r.batch_id})

    plans: dict[int, tuple[int, list[int]]] = {}  # bucket -> (g_new, coverage rows)
    for bucket in targets:
        g_meta, covered = meta_pairs.get(bucket, (0, set()))
        st = stats.get(bucket)
        g_data = int(st.g_data) if st is not None else 0
        raw_ids = set(st.raw_ids) if st is not None else set()
        new_covered = covered | raw_ids
        if new_covered:
            # epoch ids are monotonic, so coverage is a PREFIX: commit one
            # watermark row ("all ids <= W merged") instead of re-appending
            # the full covered set at every generation — meta rows per
            # bucket stay O(1) for the life of the index (r12 finding 3).
            # Derived (content-hash) ids are unordered: keep the explicit
            # set, bounded by batch count as documented.
            rows_out = [max(new_covered)] if watermark else sorted(new_covered)
            plans[bucket] = (int(max(g_data, g_meta)) + 1, rows_out)
        # else: pure-orphan bucket — nothing live; prune only

    if plans:
        # live view of the target buckets (same commit rules as readers)
        if latest is not None:
            raw = _uncovered_raw(
                rows.filter(F.col("generation") == 0), latest, watermark
            )
            merged_live = (
                rows.filter(F.col("generation") > 0)
                .join(F.broadcast(latest.select("bucket", "g_live").distinct()), "bucket")
                .filter(F.col("generation") == F.col("g_live"))
                .drop("g_live")
            )
            live = raw.unionByName(merged_live)
        else:
            live = rows.filter(F.col("generation") == 0)
        # per-bucket output sizing: each bucket gets ceil(its_bytes/target)
        # h-slices — a large bucket no longer forces small co-compacted
        # buckets to split into its file count (which could hold them
        # above max_files and re-compact them every pass)
        nout = {
            b: max(
                1,
                math.ceil(sum(length for _, length in targets[b]) / target_bytes),
            )
            for b in plans
        }
        gen_map = spark.createDataFrame(
            [(b, g, nout[b]) for b, (g, _) in plans.items()],
            "bucket int, g_new long, n_out int",
        )
        merged = (
            live.dropDuplicates(["batch_id", "h"])
            .groupBy("bucket", "h")
            .agg(F.sum("nd").alias("nd"))
            .join(F.broadcast(gen_map), "bucket")
            .select(
                "h",
                "nd",
                (-F.col("g_new")).cast("long").alias("batch_id"),
                F.col("g_new").cast("long").alias("generation"),
                "bucket",
                "n_out",
            )
            # slice key re-mixed through xxhash64: raw h values can be
            # structured (e.g. bucket k holds only h ≡ k patterns), which
            # would collapse pmod(h, n_out) onto a subset of slices
            .repartition(
                sum(nout.values()),
                "bucket",
                F.pmod(F.xxhash64(F.col("h")), F.col("n_out")),
            )
            .drop("n_out")
        )
        # old meta files listed BEFORE the commit write so the prune
        # removes exactly the pre-commit files
        old_meta = {
            b: [
                u
                for u, _ in fsutil.list_data_files(
                    os.path.join(meta_root, f"bucket={b}"), spark
                )
            ]
            for b in plans
        }
        # (1) ONE append of every bucket's merged rows (a crash mid-commit
        # leaves per-bucket orphans no reader admits)
        merged.write.mode("append").partitionBy("bucket").parquet(path)
        # (2) ONE meta append — the per-bucket commit point
        spark.createDataFrame(
            [
                (b, g, int(cid))
                for b, (g, covered) in plans.items()
                for cid in covered
            ],
            "bucket int, generation long, covered_batch_id long",
        ).repartition(len(plans), "bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(meta_root)
    else:
        old_meta = {}

    # (3) prune superseded data files, (4) superseded meta files
    for files in targets.values():
        for uri, _ in files:
            fsutil.delete(uri, spark=spark)
    for uris in old_meta.values():
        for uri in uris:
            fsutil.delete(uri, spark=spark)
    return sorted(f"bucket={b}" for b in targets)


def drop_span_index(spark, index_dir: str) -> None:
    from pdf_etl_pipeline_spark.operators import fsutil

    fsutil.delete(_index_path(index_dir), recursive=True, spark=spark)
    fsutil.delete(_meta_path(index_dir), recursive=True, spark=spark)
