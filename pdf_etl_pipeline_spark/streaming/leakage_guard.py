"""Streaming split-leakage guard (st15) — dq8's near-dup leakage audit at
admission time.

dq8 measures cross-split near-dup contamination offline; the production
shape is a GUARD: the held-out splits (val/test under sp1's salted-hash
split) are indexed ONCE, and every arriving TRAINING batch is screened
before admission — a train doc that near-dups a held-out doc is leakage
the moment it is admitted, and catching it at ingest is cheap while
re-auditing the full corpus is not. Follows st12/st13's pinned-state
discipline:

- :func:`pin_heldout` writes the held-out side's MinHash band index
  ``(heldout_id, band, key)`` AND its verify token-hash sets
  ``(heldout_id, th)`` once (write-once; the TOKS relation is written
  first and the BANDS relation last, and pin existence is judged on
  BANDS — a torn pin therefore reads as no-pin and the guard refuses to
  run rather than screening against half an index);
- each batch emits ONE FINAL verdict row per train doc — ``(doc_id,
  n_heldout_dups, max_jaccard, leaks)`` — via dc2's BIPARTITE shape:
  the batch's bands probe the pinned band index (only 64-bit band keys
  pin — never text), broadcast while the pin stays under
  ``PIN_BROADCAST_MAX_ROWS`` band rows (the size is recorded at pin
  time; a corpus-fraction pin falls back to a shuffle join instead of
  OOMing a forced broadcast), and the exact Jaccard verify touches
  banding survivors only;
- batches are screened against the PIN only (never against each
  other), so replays recompute bit-identical rows and
  :func:`read_leakage_reports`'s (batch_id, doc_id) dedup is exact
  (st7/st10/st11/st12/st13's recovery contract).

Scale shape per batch: one corpus-linear tokenize+hash pass, a band
equi-join whose build side is the broadcast pinned index, one keyed
aggregate — nothing grows with stream lifetime except the
one-row-per-doc report relation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata.dedup import (
    bands_from_signatures,
    hashed_tokens,
    jaccard,
    reported,
    signatures_from_hashed,
    verified,
)
from pdf_etl_pipeline_spark.session import forget, materialized, session_memo
from pdf_etl_pipeline_spark.streaming import driver

BANDS_SUBDIR = "heldout_bands"
TOKS_SUBDIR = "heldout_toks"
META_SUBDIR = "heldout_meta"
REPORTS_SUBDIR = "leakage"
LEAK_THRESHOLD = 0.9

# Above this many pinned band rows the broadcast hint is dropped and
# Catalyst picks a shuffle join (r13 VERDICT finding 3): the guard's
# design assumes an eval-suite-sized pin, but nothing enforces it — a
# corpus-fraction held-out split at 100 TB is a tens-of-GB band index
# and a forced broadcast would OOM the driver/executors. 8M rows of
# (long, int, long) is ~200 MB built — the sane broadcast ceiling.
PIN_BROADCAST_MAX_ROWS = 8_000_000


def _bands_path(state_dir: str) -> str:
    return os.path.join(state_dir, BANDS_SUBDIR)


def _toks_path(state_dir: str) -> str:
    return os.path.join(state_dir, TOKS_SUBDIR)


def _meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, META_SUBDIR)


def _pin_band_rows(spark, state_dir: str) -> int:
    """The pinned band index's row count, from the meta relation written at
    pin time (LAST, after BANDS). A torn/missing meta degrades to ONE count
    of the bands parquet, after which the meta is backfilled. The count is
    memoized per Spark application and state dir: the pin is write-once by
    contract, so it can never change under a live guard — without the memo
    a pin created before the meta relation existed (or a torn meta) made
    EVERY micro-batch pay a full scan of the band index just to decide
    broadcastability (r14 ADVICE). pin_heldout forgets the entry when it
    creates a fresh pin at a reused path."""
    return session_memo(
        spark,
        (_pin_band_rows, os.path.abspath(state_dir)),
        lambda: _read_pin_band_rows(spark, state_dir),
    )


def _read_pin_band_rows(spark, state_dir: str) -> int:
    from pdf_etl_pipeline_spark.operators import fsutil

    if fsutil.list_data_files(_meta_path(state_dir), spark):
        n = int(spark.read.parquet(_meta_path(state_dir)).agg(
            F.max("n_band_rows")
        ).first()[0])
    else:
        n = int(spark.read.parquet(_bands_path(state_dir)).count())
        # backfill so pre-meta pins stop paying the fallback scan even
        # across sessions (write-once contract: bands are immutable, the
        # count backfilled here is the count a pin-time write would have
        # recorded). Best-effort: on READ-ONLY pin storage (plausible for
        # an immutable write-once artifact) the write raises — fall back
        # to the in-session memo alone instead of turning the previously
        # working scan path into a per-batch hard crash (r15 ADVICE).
        try:
            spark.createDataFrame(
                [(n,)], "n_band_rows long"
            ).write.mode("append").parquet(_meta_path(state_dir))
        except Exception:
            pass
    return n


def pin_heldout(heldout_docs: DataFrame, state_dir: str) -> bool:
    """Pin the held-out split's band index + verify token sets (write-once).
    Returns True when this call created the pin, False when one already
    existed. Write order is TOKS then BANDS with existence judged on BANDS,
    so a crash between the two writes leaves a state the guard treats as
    unpinned (refuses to run) instead of a half-index that silently admits.
    """
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = heldout_docs.sparkSession
    if fsutil.list_data_files(_bands_path(state_dir), spark):
        return False
    # a fresh pin at a reused path must not read a stale memoized count
    forget((_pin_band_rows, os.path.abspath(state_dir)))
    with materialized(hashed_tokens(heldout_docs).dropDuplicates(["doc_id", "h"])) as hashed:
        (
            hashed.groupBy("doc_id")
            .agg(F.collect_set("h").alias("th"))
            .select(F.col("doc_id").alias("heldout_id"), "th")
            .write.mode("append")
            .parquet(_toks_path(state_dir))
        )
        (
            bands_from_signatures(signatures_from_hashed(hashed))
            .select(F.col("doc_id").alias("heldout_id"), "band", "key")
            .write.mode("append")
            .parquet(_bands_path(state_dir))
        )
        # pin-size meta LAST (pin existence stays judged on BANDS): the
        # guard reads it to decide whether the pin is broadcastable
        n_rows = spark.read.parquet(_bands_path(state_dir)).count()
        spark.createDataFrame(
            [(n_rows,)], "n_band_rows long"
        ).write.mode("append").parquet(_meta_path(state_dir))
    return True


def leakage_batch_df(
    train_docs: DataFrame,
    heldout_bands: DataFrame,
    heldout_toks: DataFrame,
    threshold: float = LEAK_THRESHOLD,
    broadcast_pin: bool = True,
) -> DataFrame:
    """The guard plan: one verdict row per incoming train doc —
    (doc_id, n_heldout_dups, max_jaccard, leaks), checkpointed eagerly.
    dc2's bipartite join shape with the pin as the build side; the
    hashed-token relation is cached across its two uses for this one run.
    ``broadcast_pin=False`` drops the broadcast hint for an oversized pin
    (see ``PIN_BROADCAST_MAX_ROWS``) — Catalyst then plans a shuffle join
    with identical semantics."""
    out, hashed = _leakage_plan(
        train_docs, heldout_bands, heldout_toks, threshold, broadcast_pin
    )
    with materialized(hashed):
        return out.localCheckpoint()


def _leakage_plan(
    train_docs: DataFrame,
    heldout_bands: DataFrame,
    heldout_toks: DataFrame,
    threshold: float = LEAK_THRESHOLD,
    broadcast_pin: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """:func:`leakage_batch_df`'s lazy plan and the hashed tokens it
    caches (see ``llmdata.dedup._minhash_lsh_plan``)."""
    hashed = hashed_tokens(train_docs).dropDuplicates(["doc_id", "h"])
    my_bands = bands_from_signatures(signatures_from_hashed(hashed))
    pin = F.broadcast(heldout_bands) if broadcast_pin else heldout_bands
    cands = (
        my_bands.join(pin, ["band", "key"])
        .select("doc_id", "heldout_id")
        .dropDuplicates()
    )
    my_toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("ta"))
    pairs = cands.join(my_toks, "doc_id").join(heldout_toks, "heldout_id")
    hits = (
        verified(pairs, ["doc_id", "heldout_id"], threshold, jac_raw=jaccard("ta", "th"))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("heldout_id").alias("nh"),
            F.max("jac_raw").alias("mx"),
        )
    )
    out = train_docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("nh", F.lit(0)).cast("long").alias("n_heldout_dups"),
        reported("mx").alias("max_jaccard"),
        (F.coalesce("nh", F.lit(0)) > 0).alias("leaks"),
    )
    return out, hashed


def guard_leakage_batch(
    train_docs: DataFrame,
    state_dir: str,
    threshold: float = LEAK_THRESHOLD,
) -> DataFrame:
    """Screen one training batch against the pinned held-out index; returns
    the materialized verdict rows. Raises if no index was pinned — a guard
    with nothing to guard against is a wiring error, not an
    everything-is-clean result (st13's contract), and a TORN pin (toks
    written, bands not) reads as unpinned by construction."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = train_docs.sparkSession
    if not fsutil.list_data_files(_bands_path(state_dir), spark):
        raise ValueError(
            f"no held-out index pinned under {state_dir!r}: call pin_heldout "
            "first (an unpinned guard would silently admit everything)"
        )
    return leakage_batch_df(
        train_docs,
        spark.read.parquet(_bands_path(state_dir)),
        spark.read.parquet(_toks_path(state_dir)),
        threshold,
        broadcast_pin=_pin_band_rows(spark, state_dir) <= PIN_BROADCAST_MAX_ROWS,
    )


def leakage_guard_stream(docs_stream: DataFrame, state_dir: str):
    """Epoch ids tag the verdict rows; the held-out index must be pinned
    before the stream starts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = guard_leakage_batch(batch_df, state_dir)
        driver.append_batch(rows, batch_id, os.path.join(state_dir, REPORTS_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_leakage_reports(spark, state_dir: str) -> DataFrame:
    """One verdict row per (batch, doc): screening is against the immutable
    pin only, so replays are bit-identical and the dedup is exact."""
    return driver.read_batches(spark, os.path.join(state_dir, REPORTS_SUBDIR), "doc_id")
