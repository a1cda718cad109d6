"""Streaming containment guard (st19) — dd15's exact set-containment
join as an admission-time excerpt screen.

dd15's exact set-containment join as an ADMISSION GUARD: the held
corpus's representative token sets pin once (write-once, with their
RANKED postings — per-token rank and set size under the pin's global
(df, h) order); every arriving document batch is screened — a doc whose
token set is ≥ t contained in (or ≥ t containing) a pinned doc is an
excerpt/expansion of held content. Candidates stay EXACT through the
prefix-filter pigeonhole: prefix(X) is ANY floor((1−t)·|X|)+1 tokens of
X (the df order only buys pruning power, never correctness), so
batch-side ranks computed under the PIN's df order (unseen tokens df 0
— the most selective rank) preserve the no-false-negative bound, and
both containment directions are covered by prefix(batch)×postings(pin)
∪ postings(batch)×prefix(pin). dd15's positional and length filters
apply to both directions (ranks on BOTH sides share the pin's (df, h)
total order, so the row-local overlap bound
``min(ra-1, rb-1) + 1 + min(na-ra, nb-rb)`` is valid — see
``ppjoin_containment_pairs``): only the smaller set's prefix is
load-bearing, and rows whose bound falls below ``t·min(na, nb)`` are
shed before the collect_set verify joins. Pin-only screening — replays
bit-identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.streaming import driver

CONT_TOKS_SUBDIR = "cont_toks"
CONT_POSTS_SUBDIR = "cont_posts"
CONT_DF_SUBDIR = "cont_df"
CONT_REPORTS_SUBDIR = "cont_reports"
CONTAINMENT_GUARD_T = 0.9


def _cont_paths(state_dir: str) -> tuple[str, str, str]:
    return (
        os.path.join(state_dir, CONT_TOKS_SUBDIR),
        os.path.join(state_dir, CONT_POSTS_SUBDIR),
        os.path.join(state_dir, CONT_DF_SUBDIR),
    )


def _hashed_units(docs: DataFrame, unit_col) -> DataFrame:
    """(doc_id, h) relation over an arbitrary set unit: every distinct
    unit of ``unit_col`` (default: distinct word tokens — st19's relation;
    st20 passes word 3-gram SHINGLES, the order-sensitive excerpt unit
    that stays meaningful on tiny-vocabulary corpora) hashed once mod p.
    Pin and probe must use the SAME unit column — the pin's df order and
    verify sets are expressed in it."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32
    from pdf_etl_pipeline_spark.llmdata.dedup import P31, tokens_col

    units = tokens_col("text") if unit_col is None else unit_col
    return docs.select("doc_id", F.explode(units).alias("t")).select(
        "doc_id", (portable_hash32(F.col("t")) % P31).alias("h")
    ).dropDuplicates(["doc_id", "h"])


def _ranked_of(hashed: DataFrame, dfreq: DataFrame) -> DataFrame:
    """(doc_id, h, _r, _n) ranking of a (doc_id, h) relation under the df
    order of ``dfreq`` (missing tokens rank first at df 0): ``_r`` is the
    token's 1-based rank by (df, h) within its doc, ``_n`` the doc's
    distinct-token count — the relation both the prefix filter (``_r ≤``
    the decimal-exact floor((1−t)·n)+1) and the positional filter read."""
    from pyspark.sql.window import Window as W

    sized = hashed.join(dfreq, "h", "left").withColumn(
        "_df", F.coalesce("_df", F.lit(0))
    ).withColumn("_n", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
    return sized.withColumn(
        "_r", F.row_number().over(W.partitionBy("doc_id").orderBy("_df", "h"))
    ).select("doc_id", "h", "_r", "_n")


def _prefix_cond(threshold: float, r="_r", n="_n"):
    """The PPJoin prefix condition ``rank <= floor((1−t)·n)+1`` as an
    exact division-free LONG comparison (dd15's discipline: threshold
    scaled to micros once, per-row arithmetic stays integer — never
    per-row decimals, never float floors)."""
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_threshold_micro

    t_micro = ppjoin_threshold_micro(threshold)
    return (F.col(r) - 1) * F.lit(1_000_000) <= F.col(n) * F.lit(
        1_000_000 - t_micro
    )


def pin_containment_index(held_docs: DataFrame, state_dir: str,
                          threshold: float = CONTAINMENT_GUARD_T,
                          unit_col=None) -> bool:
    """Pin the held corpus's representative token sets, df relation and
    RANKED postings (write-once; existence judged on the TOKS relation,
    written LAST — a torn pin reads as unpinned and the guard refuses).
    Ranks pin instead of a baked prefix: the probe derives prefixes of any
    threshold from (_r, _n), and the positional filter needs the full
    ranked postings anyway. ``threshold`` is kept for signature
    compatibility; the pin is threshold-free. ``unit_col`` picks the set
    unit (None = distinct tokens; st20 pins shingles)."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = held_docs.sparkSession
    toks_p, posts_p, df_p = _cont_paths(state_dir)
    if fsutil.list_data_files(toks_p, spark):
        return False
    reps = (
        held_docs.groupBy(F.md5("text").alias("_k"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    hashed = _hashed_units(
        held_docs.join(reps, "doc_id", "left_semi"), unit_col
    ).persist()
    try:
        dfreq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
        dfreq.write.mode("append").parquet(df_p)
        dfreq = spark.read.parquet(df_p)
        _ranked_of(hashed, dfreq).withColumnRenamed(
            "doc_id", "held_id"
        ).write.mode("append").parquet(posts_p)
        (
            hashed.groupBy("doc_id")
            .agg(F.collect_set("h").alias("th"))
            .select(F.col("doc_id").alias("held_id"), "th")
            .write.mode("append")
            .parquet(toks_p)
        )
    finally:
        hashed.unpersist()
    return True


def containment_batch_df(
    batch_docs: DataFrame,
    pinned_toks: DataFrame,
    pinned_posts: DataFrame,
    pinned_df: DataFrame,
    threshold: float = CONTAINMENT_GUARD_T,
    unit_col=None,
) -> DataFrame:
    """One verdict row per incoming doc — (doc_id, n_held_matches,
    max_containment, is_excerpt). Candidates: prefix(batch) × postings(pin)
    ∪ postings(batch) × prefix(pin), each direction pruned by dd15's
    length filter (only the smaller set's prefix is load-bearing) and
    positional overlap bound before the exact containment verify touches
    the survivors. ``unit_col`` must match the pin's."""
    from pdf_etl_pipeline_spark.llmdata.dedup import ppjoin_threshold_micro

    hashed = _hashed_units(batch_docs, unit_col)
    my_ranked = _ranked_of(hashed, pinned_df)
    my_prefix = my_ranked.filter(_prefix_cond(threshold))
    pin_prefix = pinned_posts.filter(_prefix_cond(threshold))
    t_micro = ppjoin_threshold_micro(threshold)
    pos_bound = F.least(F.col("a._r"), F.col("p._r")) + F.least(
        F.col("a._n") - F.col("a._r"), F.col("p._n") - F.col("p._r")
    )
    bound_ok = pos_bound * F.lit(1_000_000) >= F.lit(t_micro) * F.least(
        F.col("a._n"), F.col("p._n")
    )
    c1 = (
        my_prefix.alias("a")
        .join(
            pinned_posts.alias("p"),
            (F.col("a.h") == F.col("p.h")) & (F.col("a._n") <= F.col("p._n")),
        )
        .filter(bound_ok)
        .select("doc_id", "held_id")
    )
    c2 = (
        my_ranked.alias("a")
        .join(
            pin_prefix.alias("p"),
            (F.col("a.h") == F.col("p.h")) & (F.col("p._n") <= F.col("a._n")),
        )
        .filter(bound_ok)
        .select("doc_id", "held_id")
    )
    cands = c1.unionByName(c2).dropDuplicates(["doc_id", "held_id"])
    my_toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("ta"))
    inter = F.size(F.array_intersect("ta", "th"))
    cont = inter / F.least(F.size("ta"), F.size("th"))
    hits = (
        cands.join(my_toks, "doc_id")
        .join(pinned_toks, "held_id")
        .select("doc_id", "held_id", cont.alias("c_raw"))
        .filter(F.col("c_raw") >= threshold)
        .groupBy("doc_id")
        .agg(F.countDistinct("held_id").alias("nh"), F.max("c_raw").alias("mx"))
    )
    return batch_docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("nh", F.lit(0)).cast("long").alias("n_held_matches"),
        F.round("mx", 6).alias("max_containment"),
        (F.coalesce("nh", F.lit(0)) > 0).alias("is_excerpt"),
    )


def guard_containment_batch(
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    threshold: float = CONTAINMENT_GUARD_T,
    unit_col=None,
) -> DataFrame:
    """Screen one batch against the pinned containment index (raises when
    unpinned — st13's contract; a TORN pin reads as unpinned since
    existence is judged on the last-written TOKS relation)."""
    from pdf_etl_pipeline_spark.operators import fsutil

    spark = batch_docs.sparkSession
    toks_p, posts_p, df_p = _cont_paths(state_dir)
    if not fsutil.list_data_files(toks_p, spark):
        raise ValueError(
            f"no containment index pinned under {state_dir!r}: call "
            "pin_containment_index first (an unpinned guard would silently "
            "admit everything)"
        )
    return containment_batch_df(
        batch_docs,
        spark.read.parquet(toks_p),
        spark.read.parquet(posts_p),
        spark.read.parquet(df_p),
        threshold,
        unit_col=unit_col,
    ).localCheckpoint()


def containment_guard_stream(docs_stream: DataFrame, state_dir: str):
    """Epoch ids tag the verdict rows; the containment index must be
    pinned before the stream starts."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = guard_containment_batch(batch_df, state_dir, batch_id)
        driver.append_batch(rows, batch_id, os.path.join(state_dir, CONT_REPORTS_SUBDIR))

    return driver.run_batches(docs_stream, _batch, os.path.join(state_dir, "_checkpoint"))


def read_containment_reports(spark, state_dir: str) -> DataFrame:
    return driver.read_batches(spark, os.path.join(state_dir, CONT_REPORTS_SUBDIR), "doc_id")
