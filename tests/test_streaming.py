"""Real Structured Streaming runs (readStream → memory/foreachBatch sinks)
of the §2.9 jobs that the catalog checks in batch mode."""

import os

import pytest

from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.session import load_events
from pdf_etl_pipeline_spark.streaming.jobs import (
    dedup_stream,
    read_event_stream,
    session_windows,
    upsert_stream,
    windowed_counts,
)


@pytest.fixture(scope="module")
def event_drop_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as micro-precision parquet drops (the stream source)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    load_events(spark, sf_dir).drop("ts_ns").coalesce(2).write.mode("overwrite").parquet(d)
    return d


def _run_to_memory(stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_foreach_batch_lives_only_in_the_driver():
    """streaming/driver.py owns the package's only micro-batch writer: no
    other module builds its own foreachBatch/availableNow chain."""
    import pathlib

    import pdf_etl_pipeline_spark

    root = pathlib.Path(pdf_etl_pipeline_spark.__file__).parent
    driver = root / "streaming" / "driver.py"
    marks = (".foreachBatch(", "availableNow=True")
    assert all(m in driver.read_text() for m in marks)
    offenders = [
        str(p.relative_to(root))
        for p in sorted(root.rglob("*.py"))
        if p != driver and any(m in p.read_text() for m in marks)
    ]
    assert offenders == []


def test_streaming_windowed_counts_match_batch(spark, sf_dir, event_drop_dir):
    stream = read_event_stream(spark, event_drop_dir)
    _run_to_memory(windowed_counts(stream), "win_counts", mode="complete")
    got = {
        (r.ws, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.sql(
            "SELECT unix_timestamp(w.start) ws, event_type, n_events, total_value FROM win_counts"
        ).collect()
    }
    batch = {
        (r.ws, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in windowed_counts(load_events(spark, sf_dir))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type", "n_events", "total_value")
        .collect()
    }
    assert got == batch


def test_stream_stream_attribution_join_matches_batch(spark, sf_dir, event_drop_dir):
    """Watermarked stream-stream interval self-join (purchases x prior-10-min
    views) produces exactly the batch interval join's pairs."""
    from pdf_etl_pipeline_spark.streaming.jobs import attribution_join

    stream = read_event_stream(spark, event_drop_dir)
    _run_to_memory(attribution_join(stream), "attrib")
    got = {
        (r.purchase_id, r.view_id)
        for r in spark.sql("SELECT purchase_id, view_id FROM attrib").collect()
    }
    batch = {
        (r.purchase_id, r.view_id)
        for r in attribution_join(load_events(spark, sf_dir)).collect()
    }
    assert got == batch
    assert len(batch) > 0


def test_streaming_session_windows_runs(spark, event_drop_dir):
    stream = read_event_stream(spark, event_drop_dir)
    _run_to_memory(session_windows(stream), "sess", mode="complete")
    rows = spark.sql("SELECT count(*) c FROM sess").collect()
    assert rows[0].c > 0


def test_streaming_dedup(spark, event_drop_dir):
    stream = read_event_stream(spark, event_drop_dir)
    _run_to_memory(dedup_stream(stream), "dedup")
    n = spark.sql("SELECT count(*) c, count(distinct event_id) d FROM dedup").collect()[0]
    assert n.c == n.d  # no duplicate event_ids survive


def test_foreach_batch_upsert_idempotent(spark, event_drop_dir, tmp_path):
    sink = str(tmp_path / "sink")
    stream = read_event_stream(spark, event_drop_dir)
    q = upsert_stream(stream, sink).start()
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    # re-run the whole stream from scratch → anti-join discards everything
    q2 = upsert_stream(read_event_stream(spark, event_drop_dir), sink).option(
        "checkpointLocation", os.path.join(str(tmp_path), "ckpt2")
    ).start()
    q2.awaitTermination(120)
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2  # second pass inserted 0 (reference dedup semantics)


def test_watermark_drops_late_event(spark, tmp_path):
    """A real readStream run proving withWatermark actually DROPS late data.

    Three availableNow runs share one checkpoint (the watermark persists
    across runs — the realistic 'late file arrives in the next ingest'
    shape): run 1 advances the watermark to 12:00 (max ts 12:30 − 30 min);
    run 2 delivers an event at 10:00 (too late → dropped, confirmed by the
    numRowsDroppedByWatermark metric) and one at 12:40 (accepted); run 3
    advances the watermark past every window so append mode finalizes them.
    The 10:00 window must be absent from the sink."""
    import datetime as dt
    import glob
    import os
    import shutil

    from pdf_etl_pipeline_spark.streaming.jobs import EVENTS_SCHEMA, windowed_counts

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    drops_dir = tmp_path / "drops"
    drops_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def add_file(i, rows):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dest = str(drops_dir / f"{i:04d}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (1700000000 + i * 100, 1700000000 + i * 100))

    def run():
        stream = spark.readStream.format("parquet").schema(EVENTS_SCHEMA).load(str(drops_dir))
        out = windowed_counts(stream, watermark="30 minutes").select(
            F.col("w.start").alias("ws"), "event_type", "n_events"
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sum(
            (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
            for p in q.recentProgress
        )

    add_file(0, [(1, t(12, 0), 1, "click", 1.0, "{}"), (2, t(12, 30), 1, "click", 1.0, "{}")])
    run()
    add_file(1, [(3, t(10, 0), 1, "click", 1.0, "{}"), (4, t(12, 40), 1, "click", 1.0, "{}")])
    dropped = run()
    assert dropped == 1  # the 10:00 event was discarded by the watermark
    add_file(2, [(5, t(14, 30), 1, "click", 1.0, "{}")])
    run()

    starts = {(r.ws.hour, r.ws.minute) for r in spark.read.parquet(sink).collect()}
    assert (12, 0) in starts and (12, 30) in starts
    assert (12, 40) in starts  # the on-time event from the late file WAS aggregated
    assert (10, 0) not in starts  # the too-late event's window never materialized


def test_stateful_state_survives_restart(spark, tmp_path):
    """Kill-and-resume recovery: two SEPARATE query starts share one
    checkpoint dir. Run 1 processes two events for user 1 and stops
    (availableNow terminates the query — the 'kill'). Run 2 is a brand-new
    query object over the same checkpoint, fed one more event; its emitted
    running total must CONTINUE from run 1's state (n=3, sum of all three
    values), proving applyInPandasWithState state is restored from the
    state-store checkpoint rather than rebuilt from scratch."""
    import datetime as dt
    import glob
    import os
    import shutil

    from pdf_etl_pipeline_spark.streaming.jobs import EVENTS_SCHEMA, stateful_user_totals

    def t(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    drops_dir = tmp_path / "drops"
    drops_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def add_file(i, rows):
        staging = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, str(drops_dir / f"{i:04d}.parquet"))

    def run():
        stream = spark.readStream.format("parquet").schema(EVENTS_SCHEMA).load(str(drops_dir))
        q = (
            stateful_user_totals(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    add_file(0, [(1, t(12, 0), 1, "click", 1.0, "{}"), (2, t(12, 5), 1, "click", 2.0, "{}")])
    run()
    first = {(r.user_id, r.n_events, r.total_value) for r in spark.read.parquet(sink).collect()}
    assert (1, 2, 3.0) in first  # run 1 accumulated both events
    add_file(1, [(3, t(12, 10), 1, "click", 4.0, "{}")])
    run()  # brand-new query start, same checkpoint
    rows = {(r.user_id, r.n_events, r.total_value) for r in spark.read.parquet(sink).collect()}
    # the restart continued from (n=2, total=3.0), not from empty state
    assert (1, 3, 7.0) in rows
    assert (1, 1, 4.0) not in rows


def test_stateful_user_totals_accumulates(spark, event_drop_dir):
    from pdf_etl_pipeline_spark.streaming.jobs import stateful_user_totals

    stream = read_event_stream(spark, event_drop_dir)
    q = (
        stateful_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("state_tot")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # last emitted row per user == batch-mode aggregate (state accumulated
    # correctly across the maxFilesPerTrigger micro-batches)
    import pandas as pd

    got = spark.sql(
        "SELECT user_id, max_by(n_events, n_events) n, round(max_by(total_value, n_events), 4) t "
        "FROM state_tot GROUP BY user_id"
    ).toPandas().set_index("user_id").sort_index()
    batch = (
        stateful_user_totals(spark.read.parquet(event_drop_dir))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert (got["n"] == batch["n_events"]).all()
    assert (got["t"] - batch["total_value"].round(4)).abs().max() < 1e-6


# --- ST7: incremental near-dup ingest ----------------------------------------
@pytest.mark.slow
def test_ingest_single_batch_equals_cluster_keepers(spark, sf_dir, tmp_path):
    """One ingest batch against an empty index is exactly offline cluster
    dedup: admitted docs == the near-dup component minima (dd6b keepers)."""
    from pdf_etl_pipeline_spark.llmdata.dedup import near_dup_clusters_star
    from pdf_etl_pipeline_spark.llmdata.ingest import ingest_batch
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = {r.doc_id for r in ingest_batch(docs, str(tmp_path / "ix1")).collect()}
    offline = {
        r.doc_id for r in near_dup_clusters_star(docs).filter("is_keeper").collect()
    }
    assert kept == offline


@pytest.mark.slow
def test_ingest_multi_batch_invariants(spark, sf_dir, tmp_path):
    """Three id-ordered ingest batches: (a) the admitted set contains every
    offline component minimum (online can only over-admit, never drop a
    canonical doc), and (b) the admitted corpus is pair-free — no two
    admitted docs are near-dups of each other."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.dedup import (
        minhash_lsh_pairs,
        near_dup_clusters_star,
    )
    from pdf_etl_pipeline_spark.llmdata.ingest import ingest_batch
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    ix = str(tmp_path / "ix3")
    kept = set()
    for lo, hi in ((None, cut1), (cut1, cut2), (cut2, None)):
        batch = docs
        if lo is not None:
            batch = batch.filter(F2.col("doc_id") >= lo)
        if hi is not None:
            batch = batch.filter(F2.col("doc_id") < hi)
        kept |= {r.doc_id for r in ingest_batch(batch, ix).collect()}

    offline = {r.doc_id for r in near_dup_clusters_star(docs).filter("is_keeper").collect()}
    assert offline <= kept  # online never drops a canonical doc
    surviving = docs.filter(F2.col("doc_id").isin(list(kept)))
    n_pairs = minhash_lsh_pairs(surviving, 0.9, materialize=True).count()
    assert n_pairs == 0  # admitted corpus is near-dup-free


@pytest.mark.slow
def test_ingest_index_scan_partition_pruned(spark, sf_dir, tmp_path):
    """The on-disk bands index is partitioned by band, and the admission
    join's index scan carries a static PartitionFilters entry — a subset
    probe (probe_bands=[0, 2]) physically reads only those partitions."""
    import glob

    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.dedup import (
        bands_from_signatures,
        hashed_tokens,
        signatures_from_hashed,
    )
    from pdf_etl_pipeline_spark.llmdata.ingest import (
        BANDS_SUBDIR,
        admission_matches,
        ingest_batch,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    ix = str(tmp_path / "ix_pruned")
    ingest_batch(docs.filter(F2.col("doc_id") < cut), ix)

    # the physical layout is band=<k>/ partition directories
    band_dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(ix, BANDS_SUBDIR, "band=*"))
    )
    assert band_dirs == ["band=0", "band=1", "band=2", "band=3"]

    batch = docs.filter(F2.col("doc_id") >= cut)
    hashed = hashed_tokens(batch).persist(StorageLevel.MEMORY_AND_DISK)
    bands = bands_from_signatures(signatures_from_hashed(hashed))
    toks = hashed.groupBy("doc_id").agg(F2.collect_set("h").alias("toks"))
    matched = admission_matches(
        spark, bands, toks, batch.select("doc_id"), ix, probe_bands=[0, 2]
    )
    plan = matched._jdf.queryExecution().executedPlan().toString()
    hashed.unpersist()
    assert "PartitionFilters" in plan
    # the band IN-filter reached the partition-pruning slot of the scan
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "band" in ln]
    assert pf and any("IN(0,2)" in ln.replace(" ", "") for ln in pf)


@pytest.mark.slow
def test_ingest_streaming_foreachbatch(spark, sf_dir, tmp_path):
    """Drive the real foreachBatch stream over parquet document drops: the
    admitted index satisfies the same invariants as the batch ingest."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs, near_dup_clusters_star
    from pdf_etl_pipeline_spark.llmdata.ingest import TOKS_SUBDIR, near_dup_ingest_stream
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    drop_dir = str(tmp_path / "doc_drops")
    docs.coalesce(2).write.mode("overwrite").parquet(drop_dir)
    ix = str(tmp_path / "ix_stream")

    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = near_dup_ingest_stream(stream, ix).start()
    q.awaitTermination(300)

    kept = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(ix, TOKS_SUBDIR)).select("doc_id").collect()
    }
    # micro-batch arrival order is not id-ordered, so the exact offline
    # subset property doesn't apply; the order-independent invariants do:
    # every near-dup component lands >=1 admitted doc (the first-arriving
    # piece's minimum can't be rejected — no component member was admitted
    # before it), and the admitted corpus is near-dup pair-free.
    n_components = near_dup_clusters_star(docs).filter("is_keeper").count()
    assert len(kept) >= n_components
    assert len(kept) <= docs.count()
    surviving = docs.filter(F2.col("doc_id").isin(list(kept)))
    assert minhash_lsh_pairs(surviving, 0.9, materialize=True).count() == 0


@pytest.mark.slow
def test_ingest_streaming_equals_batch_twin_on_staged_drops(spark, sf_dir, tmp_path):
    """st7 end-to-end equivalence: the SAME staged document drops, driven
    once through the real file-source stream (readStream.parquet +
    maxFilesPerTrigger=1, availableNow) and once through ingest_batch in
    the same order, admit IDENTICAL doc sets. The file source processes
    files in modification-time order, so explicit mtimes pin the
    micro-batch sequence to the batch twin's loop order."""
    import glob
    import shutil

    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.ingest import (
        TOKS_SUBDIR,
        ingest_batch,
        near_dup_ingest_stream,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    cuts = [(0, 150), (150, 320), (320, 10**9)]
    drop_dir = str(tmp_path / "staged_drops")
    os.makedirs(drop_dir)
    drops = []
    for i, (lo, hi) in enumerate(cuts):
        d = docs.filter((F2.col("doc_id") >= lo) & (F2.col("doc_id") < hi))
        drops.append(d)
        tmp = str(tmp_path / f"stage_{i}")
        d.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(drop_dir, f"drop_{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    ix_stream = str(tmp_path / "ix_s")
    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = near_dup_ingest_stream(stream, ix_stream).start()
    q.awaitTermination(300)

    ix_batch = str(tmp_path / "ix_b")
    batch_kept: set = set()
    for d in drops:
        batch_kept |= {r.doc_id for r in ingest_batch(d, ix_batch).collect()}

    stream_kept = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(ix_stream, TOKS_SUBDIR))
        .select("doc_id")
        .collect()
    }
    assert stream_kept == batch_kept


# --- ST17: incremental multimodal asset ingest ----------------------------------
def _mm17(spark, rows):
    return spark.createDataFrame(rows, "asset_id long, phash long")


def test_st17_mm_ingest_admission_and_replay_bit_identical(spark, tmp_path):
    """st17: intra-batch components keep the min asset; a later batch's
    asset within Hamming 3 of an ADMITTED one is rejected while a distant
    one admits; and a crash-REPLAYED batch (index rows already appended)
    recomputes a bit-identical admitted set via the same-asset_id
    exclusion."""
    from pdf_etl_pipeline_spark.llmdata.mm_ingest import mm_ingest_batch

    base = 0x1234_5678_9ABC_DEF0
    far = 0x0F0F_0F0F_0F0F_0F0F
    ix = str(tmp_path / "mmix")
    # batch 1: 10/11 identical (H0), 12 at H2 -> one component, keeper 10;
    # 13 far -> own keeper
    b1 = _mm17(spark, [(10, base), (11, base), (12, base ^ 0b11), (13, far)])
    k1 = {r.asset_id for r in mm_ingest_batch(b1, ix).collect()}
    assert k1 == {10, 13}
    # batch 2: 20 near the admitted 10 (H1) -> rejected; 21 near the
    # REJECTED 12's hash but still within H3 of 10 -> rejected; 22 new
    b2 = _mm17(spark, [(20, base ^ 0b1), (21, base ^ 0b110), (22, 0x7777_0000_1111_2222)])
    k2 = {r.asset_id for r in mm_ingest_batch(b2, ix).collect()}
    assert k2 == {22}
    # crash replay of batch 2: its index rows are already on disk; the
    # recomputed admitted set must be identical, not empty
    k2_replay = {r.asset_id for r in mm_ingest_batch(b2, ix).collect()}
    assert k2_replay == k2


def test_st17_probe_prunes_band_partitions(spark, tmp_path):
    """The admission probe's index scan must carry a band_idx
    PartitionFilter: probing bands {0, 2} must never read the other band
    partitions (st7's cheap-admission contract, asset-hash edition)."""
    from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
        mm_admission_matches,
        mm_ingest_batch,
    )

    ix = str(tmp_path / "mmix_pf")
    mm_ingest_batch(_mm17(spark, [(1, 0x1111_2222_3333_4444)]), ix)
    probe = mm_admission_matches(
        spark,
        _mm17(spark, [(2, 0x1111_2222_3333_4445)]).select(
            "asset_id", F.col("phash").alias("h")
        ),
        ix,
        probe_bands=[0, 2],
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters:" in ln]
    assert pf and any("IN(0,2)" in ln.replace(" ", "") for ln in pf)
    assert {r.asset_id for r in probe.collect()} == {2}


@pytest.mark.slow
def test_st17_streaming_equals_batch_twin_and_restart(spark, tmp_path):
    """Drive the real foreachBatch stream over staged asset drops: the
    admitted set equals the batch twin run in the same order, and a
    restart with no new files appends nothing."""
    import time as _time

    from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
        drop_mm_index,
        mm_bands_table,
        mm_ingest_batch,
        multimodal_ingest_stream,
    )

    base = 0x5A5A_1234_00FF_77AA
    drops = [
        _mm17(spark, [(1, base), (2, base ^ 0b1), (3, 0x1020_3040_5060_7080)]),
        _mm17(spark, [(4, base ^ 0b10), (5, 0x0DDB_A11C_0FFE_E000)]),
    ]
    drop_dir = str(tmp_path / "asset_drops")
    for i, d in enumerate(drops):
        d.coalesce(1).write.mode("append").parquet(drop_dir)
        if i == 0:
            _time.sleep(1.1)  # file-source order is mtime order

    ix_s, ix_b = str(tmp_path / "ixs"), str(tmp_path / "ixb")

    def run_stream():
        stream = (
            spark.readStream.format("parquet")
            .schema("asset_id long, phash long")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = multimodal_ingest_stream(stream, ix_s).start()
        q.awaitTermination(300)

    run_stream()
    batch_kept: set = set()
    for d in drops:
        batch_kept |= {r.asset_id for r in mm_ingest_batch(d, ix_b).collect()}
    stream_kept = {
        r.asset_id
        for r in spark.table(mm_bands_table(ix_s)).select("asset_id").distinct().collect()
    }
    assert stream_kept == batch_kept == {1, 3, 5}  # 2 intra-dropped, 4 cross-rejected
    # restart: no new files -> no index growth
    n = spark.table(mm_bands_table(ix_s)).count()
    run_stream()
    assert spark.table(mm_bands_table(ix_s)).count() == n
    for ix in (ix_s, ix_b):
        drop_mm_index(spark, ix)


def test_st17_index_compaction_preserves_admission(spark, tmp_path):
    """compact_mm_index: after many single-row batches the band partitions
    fragment (one file family per batch); compaction bounds the file count
    and the next batch's admitted set is bit-identical to an uncompacted
    twin's."""
    from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
        _bands_path,
        compact_mm_index,
        mm_ingest_batch,
    )
    from pdf_etl_pipeline_spark.operators import fsutil

    ix_a, ix_b = str(tmp_path / "ca"), str(tmp_path / "cb")
    batches = [
        _mm17(spark, [(i, (0x9000_0000_0000_0000 | (i * 0x0101_0101)) - (1 << 63))])
        for i in range(6)
    ]
    for b in batches:
        mm_ingest_batch(b, ix_a)
        mm_ingest_batch(b, ix_b)

    def files_per_band(ix):
        return max(
            len(fsutil.list_data_files(p, spark))
            for p in fsutil.list_subdirs(_bands_path(ix), spark)
            if "band_idx=" in p
        )

    before = files_per_band(ix_a)
    assert before >= 6  # one family per batch
    compacted = compact_mm_index(spark, ix_a, max_files_per_band=2)
    assert compacted and files_per_band(ix_a) <= 2
    # next batch: one near-dup of an admitted asset (rejected), one new
    probe = _mm17(
        spark,
        [(100, (0x9000_0000_0000_0000 | 0x0101_0101 | 0b1) - (1 << 63)), (101, 0x0123_4567_89AB_CDEF)],
    )
    got_a = {r.asset_id for r in mm_ingest_batch(probe, ix_a).collect()}
    got_b = {r.asset_id for r in mm_ingest_batch(probe, ix_b).collect()}
    assert got_a == got_b == {101}


# --- ST18: frame-grab admission guard -------------------------------------------
def test_st18_framegrab_guard_pin_replay_and_stream(spark, tmp_path):
    """st18: an image equal to a pinned frame hash flags at Hamming 0, a
    2-bit-off image flags at 2, a far image passes; the pin is write-once
    and an unpinned guard refuses; the real stream's verdict rows replay
    without duplicates on restart."""
    import time as _time

    from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
        framegrab_guard_stream,
        guard_framegrab_batch,
        pin_frame_index,
        read_framegrab_reports,
    )

    f0, f1 = 0x1111_2222_3333_4444, 0x5555_6666_7777_8888
    frames = spark.createDataFrame(
        [(100, 0, f0), (100, 1, f0 ^ 0b1), (200, 0, f1)],
        "asset_id long, frame_idx int, fhash long",
    )
    imgs1 = spark.createDataFrame(
        [(1, f0), (2, f0 ^ 0b110), (3, 0x0A0B_0C0D_0E0F_1011)],
        "asset_id long, phash long",
    )
    imgs2 = spark.createDataFrame([(4, f1 ^ 0b1)], "asset_id long, phash long")

    state = str(tmp_path / "fg")
    with pytest.raises(ValueError, match="pin_frame_index"):
        guard_framegrab_batch(imgs1, state, 0)
    assert pin_frame_index(frames, state)
    assert not pin_frame_index(frames.limit(1), state)  # write-once

    got = {
        r.asset_id: (r.n_matched_videos, r.n_matched_frames, r.best_hamming, r.is_framegrab)
        for r in guard_framegrab_batch(imgs1, state, 0).collect()
    }
    # image 1 == frame (100,0) at H0 and matches (100,1) at H1
    assert got[1] == (1, 2, 0, True)
    # image 2 at H2 from (100,0), H3 from (100,1)
    assert got[2] == (1, 2, 2, True)
    assert got[3] == (0, 0, None, False)
    # replay of the same batch is bit-identical (pin-only screening)
    assert {
        r.asset_id: (r.n_matched_videos, r.n_matched_frames, r.best_hamming, r.is_framegrab)
        for r in guard_framegrab_batch(imgs1, state, 0).collect()
    } == got

    drop_dir = str(tmp_path / "img_drops")
    imgs1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)
    imgs2.coalesce(1).write.mode("append").parquet(drop_dir)

    def run():
        stream = (
            spark.readStream.format("parquet")
            .schema("asset_id long, phash long")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = framegrab_guard_stream(stream, state).start()
        q.awaitTermination(300)

    run()
    rep = {r.asset_id: r for r in read_framegrab_reports(spark, state).collect()}
    assert len(rep) == 4
    assert rep[4].is_framegrab and rep[4].best_hamming == 1
    run()  # restart: no new files -> no duplicate verdicts
    assert read_framegrab_reports(spark, state).count() == 4


# --- ST19: streaming containment guard -------------------------------------------
def test_st19_containment_guard_pin_replay_and_stream(spark, tmp_path):
    """st19: an incoming excerpt (strict token subset of a held doc) flags
    at containment 1.0; a half-overlap doc passes; a doc CONTAINING a held
    doc flags (the reverse direction needs the pinned prefixes); unpinned
    and TORN pins refuse; the stream replays without duplicate verdicts."""
    import os as _os
    import time as _time

    from pdf_etl_pipeline_spark.streaming import containment_guard as CG

    words = [f"tok{i}" for i in range(20)]
    held = spark.createDataFrame(
        [(1000, " ".join(words)), (1001, "tiny held note")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            (1, " ".join(words[:10])),  # excerpt: 10/10 contained
            (2, " ".join(words[:8] + [f"x{i}" for i in range(8)])),  # half overlap
            (3, "tiny held note plus plenty of additional words here"),  # CONTAINS 1001
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(4, " ".join(f"fresh{i}" for i in range(12)))], "doc_id long, text string"
    )

    state = str(tmp_path / "cg")
    with pytest.raises(ValueError, match="pin_containment_index"):
        CG.guard_containment_batch(b1, state, 0)
    # TORN pin: df + prefixes written, toks (the existence marker) not
    torn = str(tmp_path / "cg_torn")
    spark.createDataFrame([(1, 2)], "h long, _df long").write.parquet(
        _os.path.join(torn, CG.CONT_DF_SUBDIR)
    )
    with pytest.raises(ValueError, match="pin_containment_index"):
        CG.guard_containment_batch(b1, torn, 0)

    assert CG.pin_containment_index(held, state)
    assert not CG.pin_containment_index(b2, state)  # write-once

    got = {
        r.doc_id: (r.n_held_matches, r.max_containment, r.is_excerpt)
        for r in CG.guard_containment_batch(b1, state, 0).collect()
    }
    assert got[1] == (1, 1.0, True)
    assert got[2] == (0, None, False)
    assert got[3] == (1, 1.0, True)  # containing direction via pinned prefixes
    assert got == {
        r.doc_id: (r.n_held_matches, r.max_containment, r.is_excerpt)
        for r in CG.guard_containment_batch(b1, state, 0).collect()
    }  # replay bit-identical (pin-only screening)

    drop_dir = str(tmp_path / "cg_drops")
    b1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(drop_dir)

    def run():
        stream = (
            spark.readStream.format("parquet")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = CG.containment_guard_stream(stream, state).start()
        q.awaitTermination(300)

    run()
    rep = {r.doc_id: r for r in CG.read_containment_reports(spark, state).collect()}
    assert len(rep) == 4 and not rep[4].is_excerpt
    run()
    assert CG.read_containment_reports(spark, state).count() == 4


# --- ST20: multimodal guarded streaming release -----------------------------------
def test_st20_mm_release_precedence_replay_and_stream(spark, tmp_path):
    """st20: the composed multimodal release body — verdict precedence
    containment > frame-grab > dup-asset (a doc failing several screens
    gets the highest-precedence drop), canonical resolution follows cc15
    (intra-batch dup -> component keeper; cross-batch dup -> min admitted
    index asset), guard-dropped assets never enter the index, batches
    replay bit-identically, and the stream readers dedup exactly."""
    import os as _os
    import time as _time

    from pdf_etl_pipeline_spark.streaming import mm_release as MR

    held_words = [f"hw{i}" for i in range(20)]
    held = spark.createDataFrame(
        [(1000, " ".join(held_words))], "doc_id long, text string"
    )
    H0 = 1 << 20
    frames = spark.createDataFrame(
        [(500, 0, H0)], "asset_id long, frame_idx int, fhash long"
    )
    P = 31 << 40  # popcount 5, Hamming > 3 from H0 and every perturbation used
    fresh = lambda i: " ".join(f"t{i}w{j}" for j in range(12))
    b1 = spark.createDataFrame(
        [
            # excerpt of held text AND carries the pinned frame hash AND
            # dups doc 2 — precedence must read drop_contained
            (1, " ".join(held_words[:10]), H0),
            # frame grab (Hamming 1 of the pin) AND mutual near-dup with
            # doc 7 — precedence must read drop_framegrab
            (2, fresh(2), H0 ^ 1),
            (7, fresh(7), H0 ^ 2),
            (3, fresh(3), P),          # novel asset -> admit
            (4, fresh(4), P ^ 1),      # intra-batch dup of 3 -> keeper 3
        ],
        "doc_id long, text string, phash long",
    )
    b2 = spark.createDataFrame(
        [
            (5, fresh(5), P ^ 2),      # cross-batch dup of admitted 3
            (6, fresh(6), (1 << 55) + 9),  # novel -> admit
        ],
        "doc_id long, text string, phash long",
    )

    state = str(tmp_path / "mmr")
    with pytest.raises(ValueError, match="pin"):
        MR.mm_release_batch(b1, state, 0)
    assert MR.pin_mm_release_state(held, frames, state)

    v1, m1 = MR.mm_release_batch(b1, state, 0)
    got = {r.doc_id: (r.verdict, r.canonical_asset) for r in v1.collect()}
    assert got[1] == ("drop_contained", None)
    assert got[2] == ("drop_framegrab", None)
    assert got[7] == ("drop_framegrab", None)
    assert got[3] == ("admit", 3)
    assert got[4] == ("drop_dup_asset", 3)
    man1 = m1.collect()
    assert len(man1) == 1 and man1[0].n_docs == 1 and man1[0].first_doc_id == 3

    v2, _ = MR.mm_release_batch(b2, state, 1)
    got2 = {r.doc_id: (r.verdict, r.canonical_asset) for r in v2.collect()}
    assert got2[5] == ("drop_dup_asset", 3)  # min admitted index asset
    assert got2[6] == ("admit", 6)

    # replay batch 1: bit-identical verdicts (guards pin-only; admission
    # excludes the batch's own appends; admitted assets Hamming-separated)
    v1r, _ = MR.mm_release_batch(b1, state, 0)
    assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v1r.collect()))

    # the guard-dropped assets never entered the index: replaying a doc
    # with doc 2's hash still reads FRAMEGRAB, not dup of 2
    v3, _ = MR.mm_release_batch(
        spark.createDataFrame([(8, fresh(8), H0 ^ 1)],
                              "doc_id long, text string, phash long"),
        state, 2,
    )
    assert v3.collect()[0].verdict == "drop_framegrab"

    # stream wrapper: two files -> two batches, readers dedup exactly
    state2 = str(tmp_path / "mmr2")
    assert MR.pin_mm_release_state(held, frames, state2)
    drop_dir = str(tmp_path / "mmr_drops")
    b1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(drop_dir)

    def run():
        stream = (
            spark.readStream.format("parquet")
            .schema("doc_id long, text string, phash long")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = MR.mm_release_stream(stream, state2).start()
        q.awaitTermination(300)

    run()
    ver = MR.read_mm_release_verdicts(spark, state2)
    assert ver.count() == 7
    assert {r.verdict for r in ver.collect()} == {
        "drop_contained", "drop_framegrab", "drop_dup_asset", "admit"
    }
    run()  # restart: checkpoint resumes, no duplicate verdicts
    assert MR.read_mm_release_verdicts(spark, state2).count() == 7
    assert MR.read_mm_release_manifest(spark, state2).count() == 2
    MR.drop_mm_release_state(spark, state)
    MR.drop_mm_release_state(spark, state2)


_MMR_SCHEMA = "doc_id long, text string, phash long"


def _mmr_stream_outputs(spark, drop_dir, state):
    """Run mm_release_stream over ``drop_dir`` to completion and return
    the (verdicts, manifest) rows the readers serve, in a fixed order."""
    from pdf_etl_pipeline_spark.streaming import mm_release as MR

    stream = (
        spark.readStream.format("parquet")
        .schema(_MMR_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = MR.mm_release_stream(stream, state).start()
    try:
        assert q.awaitTermination(300), "stream did not finish"
    finally:
        q.stop()
    return (
        MR.read_mm_release_verdicts(spark, state).orderBy("batch_id", "doc_id").collect(),
        MR.read_mm_release_manifest(spark, state).orderBy("batch_id", "shard_id").collect(),
    )


@pytest.fixture(scope="module")
def mmr_crash_inputs(spark, tmp_path_factory):
    """Pins and two one-file micro-batches for the st20 stream (every
    verdict kind appears), plus the outputs of an uncrashed run."""
    import time as _time

    from pdf_etl_pipeline_spark.streaming import mm_release as MR

    held_words = [f"hw{i}" for i in range(20)]
    held = spark.createDataFrame([(1000, " ".join(held_words))], "doc_id long, text string")
    H0, P = 1 << 20, 31 << 40
    frames = spark.createDataFrame([(500, 0, H0)], "asset_id long, frame_idx int, fhash long")
    fresh = lambda i: " ".join(f"t{i}w{j}" for j in range(12))
    b1 = [(1, " ".join(held_words[:10]), 7), (2, fresh(2), H0 ^ 1), (3, fresh(3), P),
          (4, fresh(4), P ^ 1)]
    b2 = [(5, fresh(5), P ^ 2), (6, fresh(6), (1 << 55) + 9)]
    root = tmp_path_factory.mktemp("mmr_crash")
    drop_dir = str(root / "drops")
    spark.createDataFrame(b1, _MMR_SCHEMA).coalesce(1).write.parquet(drop_dir)
    _time.sleep(1.1)
    spark.createDataFrame(b2, _MMR_SCHEMA).coalesce(1).write.mode("append").parquet(drop_dir)
    state = str(root / "uncrashed")
    assert MR.pin_mm_release_state(held, frames, state)
    expected = _mmr_stream_outputs(spark, drop_dir, state)
    MR.drop_mm_release_state(spark, state)
    return (held, frames), drop_dir, expected


# Two batches make four appends (verdicts, manifest per batch). A crash
# after write 1 or 3 is the crash before write 2 or 4, so six cases cover
# every boundary: before each write, and after each batch's last write
# but before its offset commits.
@pytest.mark.slow
@pytest.mark.parametrize(
    "k,after_write",
    [(1, False), (2, False), (2, True), (3, False), (4, False), (4, True)],
    ids=["before-1", "before-2", "after-2", "before-3", "before-4", "after-4"],
)
def test_st20_stream_crash_at_each_write_replays_bit_identically(
    spark, tmp_path, monkeypatch, mmr_crash_inputs, k, after_write
):
    """D5 write-boundary contract: the st20 stream crashes at its k-th
    driver append, restarts on the same state and checkpoint, and the
    readers then serve exactly the rows of an uncrashed run."""
    from pyspark.errors import StreamingQueryException

    from pdf_etl_pipeline_spark.streaming import driver
    from pdf_etl_pipeline_spark.streaming import mm_release as MR

    pins, drop_dir, expected = mmr_crash_inputs
    real_append = driver.append_batch
    calls = []

    def crashing_append(df, batch_id, path):
        calls.append(path)
        if len(calls) == k and not after_write:
            raise RuntimeError(f"planted crash before write {k}")
        real_append(df, batch_id, path)
        if len(calls) == k:
            raise RuntimeError(f"planted crash after write {k}")

    state = str(tmp_path / "mmr")
    assert MR.pin_mm_release_state(*pins, state)
    monkeypatch.setattr(driver, "append_batch", crashing_append)
    with pytest.raises(StreamingQueryException, match="planted crash"):
        _mmr_stream_outputs(spark, drop_dir, state)
    assert len(calls) == k
    monkeypatch.undo()
    assert _mmr_stream_outputs(spark, drop_dir, state) == expected
    MR.drop_mm_release_state(spark, state)


def test_st20_pin_half_pinned_retry_succeeds(spark, tmp_path):
    """st20 pin idempotence (r15 ADVICE): a crash between the two sub-pin
    writes leaves only the containment index pinned; the RETRY completes
    the frame pin and must report success (both pins exist after the
    call) — the old `created_a and created_b` return made every retry
    read False forever, aborting callers on a now-complete state."""
    import os as _os

    from pdf_etl_pipeline_spark.streaming import mm_release as MR
    from pdf_etl_pipeline_spark.streaming.containment_guard import (
        pin_containment_index,
    )
    from pdf_etl_pipeline_spark.llmdata.dedup import shingles_col

    held = spark.createDataFrame(
        [(1000, " ".join(f"hw{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    frames = spark.createDataFrame(
        [(500, 0, 1 << 20)], "asset_id long, frame_idx int, fhash long"
    )
    state = str(tmp_path / "half_pin")
    # simulate the crash: first sub-pin landed, second never ran
    assert pin_containment_index(
        held, _os.path.join(state, MR.CONT_SUBDIR),
        unit_col=shingles_col("text", MR.CONT_UNIT_N),
    )
    # the retry: containment sub-pin reports 'already existed', frame pin
    # is created now — the call must still report success
    assert MR.pin_mm_release_state(held, frames, state)
    # and a fully-pinned state keeps reporting success on re-pin
    assert MR.pin_mm_release_state(held, frames, state)
    # the completed state actually runs a batch
    b = spark.createDataFrame(
        [(3, " ".join(f"t3w{j}" for j in range(12)), 31 << 40)],
        "doc_id long, text string, phash long",
    )
    v, _ = MR.mm_release_batch(b, state, 0)
    assert v.collect()[0].verdict == "admit"
    MR.drop_mm_release_state(spark, state)


def test_leakage_pin_meta_backfill_readonly_storage(spark, tmp_path):
    """_pin_band_rows' meta backfill is best-effort (r15 ADVICE): when the
    pin storage refuses the write (read-only immutable artifact), the
    count still comes back from the bands scan and is memoized in-session
    instead of the backfill turning every batch into a hard crash."""
    from pdf_etl_pipeline_spark.operators import fsutil
    from pdf_etl_pipeline_spark.streaming import leakage_guard as LG

    heldout = spark.createDataFrame(
        [(1000, " ".join(f"hw{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    state = str(tmp_path / "ro_pin")
    assert LG.pin_heldout(heldout, state)
    n = LG._pin_band_rows(spark, state)
    # pre-meta pin layout on storage that rejects writes: drop the meta,
    # then hand the guard a session whose write path (createDataFrame ->
    # parquet append) raises like a read-only filesystem would
    fsutil.delete(LG._meta_path(state), recursive=True, spark=spark)

    class ROSpark:
        def __init__(self, real):
            self._real = real

        def createDataFrame(self, *a, **k):
            raise OSError("read-only pin storage")

        def __getattr__(self, name):
            return getattr(self._real, name)

    LG._PIN_ROWS_MEMO.clear()
    assert LG._pin_band_rows(ROSpark(spark), state) == n  # fallback, no crash
    assert LG._pin_band_rows(ROSpark(spark), state) == n  # memoized


# --- ST8: streaming histogram sketch ------------------------------------------
def test_streaming_histogram_counts_merge_across_batches(spark, sf_dir, tmp_path):
    """Histogram bin counts are a MERGEABLE sketch, so the streaming form
    is a plain incremental aggregation: streaming the events in one-file
    micro-batches yields bit-identical counts — and therefore identical
    quantile estimates — to the batch path over the same fixed edges."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.histogram import (
        fixed_histogram_counts,
        quantiles_from_counts,
    )
    from pdf_etl_pipeline_spark.session import load_table

    events = load_table(spark, sf_dir, "events")
    lo, hi = 0.0, 101.0
    drop_dir = str(tmp_path / "hist_drops")
    events.coalesce(3).write.mode("overwrite").parquet(drop_dir)

    stream = (
        spark.readStream.format("parquet")
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double, props string")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = (
        fixed_histogram_counts(stream, "event_type", "value", lo, hi, n_bins=256)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("st8_hist")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = spark.table("st8_hist")
    batch = fixed_histogram_counts(events, "event_type", "value", lo, hi, n_bins=256)
    key = lambda r: (r.event_type, r.bin)
    assert sorted(map(key, streamed.collect())) == sorted(map(key, batch.collect()))
    sq = quantiles_from_counts(streamed, "event_type", lo, hi, [0.5, 0.95], n_bins=256)
    bq = quantiles_from_counts(batch, "event_type", lo, hi, [0.5, 0.95], n_bins=256)
    srows = sorted(map(tuple, sq.collect()))
    brows = sorted(map(tuple, bq.collect()))
    assert srows == brows
    # sanity: estimates within one bin width of exact percentiles
    exact = {
        r.event_type: r
        for r in events.groupBy("event_type")
        .agg(F2.expr("percentile(value, 0.5)").alias("p50"))
        .collect()
    }
    for r in sq.collect():
        assert abs(r.q0_5 - exact[r.event_type].p50) <= (hi - lo) / 256


# --- ST9: streaming OLS via mergeable sufficient statistics ---------------------
def test_streaming_linreg_equals_batch(spark, sf_dir, tmp_path):
    """The ml1 sufficient statistics (count + decimal-exact sums) are a
    mergeable sketch, so the identical suffstats expression runs as an
    incremental streaming aggregation: one-file micro-batches produce a
    BIT-IDENTICAL fit to the batch path — online model fitting with six
    numbers of state per group."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.linreg import fit_from_stats, linreg, suffstats
    from pdf_etl_pipeline_spark.session import load_events

    events = load_events(spark, sf_dir)
    drop_dir = str(tmp_path / "linreg_drops")
    events.coalesce(4).write.mode("overwrite").parquet(drop_dir)

    stream = (
        spark.readStream.format("parquet")
        .schema("event_id long, ts timestamp, user_id long, event_type string, value double, props string")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = (
        suffstats(stream, "event_type", F2.hour("ts"), F2.col("value"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("st9_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed_fit = fit_from_stats(spark.table("st9_stats"), "event_type").collect()
    batch_fit = linreg(events, "event_type", F2.hour("ts"), F2.col("value")).collect()
    assert sorted(map(tuple, streamed_fit)) == sorted(map(tuple, batch_fit))
    assert len(batch_fit) > 0


# --- CM1 streaming twin: Count-Min as an incremental aggregation ----------------
def test_streaming_count_min_equals_batch(spark, sf_dir, tmp_path):
    """The Count-Min counters are mergeable by addition, so cms_build
    runs unchanged as an incremental streaming aggregation: one-file
    micro-batches yield a BIT-IDENTICAL sketch to the batch pass."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.dedup import tokens_col
    from pdf_etl_pipeline_spark.operators.sketches import cms_build
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    drop_dir = str(tmp_path / "cms_drops")
    docs.coalesce(3).write.mode("overwrite").parquet(drop_dir)

    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    stream_toks = stream.select(F2.explode(tokens_col("text", distinct=False)).alias("tok"))
    q = (
        cms_build(stream_toks)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cm1_sketch")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    streamed = {(r.row, r.col): r.cnt for r in spark.table("cm1_sketch").collect()}
    batch_toks = docs.select(F2.explode(tokens_col("text", distinct=False)).alias("tok"))
    batch = {(r.row, r.col): r.cnt for r in cms_build(batch_toks).collect()}
    assert streamed == batch and len(batch) > 100


def test_streaming_rolling_anomalies_equal_batch_exact(spark, sf_dir, tmp_path):
    """st9: the stateful rolling-anomaly stream, driven through a real
    file-source query in TWO event-time-ordered micro-batches, emits
    BIT-IDENTICAL anomalies to the batch rs5 window over the same events —
    the decimal-exact state arithmetic reproduces the batch plan's sums
    step for step, so this is equality, not tolerance."""
    import glob
    import os
    import shutil

    from pdf_etl_pipeline_spark.catalog.extended_q import rs5_rolling_anomaly
    from pdf_etl_pipeline_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        streaming_rolling_anomalies,
    )

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    split_ts = ev.selectExpr("percentile(unix_timestamp(ts), 0.5) p").collect()[0].p

    drops = tmp_path / "drops"
    drops.mkdir()
    for i, pred in enumerate(
        [F.unix_timestamp("ts") < split_ts, F.unix_timestamp("ts") >= split_ts]
    ):
        staging = str(tmp_path / f"stage{i}")
        ev.filter(pred).drop("ts_ns").coalesce(1).write.mode("overwrite").parquet(staging)
        shutil.copy(
            glob.glob(os.path.join(staging, "part-*.parquet"))[0],
            str(drops / f"{i:04d}.parquet"),
        )

    sink = str(tmp_path / "sink")
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(drops))
    )
    q = (
        streaming_rolling_anomalies(stream)
        .writeStream.foreachBatch(lambda df, _id: df.write.mode("append").parquet(sink))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r.event_type, r.event_id): (r.mean_w, r.std_w, r.z)
        for r in spark.read.parquet(sink).collect()
    }
    want = {
        (r.event_type, r.event_id): (r.mean_w, r.std_w, r.z)
        for r in rs5_rolling_anomaly(spark, sf_dir).collect()
    }
    assert len(want) > 0 and got == want


@pytest.mark.slow
def test_ingest_index_catalog_registration_and_recovery(spark, sf_dir, tmp_path):
    """ST7 index-as-catalog-table: existence is a metastore probe, reads
    go through spark.table() with partition pruning intact, and a catalog
    that lost the registration (new process, in-memory metastore)
    recovers by re-registering the on-disk location — admission results
    are identical before and after recovery."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.ingest import (
        _index_exists,
        bands_table,
        drop_index,
        ingest_batch,
        toks_table,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    ix = str(tmp_path / "ix_cat")

    assert not _index_exists(spark, ix)  # nothing registered, nothing on disk
    ingest_batch(docs.filter(F2.col("doc_id") < cut), ix)
    assert spark.catalog.tableExists(bands_table(ix))
    assert spark.catalog.tableExists(toks_table(ix))
    assert _index_exists(spark, ix)

    # catalog table reads the same relation as the raw directory
    n_tbl = spark.table(bands_table(ix)).count()
    assert n_tbl == spark.read.parquet(str(tmp_path / "ix_cat" / "bands")).count()

    # batch 2 admission through the catalog table
    kept2_a = {r.doc_id for r in ingest_batch(docs.filter(F2.col("doc_id") >= cut), ix).collect()}

    # simulate a new process: registration lost, files remain
    drop_index(spark, ix)
    assert not spark.catalog.tableExists(bands_table(ix))
    assert _index_exists(spark, ix)  # recovery re-registered the location
    assert spark.table(bands_table(ix)).count() > n_tbl  # includes batch 2's rows

    # re-running batch 2 against the recovered index is a crash-replay:
    # the admission probe excludes same-doc_id index rows (the replayed
    # batch's own append), so the replay re-admits the BIT-IDENTICAL set
    # instead of self-matching everything to drop_neardup (the st11
    # replay contract; ADVICE r12)
    kept2_b = {r.doc_id for r in ingest_batch(docs.filter(F2.col("doc_id") >= cut), ix).collect()}
    assert kept2_b == kept2_a  # replay is idempotent through recovery
    assert kept2_a  # the original admission was non-empty
    # content-level dedup through the recovered table still works: the
    # same bytes under FRESH doc_ids are all rejected (each re-ingested
    # canonical has a Jaccard-1.0 twin already in the index)
    shifted = docs.filter(F2.col("doc_id") >= cut).withColumn(
        "doc_id", F2.col("doc_id") + F2.lit(10_000_000)
    )
    assert {r.doc_id for r in ingest_batch(shifted, ix).collect()} == set()
    drop_index(spark, ix)


@pytest.mark.slow
def test_ingest_compaction_invariance_and_file_bounds(spark, sf_dir, tmp_path):
    """Steady-state maintenance: the SAME staged batches driven with and
    without in-loop compaction admit the BIT-IDENTICAL doc set, while
    compaction keeps per-band file counts bounded instead of growing one
    file family per batch."""
    import glob

    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.ingest import (
        BANDS_SUBDIR,
        drop_index,
        ingest_batch,
    )
    from pdf_etl_pipeline_spark.operators.compaction import data_file_count
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    # 5 batches suffice: plain accretes >= 5 files/partition, compaction
    # at threshold 3 stays <= 4 — the contrast the test pins (the 20+
    # batch steady-state curve lives in SCALE.md / tools/ingest_latency.py)
    n_batches = 5
    cuts = [ids[int(len(ids) * i / n_batches)] for i in range(1, n_batches)] + [ids[-1] + 1]

    def run(ix, compact_threshold):
        kept = set()
        lo = None
        for hi in cuts:
            b = docs.filter(F2.col("doc_id") < hi)
            if lo is not None:
                b = b.filter(F2.col("doc_id") >= lo)
            kept |= {
                r.doc_id
                for r in ingest_batch(b, ix, compact_threshold=compact_threshold).collect()
            }
            lo = hi
        return kept

    ix_plain = str(tmp_path / "ix_plain")
    ix_compact = str(tmp_path / "ix_compact")
    kept_plain = run(ix_plain, None)
    kept_compact = run(ix_compact, 3)
    assert kept_plain == kept_compact  # physical maintenance, zero semantics

    def max_band_files(ix):
        return max(
            data_file_count(p) for p in glob.glob(f"{ix}/{BANDS_SUBDIR}/band=*")
        )

    # without compaction: one file family per batch accretes
    assert max_band_files(ix_plain) >= n_batches
    # with compaction at threshold 3: bounded by threshold + one fresh batch
    assert max_band_files(ix_compact) <= 4
    # the compacted index still serves admission correctly: the full
    # corpus re-ingested under FRESH doc_ids admits nothing — every
    # re-ingested canonical is an exact-content twin of an indexed doc
    # (same-id replays are idempotent by the self-exclusion contract,
    # so fresh ids are the content-dedup probe here)
    re_ids = docs.withColumn("doc_id", F2.col("doc_id") + F2.lit(10_000_000))
    assert {r.doc_id for r in ingest_batch(re_ids, ix_compact).collect()} == set()
    drop_index(spark, ix_plain)
    drop_index(spark, ix_compact)


@pytest.mark.slow
def test_ingest_index_quote_bearing_path(spark, sf_dir, tmp_path):
    """Catalog recovery escapes the LOCATION literal: an index directory
    containing a single quote registers and recovers cleanly."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.ingest import (
        _index_exists,
        bands_table,
        drop_index,
        ingest_batch,
    )
    from pdf_etl_pipeline_spark.session import load_table

    ix = str(tmp_path / "o'brien's corpus" / "ix")
    docs = load_table(spark, sf_dir, "documents").filter(F2.col("doc_id") < 50)
    kept = {r.doc_id for r in ingest_batch(docs, ix).collect()}
    assert kept
    # lose the registration; recovery runs CREATE TABLE ... LOCATION with
    # the quote-bearing path (escaped) + MSCK
    drop_index(spark, ix)
    assert _index_exists(spark, ix)
    assert spark.table(bands_table(ix)).count() > 0
    # a same-id replay through the recovered table is idempotent (the
    # self-exclusion contract) — and a fresh-id re-ingest of the same
    # bytes is fully rejected
    assert {r.doc_id for r in ingest_batch(docs, ix).collect()} == kept
    shifted = docs.withColumn("doc_id", F2.col("doc_id") + F2.lit(10_000_000))
    assert {r.doc_id for r in ingest_batch(shifted, ix).collect()} == set()
    drop_index(spark, ix)


def test_maintenance_paths_have_no_posix_layout_surgery():
    """Object-store-safety pin: no rename / rmtree / os.walk / glob /
    os.path.isdir in ANY module that can touch a table path — on
    HDFS/object-store locations POSIX directory surgery either doesn't
    exist, isn't atomic, or (for probes like ``os.path.isdir``) silently
    answers False and mis-branches the caller. fsutil routes everything
    through org.apache.hadoop.fs.FileSystem; this sweep makes the class
    structurally unable to reappear. AST-based, so mentions in docstrings
    and comments (including fsutil's own) don't false-positive."""
    import ast
    import pathlib

    import pdf_etl_pipeline_spark

    pkg = pathlib.Path(pdf_etl_pipeline_spark.__file__).parent
    banned = {
        ("os", "rename"),
        ("os", "renames"),
        ("os", "walk"),
        ("os", "rmdir"),
        ("os", "removedirs"),
        ("shutil", "rmtree"),
        ("shutil", "move"),
        ("glob", "glob"),
        ("glob", "iglob"),
        ("path", "isdir"),  # os.path.isdir — matched on the last two parts
        ("path", "exists"),  # os.path.exists on table paths → fsutil.exists
    }
    offenders = []
    for sub in ("operators", "catalog", "llmdata", "streaming", "plans"):
        for f in sorted((pkg / sub).glob("*.py")):
            tree = ast.parse(f.read_text())
            for node in ast.walk(tree):
                if not isinstance(node, ast.Attribute):
                    continue
                parts = []
                cur = node
                while isinstance(cur, ast.Attribute):
                    parts.append(cur.attr)
                    cur = cur.value
                if isinstance(cur, ast.Name):
                    parts.append(cur.id)
                parts.reverse()
                if len(parts) >= 2 and tuple(parts[-2:]) in banned:
                    offenders.append(f"{f.name}:{node.lineno} uses {'.'.join(parts)}")
    assert not offenders, "POSIX layout surgery reintroduced:\n" + "\n".join(offenders)


def test_compact_index_on_missing_index_is_noop(spark, tmp_path):
    """compact_index on a never-ingested (or dropped) index returns []
    instead of raising through spark.table on an unregistered name —
    the glob-era silent-no-op contract, preserved through the catalog
    registration path."""
    from pdf_etl_pipeline_spark.llmdata.ingest import compact_index

    assert compact_index(spark, str(tmp_path / "never_ingested")) == []


def test_span_monitor_admission_semantics_and_batch_merge(spark, tmp_path):
    """st10: (a) batch reports are final — a batch-1 doc whose run is only
    duplicated by a batch-2 arrival stays at 0 in batch 1's report while
    batch 2's doc reports the coverage; (b) per-hash counts MERGE across
    non-adjacent batches (a run seen once in batch 1 and once in batch 3
    flags in batch 3); (c) ingesting everything as one batch reproduces
    dd10's batch coverage exactly."""
    from pdf_etl_pipeline_spark.llmdata.dedup import dup_token_coverage
    from pdf_etl_pipeline_spark.llmdata.span_ingest import monitor_batch

    run_x = " ".join(f"x{i}" for i in range(12))
    run_y = " ".join(f"y{i}" for i in range(10))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    uniq = lambda p, k: " ".join(f"{p}{i}" for i in range(k))

    ix = str(tmp_path / "spanix")
    b1 = mk([(1, run_x + " " + uniq("a", 5)), (2, run_y + " " + uniq("b", 5))])
    b2 = mk([(3, uniq("c", 3) + " " + run_x)])
    b3 = mk([(4, run_y + " " + uniq("d", 8))])

    r1 = {r.doc_id: r for r in monitor_batch(b1, ix).collect()}
    assert r1[1].n_dup_tokens == 0 and r1[2].n_dup_tokens == 0  # final: nothing dup yet

    r2 = {r.doc_id: r for r in monitor_batch(b2, ix).collect()}
    assert r2[3].n_dup_tokens == 12  # run_x matched against the batch-1 index

    r3 = {r.doc_id: r for r in monitor_batch(b3, ix).collect()}
    assert r3[4].n_dup_tokens == 10  # run_y: once in batch 1 + once here -> dup

    # one-batch ingest == dd10's batch coverage, row for row
    all_docs = mk(
        [(i, t) for df in (b1, b2, b3) for i, t in df.collect()]
    )
    ix2 = str(tmp_path / "spanix2")
    mon = sorted(map(tuple, monitor_batch(all_docs, ix2).collect()))
    batch = sorted(map(tuple, dup_token_coverage(all_docs).collect()))
    assert mon == batch


@pytest.mark.slow
def test_span_monitor_streaming_foreachbatch(spark, sf_dir, tmp_path):
    """Drive the real foreachBatch span monitor over parquet document
    drops. Micro-batch arrival order is nondeterministic, so the exact
    per-batch reports aren't comparable to a fixed split — the
    order-independent invariants are: every doc gets exactly one FINAL
    report; the union of reports covers the corpus; coverage can only be
    less than or equal to the all-at-once dd10 coverage (later arrivals
    see more index, never less than zero; earlier arrivals miss future
    duplicates); and a doc whose dd10 coverage is zero reports zero in
    any arrival order."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.dedup import dup_token_coverage
    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        REPORTS_SUBDIR,
        span_monitor_stream,
    )
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    drop_dir = str(tmp_path / "span_drops")
    docs.coalesce(3).write.mode("overwrite").parquet(drop_dir)
    ix = str(tmp_path / "span_ix")

    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = span_monitor_stream(stream, ix).start()
    q.awaitTermination(300)

    reports = spark.read.parquet(os.path.join(ix, REPORTS_SUBDIR))
    got = {r.doc_id: r for r in reports.collect()}
    batch = {r.doc_id: r for r in dup_token_coverage(docs).collect()}
    assert set(got) == set(batch)  # one final report per doc
    assert reports.count() == len(batch)  # no doc reported twice
    for doc_id, b in batch.items():
        g = got[doc_id]
        assert g.n_tokens == b.n_tokens
        assert 0 <= g.n_dup_tokens <= b.n_dup_tokens  # admission sees a prefix
        if b.n_dup_tokens == 0:
            assert g.n_dup_tokens == 0
    # the stream found real duplication somewhere (corpus has dups)
    assert any(r.n_dup_tokens > 0 for r in got.values())


@pytest.mark.slow
def test_span_index_compaction_preserves_reports(spark, tmp_path):
    """st10 compaction: after many small batches fragment the index,
    compaction rewrites ONLY the over-threshold bucket partitions
    (per-bucket file counts drop to the size-targeted output count;
    live counts SUM-merge into a meta-committed generation) — the next
    batch's report must be identical to the uncompacted twin's."""
    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _index_path,
        compact_span_index,
        monitor_batch,
    )
    from pdf_etl_pipeline_spark.operators import fsutil

    run = " ".join(f"r{i}" for i in range(11))
    mk = lambda i, extra: spark.createDataFrame(
        [(i, run + " " + " ".join(f"u{i}x{k}" for k in range(extra)))],
        "doc_id long, text string",
    )
    ix_a, ix_b = str(tmp_path / "a"), str(tmp_path / "b")
    for i in range(6):  # six 1-doc batches -> six file families
        for ix in (ix_a, ix_b):
            monitor_batch(mk(i, 3 + i), ix)

    before = fsutil.data_file_count(_index_path(ix_a), spark)
    done = compact_span_index(spark, ix_a, max_files=3)
    assert done and all(b.startswith("bucket=") for b in done)
    after = fsutil.data_file_count(_index_path(ix_a), spark)
    assert after < before
    # per-bucket contract: every bucket is now at or under threshold
    # (compacted ones collapsed to the size-targeted count — 1 here)
    for pdir in fsutil.list_subdirs(_index_path(ix_a), spark):
        n = fsutil.data_file_count(pdir, spark)
        if pdir.rstrip("/").rsplit("/", 1)[-1] in done:
            assert n == 1
        else:
            assert n <= 3
    assert not compact_span_index(spark, ix_a, max_files=3)  # converged

    probe = mk(99, 2)
    got_a = sorted(map(tuple, monitor_batch(probe, ix_a).collect()))
    got_b = sorted(map(tuple, monitor_batch(probe, ix_b).collect()))
    assert got_a == got_b  # compaction is invisible to admission
    assert got_a[0][2] == 11  # the planted run is fully covered


@pytest.mark.slow
def test_span_monitor_stream_restart_resumes_offsets(spark, tmp_path):
    """The plumbed default checkpointLocation makes a RESTARTED monitor
    stream resume its offsets and epoch numbering: the second run
    processes only the newly-dropped files (no re-reports for run-1 docs,
    disjoint batch_ids), and every doc ends with exactly one final
    report."""
    import os as _os

    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        REPORTS_SUBDIR,
        span_monitor_stream,
    )

    run = " ".join(f"w{i}" for i in range(11))
    mk = lambda i: spark.createDataFrame(
        [(i, run + " " + " ".join(f"p{i}q{k}" for k in range(4)))],
        "doc_id long, text string",
    )
    drop_dir = str(tmp_path / "drops")
    ix = str(tmp_path / "ix")
    schema = "doc_id long, text string"

    def run_stream():
        stream = (
            spark.readStream.format("parquet")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = span_monitor_stream(stream, ix).start()
        q.awaitTermination(300)

    mk(1).write.mode("append").parquet(drop_dir)
    mk(2).write.mode("append").parquet(drop_dir)
    run_stream()
    rep1 = spark.read.parquet(_os.path.join(ix, REPORTS_SUBDIR)).collect()
    assert {r.doc_id for r in rep1} == {1, 2}

    mk(3).write.mode("append").parquet(drop_dir)
    mk(4).write.mode("append").parquet(drop_dir)
    run_stream()  # restart against the same index dir -> same checkpoint
    rep2 = spark.read.parquet(_os.path.join(ix, REPORTS_SUBDIR)).collect()
    assert {r.doc_id for r in rep2} == {1, 2, 3, 4}
    assert len(rep2) == 4  # run-1 docs NOT re-reported
    # epoch numbering continued: the two runs' batch ids are disjoint
    ids1 = {r.batch_id for r in rep1}
    ids2 = {r.batch_id for r in rep2} - ids1
    assert ids1 and ids2 and not (ids1 & ids2)
    # the shared run was seen in batch 1, so every later doc reports it
    by_doc = {r.doc_id: r for r in rep2}
    assert by_doc[1].n_dup_tokens == 0  # final: nothing duplicated yet
    for d in (2, 3, 4):
        assert by_doc[d].n_dup_tokens == 11


def test_span_monitor_replay_and_crash_duplicates_are_neutral(spark, tmp_path):
    """The recovery contract the bucketed index design carries: (a)
    replaying a batch under its batch_id reproduces the identical report
    — even though the crashed first attempt already appended its index
    rows, because the probe excludes the batch's own rows and the read
    dedups (batch_id, h); (b) duplicate (batch_id, h) rows (a compaction
    crash between append and prune) never double-count a later probe."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _index_path,
        monitor_batch,
        read_index_counts,
    )

    run = " ".join(f"q{i}" for i in range(12))
    mk = lambda i, pad: spark.createDataFrame(
        [(i, run + " " + " ".join(f"z{i}n{k}" for k in range(pad)))],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    monitor_batch(mk(1, 4), ix, batch_id=100)

    # (a) batch 200 runs ("crashes after its index append"), replays:
    # identical report, and the double-append did not inflate totals
    first = sorted(map(tuple, monitor_batch(mk(2, 5), ix, batch_id=200).collect()))
    replay = sorted(map(tuple, monitor_batch(mk(2, 5), ix, batch_id=200).collect()))
    assert first == replay
    assert first[0][2] == 12  # the run duplicates batch 100's occurrence
    counts = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    assert all(v <= 2 for v in counts.values())  # 2 docs max saw any hash

    # (b) simulate a compaction crash: re-append one batch's rows verbatim
    path = _index_path(ix)
    dup_rows = spark.read.parquet(path).filter(F2.col("batch_id") == 100)
    dup_rows.write.mode("append").partitionBy("bucket").parquet(path)
    after = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    assert after == counts  # duplicates are admission-neutral
    probe = sorted(map(tuple, monitor_batch(mk(3, 6), ix, batch_id=300).collect()))
    assert probe[0][2] == 12  # coverage unchanged by the duplicates

def test_span_index_merge_bounds_rows_by_distinct_hashes(spark, tmp_path):
    """The r12 growth contract: logical count-merging compaction collapses
    per-batch provenance, so after a full merge the index holds ONE row
    per distinct hash (not batches x hashes), with SUM-merged nd — and a
    later probe still sees exact corpus-wide counts."""
    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _index_path,
        compact_span_index,
        monitor_batch,
        read_index_counts,
    )

    run = " ".join(f"m{i}" for i in range(11))  # shared by every batch
    mk = lambda i: spark.createDataFrame(
        [(i, run + " " + " ".join(f"v{i}w{k}" for k in range(3)))],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    n_batches = 6
    for i in range(n_batches):
        monitor_batch(mk(i), ix, batch_id=i)

    idx = spark.read.parquet(_index_path(ix))
    distinct_h = idx.select("h").distinct().count()
    assert idx.count() > distinct_h  # per-batch provenance: the shared run repeats

    assert compact_span_index(spark, ix, max_files=1)  # force every bucket
    idx2 = spark.read.parquet(_index_path(ix))
    assert idx2.count() == distinct_h  # rows bounded by DISTINCT hashes
    assert idx2.filter(idx2.generation == 0).count() == 0  # all merged
    # merged counts are the exact per-batch sums: the shared run's hashes
    # were seen by all n_batches distinct docs
    counts = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    assert max(counts.values()) == n_batches
    # and the next batch still reports exact duplication against the merge
    probe = sorted(map(tuple, monitor_batch(mk(99), ix, batch_id=99).collect()))
    assert probe[0][2] == 11


@pytest.mark.slow
def test_span_meta_rows_stay_constant_over_200_batches(spark, tmp_path):
    """r12 finding 3: merge coverage under the epoch discipline commits a
    per-bucket WATERMARK row, not the full covered-id set — so at a
    200-batch horizon the meta relation holds at most ONE row per bucket
    (the old layout carried ~200 covered-id rows per bucket per
    generation, broadcast at every probe and collected per batch).
    Replays of long-covered batches stay bit-identical through the
    watermark coverage."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _meta_path,
        compact_span_index,
        monitor_batch,
        read_index_counts,
    )

    run = " ".join(f"w{i}" for i in range(11))  # shared 11-token run
    mk = lambda i: spark.createDataFrame(
        [(i, run + f" u{i}a u{i}b u{i}c")], "doc_id long, text string"
    )
    ix = str(tmp_path / "ix200")
    n_batches = 200
    last = None
    for i in range(n_batches):
        rep = monitor_batch(mk(i), ix, batch_id=i, span_buckets=2)
        if i == n_batches - 1:
            last = sorted(map(tuple, rep.collect()))
        if i % 25 == 24:
            compact_span_index(spark, ix, max_files=1)
    compact_span_index(spark, ix, max_files=1)

    meta = spark.read.parquet(_meta_path(ix))
    latest = meta.groupBy("bucket").agg(
        F2.max("generation").alias("g"), F2.count(F2.lit(1)).alias("n_rows")
    )
    per_bucket = {r.bucket: r.n_rows for r in latest.collect()}
    # O(1) per bucket: the pruned meta holds exactly the watermark rows
    assert per_bucket and all(n <= 1 or n <= 2 for n in per_bucket.values())
    assert meta.count() <= 2 * len(per_bucket)  # never ~200 covered ids
    # watermark == the max merged epoch id
    assert {r.covered_batch_id for r in meta.collect()} <= {n_batches - 1}

    # the index still answers exactly: the shared run's 1 window hash has
    # nd == 200 (one distinct doc per batch); the crash-replay of the
    # LAST batch (merged at the final compaction) is bit-identical —
    # the watermark covers it, so its own recomputed counts are
    # suppressed against the merged row that already holds them
    counts = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    assert max(counts.values()) == n_batches
    got = sorted(
        map(tuple, monitor_batch(mk(n_batches - 1), ix, batch_id=n_batches - 1).collect())
    )
    assert got == last


def test_span_compaction_sizes_outputs_per_bucket(spark, tmp_path):
    """r12 ADVICE: the compacted output file count is sized PER BUCKET
    (ceil(bucket_bytes/target)), so a large bucket no longer forces a
    small co-compacted bucket to split into its slice count — which could
    hold the small bucket above max_files and re-compact it forever."""
    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _append_batch_counts,
        _index_path,
        compact_span_index,
        monitor_batch,
        read_index_counts,
    )
    from pdf_etl_pipeline_spark.operators.compaction import data_file_count

    ix = str(tmp_path / "ix_nout")
    # seed via the public path (creates the manifest; span_buckets=2)
    monitor_batch(
        spark.createDataFrame([(0, "a b c d e f g h i j k l")], "doc_id long, text string"),
        ix,
        batch_id=0,
        span_buckets=2,
    )
    # skew bucket 0: many distinct even hashes appended across several
    # batches (white-box twin of _append_batch_counts' own writes)
    for b in range(1, 4):
        rows = [(int(d), int(2 * (10_000 * b + k))) for d in range(3) for k in range(4000)]
        # a handful of odd hashes per batch: bucket 1 fragments past
        # max_files too (so it IS co-compacted) but stays tiny in bytes
        rows += [(int(d), int(2 * (10_000 * b + k) + 1)) for d in range(3) for k in range(5)]
        spans = spark.createDataFrame(rows, "doc_id long, h long")
        _append_batch_counts(spans, ix, batch_id=b, n_buckets=2)

    before = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    # tiny target -> bucket 0 needs several slices, bucket 1 exactly one
    compacted = compact_span_index(spark, ix, max_files=1, target_bytes=16 << 10)
    assert set(compacted) == {"bucket=0", "bucket=1"}
    f0 = data_file_count(os.path.join(_index_path(ix), "bucket=0"))
    f1 = data_file_count(os.path.join(_index_path(ix), "bucket=1"))
    assert f0 > 1  # the big bucket really did split
    assert f1 == 1  # the small bucket is NOT split to f0's count
    # semantics unchanged
    after = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    assert after == before
    # and the small bucket is not re-targeted by the next pass
    assert "bucket=1" not in compact_span_index(spark, ix, max_files=1, target_bytes=16 << 10)


def test_span_replay_after_merge_is_bit_identical(spark, tmp_path):
    """A batch whose index rows were already MERGED by a compaction must
    still replay bit-identically: the probe suppresses the batch's own
    recomputed counts in covered buckets (the merged row already holds
    them), so the report equals the pre-merge original."""
    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        compact_span_index,
        monitor_batch,
        read_index_counts,
    )

    run = " ".join(f"r{i}" for i in range(12))
    mk = lambda i, pad: spark.createDataFrame(
        [(i, run + " " + " ".join(f"s{i}t{k}" for k in range(pad)))],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "ix")
    monitor_batch(mk(1, 4), ix, batch_id=100)
    original = sorted(map(tuple, monitor_batch(mk(2, 5), ix, batch_id=200).collect()))
    assert original[0][2] == 12  # duplicates batch 100's run

    assert compact_span_index(spark, ix, max_files=0)  # merge EVERYTHING incl. 200
    replay = sorted(map(tuple, monitor_batch(mk(2, 5), ix, batch_id=200).collect()))
    assert replay == original
    # ...and the replay's re-append did not inflate the committed totals
    # beyond one extra uncovered copy collapsing via (batch_id, h) dedup
    counts = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
    assert all(v <= 2 for v in counts.values())


def test_span_torn_compaction_states_are_invisible(spark, tmp_path):
    """The two torn-compaction cuts around the meta commit point: (a) an
    ORPHAN generation (merged data written, meta never committed) is
    invisible — probes read exactly the pre-compaction state; (b) a
    committed merge whose old files were never pruned double-carries
    every row, and readers still report identically (covered batch rows
    and stale generations are excluded by the meta filter)."""
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _index_path,
        compact_span_index,
        monitor_batch,
    )

    run = " ".join(f"t{i}" for i in range(12))
    mk = lambda i, pad: spark.createDataFrame(
        [(i, run + " " + " ".join(f"u{i}v{k}" for k in range(pad)))],
        "doc_id long, text string",
    )

    def build(ix):
        monitor_batch(mk(1, 3), ix, batch_id=10)
        monitor_batch(mk(2, 4), ix, batch_id=20)

    probe = lambda ix: sorted(
        map(tuple, monitor_batch(mk(3, 5), ix, batch_id=30).collect())
    )

    ix_ref = str(tmp_path / "ref"); build(ix_ref)
    want = probe(ix_ref)
    assert want[0][2] == 12

    # (a) orphan generation: hand-write gen-1 rows with WRONG (doubled)
    # counts and no meta commit — readers must ignore them entirely
    ix_a = str(tmp_path / "a"); build(ix_a)
    idx = spark.read.parquet(_index_path(ix_a))
    orphan = (
        idx.groupBy("h", "bucket")
        .agg((F2.sum("nd") * 2).alias("nd"))
        .select(
            "h", "nd",
            F2.lit(-1).cast("long").alias("batch_id"),
            F2.lit(1).cast("long").alias("generation"),
            "bucket",
        )
    )
    orphan.write.mode("append").partitionBy("bucket").parquet(_index_path(ix_a))
    assert probe(ix_a) == want

    # (b) committed merge, prune crashed: save the pre-merge rows, run the
    # real compaction, then re-append the saved rows verbatim
    ix_b = str(tmp_path / "b"); build(ix_b)
    saved = spark.read.parquet(_index_path(ix_b)).localCheckpoint()
    assert compact_span_index(spark, ix_b, max_files=0)
    saved.write.mode("append").partitionBy("bucket").parquet(_index_path(ix_b))
    assert probe(ix_b) == want


def test_span_index_manifest_roundtrip_and_loud_mismatches(spark, tmp_path):
    """The index manifest (r12): creation records span_buckets / n /
    id-discipline; the bucket layout honours the recorded count; and every
    mismatched open fails loudly instead of silently mis-bucketing."""
    import pytest as _pytest

    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        _index_path,
        monitor_batch,
        read_index_counts,
        read_manifest,
    )
    from pdf_etl_pipeline_spark.operators import fsutil

    mk = lambda i: spark.createDataFrame(
        [(i, " ".join(f"a{i}b{k}" for k in range(15)))], "doc_id long, text string"
    )

    ix = str(tmp_path / "ix")
    monitor_batch(mk(1), ix, batch_id=0, span_buckets=4)
    m = read_manifest(spark, ix)
    assert (m["span_buckets"], m["n"], m["id_discipline"]) == (4, 10, "epoch")
    buckets = {
        d.rstrip("/").rsplit("/", 1)[-1]
        for d in fsutil.list_subdirs(_index_path(ix), spark)
    }
    assert buckets <= {f"bucket={i}" for i in range(4)}

    # same explicit count revalidates fine; a different one fails loudly
    monitor_batch(mk(2), ix, batch_id=1, span_buckets=4)
    with _pytest.raises(ValueError, match="span_buckets"):
        monitor_batch(mk(3), ix, batch_id=2, span_buckets=8)
    # mixed id discipline fails loudly (derived vs recorded epoch)
    with _pytest.raises(ValueError, match="discipline|batch ids"):
        monitor_batch(mk(3), ix)
    # a different window length fails loudly
    with _pytest.raises(ValueError, match="n="):
        monitor_batch(mk(3), ix, n=5, batch_id=2)
    # negative ids are reserved for merged generations
    with _pytest.raises(ValueError, match="non-negative"):
        monitor_batch(mk(3), ix, batch_id=-7)
    # an index with data but no manifest (unmanaged/legacy) refuses to open
    ix2 = str(tmp_path / "legacy")
    monitor_batch(mk(1), ix2, batch_id=0)
    fsutil.delete(f"{_index_path(ix2)}/_manifest.json", spark=spark)
    with _pytest.raises(ValueError, match="manifest"):
        read_index_counts(spark, ix2)

# --- ST11: streaming curation verdict ------------------------------------------


_ST11_RUN = "the quick brown fox jumps over the lazy dog again"  # 10 tokens

_ST11_DOCS = {
    # batch 1
    1: "the cat and dog of house is in that it sits by warm fire with friends from town near river",
    2: None,  # doc 1's tokens REVERSED: near-dup (same token set) but no shared 10-gram
    3: _ST11_RUN + " while birds sing near that old river town",
    # batch 2
    4: _ST11_RUN + " it is said that many people walk along quiet paths to see green fields and tall trees today",
    5: None,  # doc 1's tokens reversed again -> cross-batch near-dup of doc 1
    6: "le la les et de un une est le la les et de un une est",
    7: "the 111111 222222 333333",
}


def _st11_fixture(spark):
    texts = dict(_ST11_DOCS)
    rev = " ".join(reversed(texts[1].split()))
    texts[2] = rev
    texts[5] = rev
    mk = lambda ids: spark.createDataFrame(
        [(i, texts[i]) for i in ids], "doc_id long, text string"
    )
    return mk([1, 2, 3]), mk([4, 5, 6, 7])


def test_st11_curation_verdicts_hand_computed(spark, tmp_path):
    """The composed st11 decision on planted docs: near-dup drops (same
    token set, in-batch and cross-batch), span trim against the index
    (doc 4 loses exactly the 10-token run doc 3 indexed), lang and
    quality gates on the TRIMMED text — plus the cc9-shaped funnel."""
    from pdf_etl_pipeline_spark.llmdata.curation_stream import (
        curation_funnel,
        curation_verdict_batch,
    )
    from pyspark.sql import functions as F2

    b1, b2 = _st11_fixture(spark)
    state = str(tmp_path / "st11")
    v1 = curation_verdict_batch(b1, state, batch_id=0)
    v2 = curation_verdict_batch(b2, state, batch_id=1)
    got = {r.doc_id: r for r in v1.unionByName(v2).collect()}

    assert {d: got[d].verdict for d in sorted(got)} == {
        1: "keep",            # canonical of the reorder pair
        2: "drop_neardup",    # same token set as doc 1, same batch
        3: "keep",            # its 10-token run is unique at admission time
        4: "keep",            # admitted; run trimmed; filler survives gates
        5: "drop_neardup",    # cross-batch near-dup of doc 1
        6: "drop_lang",       # French markers dominate
        7: "drop_quality",    # digit-heavy junk under the 0.5 line
    }
    # reordering shares the token SET but no 10-gram: no trim anywhere in batch 1
    for d in (1, 2, 3):
        assert got[d].n_kept == got[d].n_tokens
    # doc 4 loses exactly the planted run against doc 3's indexed spans
    assert got[4].n_tokens - got[4].n_kept == 10
    assert (got[6].lang_trim, got[6].admitted) == ("fr", True)
    assert got[7].lang_trim == "en" and got[7].q_trim < 0.5 and got[7].admitted

    funnel = curation_funnel(
        v1.withColumn("batch_id", F2.lit(0)).unionByName(
            v2.withColumn("batch_id", F2.lit(1))
        )
    ).collect()
    f = {(r.batch_id, r.stage_name): r for r in funnel}
    assert (f[(0, "raw")].n_docs, f[(0, "neardup_admit")].n_docs) == (3, 2)
    assert (f[(1, "raw")].n_docs, f[(1, "neardup_admit")].n_docs) == (4, 3)
    # span_trim drops tokens, never docs
    assert f[(1, "span_trim")].n_docs == 3
    assert f[(1, "neardup_admit")].n_tokens - f[(1, "span_trim")].n_tokens == 10
    assert (f[(1, "lang")].n_docs, f[(1, "quality")].n_docs) == (2, 1)
    assert f[(0, "quality")].doc_retention == round(2 / 3, 6)


@pytest.mark.slow
def test_st11_streamed_equals_offline(spark, tmp_path):
    """Drive the real foreachBatch curation stream over parquet drops,
    then replay the SAME per-epoch batches through the direct
    curation_verdict_batch composition on fresh state: the streamed
    verdict rows must match the offline twin's exactly."""
    import os as _os
    import time as _time

    from pdf_etl_pipeline_spark.llmdata.curation_stream import (
        curation_verdict_batch,
        read_curation_verdicts,
        streaming_curation_stream,
    )
    from pyspark.sql import functions as F2

    b1, b2 = _st11_fixture(spark)
    drop_dir = str(tmp_path / "drops")
    b1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)  # distinct mod times -> deterministic file order
    b2.coalesce(1).write.mode("append").parquet(drop_dir)

    state = str(tmp_path / "stream_state")
    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = streaming_curation_stream(stream, state).start()
    q.awaitTermination(300)

    streamed = read_curation_verdicts(spark, state)
    rows = streamed.collect()
    assert len(rows) == 7
    by_batch: dict[int, list[int]] = {}
    for r in rows:
        by_batch.setdefault(r.batch_id, []).append(r.doc_id)

    offline_state = str(tmp_path / "offline_state")
    all_docs = b1.unionByName(b2)
    offline = []
    for bid in sorted(by_batch):
        v = curation_verdict_batch(
            all_docs.filter(F2.col("doc_id").isin(by_batch[bid])),
            offline_state,
            batch_id=bid,
        ).withColumn("batch_id", F2.lit(bid).cast("long"))
        offline.extend(v.collect())

    key = lambda r: r.doc_id
    cols = ["doc_id", "batch_id", "n_tokens", "n_kept", "admitted",
            "lang_trim", "q_trim", "verdict"]
    got = [[getattr(r, c) for c in cols] for r in sorted(rows, key=key)]
    want = [[getattr(r, c) for c in cols] for r in sorted(offline, key=key)]
    assert got == want


def test_curation_replay_is_bit_identical(spark, tmp_path):
    """st11 crash-replay contract (ADVICE r12, high): a micro-batch that
    crashed AFTER its index appends (near-dup bands/toks and span counts
    already on disk) but before the verdict write replays to the
    BIT-IDENTICAL verdict rows. Without admission_matches' same-doc_id
    exclusion every replayed doc self-matches at Jaccard 1.0 and the
    replay flips all verdicts to drop_neardup — then read_curation_verdicts'
    (batch_id, doc_id) dedup keeps an arbitrary row between the
    conflicting keep/drop twins. Mirrors
    test_span_replay_after_merge_is_bit_identical."""
    from pdf_etl_pipeline_spark.llmdata.curation_stream import (
        curation_verdict_batch,
        drop_curation_state,
    )

    b1, b2 = _st11_fixture(spark)
    state = str(tmp_path / "replay_state")
    cols = ["doc_id", "n_tokens", "n_kept", "admitted", "lang_trim", "q_trim", "verdict"]
    snap = lambda df: sorted([getattr(r, c) for c in cols] for r in df.collect())

    curation_verdict_batch(b1, state, batch_id=0).collect()
    v2 = snap(curation_verdict_batch(b2, state, batch_id=1))
    # batch 2 has a genuine cross-batch near-dup (doc 5 ~ batch 1's doc 2)
    # and genuine keepers — the replay must preserve BOTH outcomes
    verdicts = {r[0]: r[-1] for r in v2}
    assert verdicts[5] == "drop_neardup"
    assert any(v == "keep" for v in verdicts.values())

    # crash-replay: same docs, same batch_id, indexes already appended
    v2_replay = snap(curation_verdict_batch(b2, state, batch_id=1))
    assert v2_replay == v2
    drop_curation_state(spark, state)


@pytest.mark.slow
def test_cc11_manifest_consistent_with_st11_keepers(spark):
    """cc11's shard manifest must account for EXACTLY the st11 keep
    verdicts' trimmed tokens: total tokens and doc counts match the
    verdict relation, shard ids are contiguous from 0, and every shard
    except possibly the last holds at least the budget's worth of
    cumulative progress (greedy cumsum packing)."""
    from pdf_etl_pipeline_spark.catalog import load_registry
    from pdf_etl_pipeline_spark.llmdata import corpus as CP

    sf = "/root/testdata/sf0.001"
    reg = load_registry()
    verd = reg["st11_streaming_curation"].fn(spark, sf).collect()
    keep = [r for r in verd if r.verdict == "keep"]
    manifest = reg["cc11_verdict_shard_manifest"].fn(spark, sf).collect()

    assert sum(r.n_docs for r in manifest) == len(keep)
    assert sum(r.total_tokens for r in manifest) == sum(r.n_kept for r in keep)
    assert [r.shard_id for r in manifest] == list(range(len(manifest)))
    # greedy cumsum: every non-final shard's cumulative start is budget-aligned,
    # so each holds >= 1 doc and totals straddle the budget boundary
    for r in manifest[:-1]:
        assert r.total_tokens >= 1 and r.n_docs >= 1
        assert r.total_tokens >= CP.PACK_BUDGET - max(k.n_kept for k in keep)

def _st14_fixture(spark):
    """The st11 fixture plus a planted contamination pair: doc 8 (batch 1)
    shares a 5-gram shingle with the benchmark doc -> contaminated; doc 9
    (batch 2) is doc 8's tokens REVERSED — same token set (a MinHash
    near-dup of doc 8) but no shared 5-gram with the benchmark (shingles
    are order-sensitive) -> clean. Doc 9 is therefore the semantics pin:
    it stays admitted IFF the contaminated doc 8 never entered the
    near-dup index."""
    texts = dict(_ST11_DOCS)
    rev = " ".join(reversed(texts[1].split()))
    texts[2] = rev
    texts[5] = rev
    texts[8] = (
        "completely unrelated words here alpha beta gamma delta epsilon "
        "something else entirely follows"
    )
    texts[9] = " ".join(reversed(texts[8].split()))
    mk = lambda ids: spark.createDataFrame(
        [(i, texts[i]) for i in ids], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    return bench, mk([1, 2, 3, 8]), mk([4, 5, 6, 7, 9])


def test_st14_builder_hand_computed(spark, tmp_path):
    """The composed builder on planted docs: the contamination guard
    drops doc 8 with a FINAL drop_contaminated row (n_kept 0, gates
    null), doc 8 never reaches the curation indexes (its reversed twin
    doc 9 in batch 2 stays admitted — it would read drop_neardup if the
    contaminated doc had been indexed), the st11 verdicts are otherwise
    unchanged, and the per-batch manifest packs exactly the keep
    verdicts' trimmed tokens into batch-local shard 0."""
    from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
    from pdf_etl_pipeline_spark.streaming.corpus_builder import (
        build_corpus_batch,
        drop_builder_state,
    )

    bench, b1, b2 = _st14_fixture(spark)
    state = str(tmp_path / "st14")
    assert pin_benchmark(bench, state)
    v1, m1 = build_corpus_batch(b1, state, batch_id=0)
    v2, m2 = build_corpus_batch(b2, state, batch_id=1)
    verd = {r.doc_id: r for r in v1.unionByName(v2).collect()}

    # the guard's final row: dropped before trim or scoring
    r8 = verd[8]
    assert (r8.verdict, r8.n_kept, r8.admitted) == ("drop_contaminated", 0, False)
    assert r8.lang_trim is None and r8.q_trim is None
    assert r8.n_tokens == 13
    # doc 9 (clean reversed twin) is ADMITTED: doc 8 never entered the index
    assert verd[9].admitted and verd[9].verdict != "drop_neardup"
    # the st11 fixture's verdicts are undisturbed by the new docs
    assert verd[5].verdict == "drop_neardup"
    assert verd[6].verdict == "drop_lang"
    assert verd[7].verdict == "drop_quality"

    # manifest: per batch, one shard 0 holding exactly the keepers
    for m, v in ((m1, v1), (m2, v2)):
        keep = sorted(
            (r.doc_id, r.n_kept) for r in v.collect() if r.verdict == "keep"
        )
        rows = m.collect()
        assert [r.shard_id for r in rows] == [0]
        assert rows[0].n_docs == len(keep)
        assert rows[0].total_tokens == sum(k for _, k in keep)
        assert rows[0].first_doc_id == keep[0][0]
        assert rows[0].last_doc_id == keep[-1][0]
    drop_builder_state(spark, state)


@pytest.mark.slow
def test_st14_streamed_equals_offline(spark, tmp_path):
    """Drive the real foreachBatch corpus-builder stream over parquet
    drops, then replay the SAME per-epoch batches through the direct
    build_corpus_batch composition on fresh state: the streamed verdict
    AND manifest rows must match the offline twin's exactly."""
    import os as _os
    import time as _time

    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
    from pdf_etl_pipeline_spark.streaming.corpus_builder import (
        build_corpus_batch,
        corpus_builder_stream,
        read_builder_manifest,
        read_builder_verdicts,
    )

    bench, b1, b2 = _st14_fixture(spark)
    drop_dir = str(tmp_path / "drops")
    b1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)  # distinct mod times -> deterministic file order
    b2.coalesce(1).write.mode("append").parquet(drop_dir)

    state = str(tmp_path / "stream_state")
    assert pin_benchmark(bench, state)
    stream = (
        spark.readStream.format("parquet")
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .load(drop_dir)
    )
    q = corpus_builder_stream(stream, state).start()
    q.awaitTermination(300)

    verdicts = read_builder_verdicts(spark, state)
    manifest = read_builder_manifest(spark, state)
    by_batch: dict[int, list[int]] = {}
    for r in verdicts.collect():
        by_batch.setdefault(r.batch_id, []).append(r.doc_id)
    assert sum(len(v) for v in by_batch.values()) == 9

    offline_state = str(tmp_path / "offline_state")
    assert pin_benchmark(bench, offline_state)
    all_docs = b1.unionByName(b2)
    off_v, off_m = [], []
    for bid in sorted(by_batch):
        v, m = build_corpus_batch(
            all_docs.filter(F2.col("doc_id").isin(by_batch[bid])),
            offline_state,
            batch_id=bid,
        )
        off_v.extend(
            v.withColumn("batch_id", F2.lit(bid).cast("long")).collect()
        )
        off_m.extend(
            m.withColumn("batch_id", F2.lit(bid).cast("long")).collect()
        )

    vcols = ["doc_id", "batch_id", "n_tokens", "n_kept", "admitted",
             "lang_trim", "q_trim", "verdict"]
    mcols = ["batch_id", "shard_id", "n_docs", "total_tokens",
             "first_doc_id", "last_doc_id"]
    snap = lambda rows, cols, key: sorted(
        ([getattr(r, c) for c in cols] for r in rows),
        key=lambda x: (x[0], x[1]),
    )
    assert snap(verdicts.collect(), vcols, None) == snap(off_v, vcols, None)
    assert snap(manifest.collect(), mcols, None) == snap(off_m, mcols, None)


def test_st14_replay_is_bit_identical(spark, tmp_path):
    """st14's crash-replay contract — the composition inherits every
    piece's: the guard screens against the immutable pin only, the
    curation verdict replays bit-identically (st7 same-id exclusion +
    st10 covered-batch suppression), the manifest is a deterministic
    function of the verdicts. Re-running batch 2 with its state already
    appended re-emits byte-identical verdict AND manifest rows."""
    from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
    from pdf_etl_pipeline_spark.streaming.corpus_builder import (
        build_corpus_batch,
        drop_builder_state,
    )

    bench, b1, b2 = _st14_fixture(spark)
    state = str(tmp_path / "st14_replay")
    assert pin_benchmark(bench, state)
    vcols = ["doc_id", "n_tokens", "n_kept", "admitted", "lang_trim", "q_trim", "verdict"]
    mcols = ["shard_id", "n_docs", "total_tokens", "first_doc_id", "last_doc_id"]
    snap = lambda df, cols: sorted([getattr(r, c) for c in cols] for r in df.collect())

    build_corpus_batch(b1, state, batch_id=0)
    v2, m2 = build_corpus_batch(b2, state, batch_id=1)
    want_v, want_m = snap(v2, vcols), snap(m2, mcols)
    assert any(r[-1] == "drop_neardup" for r in want_v)  # genuine cross-batch dup
    assert any(r[-1] == "keep" for r in want_v)

    v2r, m2r = build_corpus_batch(b2, state, batch_id=1)
    assert snap(v2r, vcols) == want_v
    assert snap(m2r, mcols) == want_m
    drop_builder_state(spark, state)


def test_st12_drift_monitor_stream_and_pinned_reference(spark, tmp_path):
    """st12: the FIRST batch is pinned as the immutable reference; every
    later batch scores against that pin (not against its predecessor);
    replays/restarts recompute identical rows and never move the pin."""
    import datetime as dt
    import os as _os

    from pdf_etl_pipeline_spark.streaming.drift_monitor import (
        REFERENCE_SUBDIR,
        drift_monitor_stream,
        monitor_drift_batch,
        read_drift_reports,
    )
    from pyspark.sql import functions as F2

    base = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    # reference: values 0..9; batch B: same distribution (no drift);
    # batch C: shifted by +100 (total drift)
    ref_rows = [(i, base, 1, "m", float(i % 10), "{}") for i in range(40)]
    b_rows = [(100 + i, base, 1, "m", float(i % 10), "{}") for i in range(40)]
    c_rows = [(200 + i, base, 1, "m", 100.0 + (i % 10), "{}") for i in range(40)]

    drop_dir = str(tmp_path / "drops")
    for i, rows in enumerate((ref_rows, b_rows, c_rows)):
        mk(rows).coalesce(1).write.mode("append").parquet(drop_dir)
        import time as _t; _t.sleep(1.1)  # distinct mod times -> file order

    state = str(tmp_path / "state")
    def run():
        stream = (
            spark.readStream.format("parquet")
            .schema("event_id long, ts timestamp, user_id long, event_type string, value double, props string")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = drift_monitor_stream(stream, state).start()
        q.awaitTermination(300)

    run()
    rep = {r.batch_id: r for r in read_drift_reports(spark, state).collect()}
    assert set(rep) == {1, 2}  # batch 0 = the pin, never scored
    assert rep[1].psi < 0.2 and not rep[1].drift and rep[1].ks_d == 0.0
    assert rep[2].drift and rep[2].reject and rep[2].ks_d == 1.0  # disjoint supports
    assert (rep[1].n_ref, rep[1].n_cur) == (40, 40)

    # restart with the same checkpoint: no new files -> no new rows, pin intact
    ref_files = sorted(_os.listdir(_os.path.join(state, REFERENCE_SUBDIR)))
    run()
    assert read_drift_reports(spark, state).count() == 2
    assert sorted(_os.listdir(_os.path.join(state, REFERENCE_SUBDIR))) == ref_files

    # a replayed batch recomputes bit-identical rows against the pin
    ref = spark.read.parquet(_os.path.join(state, REFERENCE_SUBDIR))
    again = monitor_drift_batch(
        mk(c_rows).select("event_type", "value"), state, batch_id=2
    )
    assert sorted(map(tuple, again.collect())) == [
        tuple(rep[2])[:-1]  # minus the batch_id column appended by the stream
    ]


def test_st12_equals_dq4_join_dp4(spark):
    """By construction st12's two-batch unroll (first half pinned, second
    half scored) must equal dq4 ⋈ dp4 per event_type — pin it."""
    from pdf_etl_pipeline_spark.catalog import load_registry

    sf = "/root/testdata/sf0.001"
    reg = load_registry()
    st12 = {r.event_type: r for r in reg["st12_drift_monitor"].fn(spark, sf).collect()}
    dq4 = {r.event_type: r for r in reg["dq4_distribution_drift"].fn(spark, sf).collect()}
    dp4 = {r.event_type: r for r in reg["dp4_ks_drift"].fn(spark, sf).collect()}
    assert set(st12) == set(dq4) == set(dp4)
    for et, r in st12.items():
        assert (r.n_ref, r.n_cur, r.psi, r.drift) == (
            dq4[et].n_ref, dq4[et].n_cur, dq4[et].psi, dq4[et].drift
        )
        assert (r.ks_d, r.reject) == (dp4[et].ks_d, dp4[et].reject)

def test_st13_contamination_guard_stream_and_pin(spark, tmp_path):
    """st13: planted benchmark 5-gram flags exactly the docs sharing it
    (with the exact distinct-shingle overlap count); the pin is
    write-once; an unpinned guard refuses to run; restart appends no
    duplicate verdicts."""
    import os as _os
    import time as _time

    from pdf_etl_pipeline_spark.streaming.contamination_guard import (
        contamination_guard_stream,
        guard_contamination_batch,
        pin_benchmark,
        read_contamination_reports,
    )

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta")],  # 6 tokens -> 2 5-gram shingles
        "doc_id long, text string",
    )
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # doc 1 shares the first 5-gram exactly once; doc 2 shares both
    # shingles; doc 3 is clean
    b1 = mk([
        (1, "alpha beta gamma delta epsilon nine ten eleven"),
        (2, "x alpha beta gamma delta epsilon zeta y"),
    ])
    b2 = mk([(3, "one two three four five six seven")])

    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="pin_benchmark"):
        guard_contamination_batch(b1, state, 0)

    assert pin_benchmark(bench, state)
    assert not pin_benchmark(mk([(9, "other words entirely here now")]), state)  # write-once

    drop_dir = str(tmp_path / "drops")
    b1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(drop_dir)

    def run():
        stream = (
            spark.readStream.format("parquet")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = contamination_guard_stream(stream, state).start()
        q.awaitTermination(300)

    run()
    got = {r.doc_id: r for r in read_contamination_reports(spark, state).collect()}
    assert {d: (got[d].n_shared_shingles, got[d].contaminated) for d in sorted(got)} == {
        1: (1, True),
        2: (2, True),
        3: (0, False),
    }
    # restart: no new files -> no duplicate verdicts
    run()
    assert read_contamination_reports(spark, state).count() == 3

@pytest.mark.slow
def test_span_index_model_based_interleaving(spark, tmp_path):
    """Model-based pin for the generation-merged index: a scripted
    interleaving of batches, replays (including replays of batches whose
    counts were already MERGED), and compactions at different thresholds
    must track a pure-python reference model exactly — every report
    bit-identical to the model's admission math, every index read equal
    to the model's per-hash totals."""
    from pdf_etl_pipeline_spark.llmdata.dedup import DUP_SPAN_N
    from pdf_etl_pipeline_spark.llmdata.span_ingest import (
        compact_span_index,
        monitor_batch,
        read_index_counts,
        span_hashes_df,
    )

    run1 = " ".join(f"a{i}" for i in range(12))
    run2 = " ".join(f"b{i}" for i in range(11))
    texts = {
        1: run1 + " u1 u2 u3",
        2: run2 + " v1 v2",
        3: run1 + " " + run2,          # duplicates both runs
        4: "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11",  # its own unique run
        5: run2 + " x1 x2 x3 x4",
    }
    batches = {  # batch_id -> doc ids
        10: [1], 20: [2], 30: [3], 40: [4], 50: [5],
    }
    mk = lambda ids: spark.createDataFrame(
        [(d, texts[d]) for d in ids], "doc_id long, text string"
    )

    # reference model: per-hash per-batch distinct-doc counts, summed
    model: dict[int, dict[int, int]] = {}  # h -> {batch_id: nd}

    def model_spans(ids):
        df = span_hashes_df(mk(ids), DUP_SPAN_N)
        out: dict[int, set] = {}
        for r in df.collect():
            out.setdefault(r.h, set()).add(r.doc_id)
        return {h: len(s) for h, s in out.items()}

    def model_report(ids, batch_id):
        batch = model_spans(ids)
        reports = {}
        spans = span_hashes_df(mk(ids), DUP_SPAN_N).collect()
        toks = {d: len(texts[d].split()) for d in ids}
        dup_h = set()
        for h, nd in batch.items():
            idx_total = sum(v for b, v in model.get(h, {}).items() if b != batch_id)
            own_already = model.get(h, {}).get(batch_id, 0)
            # a replayed batch's own merged/unmerged counts never double:
            # exclusion (raw) or suppression (merged) — either way the
            # total equals pre-batch index + this batch once
            if own_already:
                total = idx_total + own_already
            else:
                total = idx_total + nd
            if total >= 2:
                dup_h.add(h)
        starts = {}
        for r in spans:
            if r.h in dup_h:
                starts.setdefault(r.doc_id, []).append(r.pos)
        for d in ids:
            ps = sorted(starts.get(d, []))
            covered = 0
            i = 0
            while i < len(ps):
                j = i
                while j + 1 < len(ps) and ps[j + 1] - ps[j] < DUP_SPAN_N:
                    j += 1
                covered += ps[j] - ps[i] + DUP_SPAN_N
                i = j + 1
            reports[d] = (toks[d], covered)
        return reports

    def model_ingest(ids, batch_id):
        for h, nd in model_spans(ids).items():
            model.setdefault(h, {})[batch_id] = nd  # replay: idempotent

    ix = str(tmp_path / "ix")
    script = [
        ("batch", 10), ("batch", 20),
        ("compact", 0),                    # merge everything so far
        ("batch", 30),
        ("replay", 10),                    # batch 10 is MERGED: suppression path
        ("compact", 1),
        ("batch", 40),
        ("replay", 30),                    # raw replay: exclusion path
        ("compact", 0),
        ("batch", 50),
        ("replay", 20),                    # merged long ago
    ]
    for op, arg in script:
        if op == "batch" or op == "replay":
            ids = batches[arg]
            got = {
                r.doc_id: (r.n_tokens, r.n_dup_tokens)
                for r in monitor_batch(mk(ids), ix, batch_id=arg).collect()
            }
            want = model_report(ids, arg)
            assert got == want, (op, arg, got, want)
            model_ingest(ids, arg)
        else:
            compact_span_index(spark, ix, max_files=arg)
        # the committed index totals must equal the model's at every step
        got_counts = {r.h: r.nd_idx for r in read_index_counts(spark, ix).collect()}
        want_counts = {h: sum(v.values()) for h, v in model.items()}
        assert got_counts == want_counts, (op, arg)

def test_st12_pinning_batch_replay_is_neutral(spark, tmp_path):
    """The st12 pin crash corner: a batch that pinned the reference and
    then crashed before its offset committed REPLAYS with the pin
    present — it must return None again (never score the reference
    against itself), and a pin torn between marker and snapshot rows is
    completed by the replay."""
    import os as _os

    from pdf_etl_pipeline_spark.operators import fsutil
    from pdf_etl_pipeline_spark.streaming.drift_monitor import (
        PIN_MARKER,
        REFERENCE_SUBDIR,
        _reference_path,
        monitor_drift_batch,
    )

    vals = spark.createDataFrame(
        [("m", float(i % 7)) for i in range(30)], "event_type string, value double"
    )
    state = str(tmp_path / "state")
    assert monitor_drift_batch(vals, state, batch_id=0) is None  # pins
    # full replay of the pinning epoch: None again, pin untouched
    before = sorted(_os.listdir(_os.path.join(state, REFERENCE_SUBDIR)))
    assert monitor_drift_batch(vals, state, batch_id=0) is None
    assert sorted(_os.listdir(_os.path.join(state, REFERENCE_SUBDIR))) == before
    # a later batch scores normally against the pin
    out = monitor_drift_batch(vals, state, batch_id=1)
    assert out is not None and out.collect()[0].psi == 0.0

    # torn pin: marker committed, snapshot rows not — the replay completes it
    state2 = str(tmp_path / "torn")
    ref2 = _reference_path(state2)
    fsutil.write_text(_os.path.join(ref2, PIN_MARKER), "0", spark)
    assert monitor_drift_batch(vals, state2, batch_id=0) is None
    assert fsutil.list_data_files(ref2, spark)  # snapshot rows now present
    out2 = monitor_drift_batch(vals, state2, batch_id=1)
    assert out2 is not None and out2.collect()[0].ks_d == 0.0


def test_st12_torn_pin_guards(spark, tmp_path):
    """The two torn-pin edges direct callers can reach (r12 ADVICE +
    VERDICT finding 4):

    (a) an UNPARSEABLE marker (write_text is non-atomic; empty/partial
        bytes) with no snapshot rows is treated as no-pin — the next
        batch re-pins instead of raising ValueError forever;
    (b) a VALID marker without snapshot rows seen by a DIFFERENT
        batch_id refuses to re-pin (that would silently move the
        reference) — only the original batch's replay completes the pin;
    (c) an unparseable marker ALONGSIDE snapshot rows is impossible from
        this module's write order — refused loudly."""
    import os as _os

    import pytest as _pytest

    from pdf_etl_pipeline_spark.operators import fsutil
    from pdf_etl_pipeline_spark.streaming.drift_monitor import (
        PIN_MARKER,
        _pinned_batch_id,
        _reference_path,
        monitor_drift_batch,
    )

    vals = spark.createDataFrame(
        [("m", float(i % 7)) for i in range(30)], "event_type string, value double"
    )

    # (a) torn marker bytes, no snapshot rows: self-heals by re-pinning
    state = str(tmp_path / "torn_bytes")
    ref = _reference_path(state)
    fsutil.write_text(_os.path.join(ref, PIN_MARKER), "", spark)
    assert _pinned_batch_id(spark, state) is None
    assert monitor_drift_batch(vals, state, batch_id=3) is None  # re-pins
    assert _pinned_batch_id(spark, state) == 3
    out = monitor_drift_batch(vals, state, batch_id=4)
    assert out is not None and out.collect()[0].psi == 0.0

    # (b) valid marker, no snapshot rows, different batch_id: refused
    state2 = str(tmp_path / "torn_rows")
    ref2 = _reference_path(state2)
    fsutil.write_text(_os.path.join(ref2, PIN_MARKER), "0", spark)
    with _pytest.raises(ValueError, match="pin is torn"):
        monitor_drift_batch(vals, state2, batch_id=7)
    # the original batch's replay still completes the pin afterwards
    assert monitor_drift_batch(vals, state2, batch_id=0) is None
    assert monitor_drift_batch(vals, state2, batch_id=7) is not None

    # (c) unparseable marker alongside snapshot rows: loud corruption error
    fsutil.write_text(_os.path.join(ref2, PIN_MARKER), "garbage", spark, overwrite=True)
    with _pytest.raises(ValueError, match="state corrupt"):
        monitor_drift_batch(vals, state2, batch_id=8)


def test_st15_leakage_guard_stream_and_pin(spark, tmp_path):
    """st15: a train doc whose token SET equals a pinned held-out doc's
    (reordered/repeated words — Jaccard 1.0, all bands match) must flag;
    a half-overlap doc must survive the Jaccard verify even if banded;
    the pin is write-once; an unpinned OR TORN pin refuses to run;
    restart appends no duplicate verdicts."""
    import time as _time

    from pdf_etl_pipeline_spark.streaming.leakage_guard import (
        guard_leakage_batch,
        leakage_guard_stream,
        pin_heldout,
        read_leakage_reports,
    )

    words = [f"tok{i}" for i in range(20)]
    held_text = " ".join(words)
    dup_text = " ".join(reversed(words)) + " " + words[0]  # same token SET
    half_text = " ".join(words[:10] + [f"other{i}" for i in range(10)])
    clean_text = " ".join(f"fresh{i}" for i in range(15))
    heldout = spark.createDataFrame([(1000, held_text)], "doc_id long, text string")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    b1 = mk([(1, dup_text), (2, half_text)])
    b2 = mk([(3, clean_text)])

    state = str(tmp_path / "state")
    with pytest.raises(ValueError, match="pin_heldout"):
        guard_leakage_batch(b1, state, 0)

    # TORN pin: toks written, bands not -> still refuses
    import os as _os

    from pdf_etl_pipeline_spark.streaming.leakage_guard import TOKS_SUBDIR

    torn = str(tmp_path / "torn")
    spark.createDataFrame([(1000, [1, 2])], "heldout_id long, th array<long>").write.parquet(
        _os.path.join(torn, TOKS_SUBDIR)
    )
    with pytest.raises(ValueError, match="pin_heldout"):
        guard_leakage_batch(b1, torn, 0)

    assert pin_heldout(heldout, state)
    assert not pin_heldout(mk([(9, "entirely different words")]), state)  # write-once

    drop_dir = str(tmp_path / "drops")
    b1.coalesce(1).write.mode("append").parquet(drop_dir)
    _time.sleep(1.1)
    b2.coalesce(1).write.mode("append").parquet(drop_dir)

    def run():
        stream = (
            spark.readStream.format("parquet")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .load(drop_dir)
        )
        q = leakage_guard_stream(stream, state).start()
        q.awaitTermination(300)

    run()
    got = {r.doc_id: r for r in read_leakage_reports(spark, state).collect()}
    assert {d: (got[d].n_heldout_dups, got[d].leaks) for d in sorted(got)} == {
        1: (1, True),
        2: (0, False),
        3: (0, False),
    }
    assert got[1].max_jaccard == 1.0
    assert got[2].max_jaccard is None
    # restart: no new files -> no duplicate verdicts
    run()
    assert read_leakage_reports(spark, state).count() == 3


def test_st15_oversized_pin_drops_broadcast_and_matches(spark, tmp_path, monkeypatch):
    """r13 VERDICT finding 3: the pinned held-out index must not be
    broadcast unconditionally — a corpus-fraction pin at 100 TB would OOM
    the forced broadcast. Pin size is recorded at pin time; above
    PIN_BROADCAST_MAX_ROWS the hint is dropped and Catalyst plans a
    non-broadcast band join with IDENTICAL verdicts."""
    from pdf_etl_pipeline_spark.streaming import leakage_guard as LG

    words = [f"tok{i}" for i in range(20)]
    heldout = spark.createDataFrame(
        [(1000, " ".join(words))], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, " ".join(reversed(words))),  # same token set -> leaks
            (2, " ".join(f"fresh{i}" for i in range(15))),  # clean
        ],
        "doc_id long, text string",
    )
    state = str(tmp_path / "state")
    assert LG.pin_heldout(heldout, state)
    # the meta relation recorded the pin size (bands of one doc)
    assert LG._pin_band_rows(spark, state) == 4

    def verdicts():
        return {
            r.doc_id: (r.n_heldout_dups, r.max_jaccard, r.leaks)
            for r in LG.guard_leakage_batch(batch, state, 0).collect()
        }

    base = verdicts()
    assert base[1] == (1, 1.0, True) and base[2][2] is False

    # shrink the ceiling so THIS pin counts as oversized, and kill
    # stats-based auto-broadcast so the hint's absence is observable
    monkeypatch.setattr(LG, "PIN_BROADCAST_MAX_ROWS", 0)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lazy = LG.leakage_batch_df(
            batch,
            spark.read.parquet(LG._bands_path(state)),
            spark.read.parquet(LG._toks_path(state)),
            broadcast_pin=False,
        )
        plan = lazy._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert verdicts() == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # meta missing (pre-r14 pin layout): the size degrades to a bands count
    from pdf_etl_pipeline_spark.operators import fsutil

    fsutil.delete(LG._meta_path(state), recursive=True, spark=spark)
    assert LG._pin_band_rows(spark, state) == 4


def test_st16_leakage_guard_in_builder(spark, tmp_path):
    """st16: a train doc whose token set equals a pinned HELD-OUT doc's
    gets a FINAL drop_leaks_heldout verdict, and — the index-isolation
    pin — never enters the curation near-dup index; clean docs flow
    through the unchanged st14 path; an unpinned leakage stage refuses
    to run."""
    import os as _os

    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
    from pdf_etl_pipeline_spark.streaming.corpus_builder import (
        LEAKAGE_SUBDIR,
        build_corpus_batch,
    )
    from pdf_etl_pipeline_spark.streaming.leakage_guard import pin_heldout

    held_words = [f"h{i}" for i in range(30)]
    heldout = spark.createDataFrame(
        [(500, " ".join(held_words))], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (20, " ".join(reversed(held_words))),  # same token set as held-out -> leaks
            (21, "the quick brown fox jumps over a lazy dog and keeps running fast " * 2),
        ],
        "doc_id long, text string",
    )

    state = str(tmp_path / "state")
    assert pin_benchmark(bench, state)
    # leakage stage on but no held-out pin -> refuses (st15's contract)
    with pytest.raises(ValueError, match="pin_heldout"):
        build_corpus_batch(docs, state, batch_id=0, leakage_guard=True)

    assert pin_heldout(heldout, _os.path.join(state, LEAKAGE_SUBDIR))
    verdicts, manifest = build_corpus_batch(docs, state, batch_id=0, leakage_guard=True)
    got = {r.doc_id: r for r in verdicts.collect()}
    assert got[20].verdict == "drop_leaks_heldout"
    assert got[20].n_kept == 0 and got[20].admitted is False
    assert got[21].verdict in ("keep", "drop_quality", "drop_lang")  # flowed through
    # index isolation: the leaking doc never entered the curation near-dup index
    toks_path = _os.path.join(state, "curation", "neardup", "toks")
    indexed = {r.doc_id for r in spark.read.parquet(toks_path).select("doc_id").collect()}
    assert 20 not in indexed and 21 in indexed
