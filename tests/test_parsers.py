"""Parser tests against FIXTURES.md-shaped documents — exact values for the
rows-only catalog entries (T7/T8) and structural checks for the rest."""

import datetime

from pdf_etl_pipeline_spark.parsers import fixtures as FX
from pdf_etl_pipeline_spark.parsers.invoice import parse_invoices
from pdf_etl_pipeline_spark.parsers.nc import (
    detect_doc_type,
    parse_award_letter,
    parse_bid_tabs,
    parse_bids_as_read,
    parse_documents_by_type,
    parse_invitation,
    parse_item_c,
)

from pyspark.sql import functions as F


def by(rows, **kv):
    out = [r for r in rows if all(getattr(r, k) == v for k, v in kv.items())]
    assert out, f"no row with {kv}"
    return out[0]


def test_invoice_full_pipeline(spark):
    rows = parse_invoices(
        FX.corpus_df(spark, FX.INVOICE_DOCS), processed_date="2023-06-01"
    ).collect()
    assert len(rows) == 6
    r = by(rows, description="AX-1000 Digi Mouse Wireless")
    assert r.supplier_name == "J.K. Computers"
    assert r.supplier_tin == "14122226789"
    assert r.client_name == "Mirtha M. Reeve"
    assert r.client_tin == "14125436789"
    assert r.invoice_number == "100"
    assert r.invoice_date == datetime.date(2021, 1, 20)
    assert r.due_date == datetime.date(2021, 2, 10)
    assert (r.qty, r.price, r.total) == (1.0, 7400.0, 7400.0)
    assert (r.tax_label, r.tax_amount, r.total_amount) == (8.0, 1520.0, 20520.0)

    # GTIN line must not leak into TINs (negative lookbehind)
    r2 = by(rows, description="Stapler Heavy Duty")
    assert r2.supplier_tin == "99887766551"
    assert r2.client_tin is None

    # degenerate doc: receipt-id invoice number, mined date, fix_null_total
    r3 = by(rows, description="Drain Snake Rental")
    assert r3.invoice_number == "R000183898"
    assert r3.invoice_date == datetime.date(2021, 3, 12)
    assert r3.total_amount == 84.8


def test_detect_doc_type(spark):
    df = FX.corpus_df(spark, FX.ALL_DOCS).select(
        "path", detect_doc_type(F.col("path"), F.col("lines")).alias("t")
    )
    got = {r.path.split("/")[-1]: r.t for r in df.collect()}
    assert got["award letter DA00569.pdf"] == "nc_award_letter"
    assert got["bid tabs DA00569.pdf"] == "nc_bid_tabs"
    assert got["bids as read 12089199.pdf"] == "nc_bids_as_read"
    assert got["item c.pdf"] == "nc_item_c"
    assert got["invitation to bid DA00569.pdf"] == "nc_invitation_to_bid"
    assert got["sample1.pdf"] == "invoice"


def test_award_letter(spark):
    r = parse_award_letter(FX.corpus_df(spark, [FX.NC_AWARD_LETTER])).collect()[0]
    assert r.contract_id == "DA00569"
    assert r.county == "Craven"
    assert r.vendor == "Lyon Shipyard, Inc."
    assert r.letting_date == datetime.date(2023, 5, 3)
    # award amount comes from the next-line fallback
    assert r.award_value == 1487760.0


def test_invitation(spark):
    r = parse_invitation(FX.corpus_df(spark, [FX.NC_INVITATION])).collect()[0]
    assert r.contract_id == "DA00569"
    assert r.proposal_description == "Work Barge Skyco Drydock"
    assert r.county == "Craven"
    assert r.division == "One"
    assert r.date_available == datetime.date(2023, 10, 2)
    assert r.completion_date == datetime.date(2024, 2, 16)
    assert r.letting_date == datetime.date(2023, 5, 3)


def test_bids_as_read(spark):
    rows = parse_bids_as_read(FX.corpus_df(spark, [FX.NC_BIDS_AS_READ])).collect()
    assert len(rows) == 3
    r = by(rows, contractor_name="BARNHILL CONTRACTING CO")
    assert r.amount_bid == 4659248.5
    assert r.engineers_estimate == 5100000.0
    assert r.total_bids_received == 3
    assert r.contract_id == "12089199"
    assert r.letting_date == datetime.date(2023, 3, 15)


def test_bids_as_read_null_fallback(spark):
    empty_doc = [("x.pdf", ["CONTRACT BIDS AS READ", "nothing parsed"])]
    rows = parse_bids_as_read(FX.corpus_df(spark, empty_doc)).collect()
    assert len(rows) == 1  # all-null fallback row survives (posexplode_outer)
    assert rows[0].contractor_name is None


def test_bid_tabs_positional_join(spark):
    rows = parse_bid_tabs(FX.corpus_df(spark, [FX.NC_BID_TABS])).collect()
    assert len(rows) == 4  # 2 items × 2 bidders
    r = by(rows, line_no="0001", vendor_name="LYON SHIPYARD INC")
    assert (r.unit_price, r.amount_bid) == (595.0, 4760.0)
    assert r.qty == 8.0 and r.unit == "DAY"
    r = by(rows, line_no="0001", vendor_name="COLONNAS SHIPYARD INC")
    assert (r.unit_price, r.amount_bid) == (443.63, 3549.04)
    # Lump Sum line: only one money pair present → second bidder gets nulls
    r = by(rows, line_no="0009", vendor_name="LYON SHIPYARD INC")
    assert (r.unit_price, r.amount_bid) == (90790.0, 87841.0)
    assert r.qty is None and r.unit == "LS"
    assert r.contract_id == "DA00569"
    assert r.letting_date == datetime.date(2023, 5, 3)


def test_item_c_blocks(spark):
    rows = parse_item_c(FX.corpus_df(spark, [FX.NC_ITEM_C])).collect()
    assert len(rows) == 3
    r = by(rows, block_id=1, vendor_name="LYON SHIPYARD INC")
    assert r.contract_id == "DA00569"
    assert r.project_number == "16.33001"
    assert r.estimate == 2224050.0
    assert r.date_available == datetime.date(2023, 10, 2)
    assert r.final_completion == datetime.date(2024, 2, 16)
    assert (r.vendor_city, r.vendor_total, r.pct_diff) == ("NORFOLK, VA", 1487760.0, -33.1)
    assert r.estimate_total == 2886830.8
    r2 = by(rows, block_id=2)
    assert r2.contract_id == "DA00570"
    assert r2.vendor_name == "BARNHILL CONTRACTING CO"


def test_dispatch_union_schema(spark):
    out = parse_documents_by_type(FX.corpus_df(spark, FX.ALL_DOCS))
    rows = out.collect()
    assert len(rows) == 22  # 6 invoice + 1 award + 4 bid-tab + 3 bids + 1 invit + 3 item-c + 4 receipt
    types = {r.doc_type for r in rows}
    assert types == {
        "invoice",
        "receipt",
        "nc_award_letter",
        "nc_bid_tabs",
        "nc_bids_as_read",
        "nc_invitation_to_bid",
        "nc_item_c",
    }
    # heterogeneous union: invoice-only column null for NC rows and vice versa
    award = by(rows, doc_type="nc_award_letter")
    assert award.supplier_name is None
    inv = by(rows, doc_type="invoice", description="Stapler Heavy Duty")
    assert inv.award_value is None


def _py4j_calls(monkeypatch, fn):
    """``fn()`` and the number of commands it sent to the JVM over py4j."""
    from py4j.java_gateway import GatewayClient

    send = GatewayClient.send_command
    calls = 0

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        out = fn()
    finally:
        monkeypatch.undo()
    return out, calls


def test_parser_plan_is_built_once_per_session(spark, monkeypatch):
    parse_documents_by_type(FX.corpus_df(spark, FX.ALL_DOCS))
    docs = FX.corpus_df(spark, FX.ALL_DOCS)
    out, calls = _py4j_calls(monkeypatch, lambda: parse_documents_by_type(docs))
    # a cold build sends ~13k commands; applying the memoized Columns ~500
    assert calls <= 1000
    assert out.count() == 22


def _sorted_rows(df):
    return sorted(map(repr, df.collect()))


def test_memoized_parser_plan_matches_a_cold_build(spark):
    from pdf_etl_pipeline_spark import session

    def parse():
        return parse_documents_by_type(
            FX.corpus_df(spark, FX.ALL_DOCS), processed_date="2023-06-01"
        )

    parse()
    warm = parse()
    warm_rows = _sorted_rows(warm)
    session._MEMO.clear()
    cold = parse()
    assert cold.schema == warm.schema
    assert _sorted_rows(cold) == warm_rows
    assert len({r.doc_type for r in cold.collect()}) == 7


def test_session_memo_keeps_only_the_current_application():
    from types import SimpleNamespace

    from pdf_etl_pipeline_spark import session

    def app(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    saved = dict(session._MEMO)
    session._MEMO.clear()
    try:
        builds = []

        def build(v):
            builds.append(v)
            return v

        assert session.session_memo(app("app-1"), "k", lambda: build("one")) == "one"
        assert session.session_memo(app("app-1"), "k", lambda: build("again")) == "one"
        assert session.session_memo(app("app-2"), "k", lambda: build("two")) == "two"
        assert list(session._MEMO) == ["app-2"]
        assert session.session_memo(app("app-1"), "k", lambda: build("three")) == "three"
        assert list(session._MEMO) == ["app-1"]
        assert builds == ["one", "two", "three"]
    finally:
        session._MEMO.clear()
        session._MEMO.update(saved)


def test_receipt_parser(spark):
    from pdf_etl_pipeline_spark.parsers.receipt import parse_receipts
    import datetime

    rows = parse_receipts(
        FX.corpus_df(spark, [FX.RECEIPT_LINES]), processed_date="2023-06-01"
    ).collect()
    assert len(rows) == 4
    r = by(rows, description="9556268000210")
    assert (r.qty, r.price, r.total) == (3.0, 15.0, 45.0)
    assert r.supplier_name == "MR. D.I.Y. SDN BHD"
    assert r.invoice_number == "000306020352"
    assert r.invoice_date == datetime.date(2018, 3, 12)
    assert (r.tax_label, r.tax_amount, r.subtotal_amount) == (6.0, 2.55, 42.45)
    assert r.total_amount == 45.0
    # P2 grammar: qty defaults to 1
    r2 = by(rows, description="9072363")
    assert (r2.qty, r2.price, r2.total) == (1.0, 29.9, 29.9)
    # P3 grammar: price before qty
    r3 = by(rows, description="9021937")
    assert (r3.qty, r3.price, r3.total) == (1.0, 3.9, 3.9)
    # P4 grammar: no SKU
    r4 = [r for r in rows if r.description is None][0]
    assert (r4.qty, r4.price, r4.total) == (1.0, 29.9, 29.9)
    assert abs(rows[0].items_total - 108.7) < 1e-9


def test_receipt_lookback_descriptions(spark):
    from pdf_etl_pipeline_spark.parsers.receipt import parse_receipts

    rows = parse_receipts(
        FX.corpus_df(spark, [FX.RECEIPT_LINES_2]), processed_date="2023-06-01"
    ).collect()
    assert len(rows) == 4
    r = by(rows, sku="9999123")
    assert r.description == "PVC PIPE 3M"  # W3 look-back wins over SKU
    r2 = by(rows, sku="8888456")
    assert r2.description == "COPPER ELBOW"
    assert r2.total_amount == 15.0
    assert r.supplier_name == "ACME HARDWARE LTD"
    # P4: price qty X total with comma decimals and lowercase x
    r3 = by(rows, description="PTFE TAPE ROLL")
    assert (r3.sku, r3.qty, r3.price, r3.total) == (None, 1.0, 3.9, 3.9)
    # P6: price ... qty X total (junk token between price and qty)
    r4 = by(rows, description="HOSE CLIP")
    assert (r4.sku, r4.qty, r4.price, r4.total) == (None, 1.0, 8.98, 8.9)
    assert abs(r4.items_total - 27.8) < 1e-9


# --- S4 real path: bitmap OCR on real PNG pixels --------------------------------
def test_bitmap_ocr_end_to_end_through_spark(spark):
    """S3/S4 real execution: render receipt-style text with the 5x7 font,
    encode as REAL PNG bytes, run the corpus through extract_word_boxes
    (Arrow-batched) and group_ocr_words — the recognized reading-order
    lines must reproduce the rendered text exactly."""
    import numpy as np

    from pdf_etl_pipeline_spark.llmdata.multimodal import encode_png
    from pdf_etl_pipeline_spark.operators.sessionize import group_ocr_words
    from pdf_etl_pipeline_spark.sources.ocr import render_text_image
    from pdf_etl_pipeline_spark.sources.pdf import extract_word_boxes

    pages = {
        "a.png": ["MR. D.I.Y. SDN", "GST ID: 123-456", "TOTAL $45.90"],
        "b.png": ["INVOICE NO: INV-2024", "QTY 3 PRICE $12.50"],
    }
    rows = []
    for path, lines in pages.items():
        # line_gap=8: group_ocr_words merges rows within 10px, so real
        # visual lines must sit further apart than the merge radius
        img = (render_text_image(lines, line_gap=8) * 255).astype(np.uint8)
        rows.append((path, bytearray(encode_png(img))))
    corpus = spark.createDataFrame(rows, "path string, content binary")
    words = extract_word_boxes(corpus)  # already (filename, x0, y0, x2, y2, line)
    grouped = group_ocr_words(words).collect()
    got = {}
    for r in grouped:
        got.setdefault(r.filename, []).append(r.line)
    assert got == pages
    # noise robustness: flipping a couple of glyph pixels must not change
    # the recognized text (nearest-glyph Hamming matching absorbs it)
    img = render_text_image(["TOTAL $45.90"])
    img[3, 3] = 1.0 - img[3, 3]
    img[5, 10] = 1.0 - img[5, 10]
    noisy = (img * 255).astype(np.uint8)
    c2 = spark.createDataFrame([("n.png", bytearray(encode_png(noisy)))], "path string, content binary")
    w2 = extract_word_boxes(c2).orderBy("x0").collect()
    assert " ".join(r.line for r in w2) == "TOTAL $45.90"


def test_receipt_pipeline_on_real_pixels(spark):
    """The COMPLETE image branch of the reference pipeline on real pixel
    data: receipt fixture rendered to PNG → pure-numpy decode → bitmap
    OCR → spatial line grouping → T4 receipt parser — the parsed items
    must equal parsing the same (uppercased) lines fed in directly."""
    import numpy as np

    from pdf_etl_pipeline_spark.llmdata.multimodal import encode_png
    from pdf_etl_pipeline_spark.operators.sessionize import group_ocr_words
    from pdf_etl_pipeline_spark.parsers.receipt import parse_receipts
    from pdf_etl_pipeline_spark.sources.ocr import render_text_image
    from pdf_etl_pipeline_spark.sources.pdf import extract_word_boxes

    path, lines = FX.RECEIPT_LINES
    up = [l.upper() for l in lines]
    img = (render_text_image(up, line_gap=8) * 255).astype(np.uint8)
    corpus = spark.createDataFrame(
        [(path, bytearray(encode_png(img)))], "path string, content binary"
    )
    grouped = group_ocr_words(extract_word_boxes(corpus))
    ocr_docs = grouped.groupBy(F.col("filename").alias("path")).agg(
        F.array_sort(F.collect_list(F.struct("y0", "line"))).alias("yl")
    ).select("path", F.transform("yl", lambda s: s["line"]).alias("lines"))
    direct_docs = spark.createDataFrame([(path, up)], "path string, lines array<string>")

    via_ocr = sorted(map(tuple, parse_receipts(ocr_docs).collect()), key=repr)
    direct = sorted(map(tuple, parse_receipts(direct_docs).collect()), key=repr)
    assert via_ocr == direct
    assert len(direct) >= 3  # the fixture's item grammars all parsed
