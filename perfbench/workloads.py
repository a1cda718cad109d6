"""The two closed-loop, single-client workloads, and the corpus stream
section that ends a traced ``invoice_analytics`` run.

Every workload has the same shape, driven by ``run.py``:

- ``prepare(spark)`` builds the inputs that need the session (input
  generation, not timed as set-up);
- ``warm(spark)`` is the timed warm-up that ends the set-up;
- ``after_setup(spark)`` runs the untimed set-up checks;
- ``op(spark, i, mode)`` runs op ``i`` and returns ``(latency_s, units,
  error)``; ``error`` is None when the output checked out;
- ``finish(spark)`` and ``layers()`` close the run; ``layers`` gives the
  per-layer metrics of a traced run.

``mode`` is ``"plain"`` (no job group, no span) or one of the traced
modes; a traced run cycles through ``modes(True)``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time
from contextlib import nullcontext

import pdfgen
import tables

ANALYTICS_QUERIES = (
    "a1_docs_per_invoice", "a2_invoice_value", "a3_top_suppliers", "a4_top_descriptions",
    "a5_monthly_spend", "a8_pricing_summary", "a10_star_join_revenue", "j1_dedup_anti_join",
    "w5_topk_per_group",
)
TABLES_SF = 0.01  # fixed per-query cost dominates at this size, as at sf0.1
# Known defect: a10 sums CAST(double AS DECIMAL(27,2)) per row, and Spark and
# DuckDB round some half-cent products apart, so on about half the seeds a10
# differs from its oracle by cents. Its oracle check allows float differences
# of one part per million and reports them; every other query must match exactly.
ROUNDING_DEFECTS = {"a10_star_join_revenue"}
STREAM_DOCS = 1000  # documents table size
DOCS_SEED = 42  # the documents table is fixed, like TESTDATA.md's; --seed picks the batches
STREAM_BATCH = 100  # docs per micro-batch (the bootstrap batch too)
INGEST_BATCH = 20  # PDFs per ingest batch
WARM_BATCHES = 3  # ingest batches of the set-up
# Micro-batches timed after the bootstrap in the corpus stream section. A
# traced analytics run with two took 117 s; contention could push it past
# the 180 s a run may take.
STREAM_OPS = 1


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _dir_stats(path: str) -> tuple[int, float]:
    """(data files, MB) under ``path``, hidden and metadata files skipped."""
    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / 2**20


class Workload:
    name = ""
    unit = ""
    granule = 1  # ops that make one complete mix; runs end on a whole mix
    min_ops = 1  # ops every untraced run makes, however long each takes

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tr = work, seed, tracer
        self.problems: list[str] = []  # set-up checks that failed

    def modes(self, traced: bool) -> list[str]:
        # untraced ops on both sides of the traced one, so that drift over
        # the run (a growing index or sink) cancels in trace.overhead_ratio
        return ["plain", "traced", "plain"] if traced else ["plain"]

    def prepare(self, spark) -> None:
        pass

    def after_setup(self, spark) -> None:
        pass

    def finish(self, spark) -> None:
        pass

    def span(self, name: str, i: int, on: bool):
        return self.tr.span(name, i) if on else nullcontext({})

    def spans(self, name: str) -> list[dict]:
        return [s for s in self.tr.spans if s["name"] == name]


class InvoiceIngest(Workload):
    """Text-layer PDFs -> ``run_extraction_pipeline`` -> one growing sink."""

    name, unit = "invoice_ingest", "docs"

    def __init__(self, work, seed, tracer):
        super().__init__(work, seed, tracer)
        self.corpus = pdfgen.Corpus(os.path.join(work, "in"), seed, INGEST_BATCH)
        self.sink = os.path.join(work, "sink")
        self.want_rows, self.want_total = 0, 0.0
        self.plain: list[float] = []  # untraced fused batch latencies

    def modes(self, traced):
        return ["plain", "traced", "staged", "plain"] if traced else ["plain"]

    def warm(self, spark):
        from pdf_etl_pipeline_spark.plans.pipeline import run_extraction_pipeline

        # The first batches of the sequence: the sink holds keys before timing
        # starts, and the batch latency has levelled off. In one JVM the
        # batches took about 22 s, then 9-15, 8.4-10.8 and 8.5-10 s. On a
        # quiet host the second batch varied by up to 45% from run to run,
        # the fourth by 10%.
        for _ in range(WARM_BATCHES):
            batch = self.next_batch()
            n = run_extraction_pipeline(spark, batch.path, glob="*.pdf", sink_path=self.sink)
            self.want_rows += batch.expected_inserted
            self.want_total += batch.new_total
            if n != batch.expected_inserted:
                self.problems.append(f"warm-up inserted {n}, expected {batch.expected_inserted}")

    def next_batch(self) -> pdfgen.Batch:
        return self.corpus.next_batch()

    def _staged(self, spark, path: str, i: int) -> int:
        """The same layers called one after another, each output cached."""
        from pdf_etl_pipeline_spark.operators.dedup_sink import insert_dataframe
        from pdf_etl_pipeline_spark.parsers.nc import parse_documents_by_type
        from pdf_etl_pipeline_spark.sources.files import scan_corpus
        from pdf_etl_pipeline_spark.sources.pdf import extract_text_lines

        held = []
        try:
            with self.tr.span("sources.files.scan_corpus", i) as s:
                corpus = scan_corpus(spark, path, glob="*.pdf").persist()
                held.append(corpus)
                s["docs"] = corpus.count()
            with self.tr.span("sources.pdf.extract_text_lines", i):
                docs = extract_text_lines(corpus).persist()
                held.append(docs)
                docs.count()
            with self.tr.span("parsers.parse_documents_by_type", i) as s:
                records = parse_documents_by_type(docs).persist()
                held.append(records)
                s["records"] = records.count()
            with self.tr.span("operators.dedup_sink.insert_dataframe", i) as s:
                n = s["inserted"] = insert_dataframe(records, self.sink)
        finally:
            for df in held:
                df.unpersist()
        return n

    def op(self, spark, i, mode):
        from pdf_etl_pipeline_spark.plans.pipeline import run_extraction_pipeline

        batch = self.next_batch()
        t0 = time.perf_counter()
        if mode == "staged":
            n = self._staged(spark, batch.path, i)
        else:
            with self.span("plans.pipeline.run_extraction_pipeline", i, mode == "traced"):
                n = run_extraction_pipeline(spark, batch.path, glob="*.pdf", sink_path=self.sink)
        dt = time.perf_counter() - t0
        if mode == "plain":
            self.plain.append(dt)
        self.want_rows += batch.expected_inserted
        self.want_total += batch.new_total
        if self.corpus.roundtrip_failures:
            return dt, batch.n_docs, f"generated PDFs do not round-trip: {self.corpus.roundtrip_failures[:2]}"
        if n != batch.expected_inserted:
            return dt, batch.n_docs, f"inserted {n}, expected {batch.expected_inserted}"
        from pyspark.sql import functions as F

        rows, total = spark.read.parquet(self.sink).agg(F.count("*"), F.sum("total_amount")).first()
        if rows != self.want_rows or not math.isclose(total or 0.0, self.want_total, abs_tol=0.01):
            return dt, batch.n_docs, f"sink holds {rows} rows / {total}, expected {self.want_rows} / {self.want_total:.2f}"
        return dt, batch.n_docs, None

    def layers(self):
        out = {}
        scan, ext = self.spans("sources.files.scan_corpus"), self.spans("sources.pdf.extract_text_lines")
        parse, ins = self.spans("parsers.parse_documents_by_type"), self.spans("operators.dedup_sink.insert_dataframe")
        fused = self.spans("plans.pipeline.run_extraction_pipeline")
        d = _dur
        docs = sum(s["docs"] for s in scan)
        out["sources.files.scan_s"] = _median([d(s) for s in scan])
        out["sources.pdf.extract_s"] = _median([d(s) for s in ext])
        out["sources.pdf.docs_per_s"] = docs / sum(d(s) for s in ext) if ext else 0.0
        out["parsers.parse_s"] = _median([d(s) for s in parse])
        out["parsers.records_per_doc"] = sum(s["records"] for s in parse) / docs if docs else 0.0
        out["operators.dedup_sink.insert_s"] = _median([d(s) for s in ins])
        recs = sum(s["records"] for s in parse)
        out["operators.dedup_sink.inserted_ratio"] = sum(s["inserted"] for s in ins) / recs if recs else 0.0
        files, mb = _dir_stats(self.sink)
        out["operators.dedup_sink.table_files"] = files
        out["operators.dedup_sink.table_mb"] = mb
        out["plans.pipeline.batch_s"] = _median([d(s) for s in fused])
        staged_sum = _median([sum(d(s) for s in grp) for grp in zip(scan, ext, parse, ins)])
        out["plans.pipeline.staged_ratio"] = out["plans.pipeline.batch_s"] / staged_sum if staged_sum else 0.0
        for k in ("jobs", "stages", "tasks"):
            out[f"plans.pipeline.{k}"] = _median([s[k] for s in fused])
        plain = _median(self.plain)
        out["trace.overhead_ratio"] = out["plans.pipeline.batch_s"] / plain if plain else 0.0
        return out


def _strings(pdf):
    """Each value as the repo's oracle checker prints it: floats to 9
    digits, dates without a midnight suffix, missing values as null."""
    import pandas as pd

    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.map(lambda v: "null" if pd.isna(v) else repr(round(float(v), 9)))
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.map(lambda v: "null" if pd.isna(v) else pd.Timestamp(v).isoformat().removesuffix("T00:00:00"))
        else:
            out[c] = s.map(lambda v: "null" if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
    return pd.DataFrame(out, columns=list(pdf.columns), index=pdf.index)


def _canon(pdf):
    """Order-insensitive form of a result frame: sorted columns, sorted rows."""
    res = _strings(pdf.reindex(sorted(pdf.columns), axis=1))
    return res.sort_values(by=list(res.columns), kind="mergesort").reset_index(drop=True)


def _float_diff(got, want) -> float | None:
    """Largest float difference when two results agree in shape, in every
    non-float value and in every float to one part per million; else None."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return None
    floats = sorted(c for c in got.columns if pd.api.types.is_float_dtype(got[c]) and pd.api.types.is_float_dtype(want[c]))
    keys = sorted(c for c in got.columns if c not in floats)

    def rows(df):
        k = _strings(df[keys]).itertuples(index=False) if keys else ((),) * len(df)
        return sorted(zip(map(tuple, k), df[floats].itertuples(index=False)))

    a, b = rows(got), rows(want)
    if [k for k, _ in a] != [k for k, _ in b]:
        return None
    worst = 0.0
    for (_, fa), (_, fb) in zip(a, b):
        for x, y in zip(fa, fb):
            if math.isnan(x) or math.isnan(y):
                if math.isnan(x) != math.isnan(y):
                    return None
                continue
            if abs(x - y) > 1e-6 * max(abs(x), abs(y), 1.0):
                return None
            worst = max(worst, abs(x - y))
    return worst


def _digest(pdf) -> str:
    return hashlib.sha256(_canon(pdf).to_csv(index=False).encode()).hexdigest()


class InvoiceAnalytics(Workload):
    """Nine registered invoice/relational queries in a seeded order."""

    name, unit = "invoice_analytics", "queries"
    granule = len(ANALYTICS_QUERIES)
    # The first pass after the warm-up pass is still warming up (its median
    # query took 1.1-1.3 s, the second pass's 0.9-1.0 s): time two passes.
    min_ops = 2 * len(ANALYTICS_QUERIES)

    def __init__(self, work, seed, tracer):
        super().__init__(work, seed, tracer)
        self.dir = os.path.join(work, "tables")
        tables.write_tables(self.dir, seed, TABLES_SF)
        self.rng = random.Random(seed)
        self.order: list[str] = []
        self.ref: dict[str, str] = {}
        self.rounding: dict[str, float] = {}  # ROUNDING_DEFECTS query -> largest oracle difference
        self.plain: list[float] = []
        self.traced: list[float] = []

    def modes(self, traced):
        # whole passes of the mix per mode, so both modes time the same queries
        return [m for m in super().modes(traced) for _ in range(self.granule)]

    def prepare(self, spark):
        from pdf_etl_pipeline_spark.catalog import load_registry

        self.registry = load_registry()

    def warm(self, spark):
        self.first = {q: self.registry[q].fn(spark, self.dir).toPandas() for q in ANALYTICS_QUERIES}

    def after_setup(self, spark):
        """Each warm-up result against its DuckDB oracle; its digest becomes
        the reference every later op must reproduce."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in tables.TPCH_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            for q, got in self.first.items():
                want = con.execute(self.registry[q].oracle).fetchdf()
                if not _canon(got).equals(_canon(want)):
                    diff = _float_diff(got, want) if q in ROUNDING_DEFECTS else None
                    if diff is None:
                        self.problems.append(f"{q} differs from its DuckDB oracle")
                    else:
                        self.rounding[q] = diff
                self.ref[q] = _digest(got)
        finally:
            con.close()

    def op(self, spark, i, mode):
        from pdf_etl_pipeline_spark.session import load_table

        if not self.order:
            self.order = self.rng.sample(ANALYTICS_QUERIES, len(ANALYTICS_QUERIES))
        q = self.order.pop()
        traced = mode == "traced"
        spark.catalog.clearCache()
        if traced:
            for t in ("lineitem", "orders", "supplier", "part"):
                with self.tr.span("session.load_table", i, table=t):
                    load_table(spark, self.dir, t)
        t0 = time.perf_counter()
        with self.span("catalog.build", i, traced):
            df = self.registry[q].fn(spark, self.dir)
        with self.span("catalog.execute", i, traced) as s:
            pdf = df.toPandas()
            s["query"] = q
        dt = time.perf_counter() - t0
        (self.traced if traced else self.plain).append(dt)
        if _digest(pdf) != self.ref.get(q):
            return dt, 1, f"{q}: result differs from its oracle-checked reference"
        return dt, 1, None

    def layers(self):
        d = _dur
        build, exe = self.spans("catalog.build"), self.spans("catalog.execute")
        out = {
            "session.load_table_s": _median([d(s) for s in self.spans("session.load_table")]),
            "catalog.build_s": _median([d(s) for s in build]),
            "catalog.execute_s": _median([d(s) for s in exe]),
        }
        for q in ANALYTICS_QUERIES:
            out[f"catalog.{q}.p50_s"] = _median([d(b) + d(e) for b, e in zip(build, exe) if e["query"] == q])
        for k in ("jobs", "stages", "tasks"):
            out[f"catalog.{k}_per_query"] = _median([b[k] + e[k] for b, e in zip(build, exe)])
        plain = _median(self.plain)
        out["trace.overhead_ratio"] = _median(self.traced) / plain if plain else 0.0
        out.update(self.stream.layers())
        return out

    def finish(self, spark):
        if self.tr.enabled:
            self.stream = CorpusStream(self.work, self.seed, self.tr)
            self.stream.run(spark)
            self.problems += self.stream.problems


class CorpusStream:
    """Disjoint micro-batches through the guarded corpus builder, with the
    near-dup and span indexes growing batch by batch.

    Not a workload of its own: its end-to-end runs were too slow for the
    run budget and too noisy for the bounds (README.md, Steadiness). A
    traced ``invoice_analytics`` run ends with this section, so the
    streaming and llmdata layers are still timed, and their verdicts
    still checked.
    """

    VERDICTS = {"keep", "drop_neardup", "drop_lang", "drop_quality", "drop_contaminated", "drop_leaks_heldout"}

    def __init__(self, work, seed, tracer):
        self.seed, self.tr = seed, tracer
        self.problems: list[str] = []
        self.dir = os.path.join(work, "stream")
        tables.write_documents(self.dir, DOCS_SEED, STREAM_DOCS)
        self.state = os.path.join(work, "state")
        self.pin_s = 0.0
        self.kept = self.seen = 0
        self.ledger_path = os.path.join(
            os.path.dirname(work), "ledger", f"corpus_stream-{seed}-{DOCS_SEED}-{STREAM_DOCS}-{STREAM_BATCH}.json"
        )
        try:
            with open(self.ledger_path) as f:
                self.ledger = json.load(f)
        except (OSError, ValueError):
            self.ledger = {}

    def run(self, spark) -> None:
        """Pins and a bootstrap batch, then ``STREAM_OPS`` traced micro-batches;
        a failed check lands in ``problems``."""
        self._prepare(spark)
        self._pin_and_bootstrap(spark)
        for i in range(STREAM_OPS):
            err = self._op(i)
            if err:
                self.problems.append(f"corpus stream batch {i}: {err}")
        os.makedirs(os.path.dirname(self.ledger_path), exist_ok=True)
        with open(self.ledger_path, "w") as f:
            json.dump(self.ledger, f)

    def _prepare(self, spark):
        import duckdb
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.llmdata import corpus as CP
        from pdf_etl_pipeline_spark.session import load_table

        # the registered st16 query's split, through the public corpus helpers;
        # a micro-batch arrives as a raw scan, without st16's sf0.1 scan spread
        docs = load_table(spark, self.dir, "documents")
        stage = CP.split_stage(F.col("doc_id"))
        self.bench = docs.filter(F.col("doc_id") % CP.BENCH_MOD == 0)
        self.heldout = docs.filter(stage >= 1)
        self.corpus = docs.filter((F.col("doc_id") % CP.BENCH_MOD != 0) & (stage == 0))
        train = (
            f"SELECT doc_id FROM '{self.dir}/documents.parquet' WHERE doc_id % {CP.BENCH_MOD} <> 0 "
            f"AND ({CP.split_stage_sql('doc_id')}) = 0 ORDER BY doc_id"
        )
        ids = [r[0] for r in duckdb.sql(train).fetchall()]
        # a fixed bootstrap batch, then seeded disjoint micro-batches
        rest = ids[STREAM_BATCH:]
        self.ids = ids[:STREAM_BATCH] + random.Random(self.seed).sample(rest, len(rest))

    def _batch(self, ids, batch_id):
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.streaming.corpus_builder import build_corpus_batch

        verdicts, _ = build_corpus_batch(
            self.corpus.filter(F.col("doc_id").isin(ids)), self.state, batch_id=batch_id, leakage_guard=True
        )
        return verdicts

    def _pin_and_bootstrap(self, spark):
        from pdf_etl_pipeline_spark.catalog import require_pin
        from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
        from pdf_etl_pipeline_spark.streaming.corpus_builder import LEAKAGE_SUBDIR
        from pdf_etl_pipeline_spark.streaming.leakage_guard import pin_heldout

        t0 = time.perf_counter()
        require_pin(pin_benchmark(self.bench, self.state), "corpus_stream")
        require_pin(pin_heldout(self.heldout, os.path.join(self.state, LEAKAGE_SUBDIR)), "corpus_stream")
        self.pin_s = time.perf_counter() - t0
        v = self._batch(self.ids[:STREAM_BATCH], 0)
        err = self._ledger("bootstrap", {r[0]: r[1] for r in v.groupBy("verdict").count().collect()})
        if err:
            self.problems.append(err)

    def _ledger(self, key: str, counts: dict) -> str | None:
        """Verdict counts must repeat exactly in every run with this seed."""
        want = self.ledger.setdefault(key, counts)
        if want != counts:
            return f"batch {key} verdicts {counts} differ from an earlier run's {want}"
        return None

    def _op(self, i) -> str | None:
        ids = self.ids[STREAM_BATCH * (i + 1) : STREAM_BATCH * (i + 2)]
        with self.tr.span("streaming.corpus_builder.build_corpus_batch", i):
            v = self._batch(ids, i + 1)
        rows = v.select("doc_id", "verdict").collect()
        counts: dict[str, int] = {}
        for r in rows:
            counts[r[1]] = counts.get(r[1], 0) + 1
        self.kept += counts.get("keep", 0)
        self.seen += len(ids)
        if sorted(r[0] for r in rows) != sorted(ids):
            return "verdict rows do not match the batch's documents one to one"
        if not set(counts) <= self.VERDICTS:
            return f"unknown verdicts {set(counts) - self.VERDICTS}"
        return self._ledger(str(i), counts)

    def layers(self):
        batch = [s for s in self.tr.spans if s["name"] == "streaming.corpus_builder.build_corpus_batch"]
        files, mb = _dir_stats(self.state)
        out = {
            "streaming.pin_s": self.pin_s,
            "streaming.corpus_builder.batch_s": _median([_dur(s) for s in batch]),
            "streaming.state_mb": mb,
            "streaming.state_files": files,
            "llmdata.kept_ratio": self.kept / self.seen if self.seen else 0.0,
        }
        for k in ("jobs", "stages", "tasks"):
            out[f"streaming.corpus_builder.{k}"] = _median([s[k] for s in batch])
        return out


WORKLOADS = {w.name: w for w in (InvoiceIngest, InvoiceAnalytics)}
