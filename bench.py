"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO
JSON lines: first the full detail record (per-run raw times, extended
per-query numbers), then a compact headline-only line LAST:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
"extended_total": ..., "sf": ...}.

The driver keeps only a bounded tail of stdout (~2000 chars) and parses
the last JSON line in it — r10's single ever-growing line outgrew that
window ("parsed": null), so the machine-readable headline now goes last
and stays small by construction; the detail record above it is for
humans and the judge reading the committed artifact.

Execution is forced with the noop sink (full pipeline runs, no driver-side
collect cost). Query set spans the engine's surface: scan-agg (A8), joins
(A3/J1), windows (W2/W5), streaming-shape (ST2), and the LLM-data ops
(MinHash-LSH, ANN, text stats).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_etl_pipeline_spark.catalog import load_registry
from pdf_etl_pipeline_spark.session import forget, get_spark

BENCH_QUERIES = [
    "a8_pricing_summary",
    "a3_top_suppliers",
    "a2_invoice_value",
    "j1_dedup_anti_join",
    "w2_sessionize_events",
    "w5_topk_per_group",
    "st2_sliding_window",
    "dd1_exact_dedup",
    "dd3_minhash_lsh",
    "ss1_cosine_topk",
    "tx2_text_stats",
]


# Extended tiering policy (r12 — SCALE.md "Extended-bench tiering"):
# the extended section grew every round (78 s -> 123 s timed in r11 alone,
# each query also paying a warm pass), stretching the idle-box window the
# run depends on. The section is now a FIXED tier of scale-contract
# representatives — one per distinct heavy plan shape (IVF/ADC ANN, graph
# join, BM25, star join, span trim offline + streaming, LSH-chain curation
# delivery, BPE, rolling-hash n-grams, and the guarded composed streaming
# corpus builder) — benched every round. Everything rotated out keeps
# its correctness gate (oracle + plan audit every round) and its
# perf coverage through tools/sf1_curves.py decade measurements instead of
# a per-round wall-clock row; ROTATED_OUT documents the list so a future
# regression hunt knows where the numbers went. The HEADLINE list above
# never changes (round-over-round comparability).
EXTENDED_QUERIES = [
    "ss8_ivf_adc_topk",
    "g2_triangle_count",
    "ir1_bm25_topk",
    "a10_star_join_revenue",
    "dd11_span_trim",
    "st10_span_monitor",
    "cc10_trimmed_shard_manifest",
    "tk6_bpe_capped_encode",
    "tx13_ngram_novelty",
    "st16_guarded_release",
]

# Rotated out of per-round wall-clock benching in r12 (still oracle- and
# audit-gated every round; perf via sf1_curves decades on demand).
# r13: st14_corpus_builder (guard -> curation -> packing) supersedes both
# composed-streaming representatives — st7_neardup_ingest (its two-batch
# index lifecycle runs INSIDE st14's curation stage) and
# st11_curation_funnel (st14 minus the guard and the manifest) — so both
# rotate out; the tier keeps ONE representative per heavy plan shape.
# r13 late: st16_guarded_release (st14 + the st15 leakage probe) is the
# new superset composition — st14 rotates out under the same rule.
ROTATED_OUT = [
    "st14_corpus_builder",
    "st7_neardup_ingest", "st11_curation_funnel",
    "ss6_pq_adc_topk", "ss7_pq_rerank", "j5_fuzzy_supplier_match",
    "sk2_kmv_distinct", "tx7_unigram_logprob", "ml2_naive_bayes",
    "tx8_tfidf_topk", "dp3_robust_outliers", "rs5_rolling_anomaly",
    "g2a_triangle_doulion", "tx12_ppl_buckets", "dd10_dup_token_coverage",
    "dq3_k_anonymity", "sp5_span_corruption", "cc8_temperature_mix",
    "rs6_seasonal_anomaly", "cc9_trimmed_curation", "dd12_span_provenance",
    "dq4_distribution_drift", "dd13_cluster_size_histogram",
    "rs7_cusum_changepoint", "dp4_ks_drift", "ev4_twap",
    "dq5_snapshot_psi_drift", "dp5_snapshot_ks_drift",
    "st11_streaming_curation", "cc11_verdict_shard_manifest",
    "st12_drift_monitor", "st13_contamination_guard", "dq6_categorical_drift", "dq7_embedding_drift",
]


RUNS = 3  # min-of-N absorbs machine-load noise (r4: 71 s loaded vs 33 s idle;
# r10: dd3 read 7.7 s min-of-2 on an idle box vs its usual 3.9 — a third
# run is cheap insurance and min-of-N makes raising N comparability-safe)

# A loaded machine produces garbage readings that min-of-N can't fully absorb
# (r8/r9: committed ss6 readings 5.5x inflated at load 4.4 vs 1.57 s idle).
# The guard makes the refusal structural: bench.py itself will not emit JSON
# under load, so a corrupted artifact can't be committed by forgetting to
# check. Wait up to LOAD_WAIT_SEC for the machine to drain, then abort.
LOAD_MAX = 1.5
LOAD_WAIT_SEC = 600
LOAD_POLL_SEC = 15


# The 5-min average gates too (r14 VERDICT finding 1): both the r13 and
# r14 inflated driver runs passed the 1-min-only gate while the 5-min
# average read 2.7-3.0 — a DRAINING box whose co-tenant load returns in
# bursts that miss a 1-min snapshot but land on the long 32-way queries.
LOAD5_MAX = 2.5

# Steal-aware pre-run gate (r16 VERDICT finding 3): the r16 driver run
# passed the loadavg gate (load 0.42) and was then eaten by 1.2-1.8
# HYPERVISOR-STEAL cores (calib scalar 1.69) — steal never appears in the
# guest's loadavg, so the load gate is structurally blind to it. Before
# timing starts, /proc/stat busy+steal deltas are sampled over a short
# window; CPU burned by anything that is not this process tree (in-guest
# co-tenants AND hypervisor steal — _machine_busy_jiffies counts both)
# must stay under PRESTAT_MAX_OTHER cores, with the same wait/abort
# semantics as the load gate. The passing sample is emitted in the JSON
# (prestat) so the committed artifact carries the evidence. 0.75 cores
# catches a single planted burner core (the r15 test) and the r16 steal
# band while staying above background-daemon noise (~0.1 cores).
PRESTAT_MAX_OTHER = 0.75
PRESTAT_SAMPLE_SEC = 3.0


def _prestat_sample(sec: float = PRESTAT_SAMPLE_SEC) -> dict:
    """Sample machine-wide CPU over ``sec``: cores busy, cores that are
    ours, cores that are other tenants' (incl. steal), steal separately."""
    b0, s0 = _machine_busy_jiffies()
    o0 = _tree_jiffies()
    time.sleep(sec)
    b1, s1 = _machine_busy_jiffies()
    o1 = _tree_jiffies()
    busy = (b1 - b0) / _HZ / sec
    own = (o1 - o0) / _HZ / sec
    return {
        "sample_s": sec,
        "busy_cores": round(busy, 2),
        "own_cores": round(own, 2),
        "other_cores": round(max(busy - own, 0.0), 2),
        "steal_cores": round((s1 - s0) / _HZ / sec, 2),
    }


def _require_idle() -> tuple[list[float], dict]:
    """Block until (1) the 1-min load drops under LOAD_MAX AND the 5-min
    average under LOAD5_MAX, and (2) a /proc/stat sampling window shows
    other-tenant CPU (including hypervisor steal, which loadavg cannot
    see) under PRESTAT_MAX_OTHER cores. Returns (loadavg triple, prestat
    sample) observed at pass time. Those snapshots — not ones taken after
    the benchmark's own JVM has been warming up — are what load_avg.before
    and prestat record, so the committed JSON answers 'was the MACHINE
    idle when the run started', the question round-over-round
    comparability depends on."""
    if os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1":
        print("WARNING: load guard bypassed (SPARK_GRAFT_BENCH_FORCE=1)", file=sys.stderr)
        return list(os.getloadavg()), _prestat_sample()
    deadline = time.time() + LOAD_WAIT_SEC
    while True:
        load1, load5, _ = os.getloadavg()
        if load1 < LOAD_MAX and load5 < LOAD5_MAX:
            stat = _prestat_sample()
            if stat["other_cores"] < PRESTAT_MAX_OTHER:
                return list(os.getloadavg()), stat
            msg = (
                f"prestat other_cores {stat['other_cores']:.2f} "
                f"(steal {stat['steal_cores']:.2f}) >= {PRESTAT_MAX_OTHER}"
            )
        else:
            msg = f"load {load1:.2f}/{load5:.2f} (1m/5m) over gate"
        if time.time() >= deadline:
            print(
                f"ABORT: {msg} after waiting {LOAD_WAIT_SEC}s — "
                "refusing to emit a noise-corrupted bench JSON",
                file=sys.stderr,
            )
            sys.exit(3)
        print(f"{msg}; waiting for idle...", file=sys.stderr)
        time.sleep(LOAD_POLL_SEC)


# --- window calibration (r14 VERDICT finding 1) -----------------------------------
# The probe calibration below times two SHORT workloads once, before the
# tier — bursty co-tenant load that misses the probes but lands on the
# long 32-way queries passes as "host at reference speed" (r14: driver
# scalar 1.0057 on a run reading 18.7 s where idle runs read 14.5-15.4).
# The WINDOW calibration instead measures the whole bench span from
# cumulative /proc/stat counters: busy jiffies are snapshotted around
# every query's timed section, OUR OWN process tree's jiffies (this
# python + the Spark JVM it owns) are subtracted, and what remains is
# CPU burned by other tenants INSIDE the measured window — per query and
# for the whole run. other_cores is directly interpretable: 0 = clean,
# 2.0 = two stolen cores for the window's whole duration. Caveat: a
# co-tenant process that STARTS AND EXITS entirely inside one window
# under-counts (its jiffies vanish from /proc when it dies); sub-window
# churn shorter than a query is rare for the builds/CI that actually
# contend on this box, and the whole-run window catches what per-query
# windows miss.
_HZ = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1


def _machine_busy_jiffies() -> tuple[int, int]:
    """(busy, steal) cumulative jiffies. busy includes steal: stolen
    capacity inflates wall-clocks exactly like an in-guest co-tenant, so
    it belongs in other_cores — but on a VM host the reader needs to tell
    hypervisor steal (nothing we can drain) apart from in-guest tenants
    (wait for them to finish), so the window reports it separately too."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal


def _tree_jiffies() -> int:
    """utime+stime+cutime+cstime summed over this process and every live
    descendant (the Spark JVM and its children live under us). cutime/
    cstime (stat fields 16-17) carry the CPU of REAPED children — without
    them, our own short-lived workers (e.g. non-reused PySpark daemons
    killed mid-window) vanish from the live-descendant walk and their
    jiffies get misattributed to other_cores, falsely indicting a clean
    run (r15 ADVICE). No double count: a live child's time sits only in
    its own utime/stime (a parent's cutime accumulates at wait() time),
    a reaped child's only in its parent's cutime/cstime."""
    me = os.getpid()
    ppid_of: dict[int, int] = {}
    cpu_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # field 2 (comm) may contain spaces/parens — split after the LAST ')'
        rest = s[s.rindex(")") + 2 :].split()
        pid = int(d)
        ppid_of[pid] = int(rest[1])
        # utime + stime + cutime + cstime
        cpu_of[pid] = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    total = 0
    for pid, cpu in cpu_of.items():
        p = pid
        for _ in range(64):  # ancestor walk, bounded
            if p == me:
                total += cpu
                break
            p = ppid_of.get(p, 0)
            if p <= 1:
                break
    return total


class _Window:
    """Snapshot-delta window: other-tenant CPU cores burned while open."""

    def __init__(self) -> None:
        self.t0 = time.time()
        self.b0, self.s0 = _machine_busy_jiffies()
        self.o0 = _tree_jiffies()

    def close(self) -> dict:
        wall = max(time.time() - self.t0, 1e-6)
        b1, s1 = _machine_busy_jiffies()
        busy = (b1 - self.b0) / _HZ / wall
        own = (_tree_jiffies() - self.o0) / _HZ / wall
        other = max(busy - own, 0.0)
        return {
            "wall_s": round(wall, 3),
            "busy_cores": round(busy, 2),
            "own_cores": round(own, 2),
            "other_cores": round(other, 2),
            # hypervisor steal, already inside other_cores (see
            # _machine_busy_jiffies) — reported so the artifact separates
            # un-drainable host contention from in-guest co-tenants
            "steal_cores": round((s1 - self.s0) / _HZ / wall, 2),
        }


# Host-speed calibration (r13 VERDICT finding 1): the 12.1–19.1 s headline
# band across r12/r13 was adjudicated as host-state inflation from plan
# fingerprints and uniform per-query scalars — sound, but unfalsifiable
# from inside the guest because only load averages were recorded (and
# they were green for every reading). These two fixed workloads are timed
# every bench run and emitted as calib.{cpu_s, spark_s}, so any round's
# wall-clocks can be NORMALIZED and "the machine is slower today" becomes
# measured arithmetic instead of adjudicated inference. The reference
# constants below pin an idle r14 host (load < 0.2, min-of-3); value_norm
# = value / mean(cpu_s/REF, spark_s/REF) is comparable across rounds even
# when raw wall-clocks drift with host state.
CALIB_CPU_REF_S = 1.20  # pinned single-thread sha256+numpy loop, idle r14 host
CALIB_SPARK_REF_S = 0.64  # pinned 32-slot single-stage spark.range aggregate


def _calibrate(spark) -> dict:
    """Time the two pinned calibration workloads (min-of-3 each).

    cpu_s: single-threaded sha256 chain + numpy reduction — pure CPU, no
    JVM, no I/O; tracks raw core speed and steal/contention.
    spark_s: one-stage spark.range aggregate over 32 partitions — tracks
    the JVM/task-scheduling path the benched queries actually ride."""
    import hashlib

    import numpy as np

    def cpu_once() -> float:
        t0 = time.time()
        h = b"\x00" * 64
        for _ in range(1_200_000):
            h = hashlib.sha256(h).digest()
        a = np.arange(80_000_000, dtype=np.float64)
        s = float(np.sqrt(a + 1.0).sum())
        assert s > 0 and h
        return time.time() - t0

    def spark_once() -> float:
        t0 = time.time()
        n = (
            spark.range(0, 4_000_000_000, 1, 32)
            .selectExpr("sum(id % 1000) AS s")
            .collect()[0][0]
        )
        assert n == (4_000_000_000 // 1000) * 499_500
        return time.time() - t0

    cpu_reps = [round(cpu_once(), 3) for _ in range(3)]
    spark_reps = [round(spark_once(), 3) for _ in range(3)]
    cpu_s, spark_s = min(cpu_reps), min(spark_reps)
    return {
        "cpu_s": cpu_s,
        "spark_s": spark_s,
        # per-rep raws make the normalization itself auditable (r14 ADVICE)
        "cpu_reps": cpu_reps,
        "spark_reps": spark_reps,
        "cpu_ref_s": CALIB_CPU_REF_S,
        "spark_ref_s": CALIB_SPARK_REF_S,
        "scalar": round((cpu_s / CALIB_CPU_REF_S + spark_s / CALIB_SPARK_REF_S) / 2, 4),
    }


def _reset_session_memos(spark=None) -> None:
    """Drop every ``session_memo`` entry (``forget()``) so each timed
    run rebuilds the catalog's shared relations from the parquet scan —
    min-of-N must measure the query, not a memo hit. This also drops the
    doc-type parsers' Column trees, so a timed parser query (``t*``) pays a
    cold parser build; no bench query calls a parser. ``session._SCHEMAS``
    (the parquet schema memo) is kept: it holds a schema, never a query
    result, so a hit is what a repeated query really costs.

    Also reap cross-query session state BETWEEN timed windows: discarded
    localCheckpoint/persist blocks from earlier queries are only released
    when their RDDs are garbage-collected on both sides of the py4j
    bridge, so without an explicit gc the block manager's storage pool
    fills monotonically over a 35-query bench and squeezes whichever
    shuffle-heavy query runs late (r10's g2 8.6→18.6→28.6 s reading)."""
    import gc

    forget()
    if spark is not None:
        spark.catalog.clearCache()
        gc.collect()  # drop py4j refs so the JVM side becomes collectable
        spark._jvm.System.gc()


def _st16_steady_state(spark, sf_dir: str, windows: dict) -> dict:
    """st16 STEADY-STATE: per-batch admission latency with the pins and
    curation indexes already built OUTSIDE the timed window — the number a
    100 TB deployment actually cares about (the full-lifecycle st16 tier
    entry pays two pin builds + two index lifecycles per measurement and
    is the most host-exposed query in the tier; its 44-109 s idle spread
    is all lifecycle). Batch 1 runs untimed (builds the indexes and warms
    the probe paths); batch 2's full guarded body is then timed min-of-N.
    Timed replays append duplicate index rows — admission-neutral by the
    replay contract (verdicts bit-identical), and min-of-N lands on the
    first rep before the file-count growth matters."""
    import tempfile

    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.llmdata import corpus as CP
    from pdf_etl_pipeline_spark.session import load_table
    from pdf_etl_pipeline_spark.streaming.contamination_guard import pin_benchmark
    from pdf_etl_pipeline_spark.streaming.corpus_builder import (
        LEAKAGE_SUBDIR,
        build_corpus_batch,
        drop_builder_state,
    )
    from pdf_etl_pipeline_spark.streaming.leakage_guard import pin_heldout

    # spread=True matches the registered st16 query's loader (measured
    # interleaved A/B r17: guarded lifecycle 32.9 s spread vs 43.2 s raw
    # on a clean window) and the r16 shape these steady numbers have been
    # tracked under (r16's loader spread every documents consumer)
    docs = load_table(spark, sf_dir, "documents", spread=True)
    stage = CP.split_stage(F.col("doc_id"))
    bench_docs = docs.filter(F.col("doc_id") % CP.BENCH_MOD == 0)
    heldout = docs.filter(stage >= 1)
    corpus = docs.filter((F.col("doc_id") % CP.BENCH_MOD != 0) & (stage == 0))
    split = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    b1 = corpus.filter(F.col("doc_id") < split)
    b2 = corpus.filter(F.col("doc_id") >= split)
    tmp = tempfile.mkdtemp(prefix="st16_steady_")
    try:
        # unconditional calls, then raise on failure: under `python -O`
        # an assert BODY is never evaluated, so pins created inside an
        # assert would silently not exist (r15 ADVICE)
        if not pin_benchmark(bench_docs, tmp):
            raise RuntimeError("st16 steady-state: benchmark pin not created")
        if not pin_heldout(heldout, os.path.join(tmp, LEAKAGE_SUBDIR)):
            raise RuntimeError("st16 steady-state: heldout pin not created")
        build_corpus_batch(b1, tmp, batch_id=0, leakage_guard=True)  # untimed
        raw: list[float] = []
        w = _Window()
        for _ in range(RUNS):
            t0 = time.time()
            build_corpus_batch(b2, tmp, batch_id=1, leakage_guard=True)
            raw.append(round(time.time() - t0, 3))
        windows["st16_steady_batch"] = w.close()
    finally:
        drop_builder_state(spark, tmp)
    return {"st16_steady_batch": min(raw), "runs": raw}


def _st20_steady_state(spark, sf_dir: str, windows: dict) -> dict:
    """st20 STEADY-STATE (r15 VERDICT finding 3): per-batch guarded
    multimodal admission latency with both pins AND the asset index
    already built OUTSIDE the timed window — the st20 twin of
    ``_st16_steady_state``. The full-lifecycle st20 decade curve is
    near-flat (39.7/38.3/50.7 s at 1×/10×/100×) because per-measurement
    FIXED cost (two pin builds + the asset-index lifecycle) dominates;
    what a deployment pays per batch is this number. Batch 1 runs untimed
    (builds the asset index and warms both guard probe paths); batch 2's
    full guarded body — containment guard, frame-grab guard, admission
    with canonical resolution, delivery manifest — is then timed min-of-N.
    Timed replays append duplicate index rows — admission-neutral by the
    replay contract (verdicts bit-identical), and min-of-N lands on the
    first rep before file-count growth matters."""
    import tempfile

    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.catalog.multimodal_q import (
        _mm3_frame_hashes,
        _st20_doc_assets,
    )
    from pdf_etl_pipeline_spark.llmdata import corpus as CP
    from pdf_etl_pipeline_spark.session import load_table
    from pdf_etl_pipeline_spark.streaming.mm_release import (
        drop_mm_release_state,
        mm_release_batch,
        pin_mm_release_state,
    )

    # spread=True: same rationale as _st16_steady_state above
    docs = load_table(spark, sf_dir, "documents", spread=True)
    stage = CP.split_stage(F.col("doc_id"))
    held = docs.filter(stage >= 1)
    corpus = _st20_doc_assets(docs.filter(stage == 0))
    split = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    b1 = corpus.filter(F.col("doc_id") < split)
    b2 = corpus.filter(F.col("doc_id") >= split)
    tmp = tempfile.mkdtemp(prefix="st20_steady_")
    try:
        if not pin_mm_release_state(held, _mm3_frame_hashes(held), tmp):
            raise RuntimeError("st20 steady-state: pins not created")
        mm_release_batch(b1, tmp, batch_id=0)  # untimed: builds the index
        raw: list[float] = []
        w = _Window()
        for _ in range(RUNS):
            t0 = time.time()
            mm_release_batch(b2, tmp, batch_id=1)
            raw.append(round(time.time() - t0, 3))
        windows["st20_steady_batch"] = w.close()
    finally:
        drop_mm_release_state(spark, tmp)
    return {"st20_steady_batch": min(raw), "runs": raw}


def main() -> None:
    load_before, prestat = _require_idle()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    registry = load_registry()
    spark = get_spark("bench")

    # warm the JVM + parquet footers + page cache for every benched table
    # so per-query numbers measure the queries, not session bring-up or
    # first file touch (r11: dd3's first run read 2.7x its min before
    # documents.parquet was warmed)
    for t in ("lineitem", "documents", "events", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()

    calib = _calibrate(spark)

    # Per-run raw times + load average make a loaded-machine reading (the
    # r4 71 s / r6 27.7 s incidents) identifiable from the JSON alone:
    # high load_avg + uniformly-inflated runs_detail = machine load, not a
    # regression. Headline metric (min-of-N total) is unchanged.
    runs_detail: dict[str, list[float]] = {}

    # The two heaviest LSH-chain queries still show a slow FIRST TIMED run
    # after one warm pass (r11 cc10: [15.6, 27.2, 15.9]; r12 pre-fix:
    # [23.4, 13.3, 14.3] — adjudicated as warm-up/noise, not a plan flip:
    # idle spread 1.185 with identical final adaptive plans, SCALE.md
    # "cc10 bench-outlier adjudication"). Their multi-stage chains (LSH index -> cluster
    # -> trim -> pack) need a second execution before tiered JIT and
    # shuffle-path warm-up settle, so they get one extra untimed pass.
    DOUBLE_WARM = {"cc10_trimmed_shard_manifest", "st14_corpus_builder"}
# st16 (st14's tier successor) was trialed in DOUBLE_WARM in r14 and it did
# NOT stabilize: back-to-back idle runs read [108.7, 45.7, 42.9] (settling)
# and then [59.4, 97.5, 89.3] (rising) with calib scalars 0.99 vs 1.12 —
# the two-index-lifecycle composition is the most HOST-exposed query in
# the tier, not an under-warmed one; min-of-3 plus the calib scalar is the
# honest treatment, and two extra ~90 s untimed passes only widen the
# idle window every other query depends on.

    # per-query other-tenant CPU windows (finding 1 — the contention signal
    # the probe scalar can't see); run_window spans every timed section
    windows: dict[str, dict] = {}
    run_window = _Window()

    def run_set(names: list[str]) -> dict[str, float]:
        times: dict[str, float] = {}
        for name in names:
            fn = registry[name].fn
            # one UNTIMED warm pass per query: codegen/broadcast build and
            # first-touch effects land here, not in run 1 (r11: four
            # queries' first timed runs read >2x their min purely from
            # per-shape JIT — benign but it muddies the variance signal
            # the runs_detail exists to carry)
            for _ in range(2 if name in DOUBLE_WARM else 1):
                _reset_session_memos(spark)
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            raw: list[float] = []
            w = _Window()
            for _ in range(RUNS):
                _reset_session_memos(spark)
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                raw.append(round(time.time() - t0, 3))
            windows[name] = w.close()
            runs_detail[name] = raw
            times[name] = min(raw)
        return times

    times = run_set(BENCH_QUERIES)
    extended = run_set(EXTENDED_QUERIES)
    steady = _st16_steady_state(spark, sf_dir, windows)
    s20 = _st20_steady_state(spark, sf_dir, windows)
    steady["st20_steady_batch"] = s20["st20_steady_batch"]
    steady["st20_runs"] = s20["runs"]
    win_total = run_window.close()
    load_after = os.getloadavg()
    # the per-window availability scalar: fraction of the box's cores NOT
    # burned by other tenants during the measured spans. 1.0 = clean run;
    # the r14 failure mode (probe scalar ~1.0, wall-clocks inflated) now
    # reads as avail < 1 with the guilty queries' windows carrying the
    # other_cores. Diagnostic next to the probe calib — raw totals stay
    # the headline.
    worst_other = max((w["other_cores"] for w in windows.values()), default=0.0)
    calib["window"] = {
        "run": win_total,
        "avail_scalar": round(max(_NCPU - win_total["other_cores"], 0.0) / _NCPU, 4),
        "worst_query_other_cores": worst_other,
    }

    total = round(sum(times.values()), 3)
    load_avg = {
        "before": [round(x, 2) for x in load_before],
        "after": [round(x, 2) for x in load_after],
    }
    # detail record first (humans / the committed artifact)...
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock_detail",
                "value": total,
                "unit": "sec",
                "queries": times,
                "extended": extended,
                "extended_total": round(sum(extended.values()), 3),
                # extended composition changed in r12 (fixed representative
                # tier; see ROTATED_OUT) — extended_total is NOT comparable
                # to pre-r12 artifacts; the headline composition is unchanged
                "extended_tier": "r13-fixed",
                "steady": steady,
                "sf": sf,
                "runs": RUNS,
                "runs_detail": runs_detail,
                "windows": windows,
                "load_avg": load_avg,
                "prestat": prestat,
                "calib": calib,
                # diagnostic, never the headline (r14 ADVICE): raw totals
                # are the comparable number; value_norm only contextualizes
                # a slow-host reading, and the window scalar flags it
                "value_norm": round(total / calib["scalar"], 3),
            }
        )
    )
    # ...compact headline LAST (the driver's bounded tail capture parses
    # the final JSON line; keep this one small by construction — no
    # runs_detail, no per-extended-query map, probe-calib scalar + window
    # availability only)
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": times,
                "extended_total": round(sum(extended.values()), 3),
                "st16_steady": steady["st16_steady_batch"],
                "st20_steady": steady["st20_steady_batch"],
                "sf": sf,
                "runs": RUNS,
                "load_avg": load_avg,
                "prestat": {
                    "other_cores": prestat["other_cores"],
                    "steal_cores": prestat["steal_cores"],
                },
                "calib": {
                    "scalar": calib["scalar"],
                    "window_avail": calib["window"]["avail_scalar"],
                    "window_other_cores": calib["window"]["run"]["other_cores"],
                },
                "value_norm": round(total / calib["scalar"], 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
