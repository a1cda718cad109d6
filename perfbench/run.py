"""Repository benchmark: one closed-loop, single-client workload per call.

    python3 perfbench/run.py --workload invoice_ingest --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory for why each exists):

- ``invoice_ingest``: seeded text-layer PDFs through
  ``plans.pipeline.run_extraction_pipeline`` into one growing sink;
- ``invoice_analytics``: nine registered queries in a seeded order over
  seeded TPC-H-shaped tables. A traced run ends with a corpus stream
  section: seeded micro-batches of ``documents`` through
  ``streaming.corpus_builder.build_corpus_batch`` with both guards on.

A run sets the workload up once in a fresh process, runs ops until
``--seconds`` have passed and the op mix is whole, checks every op's
output, and prints two JSON lines: a detail record, then the result.
With ``--trace 0`` the result carries the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1`` it carries
the per-layer metrics, taken from spans around calls into each layer.
The benchmark reads and writes only under ``perfbench/.work`` and the
checkout's own files, and stops the JVM and Python workers it started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "2g"  # get_spark's 48g default is above the RAM of a 15 GB host


def _environment(run_dir: str) -> None:
    """Run hygiene, set before the JVM starts so it and its Python
    workers inherit it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # mapInPandas workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    sys.path.insert(0, ROOT)


def _start_session():
    from pdf_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_everything(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    import probe

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None  # a later run in this process starts afresh
    deadline = time.monotonic() + 60
    while (left := probe.descendants()) and time.monotonic() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
    for pid in probe.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least ten ops
    beyond it. Below 20 ops that percentile lies under the median, so the
    tail is reported as the median (percentile 50)."""
    s, n = sorted(lat), len(lat)
    p50 = statistics.median(s)
    if n < 20:
        return p50, 50.0
    return max(p50, s[n - 11]), 100.0 * (n - 10) / n


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(
    name: str, seed: int, seconds: float, trace: bool, workload_cls=None
) -> tuple[dict, dict]:
    """One benchmark run; returns (result, detail)."""
    import probe
    import workloads

    contract = _contract()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)
    spark = None
    marks = {"imports": time.perf_counter() - T_START}
    try:
        tracer = probe.Tracer(trace)
        wl = (workload_cls or workloads.WORKLOADS[name])(run_dir, seed, tracer)
        lat, other, failed, units, errors = [], [], 0, 0, []
        with probe.Monitor() as mon:
            t0 = time.perf_counter()
            spark = _start_session()
            from pdf_etl_pipeline_spark.catalog import load_registry

            load_registry()
            tracer.bind(spark)
            t1 = time.perf_counter()
            wl.prepare(spark)  # input generation: not set-up time
            t2 = time.perf_counter()
            wl.warm(spark)
            setup_s = (t1 - t0) + (time.perf_counter() - t2)
            marks["setup"] = time.perf_counter() - T_START
            wl.after_setup(spark)
            marks["checks"] = time.perf_counter() - T_START

            modes = wl.modes(trace)
            least = len(modes) if trace else max(wl.min_ops, wl.granule)
            start, i = time.perf_counter(), 0
            while i < least or time.perf_counter() - start < seconds or i % wl.granule:
                mode = modes[i % len(modes)]
                t0, c0 = time.perf_counter(), probe.cpu_mark()
                try:
                    dt, n, err = wl.op(spark, i, mode)
                except Exception:
                    dt, n, err = time.perf_counter() - t0, 0, traceback.format_exc(limit=3)
                other.append(probe.other_cores(c0, probe.cpu_mark()))
                lat.append(dt)
                if err is None:
                    units += n
                else:
                    failed += 1
                    errors.append(f"op {i}: {err}")
                i += 1
            marks["measure"] = time.perf_counter() - T_START
            wl.finish(spark)
            layers = wl.layers() if trace else {}
        if trace:
            tracer.write(os.path.join(WORK, f"spans-{name}-{seed}.jsonl"))
    finally:
        _stop_everything(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    marks["stopped"] = time.perf_counter() - T_START

    tail, tail_pct = _tail(lat)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": units / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": tail,
        "peak_rss_mb": mon.peak_mb,
    }
    wanted = contract["per_layer"] if trace else contract["end_to_end"]
    values = layers if trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    result = {"correct": failed == 0 and not wl.problems, "attempted": len(lat), "failed": failed, "metrics": metrics}
    detail = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "ops": len(lat), "unit": wl.unit, "units": units,
        "error_ratio": failed / len(lat),
        "latency_tail_pct": round(tail_pct, 1),
        "latency_max_s": max(lat),
        "host_other_cpu_cores": round(mon.other_cpu_cores, 3),
        "op_other_cpu_cores": [round(c, 3) for c in other],
        "op_latency_s": [round(x, 3) for x in lat],
        "elapsed_at_s": {k: round(v, 2) for k, v in marks.items()},
        "setup_problems": wl.problems, "errors": errors[:3],
        **({"oracle_rounding_diffs": wl.rounding} if getattr(wl, "rounding", None) else {}),
    }
    return result, detail


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
