"""Pins the measurement core's window calibration (``tools/measure.py``,
r14 VERDICT finding 1): the /proc/stat snapshot-delta window must SEPARATE
our own process tree's CPU from other tenants' — that separation is what
lets a committed bench JSON prove (or indict) host contention the short
pre-run probes can't see. Also pins the core's timing contracts, that
every timing tool goes through it, and that every tool still imports."""

import ast
import importlib
import os
import pathlib
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import measure

_ROOT = pathlib.Path(__file__).resolve().parent.parent

_BURN = "import time\nend = time.time() + 3\nwhile time.time() < end: pass"


def test_window_counts_own_tree_as_own():
    """A burner that IS our child (like the Spark JVM) lands in own_cores,
    not other_cores — our own 32-way queries must never read as foreign
    load."""
    p = subprocess.Popen([sys.executable, "-c", _BURN])
    try:
        w = measure.Window()
        time.sleep(2.5)
        r = w.close()
    finally:
        p.wait()
    assert r["own_cores"] > 0.5, r


def test_window_counts_reaped_child_as_own():
    """A short-lived child that burns and EXITS inside the window (like a
    non-reused PySpark worker killed mid-window) still lands in own_cores
    via cutime/cstime (r15 ADVICE): on reap its jiffies vanish from the
    live-descendant walk, and without the children counters they would be
    misattributed to other_cores, falsely indicting a clean run."""
    w = measure.Window()
    p = subprocess.Popen([sys.executable, "-c", _BURN])
    p.wait()  # reaped INSIDE the window -> only cutime/cstime still see it
    time.sleep(0.3)
    r = w.close()
    assert r["own_cores"] > 0.5, r


def test_window_detects_external_load():
    """A burner reparented OUTSIDE our tree (double-fork) lands in
    other_cores — the r14 failure mode (co-tenant load inflating
    wall-clocks while the probe scalar read 'host at reference speed')
    is now measured, not adjudicated."""
    outer = (
        "import subprocess, sys; "
        f"subprocess.Popen([sys.executable, '-c', {_BURN!r}])"
    )
    p = subprocess.Popen([sys.executable, "-c", outer])
    p.wait()  # middle process exits -> burner reparents away from our tree
    w = measure.Window()
    time.sleep(2.5)
    r = w.close()
    assert r["other_cores"] > 0.5, r


def test_prestat_gate_catches_planted_burner():
    """r16 VERDICT task 2: a planted burner core (the r15 trick — CPU load
    the loadavg gate needs a minute to even see) must trip the PRE-RUN
    /proc/stat gate, i.e. read as other_cores >= PRESTAT_MAX_OTHER in the
    sample taken BEFORE timing starts. One full foreign core over a 1.5 s
    sample reads ~1.0 >= 0.75."""
    burn = "import time\nend = time.time() + 2.5\nwhile time.time() < end: pass"
    outer = (
        "import subprocess, sys; "
        f"subprocess.Popen([sys.executable, '-c', {burn!r}])"
    )
    p = subprocess.Popen([sys.executable, "-c", outer])
    p.wait()  # reparented away from our tree -> foreign load
    time.sleep(0.3)  # let the burner spin up past interpreter start
    stat = measure.prestat_sample(sec=1.5)
    assert stat["other_cores"] >= measure.PRESTAT_MAX_OTHER, stat


def test_prestat_gate_passes_clean_box():
    """The converse: with no planted load the sample must come in under
    the gate, or every clean bench run would hang in the wait loop.
    Retried a few times, then SKIPPED rather than failed when the box
    shows real foreign load for the whole window — that is the gate doing
    its job on a genuinely dirty host, not a bug in the gate."""
    last = None
    for _ in range(5):
        last = measure.prestat_sample(sec=1.0)
        if last["other_cores"] < measure.PRESTAT_MAX_OTHER:
            return
    pytest.skip(f"host busy for the whole retry window: {last}")


def test_interleaved_ab_alternates_the_first_arm_per_rep():
    """Each arm is warmed once, then the arm that runs first alternates
    rep by rep, so a drifting host cannot favour one arm; ``before`` runs
    ahead of every run."""
    log = []
    arms = {"a": lambda: log.append("a"), "b": lambda: log.append("b")}
    raw, win = measure.interleaved_ab(arms, 3, before=lambda: log.append("-"))
    assert "".join(log) == "-a-b" + "-a-b" + "-b-a" + "-a-b"
    assert [len(raw["a"]), len(raw["b"])] == [3, 3]
    assert {"other_cores", "steal_cores"} <= set(win)


def test_interleaved_ab_refuses_fewer_than_three_reps():
    with pytest.raises(ValueError):
        measure.interleaved_ab({"a": lambda: None, "b": lambda: None}, 2)


def test_time_runs_keeps_before_outside_the_timed_span():
    calls = []
    raw, win = measure.time_runs(
        lambda: calls.append("run"), 3, before=lambda: (calls.append("before"), time.sleep(0.2))
    )
    assert calls == ["before", "run"] * 3
    assert len(raw) == 3 and max(raw) < 0.1, raw
    assert win["wall_s"] >= 0.6, win


def _sources():
    return [_ROOT / "bench.py", _ROOT / "__spark_entry__.py"] + sorted(
        p
        for d in ("pdf_etl_pipeline_spark", "tools", "perfbench")
        for p in (_ROOT / d).rglob("*.py")
    )


def test_proc_stat_is_parsed_only_in_the_two_samplers():
    """/proc/stat is read by ``tools/measure.py`` (bench.py and tools/) and by
    ``perfbench/probe.py`` (which must not import code an A/B changes); a
    third sampler would let two timing paths drift apart. No tool reaches
    into ``bench``'s private names: the shared helpers live in the core."""
    readers, private = set(), []
    for p in _sources():
        tree = ast.parse(p.read_text())
        rel = str(p.relative_to(_ROOT))
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value == "/proc/stat":
                readers.add(rel)
            if not rel.startswith("tools/"):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "bench":
                private += [f"{rel}:{node.lineno}" for a in node.names if a.name.startswith("_")]
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id == "bench"
                and node.attr.startswith("_")
            ):
                private.append(f"{rel}:{node.lineno}")
    assert readers == {"perfbench/probe.py", "tools/measure.py"}
    assert private == []


@pytest.mark.parametrize("name", sorted(p.stem for p in (_ROOT / "tools").glob("*.py")))
def test_every_tool_imports(name):
    """Importing a tool runs nothing (``main()`` sits behind the
    ``__main__`` check) — a broken import after a helper moves shows here,
    not the next time someone runs the tool."""
    mod = importlib.import_module(f"tools.{name}")
    assert mod.__name__ == f"tools.{name}"
