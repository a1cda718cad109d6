import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Catalog queries call tune(spark), which re-sizes shuffle partitions from
# this env var (cores otherwise — right for perf runs, 8x too wide for
# sf0.001 tests). Pinning it here keeps the whole suite at 4 even after
# a test drives a registered query.
os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


def _host_driver_memory() -> str:
    """Half the host's RAM in whole GiB (at least 1), capped at the 48g that
    ``get_spark`` defaults to: a ``local[N]`` session is one JVM whose heap
    grows toward ``spark.driver.memory`` before it collects, so a heap cap
    above physical memory gets the whole test process OOM-killed on a
    smaller host."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{max(1, min(48, kib // (2 * 1024 * 1024)))}g"


# An explicit SPARK_DRIVER_MEMORY still wins.
os.environ.setdefault("SPARK_DRIVER_MEMORY", _host_driver_memory())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    # Tests run on sf0.001 (hundreds of rows): 4 shuffle partitions cuts
    # per-stage task-launch overhead ~19% on the action-heavy tests
    # (measured round 9) without touching any plan-shape assertion. The
    # production default stays cores-sized in session.tune().
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
