"""S14 small-files compaction: physical-layout maintenance, logical no-op."""

import os

from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.operators.compaction import compact_parquet_dir
from pdf_etl_pipeline_spark.operators.fsutil import data_file_count
from pdf_etl_pipeline_spark.session import load_table


def _fingerprint(df):
    return sorted(map(tuple, df.collect()))


def test_compaction_shrinks_files_preserves_relation(spark, sf_dir, tmp_path):
    p = str(tmp_path / "shattered")
    events = load_table(spark, sf_dir, "events")
    # simulate a micro-batch-accreted table: 64 tiny files
    events.repartition(64).write.parquet(p)
    assert data_file_count(p) == 64
    before = _fingerprint(spark.read.parquet(p))

    total = sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    target = total // 4 + 1  # aim for ~4 files
    n = compact_parquet_dir(spark, p, target_bytes=target)
    assert n == data_file_count(p)
    assert n <= 6  # ceil(bytes/target) with per-file overhead slack
    assert _fingerprint(spark.read.parquet(p)) == before


def test_compaction_cluster_by_tightens_file_ranges(spark, sf_dir, tmp_path):
    """cluster_by range-partitions the rewrite: each output file covers a
    disjoint ts range (file-level min/max become selective), and the
    relation is unchanged."""
    p = str(tmp_path / "clustered")
    events = load_table(spark, sf_dir, "events")
    events.repartition(32).write.parquet(p)
    before = _fingerprint(spark.read.parquet(p))

    compact_parquet_dir(spark, p, target_bytes=1 << 40, cluster_by="ts")
    # one giant target -> a single file; redo with a small target for ranges
    compact_parquet_dir(spark, p, target_bytes=_quarter(p), cluster_by="ts")
    files = [
        os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet")
    ]
    assert len(files) >= 2
    ranges = []
    for f in files:
        mm = (
            spark.read.parquet(f)
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .first()
        )
        ranges.append((mm.lo, mm.hi))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint ts ranges across files
    assert _fingerprint(spark.read.parquet(p)) == before


def _quarter(p: str) -> int:
    total = sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    return total // 4 + 1


# --- S15: dynamic partition overwrite ------------------------------------------
def test_dynamic_partition_overwrite_touches_only_its_partitions(spark, tmp_path):
    """S15: a backfill batch replaces exactly its own day-partitions;
    untouched days keep their FILES (not just their rows) — and the
    partition-column filter prunes at listing level (PartitionFilters)."""
    import os

    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.partitioned_sink import (
        overwrite_partitions,
        read_day,
        write_partitioned,
    )
    from pdf_etl_pipeline_spark.session import load_events

    path = str(tmp_path / "events_by_day")
    ev = load_events(spark, "/root/testdata/sf0.001").withColumn(
        "day", F2.date_format("ts", "yyyy-MM-dd")
    )
    write_partitioned(ev, path, "day")
    days = sorted(d.split("=")[1] for d in os.listdir(path) if d.startswith("day="))
    assert len(days) >= 2
    target, untouched = days[0], days[1]

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted((f, os.path.getmtime(os.path.join(d, f))) for f in os.listdir(d) if f.endswith(".parquet"))

    before_untouched = files_of(untouched)
    before_total = spark.read.parquet(path).count()
    n_target_before = read_day(spark, path, "day", target).count()

    # backfill: day[0] rewritten with values doubled and HALF the rows dropped
    batch = (
        ev.filter(F2.col("day") == target)
        .filter(F2.col("event_id") % 2 == 0)
        .withColumn("value", F2.col("value") * 2)
    )
    n_batch = batch.count()
    overwrite_partitions(batch, path, "day")

    # untouched partition: identical files (names AND mtimes)
    assert files_of(untouched) == before_untouched
    # target partition: exactly the batch rows
    assert read_day(spark, path, "day", target).count() == n_batch
    assert n_batch < n_target_before
    assert spark.read.parquet(path).count() == before_total - n_target_before + n_batch
    # static overwrite would have truncated: all other days must still exist
    assert sorted(d.split("=")[1] for d in os.listdir(path) if d.startswith("day=")) == days

    # listing-level pruning: the day filter appears in PartitionFilters
    plan = read_day(spark, path, "day", target)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and f"isnotnull(day" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "day" in pf and "=" in pf  # the equality reached the listing layer


# --- S16: Z-order clustering ----------------------------------------------------
def test_zorder_prunes_2d_boxes_better_than_linear(spark, tmp_path):
    """S16: measured from the written files' REAL parquet footer stats —
    across a mixed workload (user-range queries, time-of-day queries,
    both), Z-order must touch strictly fewer files than a 1-D user sort
    into the same file count, and both layouts hold identical data."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.zorder import write_linear, write_zordered
    from pdf_etl_pipeline_spark.session import load_events

    # dims scaled to EQUAL bit widths (0..1023 each) — unbalanced widths
    # let the wider dim dominate the curve's high bits and starve the
    # narrow dim's pruning (measured: raw 0..149 user ids made user-only
    # queries touch all files); user id and minute-of-day both uniform
    ev = load_events(spark, "/root/testdata/sf0.01").select(
        F2.expr("CAST(user_id * 1024 div 150 AS INT)").alias("ub"),
        F2.expr("CAST((hour(ts) * 60 + minute(ts)) * 1024 div 1440 AS INT)").alias("tb"),
        "event_id",
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    write_zordered(ev, zpath, "ub", "tb", n_files=16)
    write_linear(ev, lpath, "ub", n_files=16)
    assert spark.read.parquet(zpath).count() == spark.read.parquet(lpath).count()

    def files_touched(path, lo_a, hi_a, lo_b, hi_b):
        touched, total = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.read_metadata(os.path.join(path, f))
            mins = {"ub": None, "tb": None}
            maxs = {"ub": None, "tb": None}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        s = col.statistics
                        mins[name] = s.min if mins[name] is None else min(mins[name], s.min)
                        maxs[name] = s.max if maxs[name] is None else max(maxs[name], s.max)
            if mins["ub"] is None:
                touched += 1  # no stats -> must read
            elif not (maxs["ub"] < lo_a or mins["ub"] > hi_a or maxs["tb"] < lo_b or mins["tb"] > hi_b):
                touched += 1
        return touched, total

    # mixed workload: time-of-day-only windows (1-D layout cannot prune),
    # user-only ranges, and 2-D boxes
    boxes = [
        (0, 1023, 0, 127),       # ~midnight-3am, all users
        (0, 1023, 384, 511),     # ~9am-noon, all users
        (0, 1023, 896, 1023),    # ~9pm-midnight, all users
        (0, 255, 0, 1023),       # user range only
        (0, 255, 384, 511),      # both dims
        (640, 1023, 640, 767),   # both dims
    ]
    z_touch = sum(files_touched(zpath, *b)[0] for b in boxes)
    l_touch = sum(files_touched(lpath, *b)[0] for b in boxes)
    z_total = files_touched(zpath, -10**9, 10**9, -10**9, 10**9)[1]
    assert z_total >= 8
    # the time-only queries read ALL 1-D files (ub stats span everything);
    # Z-order prunes every query on either dim -> strictly fewer touches
    assert z_touch < l_touch
    # and a same-box query returns identical rows from both layouts
    lo_a, hi_a, lo_b, hi_b = boxes[4]
    za = spark.read.parquet(zpath).filter(f"ub between {lo_a} and {hi_a} and tb between {lo_b} and {hi_b}")
    la = spark.read.parquet(lpath).filter(f"ub between {lo_a} and {hi_a} and tb between {lo_b} and {hi_b}")
    assert sorted(r.event_id for r in za.collect()) == sorted(r.event_id for r in la.collect())


# --- S17: right-to-be-forgotten deletion ---------------------------------------
def test_forget_keys_rewrites_only_affected_partitions(spark, tmp_path):
    """S17: deleting a user's rows rewrites only the day-partitions that
    contained them (others keep identical files+mtimes), removes every
    trace of the keys, conserves everyone else's rows, and fully drops a
    partition whose rows all belonged to the deleted keys."""
    import os

    from pyspark.sql import functions as F2

    from pdf_etl_pipeline_spark.operators.forget import forget_keys
    from pdf_etl_pipeline_spark.operators.partitioned_sink import write_partitioned
    from pdf_etl_pipeline_spark.session import load_events

    path = str(tmp_path / "log")
    ev = load_events(spark, "/root/testdata/sf0.001").withColumn(
        "day", F2.date_format("ts", "yyyy-MM-dd")
    )
    write_partitioned(ev, path, "day")
    days = sorted(d.split("=")[1] for d in os.listdir(path) if d.startswith("day="))

    # pick a user and note which days they appear in
    target = ev.select("user_id").first().user_id
    user_days = {
        r.day for r in ev.filter(F2.col("user_id") == target).select("day").distinct().collect()
    }
    clean_days = [d for d in days if d not in user_days]
    assert clean_days, "need at least one untouched partition for the test"

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_clean = {d: files_of(d) for d in clean_days}
    n_total = spark.read.parquet(path).count()
    n_target = spark.read.parquet(path).filter(F2.col("user_id") == target).count()
    assert n_target > 0

    rewritten = forget_keys(spark, path, "day", "user_id", [target])
    # partition values round-trip through the parquet reader as DATEs
    assert sorted(str(p) for p in rewritten) == sorted(user_days)
    assert spark.read.parquet(path).filter(F2.col("user_id") == target).count() == 0
    assert spark.read.parquet(path).count() == n_total - n_target
    for d in clean_days:
        assert files_of(d) == before_clean[d]

    # a partition populated ONLY by the deleted key must disappear entirely
    lonely = str(tmp_path / "lonely")
    solo = spark.createDataFrame(
        [(99, "2030-01-01"), (99, "2030-01-01"), (7, "2030-01-02")],
        "user_id long, day string",
    )
    write_partitioned(solo, lonely, "day")
    forget_keys(spark, lonely, "day", "user_id", [99])
    left = spark.read.parquet(lonely)
    assert [r.user_id for r in left.collect()] == [7]
    assert not os.path.isdir(os.path.join(lonely, "day=2030-01-01"))


def test_forget_keys_preserves_null_keyed_rows(spark, tmp_path):
    """S17: rows whose key is NULL (anonymous events) are never targets
    and must survive the rewrite — plain NOT IN would silently drop them."""
    from pdf_etl_pipeline_spark.operators.forget import forget_keys
    from pdf_etl_pipeline_spark.operators.partitioned_sink import write_partitioned

    path = str(tmp_path / "anon")
    df = spark.createDataFrame(
        [(1, "d1"), (None, "d1"), (2, "d1"), (None, "d2"), (3, "d2")],
        "user_id long, day string",
    )
    write_partitioned(df, path, "day")
    forget_keys(spark, path, "day", "user_id", [1])
    left = sorted(
        [(r.user_id, str(r.day)) for r in spark.read.parquet(path).collect()],
        key=repr,
    )
    assert (1, "d1") not in left
    assert sum(1 for u, _ in left if u is None) == 2  # anonymous rows intact
    assert len(left) == 4


def test_forget_keys_special_char_and_null_partitions(spark, tmp_path):
    """S17: partition values with path-escaped characters (Spark writes
    ':' as '%3A') and NULL partition values (__HIVE_DEFAULT_PARTITION__)
    must be found, rewritten, and — when fully emptied — dropped. Before
    the fix, the raw-value dir join missed escaped names and NULL rows
    were skipped by NULL-propagating `isin`."""
    import os

    from pdf_etl_pipeline_spark.operators.forget import forget_keys
    from pdf_etl_pipeline_spark.operators.partitioned_sink import write_partitioned

    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [
            (1, "2030-01-01 10:00"),  # key 1 in an escaped-name partition
            (1, "2030-01-01 10:00"),  # ... and it's the whole partition
            (2, "2030-01-01 11:00"),  # escaped partition that must survive
            (1, None),  # key 1 also hides in the NULL partition
            (3, None),  # NULL-partition row for another user
        ],
        "user_id long, hour string",
    )
    write_partitioned(df, path, "hour")
    # Spark escaped the colons on write; NULL went to the Hive default dir
    assert os.path.isdir(os.path.join(path, "hour=2030-01-01 10%3A00"))
    assert os.path.isdir(os.path.join(path, "hour=__HIVE_DEFAULT_PARTITION__"))

    rewritten = forget_keys(spark, path, "hour", "user_id", [1])
    assert rewritten == ["2030-01-01 10:00", None]  # NULL partition sorts last
    left = spark.read.parquet(path)
    assert left.filter("user_id = 1").count() == 0  # NULL-partition copy gone too
    assert sorted(r.user_id for r in left.collect()) == [2, 3]
    # the fully-emptied escaped partition's REAL directory was dropped
    assert not os.path.isdir(os.path.join(path, "hour=2030-01-01 10%3A00"))
    # NULL partition still holds user 3; untouched escaped partition intact
    assert os.path.isdir(os.path.join(path, "hour=__HIVE_DEFAULT_PARTITION__"))
    assert os.path.isdir(os.path.join(path, "hour=2030-01-01 11%3A00"))


def test_forget_keys_partition_cap_guard(spark, tmp_path):
    """S17 driver-safety: the find/rewrite collects are metadata-bounded by
    an ENFORCED cap — a deletion touching more distinct partitions than
    max_partitions raises TooManyPartitionsError (with guidance) instead of
    materializing them on the driver, and the table is left untouched."""
    import os

    import pytest as _pytest

    from pdf_etl_pipeline_spark.operators.forget import (
        TooManyPartitionsError,
        forget_keys,
    )
    from pdf_etl_pipeline_spark.operators.partitioned_sink import write_partitioned

    path = str(tmp_path / "wide")
    # one partition per row: user 1 appears in 6 partitions
    df = spark.createDataFrame(
        [(1, f"d{i:02d}") for i in range(6)] + [(2, "d99")],
        "user_id long, day string",
    )
    write_partitioned(df, path, "day")
    before = sorted(os.listdir(path))

    with _pytest.raises(TooManyPartitionsError, match="more than 5 distinct partitions"):
        forget_keys(spark, path, "day", "user_id", [1], max_partitions=5)
    assert sorted(os.listdir(path)) == before  # refused before any rewrite
    assert spark.read.parquet(path).filter("user_id = 1").count() == 6

    # at or under the cap the deletion proceeds normally
    out = forget_keys(spark, path, "day", "user_id", [1], max_partitions=6)
    assert len(out) == 6
    assert spark.read.parquet(path).filter("user_id = 1").count() == 0
    assert spark.read.parquet(path).count() == 1


def test_fsutil_dispatches_on_path_scheme_not_default_fs(spark, tmp_path):
    """fsutil must resolve the FileSystem from the PATH's scheme
    (Path.getFileSystem), never the default FS. Pin it with a second live
    scheme: a `viewfs://` mount table (ViewFileSystem ships in the Hadoop
    client jars) whose `/data` link points at a local directory. Every
    fsutil entry point is driven through viewfs:// URIs — if any helper
    fell back to the default `file:` FS (FileSystem.get(conf)) or to
    os.path, the viewfs paths would not resolve at all. The returned URIs
    must stay in the dispatched scheme, and deletes must land through the
    mount."""
    from pdf_etl_pipeline_spark.operators import fsutil

    hconf = spark._jsc.hadoopConfiguration()
    key = "fs.viewfs.mounttable.fsutiltest.link./data"
    assert not hconf.get(key)  # the mount exists only inside this test
    d = tmp_path / "mockfs" / "t=1"
    d.mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"x" * 10)
    (d / "b.parquet").write_bytes(b"y" * 30)
    (d / "_SUCCESS").write_bytes(b"")
    hconf.set(key, f"file://{tmp_path}/mockfs")
    try:
        root = "viewfs://fsutiltest/data"

        assert fsutil.exists(root, spark)
        assert not fsutil.exists(f"{root}/absent", spark)
        files = fsutil.list_data_files(root, spark)
        # URIs come back in the dispatched scheme, hidden entries skipped
        assert [(u.rsplit("/", 1)[-1], n) for u, n in files] == [
            ("a.parquet", 10),
            ("b.parquet", 30),
        ]
        assert all(u.startswith("viewfs://fsutiltest/") for u, _ in files)
        assert fsutil.list_subdirs(root, spark) == [f"{root}/t=1"]
        assert fsutil.dir_bytes(root, spark) == 40
        assert fsutil.data_file_count(root, spark) == 2

        assert fsutil.delete(files[0][0], spark=spark)
        assert (d / "b.parquet").exists() and not (d / "a.parquet").exists()
        assert fsutil.delete(f"{root}/t=1", recursive=True, spark=spark)
        assert not d.exists()
        assert not fsutil.delete(f"{root}/t=1", recursive=True, spark=spark)
    finally:
        hconf.unset(key)
