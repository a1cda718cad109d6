"""Session state: the parquet schema memo behind ``load_table``/``load_events``
(a file's schema is inferred once per file identity and schema confs, and a
read that hits the memo launches no Spark job), the ``session_memo``
registry that owns every other memo, and ``materialized``, the one owner of
cache lifetimes."""

import ast
import itertools
import os
import pathlib
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_etl_pipeline_spark import session
from pdf_etl_pipeline_spark.session import load_events, load_table

_GROUPS = itertools.count()


def _with_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"test-session-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_file_launches_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    first, first_jobs = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    second, second_jobs = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "orders"))
    assert first_jobs >= 1  # the inference job: the counter sees jobs
    assert second_jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"], "c": [3.5, 4.5]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert sorted(r.c for r in df.collect()) == [3.5, 4.5]


def test_directory_path_still_infers(spark, tmp_path):
    spark.createDataFrame([(1, "x")], "a long, b string").write.parquet(
        str(tmp_path / "d.parquet")
    )
    n_schemas = len(session._SCHEMAS)
    for _ in range(2):
        df, jobs = _with_jobs(spark, lambda: load_table(spark, str(tmp_path), "d"))
        assert jobs >= 1
        assert df.columns == ["a", "b"]
    assert len(session._SCHEMAS) == n_schemas


def _dtypes_or_error(fn):
    try:
        return fn().dtypes
    except Exception as e:  # the un-memoized read's failure is the expectation
        return type(e).__name__


def test_load_table_events_follows_the_nanos_conf(spark, tmp_path):
    """``events`` with TIMESTAMP(NANOS) ``ts``: inference fails without
    ``nanosAsLong`` and yields BIGINT with it (``load_events`` sets it). A
    schema memoized under one value must not be served under the other — a
    BIGINT schema passed to ``.schema()`` reads the file whatever the conf —
    so ``load_table`` must match the raw read before and after ``load_events``,
    also on the second round, when the memo already holds the BIGINT schema."""
    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_000_000_001, 2_000_000_999], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path, version="2.6")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(conf, None)
    seen = []
    try:
        for _ in range(2):
            spark.conf.unset(conf)
            for step in ("before", "after"):
                if step == "after":
                    assert dict(load_events(spark, str(tmp_path)).dtypes)["ts_ns"] == "bigint"
                got = _dtypes_or_error(lambda: load_table(spark, str(tmp_path), "events"))
                raw = _dtypes_or_error(lambda: spark.read.parquet(path))
                assert got == raw, step
                seen.append(got)
    finally:
        if saved is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, saved)
    assert seen[1] == [("event_id", "bigint"), ("ts", "bigint")]
    assert seen[0] == seen[2] != seen[1]


def test_audit_read_schema_parser_keeps_nested_types_whole():
    """``tools/explain_audit.py`` checks scan pruning on the top-level
    ReadSchema fields; a comma inside ``decimal(p,s)`` or a nested type is
    not a field boundary."""
    import importlib.util

    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    spec = importlib.util.spec_from_file_location("explain_audit", os.path.join(tools, "explain_audit.py"))
    audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(audit)

    plan = (
        "+- FileScan parquet [b#1,a#2] ReadSchema: struct<b:decimal(12,2),"
        "a:array<struct<x:int,y:map<string,int>>>>\n"
        "+- FileScan parquet [ts#3] ReadSchema: struct<ts:timestamp>\n"
        "+- FileScan parquet [] ReadSchema: struct<>\n"
    )
    assert audit.read_schema_fields(plan) == [["a", "b"], ["ts"], []]


def test_module_level_memo_dicts_live_only_in_session():
    """``session.py`` owns the package's memos (``session_memo``): no other
    module binds an empty dict at module level for a private cache. The
    query registry, filled by ``@register`` at import, is not a memo."""
    import pdf_etl_pipeline_spark

    root = pathlib.Path(pdf_etl_pipeline_spark.__file__).parent
    allowed = {("catalog/__init__.py", "REGISTRY")}

    def empty_dict(v):
        if isinstance(v, ast.Dict):
            return not v.keys
        return (
            isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
            and v.func.id == "dict" and not v.args and not v.keywords
        )

    offenders = []
    for p in sorted(root.rglob("*.py")):
        if p == root / "session.py":
            continue
        rel = str(p.relative_to(root))
        for node in ast.parse(p.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            if node.value is None or not empty_dict(node.value):
                continue
            for t in targets:
                name = t.id if isinstance(t, ast.Name) else ast.unparse(t)
                if (rel, name) not in allowed:
                    offenders.append(f"{rel}:{node.lineno} {name}")
    assert offenders == []


def test_fresh_pin_at_reused_path_rereads_the_row_count(spark, tmp_path):
    """``pin_heldout`` forgets the memoized pin row count when it writes a
    fresh pin where a deleted one was, so the guard sizes its broadcast
    decision on the new pin, not the old one."""
    from pdf_etl_pipeline_spark.operators import fsutil
    from pdf_etl_pipeline_spark.streaming import leakage_guard as LG

    def docs(n):
        return spark.createDataFrame(
            [(i, " ".join(f"pin{i}w{j}" for j in range(20))) for i in range(n)],
            "doc_id long, text string",
        )

    state = str(tmp_path / "pin")
    assert LG.pin_heldout(docs(1), state)
    assert LG._pin_band_rows(spark, state) == 4
    fsutil.delete(state, recursive=True, spark=spark)
    assert LG.pin_heldout(docs(3), state)
    assert LG._pin_band_rows(spark, state) == 12


def test_library_plans_leave_the_cache_manager_empty(spark, sf_dir, tmp_path):
    """Every library plan that caches an intermediate does so only for its
    own run and returns an eagerly checkpointed result: after ``.collect()``
    the session's CacheManager is empty again. No pair relation is
    injected, so the clustering and curation paths build their own."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.llmdata import dedup as DD
    from pdf_etl_pipeline_spark.llmdata.corpus import near_decontaminate, split_stage
    from pdf_etl_pipeline_spark.llmdata.curation import curate_corpus
    from pdf_etl_pipeline_spark.llmdata.similarity import embedding_dup_pairs_lsh
    from pdf_etl_pipeline_spark.operators.sketches import kmv_overlap
    from pdf_etl_pipeline_spark.streaming import leakage_guard as LG

    docs = load_table(spark, sf_dir, "documents")
    state = str(tmp_path / "pin")
    LG.pin_heldout(docs.filter(split_stage(F.col("doc_id")) >= 1), state)
    calls = {
        "minhash_lsh_pairs": lambda: DD.minhash_lsh_pairs(docs),
        "embedding_dup_pairs_lsh": lambda: embedding_dup_pairs_lsh(
            load_table(spark, sf_dir, "embeddings")
        ),
        "near_dup_clusters": lambda: DD.near_dup_clusters(docs),
        "curate_corpus": lambda: curate_corpus(docs),
        "dup_span_stats": lambda: DD.dup_span_stats(docs),
        "dup_token_coverage": lambda: DD.dup_token_coverage(docs),
        "trim_dup_spans": lambda: DD.trim_dup_spans(docs),
        "near_decontaminate": lambda: near_decontaminate(docs),
        "kmv_overlap": lambda: kmv_overlap(load_events(spark, sf_dir), "event_type", "user_id"),
        "leakage_batch_df": lambda: LG.leakage_batch_df(
            docs.filter(split_stage(F.col("doc_id")) == 0),
            spark.read.parquet(LG._bands_path(state)),
            spark.read.parquet(LG._toks_path(state)),
        ),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    leaked = []
    for name, call in calls.items():
        call().collect()
        if not cache.isEmpty():
            leaked.append(name)
            spark.catalog.clearCache()
    assert leaked == []


def test_cache_lifetimes_have_one_owner():
    """Caching has one owner: ``session.materialized`` scopes. No package
    function takes a ``materialize``/``persist`` switch that would let a
    caller keep a cache nobody releases, and no module outside
    ``session.py`` calls ``.persist(``.

    Allowlisted, with its reason: ``triangle_count(materialize=)``: g2
    checkpoints its three shared relations, while g2a needs one plan so its
    audit sees the sample filter under the join — two production callers,
    two values."""
    import pdf_etl_pipeline_spark

    root = pathlib.Path(pdf_etl_pipeline_spark.__file__).parent
    knob_ok = {("operators/triangles.py", "triangle_count")}
    knobs, persists = [], []
    for p in sorted(root.rglob("*.py")):
        rel = str(p.relative_to(root))
        tree = ast.parse(p.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            args = fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
            if {a.arg for a in args} & {"materialize", "persist"} and (rel, fn.name) not in knob_ok:
                knobs.append(f"{rel}:{fn.lineno} {fn.name}")
        if rel == "session.py":
            continue
        persists += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "persist"
        ]
    assert knobs == []
    assert persists == []


def test_failed_ingest_batch_releases_its_cached_relations(spark, sf_dir, tmp_path, monkeypatch):
    """A corpus-stream batch that raises before its last index append
    leaves nothing in the CacheManager: its batch relations live in
    ``materialized`` scopes, not in persists released at the end."""
    import pytest

    from pdf_etl_pipeline_spark.llmdata import ingest

    def fail(*_args, **_kwargs):
        raise RuntimeError("append failed")

    monkeypatch.setattr(ingest, "_append_to_table", fail)
    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents").limit(40)
    with pytest.raises(RuntimeError, match="append failed"):
        ingest.ingest_batch(docs, str(tmp_path / "index"))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_two_batch_scaffolding_lives_only_in_the_catalog_core():
    """``catalog/__init__.py`` owns the two-batch scaffolding: no temporary
    state directory is made under ``catalog/`` or in ``bench.py`` outside
    ``scratch_state``, the ``(max(doc_id) + 1) // 2`` split is written only
    in ``halving`` (package, ``bench.py`` and ``tools/``), and ``bench.py``
    imports no streaming or llmdata code, so it times the registered stages
    instead of copies of them."""
    import pdf_etl_pipeline_spark

    root = pathlib.Path(pdf_etl_pipeline_spark.__file__).parent
    core = root / "catalog" / "__init__.py"
    bench = root.parent / "bench.py"
    scoped = set((root / "catalog").glob("*.py")) | {bench}
    sources = sorted(set(root.rglob("*.py")) | set((root.parent / "tools").glob("*.py")) | scoped)

    def lines_of(tree, name):
        fn = next(n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == name)
        return range(fn.lineno, fn.end_lineno + 1)

    core_tree = ast.parse(core.read_text())
    scope, split = lines_of(core_tree, "scratch_state"), lines_of(core_tree, "halving")
    mkdtemps, splits = [], []
    for p in sources:
        text = p.read_text()
        mkdtemps += [
            (p, node.lineno)
            for node in ast.walk(ast.parse(text))
            if p in scoped and "mkdtemp" in (
                getattr(node, "attr", None), getattr(node, "id", None), getattr(node, "name", None)
            )
        ]
        splits += [
            (p, i)
            for i, line in enumerate(text.splitlines(), 1)
            if ".first()[0] + 1) // 2" in line
        ]
    assert [(p, n) for p, n in mkdtemps if p != core or n not in scope] == []
    assert [(p, n) for p, n in splits if p != core or n not in split] == []
    assert len(splits) == 1

    imported = set()
    for node in ast.walk(ast.parse(bench.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module:
            imported.add(node.module)
        elif isinstance(node, ast.Import):
            imported.update(a.name for a in node.names)
    assert not {
        m for m in imported
        if m.startswith(("pdf_etl_pipeline_spark.streaming", "pdf_etl_pipeline_spark.llmdata"))
    }


def test_failed_two_batch_query_drops_its_state(spark, sf_dir, monkeypatch):
    """A two-batch query whose second batch raises still drops its scratch
    state: the error propagates, the temporary directory is gone and the
    catalog keeps no index table that points at it."""
    import tempfile

    import pytest

    from pdf_etl_pipeline_spark.catalog import ingest_q

    made = []
    mkdtemp = tempfile.mkdtemp

    def recording_mkdtemp(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    real = ingest_q.ingest_batch
    calls = []

    def ingest_then_fail(batch, index_dir, *args, **kwargs):
        calls.append(index_dir)
        if len(calls) == 2:
            raise RuntimeError("batch 1 failed")
        return real(batch, index_dir, *args, **kwargs)

    monkeypatch.setattr(tempfile, "mkdtemp", recording_mkdtemp)
    monkeypatch.setattr(ingest_q, "ingest_batch", ingest_then_fail)
    with pytest.raises(RuntimeError, match="batch 1 failed"):
        ingest_q.st7_neardup_ingest(spark, sf_dir)
    assert len(made) == 1 and calls == made * 2
    assert not os.path.exists(made[0])
    from pdf_etl_pipeline_spark.llmdata.ingest import bands_table, toks_table

    tables = {t.name for t in spark.catalog.listTables()}
    assert not {bands_table(made[0]), toks_table(made[0])} & tables
