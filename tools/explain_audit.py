"""Physical-plan audit — asserts the scale properties SCALE.md claims.

Checks, per headline query:
- parquet scans carry PushedFilters / pruned ReadSchema where expected
- dimension joins are BroadcastHashJoin
- ordered LIMIT k compiles to TakeOrderedAndProject
- parser plans contain no Python evaluation (native codegen only)

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.catalog import halving, load_registry, scratch_state
from pdf_etl_pipeline_spark.session import get_spark


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def read_schema_fields(plan: str) -> list[list[str]]:
    """The sorted top-level field names of each scan's ``ReadSchema:
    struct<...>`` in ``plan``, in plan order. Commas count only outside
    ``<...>`` and ``(...)``, so ``decimal(p,s)``, ``array<...>`` and
    ``struct<...>`` column types stay inside their field."""
    out = []
    for chunk in plan.split("ReadSchema: struct<")[1:]:
        names, field, depth = [], "", 0
        for ch in chunk.split("\n", 1)[0]:
            if depth == 0 and ch in ",>":
                names.append(field.split(":")[0])
                field = ""
                if ch == ">":
                    break
                continue
            depth += (ch in "<(") - (ch in ">)")
            field += ch
        else:
            names.append(field.split(":")[0])  # schema cut at the line end
        out.append(sorted(n for n in names if n))
    return out


# Physical-plan lines that can legitimately sit BETWEEN a SinglePartition
# exchange and the tiny per-bucket aggregate feeding it: pure rendering /
# runtime indirection, never an operator that changes what flows through.
_PLAN_DECOR = ("WholeStageCodegen", "InputAdapter", "ReusedExchange", "AQEShuffleRead")


def _sp_fed_by_bucket_agg(
    plan: str, key_markers: tuple[str, ...], lookahead: int = 4
) -> list[str]:
    """Every ``Exchange SinglePartition`` must be fed by a HashAggregate on
    one of ``key_markers`` (the tiny per-bucket offsets relation) — the
    partition-less window downstream is safe ONLY because its input is
    #buckets rows, not the raw corpus. The plan is split ONCE and the
    feeding aggregate searched within a small look-ahead window that skips
    decoration-only lines (codegen annotations, ReusedExchange indirection),
    so a cosmetic plan-rendering change can't turn the audit into a false
    failure (r14 ADVICE)."""
    lines = plan.splitlines()
    idxs = [i for i, l in enumerate(lines) if "Exchange SinglePartition" in l]
    if not idxs:
        return ["missing: Exchange SinglePartition (the tiny offsets cumsum)"]
    markers = tuple(f"HashAggregate(keys=[{k}" for k in key_markers)
    bad = []
    for i in idxs:
        fed = False
        for j in range(i + 1, min(i + 1 + lookahead, len(lines))):
            ln = lines[j]
            if any(m in ln for m in markers):
                fed = True
                break
            if not any(d in ln for d in _PLAN_DECOR):
                break  # first substantive line is NOT the bucket aggregate
        if not fed:
            bad.append(
                "SinglePartition exchange not fed by a per-bucket "
                f"HashAggregate(keys=[{'|'.join(key_markers)}...]) — the "
                "partition-less window would sort the raw corpus"
            )
    return bad


def _cc13_tiny_window_input(plan: str) -> list[str]:
    """cc13's partition-less offsets window is safe ONLY because its input
    is the per-(stage, bkt) aggregate (stages x 64 rows) — same contract as
    pk1; a refactor globalizing a raw-corpus sort must fail here."""
    return _sp_fed_by_bucket_agg(plan, ("stage",))


def _pk1_tiny_window_input(plan: str) -> list[str]:
    """The partition-less offsets window is safe ONLY because its input is
    the per-bucket aggregate (#buckets rows), not the raw corpus. Assert
    the structure, not the comment: every SinglePartition exchange in the
    plan must be fed by the HashAggregate on bkt, so a refactor that
    globalizes a full-corpus sort fails the audit instead of shipping."""
    return _sp_fed_by_bucket_agg(plan, ("bkt",))


# every check's staged state lives under one scratch root per run: "root"
# is set by main, "drops" holds the (drop, path) of each catalog-backed
# index staged there
_SCRATCH: dict = {"drops": []}


def _scratch(prefix: str, drop=None) -> str:
    """A fresh directory for one check's staged state under the run's
    scratch root; ``drop(spark, path)`` unregisters what the check put in
    the catalog before ``main`` deletes the root."""
    path = tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH["root"])
    if drop is not None:
        _SCRATCH["drops"].append((drop, path))
    return path


def _drop_staged(spark, _root: str) -> None:
    for drop, path in _SCRATCH["drops"]:
        drop(spark, path)


_FORGET_TMP: dict = {}


def _forget_table(spark, sf_dir: str) -> str:
    """A small day-partitioned event log for the S17 audits (memoized —
    both checks share one write)."""
    if "path" not in _FORGET_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.operators.partitioned_sink import write_partitioned
        from pdf_etl_pipeline_spark.session import load_events

        path = _scratch("forget_audit_") + "/log"
        ev = load_events(spark, sf_dir).withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        write_partitioned(ev, path, "day")
        _FORGET_TMP["path"] = path
    return _FORGET_TMP["path"]


def _forget_find_df(spark, sf_dir):
    from pdf_etl_pipeline_spark.operators.forget import _affected_partitions_df

    return _affected_partitions_df(
        spark, _forget_table(spark, sf_dir), "day", "user_id", [1, 2]
    )


def _forget_rewrite_df(spark, sf_dir):
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.operators.forget import (
        _distinct_partition_strings_df,
        _partition_match,
    )

    remaining = (
        spark.read.parquet(_forget_table(spark, sf_dir))
        .filter(_partition_match(F.col("day"), ["2024-01-01", None]))
        .filter(~F.col("user_id").isin([1, 2]) | F.col("user_id").isNull())
    )
    return _distinct_partition_strings_df(remaining, "day")


_SPAN_AUDIT_TMP: dict = {}


def _staged_span_index(spark, sf_dir):
    """A real half-corpus span index on disk (memoized) so the st10
    foreachBatch body's probe plan can be audited against live index
    files, exactly what a later micro-batch sees."""
    if "dir" not in _SPAN_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.llmdata.span_ingest import monitor_batch
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        split = halving(docs)
        ix = _scratch("st10_audit_")
        monitor_batch(docs.filter(F.col("doc_id") < split), ix, batch_id=0)
        _SPAN_AUDIT_TMP["dir"], _SPAN_AUDIT_TMP["split"] = ix, split
    return _SPAN_AUDIT_TMP["dir"], _SPAN_AUDIT_TMP["split"]


def _st10_monitor_body_df(spark, sf_dir):
    """The LAZY report plan monitor_batch runs per micro-batch (the
    side-effecting append factored away) probing the staged index."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.llmdata.span_ingest import batch_report_df
    from pdf_etl_pipeline_spark.session import load_table

    ix, split = _staged_span_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return batch_report_df(docs.filter(F.col("doc_id") >= split), ix, batch_id=1)


def _st11_verdict_body_df(spark, sf_dir):
    """st11's composed foreachBatch verdict plan, probing the staged
    half-corpus span index: the span-trim probe + doc_id-partitioned
    interval/assembly windows + codegen lang/quality gates. The st7
    admission input arrives as an already-materialized relation in the
    real body (ingest_batch localCheckpoints it — its own probe plan is
    audited as st7_ingest_batch_probe), staged here the same way."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.llmdata.curation_stream import curation_verdict_df
    from pdf_etl_pipeline_spark.llmdata.span_ingest import batch_trimmed_df
    from pdf_etl_pipeline_spark.session import load_table

    ix, split = _staged_span_index(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    b2 = docs.filter(F.col("doc_id") >= split)
    admitted = b2.select("doc_id").localCheckpoint()
    trimmed = batch_trimmed_df(b2, ix, batch_id=1)
    return curation_verdict_df(b2, admitted, trimmed)


_ST14_AUDIT_TMP: dict = {}


def _st14_manifest_body_df(spark, sf_dir):
    """st14's delivery step over a REAL staged two-batch verdict relation
    (guard -> curation -> union with drop_contaminated rows, all
    materialized by the composed body exactly as in production): the
    manifest plan is a keep-filter into pk1's two-level packing cumsum +
    one roll-up aggregate. The upstream pieces carry their own audits
    (st13_contamination_guard / st11_curation_batch_body)."""
    if "df" not in _ST14_AUDIT_TMP:
        from pdf_etl_pipeline_spark.catalog import unroll
        from pdf_etl_pipeline_spark.catalog.ingest_q import _ST14

        verdicts, _ = unroll(spark, sf_dir, _ST14)
        _ST14_AUDIT_TMP["df"] = verdicts.localCheckpoint()
    from pdf_etl_pipeline_spark.streaming.corpus_builder import builder_manifest_df

    return builder_manifest_df(_ST14_AUDIT_TMP["df"])


_ST12_AUDIT_TMP: dict = {}


def _st12_drift_body_df(spark, sf_dir):
    """st12's per-batch drift plan against a REAL pinned on-disk snapshot
    (first epoch half), scoring the second half — the foreachBatch body
    with the side-effecting pin write factored away."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.session import load_events
    from pdf_etl_pipeline_spark.streaming.drift_monitor import (
        drift_batch_df,
        monitor_drift_batch,
    )

    if "dir" not in _ST12_AUDIT_TMP:
        _ST12_AUDIT_TMP["dir"] = _scratch("st12_audit_")
    state = _ST12_AUDIT_TMP["dir"]
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_type", "value", F.unix_timestamp("ts").alias("es"))
    )
    mid = ev.agg(F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("mid"))
    evm = ev.crossJoin(F.broadcast(mid))
    if "pinned" not in _ST12_AUDIT_TMP:
        assert monitor_drift_batch(evm.filter(F.col("es") < F.col("mid")), state, 0) is None
        _ST12_AUDIT_TMP["pinned"] = True
    ref = spark.read.parquet(os.path.join(state, "reference"))
    return drift_batch_df(ref, evm.filter(F.col("es") >= F.col("mid")))


_ST13_AUDIT_TMP: dict = {}


def _st13_guard_body_df(spark, sf_dir):
    """st13's per-batch guard plan against a REAL pinned benchmark
    shingle set: corpus-linear shingle explode, equi-join with the
    broadcast pin, keyed count, per-doc left join — dc1's shape with
    the benchmark side pinned on disk."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.llmdata.corpus import BENCH_MOD
    from pdf_etl_pipeline_spark.session import load_table
    from pdf_etl_pipeline_spark.streaming.contamination_guard import (
        _bench_path,
        guard_batch_df,
        pin_benchmark,
    )

    if "dir" not in _ST13_AUDIT_TMP:
        _ST13_AUDIT_TMP["dir"] = _scratch("st13_audit_")
    state = _ST13_AUDIT_TMP["dir"]
    docs = load_table(spark, sf_dir, "documents")
    if "pinned" not in _ST13_AUDIT_TMP:
        pin_benchmark(docs.filter(F.col("doc_id") % BENCH_MOD == 0), state)
        _ST13_AUDIT_TMP["pinned"] = True
    bench = spark.read.parquet(_bench_path(state))
    return guard_batch_df(docs.filter(F.col("doc_id") % BENCH_MOD != 0), bench)


_ST15_AUDIT_TMP: dict = {}


def _st15_guard_body_df(spark, sf_dir):
    """st15's per-batch leakage plan against a REAL pinned held-out index:
    dc2's bipartite shape — the batch's bands probe the broadcast pinned
    band index, exact Jaccard verify on survivors, one keyed aggregate,
    per-doc left join."""
    from pyspark.sql import functions as F

    from pdf_etl_pipeline_spark.llmdata.corpus import split_stage
    from pdf_etl_pipeline_spark.session import load_table
    from pdf_etl_pipeline_spark.streaming.leakage_guard import (
        _bands_path,
        _toks_path,
        _leakage_plan,
        pin_heldout,
    )

    if "dir" not in _ST15_AUDIT_TMP:
        _ST15_AUDIT_TMP["dir"] = _scratch("st15_audit_")
    state = _ST15_AUDIT_TMP["dir"]
    docs = load_table(spark, sf_dir, "documents")
    stage = split_stage(F.col("doc_id"))
    if "pinned" not in _ST15_AUDIT_TMP:
        pin_heldout(docs.filter(stage >= 1), state)
        _ST15_AUDIT_TMP["pinned"] = True
    return _leakage_plan(
        docs.filter(stage == 0),
        spark.read.parquet(_bands_path(state)),
        spark.read.parquet(_toks_path(state)),
    )[0]


_ST7_AUDIT_TMP: dict = {}


def _st7_probe_df(spark, sf_dir):
    """st7's cross-batch admission probe (the foreachBatch body's index
    read) against a real half-corpus index — the plan whose contracts are
    band PartitionFilters, equi-joins only, and no window anywhere."""
    if "df" not in _ST7_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.llmdata import ingest as IG
        from pdf_etl_pipeline_spark.llmdata.dedup import (
            bands_from_signatures,
            hashed_tokens,
            signatures_from_hashed,
        )
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        split = halving(docs)
        ix = _scratch("st7_audit_", IG.drop_index)
        IG.ingest_batch(docs.filter(F.col("doc_id") < split), ix)
        batch = docs.filter(F.col("doc_id") >= split)
        hashed = hashed_tokens(batch)
        bands = bands_from_signatures(signatures_from_hashed(hashed))
        toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("toks"))
        _ST7_AUDIT_TMP["df"] = IG.admission_matches(
            spark, bands, toks, batch.select("doc_id"), ix
        )
    return _ST7_AUDIT_TMP["df"]


_ST17_AUDIT_TMP: dict = {}


def _st17_probe_df(spark, sf_dir):
    """st17's cross-batch admission probe (the foreachBatch body's index
    read) against a real half-corpus asset index — band_idx
    PartitionFilters, one equi-join with codegen popcount verify, no
    window, no Python."""
    if "df" not in _ST17_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.catalog.multimodal_q import _mm1_hashes
        from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
            drop_mm_index,
            mm_admission_matches,
            mm_ingest_batch,
        )
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        hashes = _mm1_hashes(docs)
        split = halving(docs)
        ix = _scratch("st17_audit_", drop_mm_index)
        mm_ingest_batch(hashes.filter(F.col("asset_id") < split), ix)
        batch = hashes.filter(F.col("asset_id") >= split).select(
            "asset_id", F.col("phash").alias("h")
        )
        _ST17_AUDIT_TMP["df"] = mm_admission_matches(spark, batch, ix)
    return _ST17_AUDIT_TMP["df"]


_ST20_AUDIT_TMP: dict = {}


def _st20_resolve_body_df(spark, sf_dir):
    """st20's NEW plan fragment (its guards are covered by the st18/st19
    body audits; its admission append by st17's): the canonical-keeper
    RESOLUTION — the pruned-partition index probe with the MIN-asset
    aggregate that redirects a deduped doc to the asset the release
    actually ships."""
    if "df" not in _ST20_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.catalog.multimodal_q import _st20_doc_assets
        from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
            drop_mm_index,
            mm_admission_canonicals,
            mm_ingest_batch,
        )
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        assets = _st20_doc_assets(docs).select(
            F.col("doc_id").alias("asset_id"), F.col("phash").alias("h")
        )
        split = halving(docs)
        ix = _scratch("st20_audit_", drop_mm_index)
        mm_ingest_batch(
            assets.filter(F.col("asset_id") < split), ix, hash_col="h"
        )
        _ST20_AUDIT_TMP["df"] = mm_admission_canonicals(
            spark, assets.filter(F.col("asset_id") >= split), ix
        )
    return _ST20_AUDIT_TMP["df"]


_ST19_AUDIT_TMP: dict = {}


def _st19_probe_df(spark, sf_dir):
    """st19's per-batch screen against a real pinned containment index:
    token hashing + the pin-df rank window (doc_id-partitioned),
    prefix×postings equi-joins with the positional/length pre-filters,
    exact verify on survivors, one keyed verdict aggregate — no corpus
    window, no nested loop, no Python."""
    if "df" not in _ST19_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.session import load_table
        from pdf_etl_pipeline_spark.streaming.containment_guard import (
            _cont_paths,
            containment_batch_df,
            pin_containment_index,
        )

        docs = load_table(spark, sf_dir, "documents")
        split = halving(docs)
        state = _scratch("st19_audit_")
        pin_containment_index(docs.filter(F.col("doc_id") < split), state)
        toks_p, posts_p, df_p = _cont_paths(state)
        _ST19_AUDIT_TMP["df"] = containment_batch_df(
            docs.filter(F.col("doc_id") >= split),
            spark.read.parquet(toks_p),
            spark.read.parquet(posts_p),
            spark.read.parquet(df_p),
        )
    return _ST19_AUDIT_TMP["df"]


_ST18_AUDIT_TMP: dict = {}


def _st18_probe_df(spark, sf_dir):
    """st18's per-batch screen against a real pinned frame index: the
    bipartite distinct-hash banding with the hot-band recursion, popcount
    verify, output-bounded expansion, one keyed roll-up — no window over
    the corpus, no nested-loop join, no Python."""
    if "df" not in _ST18_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.catalog.multimodal_q import (
            _mm1_hashes,
            _mm3_frame_hashes,
        )
        from pdf_etl_pipeline_spark.llmdata.mm_ingest import (
            framegrab_batch_df,
            pin_frame_index,
        )
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        state = _scratch("st18_audit_")
        pin_frame_index(_mm3_frame_hashes(docs), state)
        _ST18_AUDIT_TMP["df"] = framegrab_batch_df(
            _mm1_hashes(docs), spark.read.parquet(os.path.join(state, "fg_frames"))
        )
    return _ST18_AUDIT_TMP["df"]


def _no_global_sort(plan: str) -> list[str]:
    """Window operators sort WITHIN partitions (`Sort [...], false`); a
    `Sort [...], true` node is a corpus-global range sort and has no
    business in a per-batch foreachBatch body."""
    return [
        f"global sort in the batch body: {l.strip()[:100]}"
        for l in plan.splitlines()
        if "Sort [" in l and "], true," in l
    ]


def _dd10_windows_doc_partitioned(plan: str) -> list[str]:
    """Every Window in the coverage plan must partition by doc_id — the
    interval merge runs per document over the duplicated-starts relation,
    never as a corpus-wide unpartitioned sort."""
    bad = [
        l.strip()[:120]
        for l in plan.splitlines()
        if l.lstrip().startswith(("Window ", "+- Window ")) or " Window [" in l
        if "Window [" in l and ", [doc_id" not in l.split("Window [", 1)[1]
    ]
    return [f"Window not partitioned by doc_id: {l}" for l in bad]


def _dq3_two_exchanges_pruned_scan(plan: str) -> list[str]:
    """dq3's whole cost is one quasi-key shuffle plus a SinglePartition
    rollup over the (bounded) group relation, reading ONLY the two quasi
    source columns. Pin all three properties so a refactor can't silently
    widen the scan or add a third shuffle."""
    import re

    problems = []
    # the byte-gated scan-spread (session.spread_scan) adds an explicit
    # repartition exchange (REPARTITION_BY_NUM origin) over unsplittably-
    # small local inputs; it is OFF at scale (the gate), so the scale
    # contract counts only the organic (ENSURE_REQUIREMENTS) shuffles —
    # and allows AT MOST ONE repartition exchange (the spread), so a
    # stray .repartition(n, ...) inside the query body stays visible to
    # the shuffle-count contract (r16 ADVICE)
    all_ex = [
        l.strip()
        for l in plan.splitlines()
        if "Exchange " in l and "ReusedExchange" not in l
    ]
    spreads = [l for l in all_ex if "REPARTITION_BY_NUM" in l]
    exchanges = [l for l in all_ex if "REPARTITION_BY_NUM" not in l]
    if len(spreads) > 1:
        problems.append(f"more than one repartition exchange: {spreads}")
    if len(exchanges) != 2:
        problems.append(f"expected exactly 2 non-spread Exchanges, saw {exchanges}")
    if "Exchange SinglePartition" not in plan:
        problems.append("missing: the 1-row rollup's SinglePartition exchange")
    cols = (read_schema_fields(plan) or [[]])[0]
    if cols != ["event_type", "ts"]:
        problems.append(f"scan not pruned to the quasi columns: {cols}")
    return problems


def _g2a_sample_before_join(plan: str) -> list[str]:
    """The DOULION hash draw must be evaluated at EDGE CONSTRUCTION —
    Catalyst pushes it into the lineitem self-join, so every md5 occurrence
    references the raw least/greatest(l_partkey) expressions. If a refactor
    sampled after orientation or after the wedge join, the hash argument
    would be oriented src/dst (or wedge a/b/c) columns instead, and the
    (p|E|)^1.5 wedge bound would silently become |E|^1.5."""
    bad = [
        l.strip()[:120]
        for l in plan.splitlines()
        if "md5(" in l and "least(l_partkey" not in l
    ]
    if "md5(" not in plan:
        return ["missing: the md5 sampling predicate"]
    return [f"md5 draw not over raw edge columns: {l}" for l in bad]


_CC17_AUDIT_TMP: dict = {}


def _cc17_diff_body_df(spark, sf_dir):
    """cc17's real body: v1's manifest persisted to disk (as a shipped
    release would be), v2 built fresh, the diff read LAZILY so the audit
    sees the join plan — v1 must enter as a column-pruned parquet scan."""
    if "df" not in _CC17_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.catalog.curation_q import (
            release_diff_stored,
            release_manifest_df,
            release_write,
        )
        from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
        from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        cut = halving(docs)
        docs1 = docs.filter(F.col("doc_id") < cut)
        path = _scratch("cc17_audit_v1_")
        release_write(
            release_manifest_df(docs1, minhash_lsh_pairs(docs1, 0.9)),
            path,
        )
        v2 = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
        _CC17_AUDIT_TMP["df"] = release_diff_stored(spark, path, v2)
    return _CC17_AUDIT_TMP["df"]


def _cc17_v1_is_scan(plan: str) -> list[str]:
    """The v1 side must be a parquet SCAN of the persisted manifest, pruned
    to the diff's columns — a ReadSchema still carrying the build-side
    columns (quality_score/n_tokens/start_offset) means pruning regressed;
    no scan line at all means the operator silently rebuilt v1."""
    scans = [
        ln for ln in plan.splitlines() if "Scan parquet" in ln and "cc17_audit_v1" in ln
    ]
    if not scans:
        return ["v1 side is not a scan of the persisted manifest (rebuild?)"]
    return [
        f"v1 manifest scan not column-pruned: {ln.strip()[:120]}"
        for ln in scans
        if any(c in ln for c in ("quality_score", "n_tokens", "start_offset"))
    ]


_CC18_AUDIT_TMP: dict = {}


def _cc18_patch_body_df(spark, sf_dir):
    """cc18's real body, lazily: v1 persisted (the stored artifact), the
    compact diff + patch-apply built as one plan — the audit must see the
    stored v1 entering as a pruned scan and the patch as an anti-join,
    never a second curation rebuild."""
    if "df" not in _CC18_AUDIT_TMP:
        from pyspark.sql import functions as F

        from pdf_etl_pipeline_spark.catalog.curation_q import (
            release_apply_diff,
            release_diff_compact,
            release_manifest_df,
            release_read,
            release_write,
        )
        from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
        from pdf_etl_pipeline_spark.llmdata.dedup import minhash_lsh_pairs
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        cut = halving(docs)
        docs1 = docs.filter(F.col("doc_id") < cut)
        path = _scratch("cc18_audit_v1_")
        release_write(
            release_manifest_df(docs1, minhash_lsh_pairs(docs1, 0.9)),
            path,
        )
        v2 = release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9))
        stored = release_read(spark, path).select(
            "doc_id", "split", "position", "shard_id"
        )
        _CC18_AUDIT_TMP["df"] = release_apply_diff(
            stored, release_diff_compact(stored, v2)
        )
    return _CC18_AUDIT_TMP["df"]


_DQ11_AUDIT_TMP: dict = {}


def _dq11_certify_body_df(spark, sf_dir):
    """dq11's certification fragment, lazily, over a persisted manifest:
    the audit pins that every invariant check is an AGGREGATE — position
    contiguity via min/max/count-distinct, never a corpus-wide window."""
    if "df" not in _DQ11_AUDIT_TMP:
        from pdf_etl_pipeline_spark.catalog.curation_q import (
            certify_release,
            release_manifest_df,
            release_read,
            release_write,
        )
        from pdf_etl_pipeline_spark.catalog.dedup_q import shared_pairs
        from pdf_etl_pipeline_spark.session import load_table

        docs = load_table(spark, sf_dir, "documents")
        path = _scratch("dq11_audit_rel_")
        release_write(
            release_manifest_df(docs, shared_pairs(spark, sf_dir, 0.9)), path
        )
        _DQ11_AUDIT_TMP["df"] = certify_release(release_read(spark, path))
    return _DQ11_AUDIT_TMP["df"]


def _cc18_v1_is_scan(plan: str) -> list[str]:
    """Both uses of the stored v1 (the diff's old side and the patch's
    keep side) must be column-pruned parquet scans of the persisted
    manifest — no scan means the patch silently rebuilt v1."""
    scans = [
        ln for ln in plan.splitlines() if "Scan parquet" in ln and "cc18_audit_v1" in ln
    ]
    if not scans:
        return ["v1 side is not a scan of the persisted manifest (rebuild?)"]
    return [
        f"v1 manifest scan not column-pruned: {ln.strip()[:120]}"
        for ln in scans
        if any(c in ln for c in ("quality_score", "n_tokens", "start_offset"))
    ]


_TK5_BATCH = [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")]


def _tk5_batched_apply_df(spark, sf_dir: str):
    """One apply_merges_batch pass over the symbol relation with a K=4
    conflict-free batch — the per-round plan train_bpe_batched repeats.
    (The registered query returns the driver-built merge table, whose plan
    is a LocalTableScan; the scale contract lives in THIS relation.)"""
    from pdf_etl_pipeline_spark.llmdata import bpe
    from pdf_etl_pipeline_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents")
    return bpe.apply_merges_batch(bpe.symbols_rel(bpe.word_vocab(docs)), _TK5_BATCH)


def _tk5_one_shuffle_k_branches(plan: str) -> list[str]:
    """The windows must all reuse the hashpartitioning(word) exchange —
    K merges per pass cost one shuffle, not K and not one per window —
    and the CASE must carry one WHEN branch per batch entry."""
    import re

    problems = []
    # the byte-gated scan-spread exchange (session.spread_scan, explicit
    # REPARTITION_BY_NUM origin) is not a merge-apply shuffle — see the
    # dq3 audit note; at most one such exchange is tolerated (r16 ADVICE)
    all_ex = [
        l.strip()
        for l in plan.splitlines()
        if "Exchange " in l and "ReusedExchange" not in l
    ]
    spreads = [l for l in all_ex if "REPARTITION_BY_NUM" in l]
    exchanges = [l for l in all_ex if "REPARTITION_BY_NUM" not in l]
    if len(spreads) > 1:
        problems.append(f"more than one repartition exchange: {spreads}")
    if len(exchanges) != 1 or "hashpartitioning(word" not in plan:
        problems.append(
            f"expected exactly 1 non-spread Exchange (hashpartitioning on word), saw {exchanges}"
        )
    if len(re.findall(r"\bWindow ", plan)) < 4:
        problems.append("missing: the 4-window merge-apply chain")
    whens = max((s.count(" WHEN ") for s in plan.split("CASE WHEN")[1:]), default=0)
    if whens + 1 < len(_TK5_BATCH):
        problems.append(
            f"K-branch CASE missing: widest CASE has {whens + 1} branches, "
            f"batch has {len(_TK5_BATCH)}"
        )
    return problems


CHECKS = {
    "a8_pricing_summary": {
        "must": ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate", "HashAggregate"],
        "must_not": ["BatchEvalPython"],
    },
    "a3_top_suppliers": {
        "must": ["BroadcastHashJoin", "TakeOrderedAndProject"],
        "must_not": ["BatchEvalPython"],
    },
    "j2_equi_join_enrich": {
        "must": ["BroadcastHashJoin"],
        "must_not": ["SortMergeJoin"],
    },
    "p1_p3_line_filters": {
        "must": ["PushedFilters: [IsNotNull(text)"],
        "must_not": [],
    },
    "t1_t3_invoice_pipeline": {
        # parsers must be pure JVM: project/generate only, no Python eval
        "must": ["Generate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython"],
    },
    "t11_dispatch_union": {
        # one pass: a CASE over per-type row arrays and one inline, no
        # per-type branches unioned, no T8 window
        "must": ["Generate"],
        "must_not": ["Union", "Window", "BatchEvalPython", "ArrowEvalPython"],
    },
    "w5_topk_per_group": {
        "must": ["Window"],
        "must_not": ["BatchEvalPython"],
    },
    "dd3_minhash_lsh": {
        # the registered query returns the memoized localCheckpoint'ed pair
        # relation (catalog/dedup_q.py shared_pairs) whose executed plan is
        # just a checkpoint scan — audit the UN-memoized library plan, which
        # is what actually runs on first build (and at scale)
        "build": lambda spark, sf_dir: __import__(
            "pdf_etl_pipeline_spark.llmdata.dedup", fromlist=["_minhash_lsh_plan"]
        )._minhash_lsh_plan(
            __import__(
                "pdf_etl_pipeline_spark.session", fromlist=["load_table"]
            ).load_table(spark, sf_dir, "documents"),
            0.9,
        )[0],
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "dd5_embedding_dups": {
        # banded sign-LSH: candidates from an equi-join on (band, key) —
        # never an all-pairs product (the pre-round-4 shape this replaced)
        "build": lambda spark, sf_dir: __import__(
            "pdf_etl_pipeline_spark.llmdata.similarity", fromlist=["embedding_dup_pairs_lsh"]
        )._embedding_lsh_plan(
            __import__(
                "pdf_etl_pipeline_spark.catalog.dedup_q", fromlist=["_augmented_embeddings"]
            )._augmented_embeddings(spark, sf_dir),
            0.9,
        )[0],
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "ss1_cosine_topk": {
        "must": ["BroadcastNestedLoopJoin"],  # broadcast query side, no shuffle of corpus
        "must_not": ["BatchEvalPython"],
    },
    "rj1_range_join": {
        # bucketization must turn the interval join into a hash join
        "must": ["BroadcastHashJoin"],
        "must_not": ["BroadcastNestedLoopJoin", "CartesianProduct"],
    },
    "cc1_corpus_curation": {
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "sp1_hash_split": {
        # split assignment is a pure projection over the scan — the only
        # exchange allowed is the gate's output ordering
        "must": ["Project"],
        "must_not": ["BatchEvalPython", "HashAggregate", "Join"],
    },
    "tx5_pii_scrub": {
        "must": ["Project"],
        "must_not": ["BatchEvalPython", "HashAggregate", "Join"],
    },
    "dc1_decontamination": {
        # shingle equi-join: hash join on the shingle hash, never a
        # cartesian doc x doc relation
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "pk1_sequence_packing": {
        # two-level cumsum: the per-bucket window partitions by bkt (hash
        # exchange), never a single-partition global sort of the corpus
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: _pk1_tiny_window_input(plan),
    },
    "dq8_split_leakage": {
        # split staging is a pure projection over the (memoized) pair
        # relation — no membership join with documents; the only join is
        # the 3-row split-sizes broadcast
        "build": lambda spark, sf_dir: __import__(
            "pdf_etl_pipeline_spark.llmdata.corpus", fromlist=["split_leakage"]
        ).split_leakage(
            __import__(
                "pdf_etl_pipeline_spark.session", fromlist=["load_table"]
            ).load_table(spark, sf_dir, "documents"),
            __import__(
                "pdf_etl_pipeline_spark.llmdata.dedup", fromlist=["_minhash_lsh_plan"]
            )._minhash_lsh_plan(
                __import__(
                    "pdf_etl_pipeline_spark.session", fromlist=["load_table"]
                ).load_table(spark, sf_dir, "documents"),
                0.9,
            )[0],
        ),
        # (no SortMergeJoin ban: the embedded dd3 pair build's band
        # self-join is corpus x corpus and may legitimately sort-merge)
        "must": ["HashAggregate", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "dd15_containment_pairs": {
        # PPJoin prefix filter: df is one keyed aggregate, the per-doc
        # ordering windows partition by doc_id, the candidate step is a
        # hash equi-join on the token hash — no Python, no cartesian, no
        # partition-less window over the corpus
        "must": ["HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "check": lambda plan: [
            f"window not partitioned by doc_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(doc_id#" not in ln
        ],
    },
    "dd16_jaccard_join": {
        # dd15's audited shape with the Jaccard prefix/length/positional
        # variants: keyed df aggregate, doc_id-partitioned rank windows,
        # hash equi-join candidates with integer-arithmetic pre-filters —
        # no Python, no cartesian, no partition-less corpus window
        "must": ["HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "check": lambda plan: [
            f"window not partitioned by doc_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(doc_id#" not in ln
        ],
    },
    "dq10_containment_leakage": {
        # the audited dd15 plan + dq8's zero-shuffle split staging: keyed
        # df aggregate, doc_id-partitioned rank windows, equi-join
        # candidates, 6-row leak aggregate with broadcast split sizes —
        # no Python, no cartesian, no membership join back to documents
        "must": ["HashAggregate", "Window", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
        "check": lambda plan: [
            f"window not partitioned by doc_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(doc_id#" not in ln
        ],
    },
    "dq9_multimodal_leakage": {
        # dq8's shape per modality arm: split staging is a pure projection
        # over each banded pair relation (no membership join with
        # documents); the only joins are the banding equi-joins and the
        # 3-row split-sizes broadcast; arms union, never cross-join
        "must": ["HashAggregate", "BroadcastHashJoin", "Union"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "ss12_filtered_topk": {
        # PRE-filter ANN: the attribute match is an EQUI-join key, so the
        # broadcast probe must be a hash join (ss1's unfiltered BNLJ shape
        # would mean the filter didn't reach the join) — corpus never
        # shuffles, ranking stays per-query windows
        "must": ["BroadcastHashJoin", "Window"],
        "must_not": [
            "BatchEvalPython",
            "CartesianProduct",
            "SortMergeJoin",
            "BroadcastNestedLoopJoin",
        ],
    },
    "cc13_curriculum_order": {
        # two-level rank: per-(stage, bkt) window over a hash exchange; the
        # only SinglePartition exchange feeds the stages x 64 offsets
        # aggregate (pk1's contract) — never a global sort of the corpus
        "must": ["Window", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        "check": lambda plan: _cc13_tiny_window_input(plan),
    },
    "cc14_release_manifest": {
        # the composed release: curation fragments + two two-level cumsum
        # stages (curriculum rank keyed [stage,bkt], packing keyed [bkt]) —
        # every SinglePartition exchange must be fed by one of those tiny
        # per-bucket aggregates, never a raw-corpus sort
        "must": ["Window", "BroadcastHashJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: _sp_fed_by_bucket_agg(plan, ("stage", "bkt")),
    },
    "cc15_multimodal_release": {
        # cc14's audited release plan + two per-modality keeper joins on
        # doc_id (the label arms are checkpointed relations — scans, not
        # recomputation); SinglePartition exchanges must still be fed only
        # by the tiny per-bucket aggregates, never a raw-corpus sort
        "must": ["Window", "BroadcastHashJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: _sp_fed_by_bucket_agg(plan, ("stage", "bkt")),
    },
    "cc16_release_diff": {
        # two audited cc14 manifest plans + one full-outer equi-join on
        # doc_id; the SinglePartition exchanges are the manifests' tiny
        # per-bucket offset aggregates (cc14's contract applies to both
        # copies), never a raw-corpus sort; no Python, no cartesian
        "must": ["Window", "HashAggregate", "SortMergeJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: _sp_fed_by_bucket_agg(plan, ("stage", "bkt")),
    },
    "cc17_stored_release_diff": {
        # ONE audited cc14 build (v2) + a column-pruned parquet scan of the
        # persisted v1 + the full-outer equi-join — the v1 side must be a
        # SCAN, never a rebuild (that is cc17's entire reason to exist)
        "build": _cc17_diff_body_df,
        "must": ["Window", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: _sp_fed_by_bucket_agg(plan, ("stage", "bkt"))
        + _cc17_v1_is_scan(plan),
    },
    "dq11_release_certification": {
        # the certification is ONE scan of the stored release + aggregates:
        # no window anywhere (contiguity via min/max/count-distinct), no
        # cartesian, no Python
        "build": _dq11_certify_body_df,
        "must": ["HashAggregate", "Scan parquet"],
        "must_not": ["Window", "BatchEvalPython", "CartesianProduct"],
    },
    "cc18_release_patch": {
        # the patch is ONE anti-join (keep side) + the compact diff's
        # equi-join over a pruned stored-v1 scan and the single audited v2
        # build — no cartesian, no Python, and v1 must never be rebuilt
        "build": _cc18_patch_body_df,
        "must": ["LeftAnti"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: _sp_fed_by_bucket_agg(plan, ("stage", "bkt"))
        + _cc18_v1_is_scan(plan),
    },
    "tx7_unigram_logprob": {
        # corpus-total must join back as a 1-row broadcast (BNLJ over a
        # single row is the legitimate shape, like ss1's query side) —
        # never a partition-less window over the vocabulary
        "must": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "ss5_knn_join": {
        # skew-salted bucketed self-join: must stay a hash equi-join on
        # (bucket, salt) — salting must never degrade it to a nested-loop
        # or cartesian shape, and the hot-bucket detect is an aggregate
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "ss7_pq_rerank": {
        # two-stage ANN: ADC scoring joins broadcast query tables to the
        # codes; the rerank fetch joins the broadcast shortlist to the
        # embeddings scan — the corpus must never shuffle or cross-join
        "must": ["BroadcastHashJoin", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    },
    "ss8_ivf_adc_topk": {
        # IVF-PQ composite: cell probe is a 16-row broadcast nested loop
        # (legitimate, like tx7's 1-row total); candidate pruning and ADC
        # scoring are equi-joins + aggregates — the codes⋈candidates join
        # may sort-merge (both sides are corpus-sized at scale; AQE
        # broadcasts at this SF), but full vectors must never cross-join
        "must": ["HashAggregate", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "pc2_histogram_quantiles": {
        # the cumulative window must run over the per-(group, bin)
        # aggregate (<=1024 rows/group), partitioned by the group key —
        # never a partition-less or raw-data window; and no sort-based
        # exact percentile may appear
        "must": ["HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "percentile("],
        "check": lambda plan: [
            f"window not partitioned by l_returnflag: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(l_returnflag#" not in ln
        ],
    },
    "w10_pattern_match": {
        # sequence strings build inside a keyed aggregate (array_sort in
        # the agg buffer) — there must be NO window operator at all, and
        # the regex runs codegen-side, not in Python
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "Window", "CartesianProduct"],
    },
    "s13_scd2_history": {
        # both windows must partition by the dimension key — a
        # partition-less window here would global-sort the event log
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by user_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(user_id#" not in ln
        ],
    },
    "tx8_tfidf_topk": {
        # one explode feeds tf and df; N joins back as a 1-row broadcast
        # (BNLJ over one row, like tx7); top-k is a doc_id-partitioned
        # window — never partition-less, never Python
        "must": ["HashAggregate", "BroadcastNestedLoopJoin", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by doc_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(doc_id#" not in ln
        ],
    },
    "cc5_source_cap": {
        # quality scoring is codegen over the scan; the cap is ONE window
        # partitioned by source — a keyed shuffle, never a global sort
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by source: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(source#" not in ln
        ],
    },
    "sp4_weighted_sample": {
        # the weighted draw must compile to TakeOrderedAndProject (per-task
        # k-row heaps merged on the driver), never a range-partitioned
        # global sort of the corpus; the rank window sorts only the k
        # already-limited rows (a SinglePartition exchange of k rows)
        "must": ["TakeOrderedAndProject"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Exchange rangepartitioning"],
    },
    "ev1_cohort_retention": {
        # both heavy aggregations key on user_id; the retention window runs
        # over the tiny (cohort, offset) aggregate partitioned by cohort
        "must": ["HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by cohort_week: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(cohort_week#" not in ln
        ],
    },
    "g2_triangle_count": {
        # every join is an equi-join on node ids (wedge join on the shared
        # endpoint, closing check a semi-join) — no nested-loop shapes, no
        # Python; degree aggregation is a keyed HashAggregate
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "mm5_dedup_manifest": {
        # three independent modality arms; the pair generation and the
        # min-label rounds run through localCheckpoint (the iterative-
        # graph lineage discipline), so the FINAL plan is checkpoint
        # scans + projections unioned — the audited contracts for the
        # arms live at mm1/mm2/mm3 and the label engine's own tests; here
        # we pin no-Python / no-cartesian / the three-arm union shape
        "must": ["Union"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "tk7_cap_sweep": {
        # per-cap encode: broadcast left join of the exploded corpus
        # against the <=cap-row encoding, folded to 1 row; the corpus
        # must never shuffle or cross-join, no Python anywhere
        "must": ["Generate", "BroadcastHashJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    },
    "ml8_nb_auc": {
        # per-class rank windows over the scored relation (partitioned by
        # lang — bounded class count); the classes cross join is the 5-row
        # broadcast BNLJ (ml2's audited shape); no Python, no cartesian
        "must": ["Window", "HashAggregate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"rank window not partitioned by lang: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(lang#" not in ln
        ],
    },
    "ir2_phrase_topk": {
        # positional postings: one Generate (posexplode), the phrase-term
        # table broadcast as a hash equi-join on tok, keyed anchor
        # aggregate, per-query window — never a substring scan of text or
        # a postings self-join
        "must": ["Generate", "BroadcastHashJoin", "HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    },
    "ev5_inter_event_gaps": {
        # the lag window must stay partitioned by (user_id, event_type) —
        # parallel across users, never a global sort of the event log
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"lag window not partitioned by user_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(user_id#" not in ln
        ],
    },
    "g3_clustering_coeff": {
        # triangle LISTING with the same equi-join-only contract as g2,
        # plus a Generate (the 3-corner explode, linear in triangles) and
        # keyed aggregates — never a per-node adjacency intersection
        "must": ["HashAggregate", "Generate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "g2a_triangle_doulion": {
        # same audited join shapes as exact g2, with the deterministic
        # md5-hash sampling filter applied BEFORE the degree/orient joins
        # (the (p|E|)^1.5 wedge bound depends on sampling first) — the md5
        # must appear in a Filter, and nothing may turn nested-loop/Python
        "must": ["HashAggregate", "md5"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": _g2a_sample_before_join,
    },
    "ev4_twap": {
        # one (type, day)-keyed lead window over the pruned scan, one
        # keyed aggregation — no join, no global sort, no Python
        "must": ["Window", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Join"],
        "check": lambda plan: [
            f"window not partitioned by event_type: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(event_type#" not in ln
        ],
    },
    "rs7_cusum_changepoint": {
        # the only window is the event_type-keyed decimal running sum;
        # stats/peak/changepoint relations join back as broadcasts of
        # bounded (per-type) rows — no global sort, no Python
        "must": ["Window", "HashAggregate", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        "check": lambda plan: [
            f"window not partitioned by event_type: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(event_type#" not in ln
        ],
    },
    "dq7_embedding_drift": {
        # corpus-linear posexplode (Generate) into ONE keyed (label, dim)
        # aggregation; per-label counts broadcast back; everything after
        # runs on the bounded labels x dims relation — no window, no
        # sort-merge join, full vectors never shuffle, no Python
        "must": ["Generate", "HashAggregate", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    },
    "dq6_categorical_drift": {
        # one keyed count over the type column (1-row midpoint broadcast
        # back as the tx7-shape BNLJ), then arithmetic on the bounded
        # type-count relation — no window, no raw-row join, scan pruned
        # to (event_type, ts)
        "must": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
        "check": lambda plan: [
            f"events scan reads beyond (event_type, ts): {cols}"
            for cols in read_schema_fields(plan)
            if not set(cols) <= {"event_type", "ts"}
        ],
    },
    "st13_contamination_guard": {
        # dc1's decontamination shape at admission: Generate (shingle
        # explode) over the batch, hash equi-joins only (the pin is the
        # bounded build side), one keyed count, no window, no Python,
        # no cartesian
        "build": _st13_guard_body_df,
        "must": ["Generate", "HashAggregate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
    },
    "st15_leakage_guard": {
        # (this audited body is ALSO st16_guarded_release's new fragment:
        # the builder runs this exact leak probe — same module function —
        # in front of the separately-audited st11 curation body; st16's
        # registered query returns a localCheckpoint scan, so the
        # meaningful plans to audit are its components, here and at
        # st11_verdict_batch_body / st13_contamination_guard)
        # dc2's bipartite banding at admission: the batch's bands probe
        # the BROADCAST pinned band index (hash equi-join on band+key),
        # exact Jaccard verify on survivors only, one keyed aggregate,
        # per-doc left join — no window, no Python, no cartesian, and
        # never a nested-loop (the pin side is keyed, not scanned)
        "build": _st15_guard_body_df,
        "must": ["HashAggregate", "BroadcastHashJoin"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
    },
    "st12_drift_monitor": {
        # the foreachBatch drift body (snapshot pinned on disk, batch as
        # the current side): the audited dq5/dp5 shapes — keyed bucket
        # aggregation + type-keyed ECDF window over (snapshot ∪ batch),
        # 1-row grid/total broadcasts, a bounded per-type final join;
        # no Python, no cartesian product, no corpus-global window
        "build": _st12_drift_body_df,
        "must": ["HashAggregate", "BroadcastNestedLoopJoin", "BroadcastHashJoin", "Window", "Union"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by event_type: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(event_type#" not in ln
        ],
    },
    "dq5_snapshot_psi_drift": {
        # dq4's contracts under the two-relation (snapshot) form: the
        # quartile bounds and the grid min/max broadcast back as 1-row
        # BNLJs; bucket counts are ONE keyed aggregation over ref ∪ cur;
        # totals join as a bounded broadcast; both scans pruned to the
        # three referenced columns
        "must": ["HashAggregate", "BroadcastNestedLoopJoin", "BroadcastHashJoin", "Union"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
        "check": lambda plan: [
            f"events scan reads beyond (event_type, ts, value): {cols}"
            for cols in read_schema_fields(plan)
            if not set(cols) <= {"event_type", "ts", "value"}
        ],
    },
    "dp5_snapshot_ks_drift": {
        # dp4's contracts under the two-relation (snapshot) form: the
        # ECDF window stays keyed by event_type over the distinct-value
        # relation; quartile bounds broadcast back; scans pruned
        "must": ["HashAggregate", "BroadcastNestedLoopJoin", "BroadcastHashJoin", "Window", "Union"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        "check": lambda plan: (
            [
                f"window not partitioned by event_type: {ln.strip()[:80]}"
                for ln in plan.splitlines()
                if "windowspecdefinition(" in ln
                and "windowspecdefinition(event_type#" not in ln
            ]
            + [
                f"events scan reads beyond (event_type, ts, value): {cols}"
                for cols in read_schema_fields(plan)
                if not set(cols) <= {"event_type", "ts", "value"}
            ]
        ),
    },
    "dp4_ks_drift": {
        # 1-row midpoint broadcasts back (tx7's legitimate 1-row BNLJ);
        # tie-grouping is ONE keyed aggregation; the ECDF window runs over
        # the DISTINCT-value relation keyed by event_type; totals join as
        # a bounded broadcast; scan pruned to the three referenced columns
        "must": ["HashAggregate", "BroadcastNestedLoopJoin", "BroadcastHashJoin", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        "check": lambda plan: (
            [
                f"window not partitioned by event_type: {ln.strip()[:80]}"
                for ln in plan.splitlines()
                if "windowspecdefinition(" in ln
                and "windowspecdefinition(event_type#" not in ln
            ]
            + [
                f"events scan reads beyond (event_type, ts, value): {cols}"
                for cols in read_schema_fields(plan)
                if not set(cols) <= {"event_type", "ts", "value"}
            ]
        ),
    },
    "dd13_cluster_size_histogram": {
        # two keyed aggregations over the converged label relation (the
        # heavy lifting — the LSH pair index — is dd3's audited plan,
        # memoized via localCheckpoint); no Python, no cartesian
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "dd12_span_provenance": {
        # dd8's keyed hash aggregation ranks via a bounded TakeOrdered
        # top-k (never a global sort of the hash relation); the example
        # span text comes from broadcasting the 20-row top relation into
        # the token scan — the corpus never shuffles for the report
        # (SortAggregate — the min(struct) example-picker is sort-based,
        # the dd9 argmax pattern)
        "must": ["Generate", "Aggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct", "Window"],
    },
    "tx13_ngram_novelty": {
        # one corpus-linear explode, r16: materialized ONCE through
        # localCheckpoint (the mm5 discipline — both aggregates reference
        # the gram relation, and left lazy the explode ran twice), so the
        # FINAL plan is checkpoint scans + the keyed aggregations; the
        # explode lives in the checkpoint job. No window, no nested-loop,
        # no Python
        "must": ["HashAggregate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
    },
    "dq4_distribution_drift": {
        # the 1-row min/max/midpoint broadcasts back (legitimate 1-row
        # BNLJ, the tx7 shape); bucket counts are ONE keyed aggregation;
        # the per-type totals join is a broadcast of a bounded relation;
        # scan pruned to the three referenced columns
        "must": ["HashAggregate", "BroadcastNestedLoopJoin", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
        "check": lambda plan: [
            f"events scan reads beyond (event_type, ts, value): {cols}"
            for cols in read_schema_fields(plan)
            if not set(cols) <= {"event_type", "ts", "value"}
        ],
    },
    "cc11_verdict_shard_manifest": {
        # st11's delivery path: the heavy chain lands as checkpointed
        # verdict relations (audited separately via
        # st11_curation_batch_body), so this plan is a filter over them
        # into pk1's two-level packing — bkt-partitioned cumsum windows,
        # the only SinglePartition exchange the bounded per-bucket
        # offsets relation; no Python, no cartesian
        "must": ["HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: (
            _pk1_tiny_window_input(plan)
            + [
                f"Window partitioned by neither doc_id nor bkt: {l.strip()[:100]}"
                for l in plan.splitlines()
                if "Window [" in l
                and ", [doc_id" not in l.split("Window [", 1)[1]
                and ", [bkt" not in l.split("Window [", 1)[1]
            ]
        ),
    },
    "cc10_trimmed_shard_manifest": {
        # cc9's trim fragments + pk1's two-level packing: every window is
        # either doc_id-partitioned (the trim interval merge) or
        # bkt-partitioned (the per-bucket cumsum), and the only
        # SinglePartition exchange is the bounded per-bucket offsets
        # relation (the pk1 structural check)
        "must": ["Generate", "HashAggregate", "Window", "collect_list"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: (
            _pk1_tiny_window_input(plan)
            + [
                f"Window partitioned by neither doc_id nor bkt: {l.strip()[:100]}"
                for l in plan.splitlines()
                if "Window [" in l
                and ", [doc_id" not in l.split("Window [", 1)[1]
                and ", [bkt" not in l.split("Window [", 1)[1]
            ]
        ),
    },
    "cc9_trimmed_curation": {
        # dd11's audited span plan feeding the recipe: corpus-linear
        # explodes (Generate), doc_id-partitioned interval windows ONLY,
        # in-array re-assembly via collect_list, trimmed-text scoring as
        # codegen projections, ONE conditional stage aggregate — no
        # Python, no cartesian, no corpus-global window
        "must": ["Generate", "HashAggregate", "Window", "collect_list"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": _dd10_windows_doc_partitioned,
    },
    "cc8_temperature_mix": {
        # one shuffle on source, a 1-row decimal-exact normalizer joined
        # back as a broadcast nested-loop of one row, pruned 2-column scan
        "must": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    },
    "sp5_span_corruption": {
        # one corpus-linear posexplode, the island window over MASKED
        # positions only (doc_id-partitioned — the dd10 check applies),
        # collect_list re-assemblies; the mask is a hash projection, so
        # no RNG node, no Python, no cartesian
        "must": ["Generate", "HashAggregate", "Window", "collect_list"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct", "Rand"],
        "check": _dd10_windows_doc_partitioned,
    },
    "ml7_nb_calibration": {
        # ml2's score relation + ONE doc-partitioned top-2 window + a
        # <=10-row fixed-bin aggregate — no global quantile sort, no
        # Python, no cartesian (the NB class cross join is a broadcast
        # of the class list, not a CartesianProduct node)
        "must": ["HashAggregate", "Window", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": _dd10_windows_doc_partitioned,
    },
    "rs6_seasonal_anomaly": {
        # one corpus scan; the profile (types x 168 cells) and per-type
        # stats join back as broadcasts — no sort-merge join, no window
        # over the corpus, no Python
        "must": ["HashAggregate", "BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin", "Window"],
    },
    "dq3_k_anonymity": {
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        "check": _dq3_two_exchanges_pruned_scan,
    },
    "ir1_bm25_topk": {
        # the query table and 1-row corpus stats broadcast to the postings
        # (equi-join on tok = postings-list lookup); only matching docs are
        # scored; top-k is a query-partitioned window — no Python, no
        # corpus cross-join
        "must": ["HashAggregate", "BroadcastHashJoin", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by query_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(query_id#" not in ln
        ],
    },
    "j6_point_in_time": {
        # interval containment must ride the user_id equi-join as a join
        # filter — never a nested-loop theta join over facts x history
        "must": ["HashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "mk1_transition_matrix": {
        # the sequence window partitions by user_id; transitions aggregate
        # map-side — no global order anywhere
        "must": ["Window", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by user_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(user_id#" not in ln
        ],
    },
    "dd9_semdedup": {
        # pairwise cosine must ride the cell_id equi-join; the only
        # nested-loop is the 16-row centroid broadcast in the assignment
        # (legitimate, like ss8's cell probe). SortAggregate here — the
        # max_by(struct) argmax is sort-based
        "must": ["Aggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: (
            []
            if any("Join" in l and "cell_id" in l for l in plan.splitlines())
            else ["pair join not keyed on cell_id"]
        ),
    },
    "ev2_rfm_segmentation": {
        # the global ntile windows are safe ONLY because their input is the
        # per-user aggregate — assert the pk1-style structure: every
        # SinglePartition exchange fed directly by a HashAggregate/Sort
        # over the user_id aggregation, never the raw event scan
        "must": ["Window", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            "SinglePartition exchange not fed by the per-user aggregate"
            for i, l in enumerate(plan.splitlines())
            if "Exchange SinglePartition" in l
            and not any(
                # per-user aggregate (the ntile input) or a keyless scalar
                # aggregate (the 1-row max-ts anchor) — both are bounded
                "HashAggregate(keys=[user_id" in nxt
                or "HashAggregate(keys=[]" in nxt
                for nxt in plan.splitlines()[i + 1 : i + 4]
            )
        ],
    },
    "dd8_dup_spans": {
        # cross-doc span test is ONE keyed aggregation on the hash + a
        # semi-join back — never a pairwise doc comparison. The registered
        # query materializes (checkpoint scan), so audit the library plan.
        "build": lambda spark, sf_dir: __import__(
            "pdf_etl_pipeline_spark.llmdata.dedup", fromlist=["_dup_span_stats_plan"]
        )._dup_span_stats_plan(
            __import__(
                "pdf_etl_pipeline_spark.session", fromlist=["load_table"]
            ).load_table(spark, sf_dir, "documents"),
        )[0],
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "rs4_ewma": {
        # the smoothing recursion must stay ONE frame-bounded window
        # partitioned by the key — no global sort, no Python fold
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Join"],
        "check": lambda plan: [
            f"window not partitioned by event_type: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(event_type#" not in ln
        ],
    },
    "ml2_naive_bayes": {
        # train+apply in one plan: likelihood scoring joins on the token,
        # the class table is a tiny broadcast (BNLJ over a handful of rows,
        # legitimate like tx7's 1-row total); argmax windows by doc_id
        "must": ["HashAggregate", "Window", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by doc_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(doc_id#" not in ln
        ],
    },
    "cc6_token_budget_mix": {
        # rank + running total are source-partitioned windows — a keyed
        # shuffle, never a global or partition-less sort
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"window not partitioned by source: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(source#" not in ln
        ],
    },
    "ml1_linreg": {
        # the whole fit is ONE keyed aggregation (partial_ stats map-side);
        # no window, no join, no Python — the sufficient-statistics contract
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "Window", "Join", "CartesianProduct"],
    },
    "dp1_profile": {
        # all stats ride one scan: multiple exact distincts plan via Expand
        # over a single FileScan (SortAggregate here — first()+min/max over
        # expanded gid streams) — assert one scan, no join, no Python
        "must": ["Expand", "Aggregate"],
        "must_not": ["BatchEvalPython", "Join", "CartesianProduct"],
        "check": lambda plan: (
            []
            if plan.count("Scan parquet") == 1
            else [f"expected exactly 1 parquet scan, found {plan.count('Scan parquet')}"]
        ),
    },
    "st6_attribution_join": {
        # interval join must equi-join on user_id (BroadcastHashJoin at
        # this SF via AQE; SortMergeJoin at scale) with the time range as a
        # post-join condition — never a nested-loop theta join
        "must": ["HashJoin [user_id", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "dp2_correlation": {
        # every sufficient statistic (per-column sums + per-pair products)
        # rides ONE aggregation over ONE scan — no join, no window, no
        # Python; the pair matrix is a post-agg explode of O(|cols|²) rows
        "must": ["HashAggregate", "Generate"],
        "must_not": ["BatchEvalPython", "Join", "Window", "CartesianProduct"],
        "check": lambda plan: (
            []
            if plan.count("Scan parquet") == 1
            else [f"expected exactly 1 parquet scan, found {plan.count('Scan parquet')}"]
        ),
    },
    "ev3_active_users": {
        # sliding COUNT(DISTINCT) is not windowable: each (day,user) row
        # explodes to its 7 window-days (Generate) and every aggregate/join
        # keys on day — never a range/nested-loop join over the day spine
        "must": ["HashAggregate", "Generate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    "s17_forget_find_collect": {
        # the find step's driver-side collect is safe ONLY because its
        # input is a distinct-agg of the partition column over a scan
        # pruned to (partition col, key col) — rows bounded by #distinct
        # partition values, never data scale. Pin the structure so a
        # refactor that collects raw rows fails the audit.
        "build": _forget_find_df,
        "must": ["HashAggregate(keys=[day"],
        "must_not": ["BatchEvalPython", "Join", "Window", "CartesianProduct"],
        "check": lambda plan: (
            []
            if "ReadSchema: struct<user_id:" in plan
            else ["find scan not pruned to the key column"]
        ),
    },
    "s17_forget_rewrite_collect": {
        # same bound for the rewrite step's collect: a distinct of the
        # cast-to-string partition column only, key filter pushed to the
        # pruned scan
        "build": _forget_rewrite_df,
        "must": ["HashAggregate(keys=[_p"],
        "must_not": ["BatchEvalPython", "Join", "Window", "CartesianProduct"],
        "check": lambda plan: (
            []
            if "ReadSchema: struct<user_id:" in plan
            else ["rewrite scan not pruned to the key column"]
        ),
    },
    "dp3_robust_outliers": {
        # per-group median/MAD stats must broadcast back to the fact scan
        # (6-row frames), never shuffle lineitem for the join; scan pruned
        # to the three referenced columns
        "must": ["BroadcastHashJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
        # pruning contract as a column SET (r16 ADVICE: the exact-prefix
        # string silently depended on column order and types; the dq4/dq5
        # idiom is order-robust): the scan may read only the referenced
        # columns, plus the spread hash key l_orderkey when the byte-gated
        # scan-spread is on (OFF at scale)
        "check": lambda plan: [
            f"lineitem scan not pruned to extendedprice+group columns: {cols}"
            for cols in read_schema_fields(plan)
            if not set(cols)
            <= {"l_orderkey", "l_extendedprice", "l_returnflag", "l_linestatus"}
        ],
    },
    "dq1_ref_integrity": {
        # small-dim orphan checks are broadcast anti joins; the only
        # nested-loop joins are the 1-row stats combiners
        "must": ["LeftAnti, BuildRight", "BroadcastNestedLoopJoin BuildRight, Cross"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "bf1_bloom_semi_join": {
        # the bit-set (<=m rows) and candidate-key joins broadcast; no
        # all-pairs anything — the whole point of the filter
        "must": ["BroadcastHashJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "a10_star_join_revenue": {
        # Q5 shape: date range pushed to the orders scan; the
        # c_nationkey = s_nationkey locality filter must merge INTO the
        # supplier join keys (not run as a post-join filter) — asserted by
        # a single join line carrying both l_suppkey and c_nationkey
        "must": ["PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
        "check": lambda plan: (
            []
            if any(
                "Join" in l and "l_suppkey" in l and "c_nationkey" in l
                for l in plan.splitlines()
            )
            else ["locality filter not merged into the supplier join keys"]
        ),
    },
    "ml6_cohens_kappa": {
        # both labels from ONE projection over one scan; marginals join on
        # the tiny label space; 1-row combiners broadcast
        "must": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    },
    "tx11_zipf_fit": {
        # top-k vocabulary via TakeOrderedAndProject (bounded heap), rank
        # window over <=1000 rows, fit is one suffstats aggregate
        "must": ["TakeOrderedAndProject", "HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Join"],
    },
    "dq2_constraint_audit": {
        # one scan per table covers all of that table's rules (conditional
        # aggregates + count-distinct in the same agg) — never a scan per rule
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Join"],
    },
    "cc7_curation_funnel": {
        # one pass over the per-doc flag relation: stage sums are
        # conditional aggregates of the same rows, never per-stage rescans
        # of the corpus; flag inputs join on doc_id
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "ss10_ann_recall": {
        # evaluation layer is two tiny key joins over the audited ANN
        # relations; no Python eval, no all-pairs beyond ss1's intended
        # broadcast-query-side scoring
        "must": ["HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct"],
    },
    "ml5_silhouette": {
        # O(n*k): the 16-row centroid relation broadcasts into a nested-loop
        # scoring join, argmax/top-2 fold as one keyed aggregate — never the
        # O(n^2) pairwise silhouette
        "must": ["BroadcastNestedLoopJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "SortMergeJoin", "CartesianProduct"],
    },
    "rs5_rolling_anomaly": {
        # one keyed frame-bounded window over the scan — no joins, no
        # global sort of the corpus beyond the output ordering
        "must": ["Window", "PushedFilters: [IsNotNull(value)"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Join"],
        "check": lambda plan: (
            []
            if "Exchange hashpartitioning(event_type" in plan
            else ["rolling window not keyed by event_type (would globalize the sort)"]
        ),
    },
    "ml4_chi2": {
        # one keyed count over the corpus; margins/expected derive from the
        # tiny contingency relation (broadcast), never a second corpus agg
        # keyed on the cross of levels
        "must": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    },
    "ab1_two_proportion_z": {
        # conversion set joins the assignment as a broadcast; variant
        # assignment is a pure hash projection (no stored table)
        "must": ["BroadcastHashJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "SortMergeJoin"],
    },
    "tx10_bigram_logprob": {
        # adjacent-pairing is an in-row array zip (Generate over the token
        # array), |V| joins as a 1-row broadcast; no window over the corpus
        "must": ["Generate", "BroadcastNestedLoopJoin"],
        "must_not": ["BatchEvalPython", "CartesianProduct", "Window"],
    },
    "dd10_dup_token_coverage": {
        # the registered query localCheckpoints (session-memo discipline),
        # which would hide the plan — audit the lazy form: corpus-linear
        # posexplode (Generate), map-side-combined dup-hash aggregate,
        # semi-join flagging, and the interval merge as doc_id-partitioned
        # windows ONLY (the custom check); no Python, no cartesian
        "build": lambda spark, sf_dir: __import__(
            "pdf_etl_pipeline_spark.llmdata.dedup", fromlist=["_dup_token_coverage_plan"]
        )._dup_token_coverage_plan(
            __import__(
                "pdf_etl_pipeline_spark.session", fromlist=["load_table"]
            ).load_table(spark, sf_dir, "documents"),
        )[0],
        "must": ["Generate", "HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": _dd10_windows_doc_partitioned,
    },
    "dd11_span_trim": {
        # dd10's pipeline + covered-position explode + anti-join + in-array
        # re-assembly: windows stay doc_id-partitioned, the re-assembly is
        # a collect_list aggregate whose result expression sorts in-array
        # (ObjectHashAggregate — no extra sort shuffle), no Python
        "build": lambda spark, sf_dir: __import__(
            "pdf_etl_pipeline_spark.llmdata.dedup", fromlist=["_trim_dup_spans_plan"]
        )._trim_dup_spans_plan(
            __import__(
                "pdf_etl_pipeline_spark.session", fromlist=["load_table"]
            ).load_table(spark, sf_dir, "documents"),
        )[0],
        "must": ["Generate", "HashAggregate", "Window", "collect_list"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": _dd10_windows_doc_partitioned,
    },
    "st10_monitor_batch_body": {
        # the foreachBatch body's per-batch plan: corpus-linear posexplode
        # (Generate), the index probe is hash equi-joins on h against the
        # (batch_id, h)-deduplicated pre-aggregated index (the idempotence
        # read — pinned by the keyed HashAggregate), coverage windows are
        # doc_id-partitioned only, no global sort (the report is unordered
        # by contract), no nested-loop/cartesian, no Python
        "build": _st10_monitor_body_df,
        "must": ["Generate", "HashAggregate", "Window"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
        "check": lambda plan: (
            _dd10_windows_doc_partitioned(plan)
            + _no_global_sort(plan)
            + (
                []
                if any(
                    "HashAggregate(keys=[" in l and "batch_id#" in l
                    for l in plan.splitlines()
                )
                else ["missing: the (batch_id, h) dedup aggregate on the index read"]
            )
        ),
    },
    "st11_curation_batch_body": {
        # the composed streaming-curation verdict per micro-batch: span
        # probe against the (batch_id, h)-deduplicated pre-aggregated
        # index, trim windows doc_id-partitioned, covered-position
        # explode (Generate), in-array re-assembly, codegen gates — no
        # global sort (verdicts unordered), no Python, no cartesian
        "build": _st11_verdict_body_df,
        "must": ["Generate", "HashAggregate", "Window", "collect_list"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
        "check": lambda plan: (
            _dd10_windows_doc_partitioned(plan)
            + _no_global_sort(plan)
            + (
                []
                if any(
                    "HashAggregate(keys=[" in l and "batch_id#" in l
                    for l in plan.splitlines()
                )
                else ["missing: the (batch_id, h) dedup aggregate on the index read"]
            )
        ),
    },
    "st7_ingest_batch_probe": {
        # the foreachBatch body's admission probe: the index bands scan
        # must carry a band PartitionFilter (unprobed partitions never
        # read), candidates/verify are hash equi-joins with the index
        # verify sets semi-joined down BEFORE the verify join, and there
        # is no window, no nested-loop join, no Python anywhere
        "build": _st7_probe_df,
        "must": ["HashAggregate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
        "check": lambda plan: _no_global_sort(plan)
        + (
            []
            if any(
                "PartitionFilters:" in l and "band#" in l for l in plan.splitlines()
            )
            else ["index bands scan lacks a band PartitionFilter"]
        ),
    },
    "st19_containment_batch_body": {
        # pin-only excerpt screen: the only windows are the batch's own
        # doc_id-partitioned prefix ranks; candidates are hash equi-joins
        # against the pinned postings/prefixes; verify + verdict are keyed
        # aggregates — no corpus-global sort, no nested loop, no Python
        "build": _st19_probe_df,
        "must": ["HashAggregate", "Window"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
        "check": lambda plan: _no_global_sort(plan)
        + [
            f"window not partitioned by doc_id: {ln.strip()[:80]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "windowspecdefinition(doc_id#" not in ln
        ],
    },
    "st18_framegrab_batch_body": {
        # pin-only cross-modal screen: distinct-hash bipartite banding
        # (HashAggregate distincts + size aggregates), equi-joins only,
        # one keyed roll-up; the corpus never windows or cross-joins
        "build": _st18_probe_df,
        "must": ["HashAggregate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
        "check": lambda plan: _no_global_sort(plan),
    },
    "st20_canonical_resolution_body": {
        # st20's keeper resolution probe: the index bands scan must carry
        # a band_idx PartitionFilter, the candidate+verify is ONE hash
        # equi-join with the codegen popcount filter, the resolution is
        # one keyed MIN aggregate — no window, no nested loop, no Python
        "build": _st20_resolve_body_df,
        "must": ["HashAggregate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
        "check": lambda plan: _no_global_sort(plan)
        + (
            []
            if any(
                "PartitionFilters:" in l and "band_idx#" in l
                for l in plan.splitlines()
            )
            else ["index bands scan lacks a band_idx PartitionFilter"]
        ),
    },
    "st17_ingest_batch_probe": {
        # st17's foreachBatch admission probe: the index bands scan must
        # carry a band_idx PartitionFilter (unprobed partitions never
        # read), the candidate+verify step is ONE hash equi-join with the
        # popcount verify as a codegen filter on the joined row — no
        # window, no nested-loop join, no Python, no global sort
        "build": _st17_probe_df,
        "must": ["HashAggregate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
            "Window",
        ],
        "check": lambda plan: _no_global_sort(plan)
        + (
            []
            if any(
                "PartitionFilters:" in l and "band_idx#" in l
                for l in plan.splitlines()
            )
            else ["index bands scan lacks a band_idx PartitionFilter"]
        ),
    },
    "tx12_ppl_buckets": {
        # tx10's audited scoring plan + ONE 1-row threshold aggregate
        # broadcast back for labeling: the only SinglePartition exchange
        # may be the threshold percentile (|docs|-row input), the label
        # join must be a broadcast nested-loop of that 1 row, and nothing
        # may turn into a corpus-wide Window or Python eval
        "must": ["Generate", "BroadcastNestedLoopJoin", "HashAggregate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct", "Window"],
    },
    "ss11_text_ivf_topk": {
        # text -> hashed vectors -> IVF: featurization is a keyed (doc, dim)
        # aggregate (map-side combined), the 16-row centroid relation
        # broadcasts into assignment, the probe join is a broadcast hash
        # equi-join on cell_id; no Python anywhere in the path
        "must": ["HashAggregate", "BroadcastHashJoin", "Generate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
    },
    "tk2_bpe_encode": {
        # the encoded VOCABULARY broadcast-joins the corpus's exploded
        # pretokens — the corpus-sized side never shuffles for the encode,
        # and the whole tokenizer (train + apply) stays JVM-native
        "must": ["BroadcastHashJoin", "Generate", "HashAggregate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
    },
    "tk6_bpe_capped_encode": {
        # the encode is ONE broadcast left join of the exploded corpus
        # against the <=cap-row trained encoding (char-fallback coalesce
        # in the aggregate) — no corpus-side shuffle for the join, no
        # Python, no cartesian; the training collects ran driver-side on
        # the capped relation before this plan exists
        "must": ["BroadcastHashJoin", "Generate", "HashAggregate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
    },
    "tk5_bpe_batched_train": {
        # the batched apply is a K-branch CASE over the SAME 4-window chain
        # as the single-merge apply (lead pairing -> islands row_number ->
        # parity row_number -> overlap lag) plus the final re-position window;
        # all of them partition by word, so the whole pass costs ONE shuffle
        # regardless of K — that invariant IS the N/round_size scale claim
        "build": _tk5_batched_apply_df,
        "must": ["Window", "CASE WHEN"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": _tk5_one_shuffle_k_branches,
    },
    "tk4_bpe_packing": {
        # pk1's two-level cumsum discipline must survive the BPE-count
        # substitution: the only SinglePartition exchange is the tiny
        # per-bucket offsets relation, never the corpus
        "must": ["BroadcastHashJoin", "Window"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": _pk1_tiny_window_input,
    },
    "st14_builder_manifest_body": {
        # the composed builder's delivery step: keep-filter over the
        # batch's materialized verdict relation into pk1's two-level
        # packing — bkt-partitioned cumsum windows, the only
        # SinglePartition exchange the bounded per-bucket offsets
        # relation; no Python, no cartesian (the guard and curation
        # stages carry their own audits)
        "build": _st14_manifest_body_df,
        "must": ["HashAggregate", "Window"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: (
            _pk1_tiny_window_input(plan)
            + [
                f"Window partitioned by neither doc_id nor bkt: {l.strip()[:100]}"
                for l in plan.splitlines()
                if "Window [" in l
                and ", [doc_id" not in l.split("Window [", 1)[1]
                and ", [bkt" not in l.split("Window [", 1)[1]
            ]
        ),
    },
    "mm1_phash_pairs": {
        # exact pigeonhole banding over DISTINCT hash values: the distinct
        # (HashAggregate) feeds the band explode (Generate) and the
        # self-equi-join; identical-hash/cross-hash expansion joins are
        # keyed equi-joins; no Python, no all-pairs product anywhere —
        # the brute-force shape exists only in the DuckDB oracle
        "must": ["HashAggregate", "Generate", "Union"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
    },
    "mm2_audio_pairs": {
        # same banding path as mm1 (shared _banded_hash_pairs)
        "must": ["HashAggregate", "Generate", "Union"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
    },
    "mm3_video_pairs": {
        # frame-level distinct-hash banding + output-bounded expansion +
        # two keyed roll-up aggregations; only 64-bit hashes shuffle
        "must": ["HashAggregate", "Generate", "Union"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
    },
    "cc12_guarded_corpus_build": {
        # the offline st14: broadcast bench-shingle decon semi-join,
        # survivor-subgraph clustering over the checkpointed pair index,
        # cluster-partitioned keeper window, doc_id-partitioned trim
        # windows, codegen gates, ONE conditional aggregate — no Python,
        # no cartesian, no corpus-global ranking window
        "must": ["Window", "HashAggregate", "Generate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"ranking window not partitioned by cluster_id: {ln.strip()[:90]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "row_number()" in ln
            and "windowspecdefinition(cluster_id#" not in ln
        ],
    },
    "dd14_best_keeper": {
        # quality-aware keeper pick: the ranking window is partitioned by
        # cluster_id (never global), quality is a codegen Column over the
        # doc scan. The clustering arrives as the memoized checkpointed
        # label relation (its own build is audited via dd3/dd6), so the
        # final plan is joins + the keyed window — no aggregate expected
        "must": ["Window"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: [
            f"ranking window not partitioned by cluster_id: {ln.strip()[:90]}"
            for ln in plan.splitlines()
            if "windowspecdefinition(" in ln
            and "row_number()" in ln
            and "windowspecdefinition(cluster_id#" not in ln
        ],
    },
    "tx14_vocab_growth": {
        # prefix-distinct via first-occurrence min-agg (corpus-linear,
        # map-side combinable) — the only global window runs over the
        # 10-row per-bucket aggregate, never the corpus
        "must": ["HashAggregate", "Generate"],
        "must_not": ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"],
        "check": lambda plan: (
            ["missing: HashAggregate(keys=[bucket (the pre-window reduction)"]
            if "HashAggregate(keys=[bucket" not in plan
            else []
        )
        + (
            []
            if plan.count("Exchange SinglePartition") <= 1
            else ["more than one SinglePartition exchange — a corpus-wide sort crept in"]
        ),
    },
    "mm4_image_in_video": {
        # BIPARTITE distinct-hash banding (degeneracy guard both sides):
        # equi-join on (band_idx, band_val) only — no self-join, no union
        # branch (equal hashes agree on every band), expansion joins
        # keyed, keyed roll-up; never an all-pairs product
        "must": ["HashAggregate", "Generate"],
        "must_not": [
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ],
    },
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry = load_registry()
    spark = get_spark("explain_audit")
    failed = []
    # the root is deleted on exit, also when a check raises, after the
    # staged indexes' catalog tables are dropped
    with scratch_state(spark, "explain_audit_", _drop_staged) as root:
        _SCRATCH["root"] = root
        for name, spec in CHECKS.items():
            build = spec.get("build") or registry[name].fn
            plan = plan_of(build(spark, sf_dir))
            problems = [f"missing: {m}" for m in spec["must"] if m not in plan]
            problems += [f"present: {m}" for m in spec["must_not"] if m in plan]
            if "check" in spec:
                problems += spec["check"](plan)
            if problems:
                failed.append(name)
                print(f"AUDIT FAIL {name}: {problems}")
            else:
                print(f"AUDIT PASS {name}")
    print(f"\n{len(CHECKS) - len(failed)}/{len(CHECKS)} plans match the scale contract")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
