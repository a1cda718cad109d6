"""Measured scale exponents sf0.01→sf0.1→sf1 for the six headline heavy
queries (SCALE.md evidence — the numbers behind the claimed bounds).

The driver's testdata stops at sf0.1, so this script SYNTHESIZES a
three-point scale series (1×, 10×, 100× — the 100× point is the "sf1
equivalent") with deterministic generators that mirror the driver
tables' shapes, then times each query at each point and reports the
measured growth exponent  e = log10(t_10x / t_1x)  per decade beside the
claimed complexity bound.

Generated tables (seeded, reproducible):
- ``documents``  (500 / 5k / 50k): dup-CONTROLLED shape — per-doc token
  namespaces + a fixed 10% planted near-copy rate, the regime real web
  corpora live in (true near-dup pairs grow linearly with n). The
  driver's own 31-word-vocab tables are dup-SATURATED (true pairs grow
  ~n²) — scale exponents measured there would measure the corpus, not
  the operator; tools/scale_curve.py documents that contrast.
- ``events``     (10k / 100k / 1M): 30-day timestamps, users = n/66,
  5 event types, exponential-ish values — the driver shape.
- ``embeddings`` (500 / 2k / 20k): 64-dim gaussian, L2-normalized,
  10 labels.
- ``lineitem``   (60k / 600k / 6M): orders = n/4, parts = n/30 — only
  (l_orderkey, l_partkey), the two columns g2 reads (column pruning
  means the rest never leaves the scan anyway).

Queries: ``CURVE_QUERIES`` — the six headline heavy queries
(st7_neardup_ingest, g2_triangle_count, ss8_ivf_adc_topk,
dd3_minhash_lsh, rs5_rolling_anomaly, tk2_bpe_encode) and the families
added since — each looked up in ``load_registry()`` and called through
its REGISTERED catalog entry, so the measured plan is the shipped plan.

Usage:
    python tools/sf1_curves.py [workdir]         # default /tmp/sfgen
    python tools/sf1_curves.py /tmp/sfgen 10     # cap scale at 10x
    python tools/sf1_curves.py /tmp/sfgen 100 dd10,dd11   # subset filter
    python tools/sf1_curves.py /tmp/sfgen 100 dd11 0.9    # high-dup stress
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from pdf_etl_pipeline_spark.catalog import load_registry
from pdf_etl_pipeline_spark.session import get_spark
from tools.measure import require_idle, reset_session_memos, time_runs

SCALES = {"1x": 1, "10x": 10, "100x": 100, "1000x": 1000}
BASE = {"documents": 500, "events": 10_000, "embeddings": 500, "lineitem": 60_000}

CURVE_QUERIES = (
    "st7_neardup_ingest", "g2_triangle_count", "g2a_triangle_doulion",
    "ss8_ivf_adc_topk", "dd3_minhash_lsh", "rs5_rolling_anomaly", "tk2_bpe_encode",
    "tk6_bpe_capped_encode", "dd10_dup_token_coverage", "dd11_span_trim",
    "st10_span_monitor", "tx12_ppl_buckets", "tx13_ngram_novelty",
    "dd12_span_provenance", "dd13_cluster_size_histogram", "dq4_distribution_drift",
    "dp4_ks_drift", "rs7_cusum_changepoint", "cc9_trimmed_curation",
    "cc10_trimmed_shard_manifest", "st11_streaming_curation", "st11_curation_funnel",
    "cc11_verdict_shard_manifest", "st12_drift_monitor", "st13_contamination_guard",
    "dq6_categorical_drift", "dq7_embedding_drift", "st14_corpus_builder",
    "mm1_phash_pairs", "mm2_audio_pairs", "mm3_video_pairs", "mm4_image_in_video",
    "tx14_vocab_growth", "dd14_best_keeper", "cc12_guarded_corpus_build",
    "dq8_split_leakage", "ss12_filtered_topk", "cc13_curriculum_order",
    "cc14_release_manifest", "st15_leakage_guard", "g3_clustering_coeff",
    "st16_guarded_release", "ev5_inter_event_gaps", "ir2_phrase_topk", "ml8_nb_auc",
    "tk7_cap_sweep", "mm5_dedup_manifest", "cc15_multimodal_release",
    "st17_multimodal_ingest", "st18_framegrab_guard", "dq9_multimodal_leakage",
    "cc16_release_diff", "dd15_containment_pairs", "st19_containment_guard",
    "dd16_jaccard_join", "st20_mm_release_verdicts", "cc17_stored_release_diff",
)


def gen_documents(
    n: int, seed: int = 11, dup_rate: float = 0.10, vocab: str = "ns"
) -> pd.DataFrame:
    """``vocab='ns'`` (default): per-doc token namespaces + planted
    near-copies — the dup-controlled regime. ``vocab='zipf<s>'`` (e.g.
    ``zipf1.0``): tokens drawn from a Zipf(s) distribution over a
    Heaps-law vocabulary (V ~ 30·√n) — the MID-SKEW regime where common
    tokens land in many prefixes and PPJoin's positional/length filters
    earn their keep (r15: bounding the dd15/st19 filter win). Near-copy
    planting applies in both modes so true containment pairs exist."""
    rng = np.random.default_rng(seed)
    rows = []
    n_tok = 40
    zipf_s = float(vocab[4:]) if vocab.startswith("zipf") else None
    if zipf_s is not None:
        V = max(1_000, 30 * int(math.sqrt(n)))
        p = 1.0 / np.arange(1, V + 1) ** zipf_s
        p /= p.sum()
    for i in range(n):
        if i > 0 and rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            if zipf_s is not None:
                # near-copy of src's ACTUAL zipf-drawn text
                base = list(rows[src][1].split())
            else:
                # src's pristine namespace (bit-identical to the pre-r15
                # generator — decade numbers stay comparable across rounds)
                base = [f"d{src}t{k}" for k in range(n_tok)]
            for k in rng.choice(n_tok, size=2, replace=False):
                base[int(k)] = f"d{i}r{int(k)}"
        elif zipf_s is not None:
            base = [f"z{int(k)}" for k in rng.choice(V, size=n_tok, p=p)]
        else:
            base = [f"d{i}t{k}" for k in range(n_tok)]
        text = " ".join(base)
        rows.append((i, text, "en", f"src{i % 20}", len(text)))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


def gen_events(n: int, seed: int = 12) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    users = max(2, n // 66)
    t0 = np.datetime64("2024-01-01T00:00:00")
    ts = t0 + (rng.random(n) * 30 * 86400).astype("timedelta64[s]")
    ts.sort()
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": rng.choice(
                ["view", "click", "purchase", "signup", "error"], n
            ),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n)],
        }
    )


def gen_embeddings(n: int, seed: int = 13) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    v = rng.normal(0, 1, (n, 64))
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in v],
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def gen_lineitem(n: int, seed: int = 14) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n // 4, n).astype(np.int64),
            "l_partkey": rng.integers(0, n // 30, n).astype(np.int64),
        }
    )


GENS = {
    "documents": gen_documents,
    "events": gen_events,
    "embeddings": gen_embeddings,
    "lineitem": gen_lineitem,
}


def ensure_corpus(
    spark, workdir: str, tag: str, mult: int, dup_rate: float = 0.10, tables=None,
    vocab: str = "ns",
) -> str:
    sub = f"scale_{tag}" if dup_rate == 0.10 else f"scale_hd{int(dup_rate * 100)}_{tag}"
    if vocab != "ns":
        sub = f"scale_{vocab}_{tag}"
    d = os.path.join(workdir, sub)
    os.makedirs(d, exist_ok=True)
    for name, gen in GENS.items():
        if tables is not None and name not in tables:
            continue
        path = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(path):
            if name == "documents":
                pdf = gen(BASE[name] * mult, dup_rate=dup_rate, vocab=vocab)
            else:
                pdf = gen(BASE[name] * mult)
            if name == "embeddings":
                sdf = spark.createDataFrame(
                    pdf, "vec_id long, embedding array<float>, label int"
                )
            else:
                sdf = spark.createDataFrame(pdf)
            # single file: the driver tables are one parquet per table too
            sdf.coalesce(max(1, mult // 4)).write.mode("overwrite").parquet(path)
    return d


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfgen"
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark("sf1-curves")

    registry = load_registry()
    missing = [q for q in CURVE_QUERIES if q not in registry]
    if missing:
        raise KeyError(f"curve queries missing from the catalog registry: {missing}")
    names = CURVE_QUERIES
    # optional comma-separated substring filter (argv[3]): measure a
    # subset without paying for the whole battery
    if len(sys.argv) > 3:
        pats = sys.argv[3].split(",")
        names = [k for k in names if any(p in k for p in pats)]
    queries = {q: registry[q].fn for q in names}

    # optional duplication-rate override (argv[4], default 0.10): the
    # high-dup stress regime for the span family (coverage ≈ corpus)
    dup_rate = float(sys.argv[4]) if len(sys.argv) > 4 else 0.10

    # optional table subset (argv[5], comma list): the 1000x decade point
    # is generated documents-only for the documents-only queries (cc13) —
    # a full 1000x corpus (60M-row lineitem) buys nothing there
    tables = sys.argv[5].split(",") if len(sys.argv) > 5 else None

    # optional vocabulary mode (argv[6]): 'ns' (default) or 'zipf<s>' —
    # the mid-skew regime for the dd15/st19 positional-filter bound
    vocab = sys.argv[6] if len(sys.argv) > 6 else "ns"

    dirs = {}
    for tag, mult in SCALES.items():
        if mult <= cap:
            dirs[tag] = ensure_corpus(
                spark, workdir, tag, mult, dup_rate=dup_rate, tables=tables,
                vocab=vocab,
            )
            print(f"corpus {tag} ready at {dirs[tag]}", file=sys.stderr)

    # The decade exponents are the repo's load-bearing sublinearity claims,
    # so they get the same measured-clean treatment BENCH_r15 gave the
    # headline (r15 VERDICT finding 1): corpus GENERATION above loads the
    # box, so gate on the 1-min AND 5-min load averages before any timing
    # starts (require_idle blocks until drained or aborts), and wrap
    # every timed point in a /proc/stat contention window so each decade
    # row carries its own other_cores — a contaminated point is identified
    # from the JSON instead of confessed in prose.
    load_at_start = require_idle()
    out = {"scales": {t: {} for t in dirs}, "rows": {}, "windows": {}}
    for tag, d in dirs.items():
        for qname, fn in queries.items():
            counts = []
            # every timed point pays its own full plan (the bench.py discipline)
            (sec,), win = time_runs(
                lambda: counts.append(fn(spark, d).count()),
                1,
                before=lambda: reset_session_memos(spark),
            )
            n = counts[0]
            out["scales"][tag][qname] = sec
            out["rows"].setdefault(qname, {})[tag] = n
            out["windows"].setdefault(qname, {})[tag] = win
            print(
                f"{tag} {qname}: {sec}s ({n} rows, "
                f"other_cores {win['other_cores']})",
                file=sys.stderr,
            )

    # per-decade exponents between adjacent measured scales
    tags = [t for t in ("1x", "10x", "100x", "1000x") if t in dirs]
    exps = {}
    for qname in queries:
        e = {}
        for lo, hi in zip(tags, tags[1:]):
            r = out["scales"][hi][qname] / max(out["scales"][lo][qname], 1e-9)
            e[f"{lo}->{hi}"] = round(math.log10(r), 3)
        exps[qname] = e
    out["exponents_per_decade"] = exps
    out["load_avg_before"] = load_at_start
    out["load_avg_after"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
