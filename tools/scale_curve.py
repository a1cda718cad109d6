"""Measured scale curves for the candidate-generating ops — the evidence
behind SCALE.md's "candidates grow with true near-dup pairs, not with n²"
claim: dd3 (MinHash-LSH), dd5 (sign-LSH), j5 (deletion-variant fuzzy
linkage), and ss6 (PQ + ADC: index sizes and recall-vs-brute).

For each corpus it records: corpus size, LSH candidate-pair count, verified
near-dup pair count, brute-force comparison count n(n-1)/2, and end-to-end
wall time of the verified-pair query. Corpora:

- dd3: the driver's documents table at sf0.01 and sf0.1, a ~3× sf0.1 corpus
  generated with the driver's shape (same 31-word vocabulary and length
  distribution — deliberately DUP-SATURATED: with a 31-word vocab, most doc
  pairs share most distinct tokens, so TRUE pairs grow ~quadratically and
  candidates must track them), and a dup-CONTROLLED series (per-doc token
  namespaces + a fixed 10% planted near-copy rate — true pairs grow
  linearly, the regime real web corpora live in at 100 TB).
- dd5: the embeddings table (with the dd5 twin augmentation — n planted
  twin pairs) at sf0.01/sf0.1 and a generated 3× corpus of the same shape.

Candidate counts reuse the library's own building blocks
(minhash_signatures_agg, sign_key/BAND_PLANE_SETS, and dedup's band_rows /
band_pairs) so the measured joins are the measured code paths. Usage:

    python tools/scale_curve.py [--quick]   # quick = skip the 3x corpora
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pyspark.sql import DataFrame, functions as F

from pdf_etl_pipeline_spark.llmdata import dedup as DD
from pdf_etl_pipeline_spark.llmdata import similarity as SIM
from pdf_etl_pipeline_spark.session import get_spark, load_table
from tools.sf1_curves import gen_documents


# ---------------------------------------------------------------------------
# Corpus generators (deterministic, seeded)
# ---------------------------------------------------------------------------
def driver_shaped_docs(spark, n_docs: int, seed: int = 7) -> DataFrame:
    """Documents with the driver generator's shape: 31-word vocabulary,
    ~30-110 tokens/doc (empirical range of the sf tables)."""
    vocab = (
        "key agg row scan slow fast table value part hash merge batch line sort "
        "window spark order data column join small customer query big the a stream "
        "group filter sessions grid"
    ).split()
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_docs):
        n_tok = int(rng.integers(28, 112))
        toks = rng.choice(vocab, size=n_tok)
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def dup_controlled_docs(spark, n_docs: int) -> DataFrame:
    """Documents whose TRUE near-dup pair count grows linearly: each doc
    draws from its own token namespace (no accidental overlap), and a fixed
    fraction are near-copies of an earlier doc (2 of ~40 tokens replaced →
    Jaccard ≈ 0.9). This is the regime web-scale corpora live in: dups are
    a per-document rate, not an all-pairs phenomenon. The rows are
    ``sf1_curves.gen_documents``' (seed 11, 10% near-copies, ``ns``
    vocabulary), so both tools measure one corpus."""
    return spark.createDataFrame(
        gen_documents(n_docs)[["doc_id", "text"]], "doc_id long, text string"
    )


def shaped_embeddings(spark, n_vecs: int, seed: int = 13) -> DataFrame:
    """Embeddings with the driver table's shape: 64-dim float vectors in
    16 label clusters (cluster center + noise, like the sf tables)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 1.0, size=(16, 64))
    rows = []
    for i in range(n_vecs):
        c = int(rng.integers(0, 16))
        v = centers[c] + rng.normal(0, 0.6, size=64)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def twin_augment(emb: DataFrame) -> DataFrame:
    """The dd5 gate's deterministic twin augmentation (+0.05 on component 0,
    id offset +1e6) — every input vector gains one planted near-dup."""
    e = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    twin = e.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: F.when(i == F.lit(0), x + F.lit(0.05)).otherwise(x)
        ).alias("embedding"),
    )
    return e.unionAll(twin)


# ---------------------------------------------------------------------------
# Candidate counters (library building blocks — the measured code paths)
# ---------------------------------------------------------------------------
def dd3_candidates(docs: DataFrame) -> int:
    sigs = DD.minhash_signatures_agg(docs).persist()
    n = DD.band_pairs(DD.bands_from_signatures(sigs), "doc_id", "doc_a", "doc_b").count()
    sigs.unpersist()
    return n


def dd5_candidates(emb: DataFrame) -> int:
    e = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    bands = DD.band_rows(
        e, "vec_id", [SIM.sign_key(F.col("v"), ps) for ps in SIM.BAND_PLANE_SETS]
    ).persist()
    n = DD.band_pairs(bands, "vec_id", "id_a", "id_b").count()
    bands.unpersist()
    return n


def measure_dd3(label: str, docs: DataFrame) -> dict:
    docs = docs.persist()
    n = docs.count()
    cands = dd3_candidates(docs)
    t0 = time.time()
    verified = DD.minhash_lsh_pairs(docs, 0.9).count()
    wall = round(time.time() - t0, 2)
    docs.unpersist()
    return {
        "corpus": label,
        "n_docs": n,
        "brute_pairs": n * (n - 1) // 2,
        "lsh_candidates": cands,
        "verified_pairs": verified,
        "wall_sec": wall,
    }


def measure_dd5(label: str, emb: DataFrame) -> dict:
    aug = twin_augment(emb).persist()
    n = aug.count()
    cands = dd5_candidates(aug)
    t0 = time.time()
    verified = SIM.embedding_dup_pairs_lsh(aug, 0.9).count()
    wall = round(time.time() - t0, 2)
    aug.unpersist()
    return {
        "corpus": label,
        "n_vecs": n,
        "brute_pairs": n * (n - 1) // 2,
        "lsh_candidates": cands,
        "verified_pairs": verified,
        "wall_sec": wall,
    }


# ---------------------------------------------------------------------------
# j5 (fuzzy ED-1 linkage) and ss6 (PQ + ADC) curves
# ---------------------------------------------------------------------------
def typo_named_records(spark, n: int, typo_rate: float = 0.10, seed: int = 17) -> DataFrame:
    """Name corpus whose TRUE ED-1 pair count grows linearly: distinct
    ~14-char names, with a fixed fraction being a one-character edit
    (substitution) of an earlier name — dups as a per-record rate, the
    regime supplier/title linkage lives in."""
    rng = np.random.default_rng(seed)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    rows = []
    names = []
    for i in range(n):
        if i > 0 and rng.random() < typo_rate:
            src = names[int(rng.integers(0, i))]
            pos = int(rng.integers(0, len(src)))
            ch = alpha[int(rng.integers(0, 26))]
            nm = src[:pos] + ch + src[pos + 1 :]
        else:
            nm = "sup " + "".join(alpha[int(x)] for x in rng.integers(0, 26, size=10))
        names.append(nm)
        rows.append((i, nm))
    return spark.createDataFrame(rows, "rec_id long, name string")


def measure_j5(label: str, recs: DataFrame) -> dict:
    from pdf_etl_pipeline_spark.operators.fuzzy import deletion_variants, fuzzy_pairs

    recs = recs.persist()
    n = recs.count()
    variants = recs.select(
        F.explode(deletion_variants("name", depth=1)).alias("variant")
    ).count()
    v = recs.select(
        F.col("rec_id").alias("k"),
        F.explode(deletion_variants("name", depth=1)).alias("variant"),
    )
    a, b = v.alias("a"), v.alias("b")
    cands = (
        a.join(b, (F.col("a.variant") == F.col("b.variant")) & (F.col("a.k") < F.col("b.k")))
        .select("a.k", "b.k")
        .dropDuplicates()
        .count()
    )
    t0 = time.time()
    verified = fuzzy_pairs(recs, "rec_id", "name", max_dist=1).count()
    wall = round(time.time() - t0, 2)
    recs.unpersist()
    return {
        "corpus": label,
        "n_records": n,
        "brute_pairs": n * (n - 1) // 2,
        "variant_rows": variants,
        "join_candidates": cands,
        "verified_pairs": verified,
        "wall_sec": wall,
    }


def measure_ss6(label: str, emb: DataFrame, k: int = 10) -> dict:
    """PQ index sizes plus ADC recall@k against the brute cosine top-k —
    the accuracy/size trade the compressed path buys at scale."""
    emb = emb.persist()
    n = emb.count()
    qids = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(8).collect()]
    cb = SIM.pq_codebooks(emb).persist()
    code_rows = SIM.pq_encode(emb, cb).count()
    fixed_depth = 5 * k
    prop_depth = max(fixed_depth, n // 20)  # 5% of corpus — scales with n
    t0 = time.time()
    adc = SIM.pq_adc_topk(emb, qids, k=prop_depth, codebooks=cb).collect()
    wall = round(time.time() - t0, 2)
    brute = SIM.cosine_topk(emb, qids, k=k).collect()
    truth: dict[int, set] = {}
    for r in brute:
        truth.setdefault(r.query_id, set()).add(r.cand_id)
    by_depth: dict[int, dict[int, set]] = {k: {}, fixed_depth: {}, prop_depth: {}}
    for r in adc:
        for depth, got in by_depth.items():
            if r.rank <= depth:
                got.setdefault(r.query_id, set()).add(r.cand_id)
    denom = len(truth) * k

    def recall(depth: int) -> float:
        got = by_depth[depth]
        return round(sum(len(truth[q] & got.get(q, set())) for q in truth) / denom, 3)

    cb.unpersist()
    emb.unpersist()
    # shortlist recalls = what an exact-rerank stage (ss7: fetch shortlist
    # vectors, rescore) recovers at full precision from each depth — the
    # fixed depth shows the coarse 8-cell quantizer decaying with n, the
    # 5%-of-n depth shows the rerank knob restoring recall
    return {
        "corpus": label,
        "n_vecs": n,
        "code_rows": code_rows,
        "codebook_rows": SIM.PQ_M * SIM.PQ_K,
        "adc_table_rows": len(qids) * SIM.PQ_M * SIM.PQ_K,
        "recall_at_k": recall(k),
        "fixed_shortlist_recall": recall(fixed_depth),
        "fixed_depth": fixed_depth,
        "prop_shortlist_recall": recall(prop_depth),
        "prop_depth": prop_depth,
        "k": k,
        "adc_wall_sec": wall,
    }


def hub_graph(spark, n_rim: int, hub_spokes: int, seed: int = 23) -> DataFrame:
    """Skewed co-occurrence-shaped graph: one hub wired to ``hub_spokes``
    nodes plus a sparse pseudo-random rim (each node links to 3 hashed
    neighbors) — the degree distribution that breaks naive wedge joins."""
    from pdf_etl_pipeline_spark.functions.scalars import portable_hash32

    nodes = spark.range(1, n_rim + 1).select(F.col("id").alias("u"))
    spokes = spark.range(1, hub_spokes + 1).select(
        F.lit(0).alias("u"), F.col("id").alias("v")
    )
    rim = nodes.select(
        "u",
        F.explode(
            F.array(
                *[
                    portable_hash32(
                        F.concat(F.lit(f"g2_{seed}_{i}_"), F.col("u").cast("string"))
                    )
                    % n_rim
                    + 1
                    for i in range(3)
                ]
            )
        ).alias("v"),
    )
    return spokes.unionAll(rim)


def measure_g2(label: str, edges: DataFrame) -> dict:
    """Wedge volume with vs without degree orientation — the quantity the
    E^1.5 bound caps. 'naive' is what a join on the shared endpoint of the
    UNDIRECTED edge list generates (sum over nodes of deg·(deg−1)/2)."""
    from pdf_etl_pipeline_spark.operators.triangles import (
        canonical_edges,
        degrees,
        orient,
        triangle_count,
    )

    canon = canonical_edges(edges).persist()
    deg = degrees(canon)
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("deg").alias("max_deg"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).alias("naive_wedges"),
    ).collect()[0]
    oriented = orient(canon, deg)
    o_wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .count()
    )
    t0 = time.time()
    tri = triangle_count(canon).collect()[0]
    wall = round(time.time() - t0, 2)
    n_edges = canon.count()
    canon.unpersist()
    return {
        "graph": label,
        "n_nodes": stats.n_nodes,
        "n_edges": n_edges,
        "max_deg": stats.max_deg,
        "naive_wedges": int(stats.naive_wedges),
        "oriented_wedges": o_wedges,
        "e_pow_1_5": int(n_edges**1.5),
        "n_triangles": tri.n_triangles,
        "wall_sec": wall,
    }


def measure_dc2(label: str, docs: DataFrame) -> dict:
    """Bipartite decontamination volumes: benchmark size, banding
    candidates (the quantity that must stay linear in corpus size for a
    fixed benchmark), and verified contamination pairs."""
    from pdf_etl_pipeline_spark.llmdata.corpus import (
        BENCH_MOD,
        _near_decontaminate_plan,
        near_decontaminate,
    )

    docs = docs.persist()
    n = docs.count()
    n_bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0).count()
    _, hashed, cands = _near_decontaminate_plan(docs, 0.9)
    hashed.persist()
    cands = cands.count()
    t0 = time.time()
    verified = near_decontaminate(docs).count()
    wall = round(time.time() - t0, 2)
    hashed.unpersist()
    docs.unpersist()
    return {
        "corpus": label,
        "n_docs": n,
        "n_bench": n_bench,
        "brute_pairs": (n - n_bench) * n_bench,
        "band_candidates": cands,
        "verified_pairs": verified,
        "wall_sec": wall,
    }


def main() -> None:
    quick = "--quick" in sys.argv
    spark = get_spark("scale_curve")
    out: dict[str, list[dict]] = {
        "dd3": [],
        "dd3_controlled": [],
        "dd5": [],
        "j5": [],
        "ss6": [],
        "g2": [],
    }

    for sf in ("sf0.01", "sf0.1"):
        docs = load_table(spark, f"/root/testdata/{sf}", "documents")
        out["dd3"].append(measure_dd3(f"driver {sf}", docs))
        print(json.dumps(out["dd3"][-1]), flush=True)
    if not quick:
        out["dd3"].append(measure_dd3("shaped 3x (15k docs)", driver_shaped_docs(spark, 15_000)))
        print(json.dumps(out["dd3"][-1]), flush=True)

    for n in (1_000, 5_000, 15_000) if not quick else (1_000, 5_000):
        out["dd3_controlled"].append(
            measure_dd3(f"controlled {n // 1000}k", dup_controlled_docs(spark, n))
        )
        print(json.dumps(out["dd3_controlled"][-1]), flush=True)

    for sf in ("sf0.01", "sf0.1"):
        emb = load_table(spark, f"/root/testdata/{sf}", "embeddings")
        out["dd5"].append(measure_dd5(f"driver {sf}", emb))
        print(json.dumps(out["dd5"][-1]), flush=True)
    if not quick:
        out["dd5"].append(measure_dd5("shaped 3x (6k vecs)", shaped_embeddings(spark, 6_000)))
        print(json.dumps(out["dd5"][-1]), flush=True)

    for n in (2_000, 8_000, 32_000) if not quick else (2_000, 8_000):
        out["j5"].append(measure_j5(f"typo-named {n // 1000}k", typo_named_records(spark, n)))
        print(json.dumps(out["j5"][-1]), flush=True)

    for n in (1_000, 4_000, 12_000) if not quick else (1_000, 4_000):
        out["ss6"].append(measure_ss6(f"shaped {n // 1000}k", shaped_embeddings(spark, n)))
        print(json.dumps(out["ss6"][-1]), flush=True)

    for sf in ("sf0.001", "sf0.01"):
        li = load_table(spark, f"/root/testdata/{sf}", "lineitem")
        co = (
            li.alias("a")
            .join(
                li.alias("b"),
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        )
        out["g2"].append(measure_g2(f"co-order {sf}", co))
        print(json.dumps(out["g2"][-1]), flush=True)
    for n_rim, spokes in ((5_000, 5_000), (20_000, 20_000)) if not quick else ((5_000, 5_000),):
        out["g2"].append(
            measure_g2(f"hub {spokes // 1000}k-spoke", hub_graph(spark, n_rim, spokes))
        )
        print(json.dumps(out["g2"][-1]), flush=True)

    out["dc2"] = []
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        docs = load_table(spark, f"/root/testdata/{sf}", "documents")
        out["dc2"].append(measure_dc2(f"driver {sf}", docs))
        print(json.dumps(out["dc2"][-1]), flush=True)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
