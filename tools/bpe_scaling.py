"""Measured BPE training cost vs merge count (SCALE.md evidence).

``train_bpe`` issues one argmax collect + one checkpointed apply pass
PER MERGE — a correctness-first loop whose cost is sequential Spark jobs,
fine at N=16, linear-in-N at realistic vocabulary sizes.
``train_bpe_batched`` amortizes: one bounded top-K collect + ONE apply
pass per ROUND of up to ``round_size`` conflict-free merges, so N merges
cost ~N/round_size jobs.

This script measures both trainers at increasing N on the driver's
documents table and reports wall seconds, sec/merge, and the batched
speedup — the cost model behind the "32k merges is feasible" claim.
It also cross-checks quality: the two tokenizers' per-doc BPE token
totals (corpus-wide) should track closely even where merge ORDER
diverges.

Usage:
    python tools/bpe_scaling.py [sf_dir] [max_n]   # default sf0.01, 256
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata import bpe
from pdf_etl_pipeline_spark.session import get_spark, load_table


def corpus_bpe_total(docs, rel) -> int:
    enc = bpe.subword_counts(rel)
    from pdf_etl_pipeline_spark.llmdata.dedup import tokens_col

    dt = docs.select(F.explode(tokens_col("text", distinct=False)).alias("word"))
    row = dt.join(F.broadcast(enc), "word").agg(F.sum("n_sub")).first()
    return int(row[0] or 0)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    max_n = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    load_at_start = os.getloadavg()[0]
    spark = get_spark("bpe-scaling")
    docs = load_table(spark, sf_dir, "documents")
    docs.count()  # warm scan

    out = {"sf_dir": sf_dir, "points": []}
    n = 16
    while n <= max_n:
        t0 = time.time()
        m_strict, rel_strict = bpe.train_bpe(docs, n)
        strict_s = time.time() - t0
        t0 = time.time()
        m_batch, rel_batch = bpe.train_bpe_batched(docs, n, round_size=64)
        batch_s = time.time() - t0
        point = {
            "n_merges": n,
            "strict_sec": round(strict_s, 2),
            "strict_sec_per_merge": round(strict_s / max(1, len(m_strict)), 3),
            "strict_merges_learned": len(m_strict),
            "batched_sec": round(batch_s, 2),
            "batched_rounds": -(-len(m_batch) // 64),
            "batched_merges_learned": len(m_batch),
            "speedup": round(strict_s / batch_s, 2) if batch_s else None,
            "bpe_total_strict": corpus_bpe_total(docs, rel_strict),
            "bpe_total_batched": corpus_bpe_total(docs, rel_batch),
        }
        out["points"].append(point)
        print(json.dumps(point), file=sys.stderr)
        n *= 4
    out["load_avg_before"] = load_at_start
    print(json.dumps(out))


if __name__ == "__main__":
    main()
