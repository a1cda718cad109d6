"""PPJoin positional/length filter win, measured (SCALE.md evidence).

r14 VERDICT finding 2: dd15/st19's candidate join pruned only by the
prefix pigeonhole — on a skewed vocabulary a common token landing in
many small-doc prefixes joins every posting it has, and the exact
verify pays |cands|·|tokens| work the positional bound would shed
first. r15 added the filters; this script BOUNDS the win on the regime
they exist for: a Zipf(s) vocabulary (sf1_curves' ``zipf`` documents
generator — Heaps-law vocabulary, common tokens in most docs, 10%
planted near-copies so true pairs exist).

Per (scale, s): candidate pairs with filters OFF vs ON, verified-result
row counts (must be EQUAL — the filters are exactness-preserving), and
wall time of the full dd15 operator both ways.

Usage:
    python tools/ppjoin_filter_study.py [workdir] [cap] [s ...]
    # defaults: /tmp/sfgen 10 1.0
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark.session import get_spark


def main() -> None:
    workdir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfgen"
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    ss = [float(a) for a in sys.argv[3:]] or [1.0]
    spark = get_spark("ppjoin-filter-study")

    from pdf_etl_pipeline_spark.llmdata.dedup import (
        containment,
        hashed_tokens,
        pair_sets,
        ppjoin_candidates,
        ppjoin_containment_pairs,
        verified,
    )
    from tools.sf1_curves import SCALES, ensure_corpus

    out: dict = {"points": []}
    for s in ss:
        vocab = f"zipf{s}"
        for tag, mult in SCALES.items():
            if mult > cap:
                continue
            d = ensure_corpus(
                spark, workdir, tag, mult, tables=["documents"], vocab=vocab
            )
            docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
            hashed = hashed_tokens(docs).dropDuplicates(["doc_id", "h"]).persist()
            hashed.count()
            point: dict = {"s": s, "scale": tag, "n_docs": docs.count()}
            point["cands_raw"] = ppjoin_candidates(
                hashed, positional_filter=False, length_filter=False
            ).count()
            point["cands_filtered"] = ppjoin_candidates(hashed).count()
            point["cand_ratio"] = round(
                point["cands_filtered"] / max(point["cands_raw"], 1), 4
            )
            # the cost the filters shed is the VERIFY tail (collect_set
            # joins + array_intersect per candidate): time it over both
            # candidate relations; verified counts must be EQUAL
            # (exactness-preserving filters)
            from pyspark.sql import functions as F

            toks = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("ts"))

            def _verify(cands):
                df = verified(
                    pair_sets(cands, toks, "ts"), ["doc_a", "doc_b"], 0.9,
                    containment=containment("ta", "tb"),
                )
                t0 = time.time()
                n = df.count()
                return round(time.time() - t0, 2), n

            vt_raw, n_raw_pairs = _verify(
                ppjoin_candidates(hashed, positional_filter=False,
                                  length_filter=False))
            vt_fil, n_fil_pairs = _verify(ppjoin_candidates(hashed))
            assert n_raw_pairs == n_fil_pairs, (n_raw_pairs, n_fil_pairs)
            point["verify_s_filters_off"] = vt_raw
            point["verify_s_filters_on"] = vt_fil
            point["pairs"] = n_fil_pairs
            hashed.unpersist()
            t0 = time.time()
            point["operator_rows"] = ppjoin_containment_pairs(docs).count()
            point["operator_s"] = round(time.time() - t0, 2)
            out["points"].append(point)
            print(json.dumps(point), file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
