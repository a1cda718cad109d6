"""Per-round cost curve of batched BPE training on a rich-vocabulary
corpus (SCALE.md evidence — replaces the 2-executed-rounds extrapolation).

The driver's documents tables have a 31-word vocabulary that exhausts
after ~89 merges, so tk5's 500-round cost model had only ever executed 2
real rounds. This script synthesizes a corpus whose vocabulary SUPPORTS
hundreds of productive merges — 20k distinct words, 6–14 lowercase chars,
Zipf-ish document frequencies (the char-trigram-diversity regime real
text lives in) — and runs the EXACT per-round loop of
``train_bpe_batched`` (same ``pair_counts`` / ``select_conflict_free`` /
``apply_merges_batch`` primitives, same margin/checkpoint discipline)
with a timer around each round's two phases:

- collect: the bounded top-(margin*K) pair-count LIMIT collect
- apply:   the K-branch CASE over the 4-window chain + localCheckpoint

Reported per round: merges taken, phase seconds, symbol-relation rows
(the relation SHRINKS as merges fuse symbols — the drift the cost model
needs), and distinct live symbols. Early rounds take far fewer than
round_size merges: over a 26-letter alphabet at most 13 disjoint pairs
exist, and conflict-freedom is what makes the batch order-independent —
the ramp itself is part of the measured model.

Usage:
    python tools/bpe_rounds.py [n_merges] [round_size] [vocab_words]
    # defaults: 512 64 20000
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pdf_etl_pipeline_spark.llmdata import bpe
from pdf_etl_pipeline_spark.session import get_spark


def gen_rich_docs(spark, vocab_words: int, seed: int = 7):
    """Documents over a large synthetic word vocabulary. Word lengths
    6–14, lowercase; document word choice is Zipf-ish (rank-inverse) so
    pair counts are well-separated like real text. Deterministic."""
    import numpy as np

    rng = np.random.default_rng(seed)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = []
    seen = set()
    while len(words) < vocab_words:
        ln = int(rng.integers(6, 15))
        w = "".join(rng.choice(alphabet, ln))
        if w not in seen:
            seen.add(w)
            words.append(w)
    # rank-inverse weights: word i drawn with weight 1/(i+1)
    ranks = np.arange(1, vocab_words + 1, dtype=np.float64)
    weights = 1.0 / ranks
    weights /= weights.sum()
    n_docs = max(200, vocab_words // 10)
    rows = []
    for d in range(n_docs):
        ws = rng.choice(vocab_words, size=60, p=weights)
        rows.append((d, " ".join(words[int(i)] for i in ws)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def main() -> None:
    n_merges = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    round_size = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    vocab_words = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000
    margin = 4
    load_at_start = os.getloadavg()[0]
    spark = get_spark("bpe-rounds")

    docs = gen_rich_docs(spark, vocab_words)
    rel = bpe.symbols_rel(bpe.word_vocab(docs)).localCheckpoint()
    base_rows = rel.count()

    merges: list = []
    rounds = []
    while len(merges) < n_merges:
        want = min(round_size, n_merges - len(merges))
        t0 = time.time()
        top = (
            bpe.pair_counts(rel)
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(max(margin * want, want))
            .collect()
        )
        t_collect = time.time() - t0
        batch = bpe.select_conflict_free(top, want)
        if not batch:
            break
        merges.extend(batch)
        t0 = time.time()
        rel = bpe.apply_merges_batch(rel, [(a, b) for a, b, _ in batch]).localCheckpoint()
        t_apply = time.time() - t0
        rows = rel.count()
        point = {
            "round": len(rounds) + 1,
            "merges_taken": len(batch),
            "merges_total": len(merges),
            "collect_sec": round(t_collect, 2),
            "apply_sec": round(t_apply, 2),
            "round_sec": round(t_collect + t_apply, 2),
            "rel_rows": rows,
            "rel_shrink_pct": round(100.0 * (1 - rows / base_rows), 1),
        }
        rounds.append(point)
        print(json.dumps(point), file=sys.stderr)

    total = round(sum(r["round_sec"] for r in rounds), 2)
    print(
        json.dumps(
            {
                "vocab_words": vocab_words,
                "n_merges_requested": n_merges,
                "merges_learned": len(merges),
                "round_size": round_size,
                "rounds_executed": len(rounds),
                "total_sec": total,
                "sec_per_merge": round(total / max(1, len(merges)), 4),
                "rounds": rounds,
                "load_avg_before": load_at_start,
            }
        )
    )


if __name__ == "__main__":
    main()
