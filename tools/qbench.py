"""Quick per-query timing for optimization iteration — NOT the committed
bench (bench.py stays the artifact of record). Times the named queries
with the noop sink, one untimed warm pass then min-of-N, same session
discipline as bench.py (memo reset between runs) but no load gate, no
calibration — it exists so a candidate change's effect is visible in
seconds, to be confirmed by a full bench.py run afterwards.

Usage: python tools/qbench.py [-n RUNS] query [query ...]
"""

from __future__ import annotations

import itertools
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import query_runs, reset_session_memos, time_runs


def main() -> None:
    spark, runs, queries = query_runs("qbench")
    out: dict[str, object] = {}
    for name, run in queries.items():
        labels = itertools.chain(["warm"], itertools.count())

        def before() -> None:
            reset_session_memos(spark)
            spark.sparkContext.setJobDescription(f"qbench:{name}:{next(labels)}")

        before()
        run()
        raw, win = time_runs(run, runs, before=before)
        out[name] = {
            "min": min(raw),
            "runs": raw,
            "other_steal": [win["other_cores"], win["steal_cores"]],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
