"""Interleaved A/B of session.spread_scan (ON vs OFF) per query — host
steal hits both arms equally in expectation, so the per-query min
contrast is meaningful even on a bursty box. The OFF arm swaps
``session.spread_scan`` for an identity in-process for the length of its
run (``load_table`` looks the name up at call time). Prints per-query
{on: min, off: min, window: other+steal cores}.

Usage: python tools/ab_spread.py [-n REPS_PER_ARM] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_etl_pipeline_spark import session
from tools.measure import interleaved_ab, query_runs, reset_session_memos


def main() -> None:
    spark, reps, queries = query_runs("ab_spread")
    out = {}
    for name, run in queries.items():

        def off() -> None:
            # every scan left as parquet splits it
            with mock.patch.object(session, "spread_scan", lambda spark, df, path, key: df):
                run()

        raw, win = interleaved_ab(
            {"on": run, "off": off},
            reps,
            before=lambda: reset_session_memos(spark),
        )
        out[name] = {
            "on": min(raw["on"]),
            "off": min(raw["off"]),
            "on_runs": raw["on"],
            "off_runs": raw["off"],
            "other": win["other_cores"],
            "steal": win["steal_cores"],
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
