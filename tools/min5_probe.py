"""Idle min-of-N per-key adjudication probe (round-15 verdict item 1).

Times each named key N times (default 5) in one warm session at
$SPARK_GRAFT_SF_DIR using the bench's full-compute noop-sink action,
and prints per-key all-runs + min + median JSON. Run on an idle
machine; the min is the adjudication number BASELINE.md quotes.

Usage: python tools/min5_probe.py q_pack_schedule_bpe q_mix_schedule_bpe ...
       [-n 5] [--fresh-session-per-run]

--fresh-session-per-run clears the session memo (engine.io.memo_drop)
between runs — it measures the COLD lineage cost each run instead of
the warm memoized read (the distinction the round-14 verdict asks to
separate). The cached fact tables stay cached.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    n = 5
    if "-n" in sys.argv:
        n = int(sys.argv[sys.argv.index("-n") + 1])
        args = [a for a in args if a != str(n)]
    cold = "--fresh-session-per-run" in sys.argv

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import run_full
    from engine.io import load_tables, memo_drop
    from engine.registry import QUERIES, load_all
    from engine.session import get_spark

    spark = get_spark("min5_probe")
    load_all()
    unknown = [k for k in args if k not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")

    t = load_tables(spark, sf_dir)
    for name in ("lineitem", "orders", "events", "documents",
                 "embeddings"):
        t[name].cache().count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long").count()

    out = {}
    for key in args:
        fn = QUERIES[key]
        runs = []
        for _ in range(n):
            if cold:
                memo_drop(spark)
            t0 = time.time()
            run_full(fn(spark, sf_dir))
            runs.append(round(time.time() - t0, 3))
        out[key] = {"runs": runs, "min": min(runs),
                    "median": round(statistics.median(runs), 3),
                    "mode": "cold" if cold else "warm"}
        print(json.dumps({key: out[key]}), flush=True)
    print(json.dumps({"sf": sf_dir, "n": n, "keys": out},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
