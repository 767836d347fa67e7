"""Time bench entries in one warm session, with each run's Spark job shape.

Usage: python tools/probe.py [-n N] [--cold] [--conf k=v]...
                             [--ab spread|plan_persist] [KEY...]

The session, warm-up, full-compute pass and timing helper are
bench.py's, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
Keys default to bench.HEADLINE; the two 128³ block entries of the bench
(stitch_block_path_128cube, stitch_user_fn_128cube) are keys too. Every
key first runs one untimed pass per arm (code generation, first
broadcasts), so no timed run is a key's first; that pass's jobs are
not counted. Each key prints one JSON line: its run times, min and
median, and the jobs/stages/tasks of its last run.

  -n N       runs per key (per arm with --ab); default 3
  --cold     drop the session memo (engine.io.memo_drop) before each
             timed run, untimed, so every timed run pays the memo fill;
             the cached fact tables stay cached
  --conf k=v set RUNTIME_CONFS[k] before the session starts; an empty
             value removes the conf, so Spark's default applies
  --ab NAME  alternate the identity and the real engine.io helper NAME,
             run by run. The helper is patched in engine.io and in
             every engine module that imported it.

Examples:
  python tools/probe.py -n 5 --cold q_pack_schedule_bpe
  python tools/probe.py -n 4 --ab plan_persist q_decile_lift
  python tools/probe.py --conf spark.sql.shuffle.partitions=4 stitch_user_fn_128cube
  SPARK_GRAFT_SF_DIR=/tmp/engine_scale_x10 python tools/probe.py q_corpus_curate
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import engine.io as io  # noqa: E402
from bench import (BLOCK_ENTRIES, DEFAULT_SF, HEADLINE, time_runs,  # noqa: E402
                   timed_pass, warm_up)
from engine.registry import QUERIES, load_all  # noqa: E402
from engine.session import RUNTIME_CONFS, get_spark  # noqa: E402

# the identity arm of --ab, one per engine.io helper
IDENTITY = {
    "spread": lambda df: df,
    "plan_persist": lambda spark, key, df: df,
}


def job_shape(sc, group: str) -> dict:
    """Jobs, stages and tasks that ran under the job group ``group``."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker lags the bus
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        job = tracker.getJobInfo(jid)
        for sid in job.stageIds if job is not None else ():
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numTasks > 0:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def patcher(name: str, fn):
    """A callable that binds engine.io.<name>, and every engine module's
    imported copy of it, to ``fn``."""
    real = getattr(io, name)
    mods = [m for n, m in list(sys.modules.items())
            if n.split(".")[0] == "engine" and getattr(m, name, None) is real]

    def patch() -> None:
        for m in mods:
            setattr(m, name, fn)

    return patch


def probe(spark, key: str, run, n: int, cold: bool, arms: dict) -> dict:
    """Time ``run`` n times per arm, arms alternating run by run, after
    one untimed pass per arm under its own job group, and summarize
    each arm."""
    sc = spark.sparkContext
    runs = {arm: [] for arm in arms}
    group = {}
    for arm, set_arm in arms.items():
        set_arm()
        sc.setJobGroup(f"probe:{key}:{arm}:untimed", key)
        run()
    for i in range(n):
        for arm, set_arm in arms.items():
            set_arm()
            if cold:
                io.memo_drop(spark)
            group[arm] = f"probe:{key}:{arm}:{i}"
            sc.setJobGroup(group[arm], key)
            runs[arm] += time_runs(run, 1)
    return {arm: {"runs": [round(t, 3) for t in r],
                  "min": round(min(r), 3),
                  "median": round(statistics.median(r), 3),
                  **job_shape(sc, group[arm])}
            for arm, r in runs.items()}


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("--ab", choices=sorted(IDENTITY))
    ap.add_argument("keys", nargs="*", metavar="KEY")
    args = ap.parse_args()
    if args.n < 1:
        ap.error("-n must be at least 1")

    for item in args.conf:
        k, _, v = item.partition("=")
        if v:
            RUNTIME_CONFS[k] = v
        else:
            RUNTIME_CONFS.pop(k, None)
    spark = get_spark("probe")
    load_all()
    keys = args.keys or HEADLINE
    unknown = [k for k in keys if k not in QUERIES and k not in BLOCK_ENTRIES]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF)
    warm_up(spark, sf_dir)
    if args.ab:
        arms = {"identity": patcher(args.ab, IDENTITY[args.ab]),
                args.ab: patcher(args.ab, getattr(io, args.ab))}
    else:
        arms = {"run": lambda: None}
    for key in keys:
        out = probe(spark, key, timed_pass(spark, sf_dir, key), args.n,
                    args.cold, arms)
        print(json.dumps({key: out if args.ab else out["run"]}), flush=True)


if __name__ == "__main__":
    main()
