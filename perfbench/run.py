"""Engine benchmark: end-to-end and per-layer metrics for one workload.

    python3 perfbench/run.py --workload queries_sf0.01 --seed 1 --seconds 10 --trace 0

One run is one fresh process with one client issuing operations one
after another (a closed loop) on ``local[nproc]``:

1. set-up from process start: ``get_spark``, ``load_all``, the
   workload's own set-up (tables + fact-table cache fill for the query
   workload) and a Python-worker warm-up;
2. seeded inputs that live in the session (the stitch tiles);
3. one cold pass over every operation;
4. a check pass, not timed, that builds every operation again and
   verifies its output against an independent reference. It also
   runs the code the cold pass reached a second time, so that less
   JIT compilation is left for the warm passes;
5. warm passes until ``--seconds`` have passed since the first of them
   began (at least two); ``warm_pass_s`` is the median pass and the
   per-layer figures are taken per pass over all of them. A pass of the
   query workload is a couple of seconds of tiny jobs, so a window of
   many passes keeps a burst of load on a shared host, and the JIT still
   settling in the first passes, out of the median;
6. two more set-ups, each after stopping the session, so that
   ``setup_s`` is a median of three. The first set-up runs from process
   start and launches the JVM (it is also ``start_to_ready_s``); the
   other two build a new session in the running JVM.

``peak_rss_mb`` is the peak resident memory of the whole process tree
(driver Python, JVM, Python workers), sampled from ``/proc`` through
all six steps by a separate process, so that sampling does not slow
the driver.

The seed permutes operation order in every pass and sets the stitch
field and affine perturbations. The last line of stdout is the JSON
result; lines before it repeat every metric by name with its unit.
With ``--trace 1`` Spark's event log is switched on from outside the
program (``PYSPARK_SUBMIT_ARGS``), each operation phase runs in its own
job group, and the log is parsed afterwards into the per-layer metrics.
Artifacts (spans, per-key census, host record) are written under
``.perfbench/results/``.
"""
from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


# ------------------------------------------------------------ environment

def prepare_env(trace: bool, log_dir: str) -> None:
    """Point every temporary location into the checkout and size the
    session to the host. Must run before the JVM starts."""
    import host

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, log_dir):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.nproc()))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host.driver_mem()
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def ensure_tables(sf: float) -> str:
    """Generate the tables for ``sf`` once per checkout."""
    import datagen

    out = os.path.join(WORK, "data", f"sf{sf:g}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        part = f"{out}.part{os.getpid()}"
        datagen.write(part, sf)
        os.replace(part, out)
    return out


# ------------------------------------------------------------------ spans

class Spans:
    """Benchmark-side spans (name, start, end, parent) around each call
    into a layer, kept in memory and written out at exit."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.items: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def __call__(self, name: str, start: float | None = None):
        rec = {"id": len(self.items), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": (time.time() if start is None else start) - self.t0}
        self.items.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time() - self.t0
            rec["s"] = rec["end"] - rec["start"]
            self._open.pop()


# ----------------------------------------------------------------- phases

def job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def setup(wl, spans: Spans, name: str, start: float | None = None):
    """One set-up; returns the session and its timing breakdown."""
    from engine.registry import load_all
    from engine.session import get_spark

    with spans(name, start) as top:
        with spans(f"{name}/session") as s_session:
            spark = get_spark("perfbench")
        with spans(f"{name}/registry") as s_registry:
            load_all()
        job_group(spark, f"{name}|io|setup")
        with spans(f"{name}/io") as s_io:
            info = wl.setup(spark)
        job_group(spark, f"{name}|py|setup")
        n = spark.sparkContext.defaultParallelism
        with spans(f"{name}/py_warmup") as s_py:
            spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").count()
    info.update(s=top["s"], session_s=s_session["s"], registry_s=s_registry["s"],
                io_s=s_io["s"], py_warmup_s=s_py["s"],
                default_parallelism=n)
    return spark, info


MIN_WARM = 2  # warm passes per run, however short --seconds is; all are measured


def run_pass(spark, ops, name: str, spans: Spans, times: dict, failures: list) -> float:
    """Build and execute every op once; returns the pass wall time."""
    from bench import run_full

    with spans(name) as sp:
        for op in ops:
            try:
                job_group(spark, f"{name}|{op.name}|build")
                with spans(f"{name}/{op.name}/build") as b:
                    df = op.build(spark)
                job_group(spark, f"{name}|{op.name}|exec")
                with spans(f"{name}/{op.name}/exec") as e:
                    run_full(df)
                times.setdefault(op.name, {})[name] = (b["s"], e["s"])
            except Exception as exc:  # a failed op is counted, the run goes on
                failures.append({"pass": name, "op": op.name, "error": repr(exc)[:500]})
                traceback.print_exc(file=sys.stderr)
    return sp["s"]


def run_checks(spark, ops, spans: Spans, failures: list) -> None:
    """Build each op and verify its output, outside the timed passes.
    The checks run side by side, one per task slot: each is a few short
    jobs whose time is mostly scheduling latency."""
    from concurrent.futures import ThreadPoolExecutor

    def check(op):
        job_group(spark, f"check|{op.name}|check")
        try:
            return op.check(spark, op.build(spark))
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            return f"raised {exc!r}"[:500]

    with spans("check"), ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:
        msgs = list(pool.map(check, ops))
    for op, msg in zip(ops, msgs):
        if msg:
            failures.append({"pass": "check", "op": op.name, "error": msg})
            print(f"check failed: {op.name}: {msg}", file=sys.stderr)


def shutdown(spark) -> list[int]:
    """Stop the session and the JVM; wait for every child process.
    Returns the pids that had to be killed."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = host.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
        gateway.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    return host.reap(kids)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def untraced_store(workload: str, smoke: bool) -> str:
    return os.path.join(WORK, "results", f"{workload}{'-smoke' if smoke else ''}.untraced.jsonl")


def untraced_warm(workload: str, smoke: bool) -> float | None:
    """Median ``warm_pass_s`` of the untraced runs of this workload made
    so far in this checkout, or None if there was none."""
    path = untraced_store(workload, smoke)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return median([json.loads(line)["warm_pass_s"] for line in f if line.strip()])


BLOCK_ROLES = ("stitch", "userfn", "affine")


def block_metrics(wl, times: dict, warm_names: list[str]) -> dict:
    """Median warm seconds and output voxels per second of each block
    role; zero for a role the workload does not run."""
    out = {}
    for role in BLOCK_ROLES:
        op = next((op for op in wl.ops if op.role == role), None)
        t = times.get(op.name, {}) if op else {}
        secs = [sum(t[p]) for p in warm_names if p in t]
        out[f"blocks.{role}_s"] = median(secs)
        out[f"{role}_voxels_per_s"] = median([op.voxels / x for x in secs if x > 0])
    return out


def layer_metrics(log_dir: str, wl, times: dict, warm_names: list[str],
                  setups: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics and the per-key census from the event log."""
    import eventlog

    stages, jobs = eventlog.stage_census(log_dir)
    groups = eventlog.group_totals(stages, jobs)
    nw = max(1, len(warm_names))

    def total(pred) -> dict:
        out: dict = {}
        for g, t in groups.items():
            parts = g.split("|")
            if len(parts) == 3 and pred(*parts):
                for k, v in t.items():
                    out[k] = out.get(k, 0.0) + v
        return out

    warm_exec = total(lambda p, o, ph: p in warm_names and ph == "exec")
    cold_all = total(lambda p, o, ph: p == "cold")
    cold_build = total(lambda p, o, ph: p == "cold" and ph == "build")
    run_all = total(lambda p, o, ph: True)
    per = lambda d, k: d.get(k, 0.0) / nw  # noqa: E731  (per warm pass)

    def warm_sum(idx: int) -> float:
        return median([sum(times[op][p][idx] for op in times if p in times[op])
                       for p in warm_names])

    m = {
        "session.start_s": setups[0]["session_s"],
        "registry.load_s": setups[0]["registry_s"],
        "io.load_s": median([s["io_s"] for s in setups]),
        "io.scan_partitions": setups[0]["scan_partitions"],
        "queries.build_s": warm_sum(0),
        "queries.cold_build_s": sum(v["cold"][0] for v in times.values() if "cold" in v),
        "queries.build_jobs": cold_build.get("jobs", 0.0),
        "exec.s": warm_sum(1),
    }
    for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_wait_ms",
              "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "failed_tasks"):
        m[f"exec.{k}"] = per(warm_exec, k)
    run_ms = warm_exec.get("task_run_ms", 0.0)
    m["exec.cpu_per_run"] = warm_exec.get("task_cpu_ms", 0.0) / run_ms if run_ms else 0.0
    for k in ("bytes_sent", "bytes_returned", "run_ms"):
        m[f"py.{k}"] = per(warm_exec, f"py_{k}")
    # workers are started by the set-up warm-up and then reused, so
    # start and initialisation time are summed over the whole run
    m["py.boot_ms"] = run_all.get("py_boot_ms", 0.0)
    m["py.init_ms"] = run_all.get("py_init_ms", 0.0)
    m["py.run_share"] = warm_exec.get("py_run_ms", 0.0) / run_ms if run_ms else 0.0

    # block path: map (fragment emit) and reduce (assembly) stages of
    # the warm executions of the scalar stitch
    stitch = next((op for op in wl.ops if op.role == "stitch"), None)
    emit = {"task_run_ms": 0.0, "task_cpu_ms": 0.0, "shuffle_write_bytes": 0.0,
            "shuffle_write_records": 0.0}
    assemble = {"task_run_ms": 0.0, "task_cpu_ms": 0.0}
    for s in stages.values() if stitch else ():
        p, _, rest = s["group"].partition("|")
        if p not in warm_names or rest != f"{stitch.name}|exec":
            continue
        side = emit if s["shuffle_write_bytes"] > 0 else (
            assemble if s["shuffle_read_bytes"] > 0 else {})
        for k in side:
            side[k] += s[k]
    m.update({
        "blocks.emit_run_ms": emit["task_run_ms"] / nw,
        "blocks.emit_cpu_ms": emit["task_cpu_ms"] / nw,
        "blocks.assemble_run_ms": assemble["task_run_ms"] / nw,
        "blocks.assemble_cpu_ms": assemble["task_cpu_ms"] / nw,
        "blocks.fragments": emit["shuffle_write_records"] / nw,
        "blocks.halo_bytes": emit["shuffle_write_bytes"] / nw,
        "blocks.halo_bytes_per_voxel":
            emit["shuffle_write_bytes"] / nw / stitch.voxels if stitch else 0.0,
    })

    census = {}
    for op in wl.ops:
        t = times.get(op.name, {})
        ex = total(lambda p, o, ph, n=op.name: p in warm_names and o == n and ph == "exec")
        cold_op = total(lambda p, o, ph, n=op.name: p == "cold" and o == n)
        cb = total(lambda p, o, ph, n=op.name: p == "cold" and o == n and ph == "build")
        census[op.name] = {
            "cold_build_s": t.get("cold", (0.0, 0.0))[0],
            "cold_exec_s": t.get("cold", (0.0, 0.0))[1],
            "warm_build_s": median([t[p][0] for p in warm_names if p in t]),
            "warm_exec_s": median([t[p][1] for p in warm_names if p in t]),
            "cold_build_jobs": cb.get("jobs", 0.0),
            **{f"warm_{k}": per(ex, k) for k in (
                "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
                "shuffle_write_bytes", "py_bytes_sent", "py_bytes_returned",
                "py_run_ms", "py_boot_ms", "py_init_ms")},
            "cold_py_boot_init_ms": cold_op.get("py_boot_ms", 0.0) + cold_op.get("py_init_ms", 0.0),
        }
    # boot and init are summed over tasks that run side by side: divided
    # by the task slots, they estimate their share of the pass wall time
    warm_all = total(lambda p, o, ph: p in warm_names)
    py_ms = lambda d: d.get("py_boot_ms", 0.0) + d.get("py_init_ms", 0.0)  # noqa: E731
    delta = (py_ms(cold_all) - py_ms(warm_all) / nw) / 1000 / setups[0]["default_parallelism"]
    return m, {"ops": census, "py_boot_init_delta_s": delta}


# ------------------------------------------------------------------- main

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measuring window: warm passes run until it has passed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="self-test size: sf0.001 tables, 2x2x2 grid of 16^3 blocks")
    p.add_argument("--corrupt", metavar="OP",
                   help="self-test: perturb OP's output before it is checked")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:  # the program under test must be present; fail before any output
        import bench  # noqa: F401
        import check  # noqa: F401
        import engine.blocks  # noqa: F401
        import engine.registry  # noqa: F401
        import engine.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import host
    import workloads

    t_proc = host.process_start_time()
    # table generation is the benchmark's own work: left out of set-up
    t_own = time.time()
    data_dir = ensure_tables(0.001 if args.smoke else 0.01)
    t_start = t_proc + (time.time() - t_own)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    log_dir = os.path.join(WORK, "eventlog", run_id)
    prepare_env(bool(args.trace), log_dir)
    wl = workloads.make(args.workload, args.seed, data_dir, args.smoke, args.corrupt)
    spans = Spans(t_start)
    rnd = random.Random(args.seed)
    times: dict = {}
    failures: list = []
    extra_layers: dict = {}
    ticks = host.cpu_ticks()
    with host.PeakMemory() as mem:
        spark, s1 = setup(wl, spans, "setup1", start=t_start)
        setups = [s1]
        job_group(spark, "inputs|tiles|exec")
        with spans("inputs") as s_in:
            wl.make_inputs(spark)
        if hasattr(wl, "weight"):  # the stitch workload's tile generation
            extra_layers["blocks.gen_s"] = s_in["s"]
        order = list(wl.ops)
        rnd.shuffle(order)
        cold = run_pass(spark, order, "cold", spans, times, failures)
        rnd.shuffle(order)
        run_checks(spark, order, spans, failures)
        warm: list[float] = []
        t_measure = time.time()
        while len(warm) < MIN_WARM or (time.time() - t_measure < args.seconds
                                       and len(warm) < 40):
            rnd.shuffle(order)
            warm.append(run_pass(spark, order, f"warm{len(warm) + 1}", spans, times,
                                 failures))
        if args.trace and hasattr(wl, "weight"):
            job_group(spark, "layer|weight|exec")
            from bench import run_full
            with spans("layer/weight") as s_w:
                run_full(wl.weight(spark))
            extra_layers["blocks.weight_s"] = s_w["s"]
        for i in (2, 3):
            spark.stop()
            spark, si = setup(wl, spans, f"setup{i}")
            setups.append(si)
        killed = shutdown(spark)
    host_rec = {  # taken after the measurement, so it cannot disturb it
        "nproc": host.nproc(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "mem_total_gb": round(host.mem_total_gb(), 1), "thp": host.thp_mode(),
        "cpu_steal_share": round(host.steal_share(ticks, host.cpu_ticks()), 4),
        "canary": host.canary(host.nproc()),
    }
    warm_names = [f"warm{i + 1}" for i in range(len(warm))]
    attempted = len(wl.ops) * (2 + len(warm))
    e2e = {
        "setup_s": median([s["s"] for s in setups]),
        "start_to_ready_s": setups[0]["s"],
        "cold_pass_s": cold,
        "warm_pass_s": median(warm),
        "peak_rss_mb": mem.peak / 2 ** 20,
    }
    extra = {"failed_frac": len(failures) / attempted,
             **block_metrics(wl, times, warm_names), **extra_layers}
    artifact = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "trace": args.trace,
        "smoke": args.smoke, "host": host_rec, "setups": setups,
        "warm_passes": warm, "e2e": e2e, "extra": extra, "failures": failures,
        "memory_samples": mem.samples,
        "memory_peaks_mb": {"jvm": mem.peak_jvm / 2 ** 20, "python": mem.peak_python / 2 ** 20},
        "killed_pids": killed, "left_out_keys": workloads.LEFT_OUT, "spans": spans.items,
    }
    spec = load_spec()
    if args.trace:
        layers, census = layer_metrics(log_dir, wl, times, warm_names, setups)
        layers.update({"blocks.gen_s": 0.0, "blocks.weight_s": 0.0,
                       **block_metrics(wl, times, warm_names), **extra_layers})
        base = untraced_warm(args.workload, args.smoke)
        cold_delta = e2e["cold_pass_s"] - e2e["warm_pass_s"]
        build_delta = layers["queries.cold_build_s"] - layers["queries.build_s"]
        py_delta = census.pop("py_boot_init_delta_s")
        artifact.update(
            per_layer=layers, census=census,
            tracing={"traced_warm_pass_s": e2e["warm_pass_s"], "untraced_warm_pass_s": base,
                     "overhead_s": None if base is None else e2e["warm_pass_s"] - base},
            cold_split={"cold_minus_warm_s": cold_delta, "build_s": build_delta,
                        "py_boot_init_s": py_delta,
                        "rest_s": cold_delta - build_delta - py_delta})
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        if not args.corrupt:
            os.makedirs(os.path.dirname(untraced_store(args.workload, args.smoke)), exist_ok=True)
            with open(untraced_store(args.workload, args.smoke), "a") as f:
                f.write(json.dumps({"seed": args.seed, **e2e}) + "\n")
    path = os.path.join(WORK, "results", f"{run_id}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=float)
    print_summary(artifact, metrics, extra, path)
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def extra_unit(name: str) -> str:
    if name == "failed_frac":
        return "ratio"
    return "voxel/s" if name.endswith("_per_s") else "s"


def print_summary(artifact: dict, metrics: dict, extra: dict, path: str) -> None:
    h = artifact["host"]
    c = h["canary"]
    print(f"host: nproc={h['nproc']} SPARK_GRAFT_CPUS={h['SPARK_GRAFT_CPUS']} "
          f"driver_mem={h['SPARK_GRAFT_DRIVER_MEM']} thp={h['thp']} "
          f"cpu_steal={h['cpu_steal_share']:.2%} canary "
          f"{c['procs']}-way median={c['nway_median_s']}s "
          f"max={c['nway_max_s']}s")
    print(f"workload {artifact['workload']} seed={artifact['seed']} "
          f"trace={artifact['trace']} warm_passes={len(artifact['warm_passes'])}")
    for name, m in metrics.items():
        print(f"  {name:<28} {m['value']:.6g} {m['unit']}")
    for name, v in extra.items():
        if name not in metrics:
            print(f"  {name:<28} {v:.6g} {extra_unit(name)}")
    if "tracing" in artifact:
        o = artifact["tracing"]["overhead_s"]
        print("  tracing overhead             " + (
            f"{o:.6g} s (traced minus untraced warm_pass_s)" if o is not None
            else "n/a: no untraced run of this workload in this checkout yet"))
        cs = artifact["cold_split"]
        print("  cold_pass_s - warm_pass_s = " + " + ".join(
            f"{k} {cs[k]:.3f}" for k in ("build_s", "py_boot_init_s", "rest_s"))
              + f" = {cs['cold_minus_warm_s']:.3f} s")
    print(f"  artifact {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
