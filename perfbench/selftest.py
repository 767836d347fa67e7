"""Self-test of the benchmark at smoke size (sf0.001 tables, 2x2x2 grid
of 16^3 blocks). Takes a few minutes on local[4]:

    python3 perfbench/selftest.py

It asserts that
- every named metric is printed, by name and with its unit, in the
  summary lines and in the JSON result line;
- a deliberately corrupted output is counted as failed (once for a
  query key against its DuckDB oracle, once for a stitched field);
- the event-log parser yields every ``exec.*``, ``py.*`` and
  ``blocks.*`` metric, with Python-worker and halo-shuffle figures
  that are not zero on the block path;
- in a directory holding only the benchmark, run.py exits with an
  error and prints no result.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout.splitlines()


def result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def check_printed(lines: list[str], spec: list[dict]) -> None:
    res = result(lines)
    for m in spec:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{m['name']} missing from the result"
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in lines[:-1]), f"{m['name']} not printed with its unit"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    code, lines = run("queries_sf0.01", 0)
    assert code == 0, "queries smoke run failed"
    check_printed(lines, spec["end_to_end"])
    assert any(line.split()[:1] == ["failed_frac"] for line in lines), "failed_frac not printed"
    assert result(lines)["failed"] == 0, "clean queries smoke run reported failures"

    code, lines = run("queries_sf0.01", 0, "--corrupt", "q_join_inner")
    assert code == 0 and result(lines)["failed"] == 1, "corrupted query output not counted"

    code, lines = run("stitch_40", 1, "--corrupt", "userfn")
    assert code == 0, "traced stitch smoke run failed"
    check_printed(lines, spec["per_layer"])
    res = result(lines)
    assert res["failed"] == 1 and not res["correct"], "corrupted stitch output not counted"
    names = {m["name"] for m in spec["per_layer"]}
    for prefix in ("exec.", "py.", "blocks."):
        assert any(n.startswith(prefix) for n in names), f"no {prefix}* metric"
    for name in ("exec.tasks", "py.bytes_sent", "py.run_ms", "py.boot_ms",
                 "blocks.fragments", "blocks.halo_bytes", "blocks.emit_run_ms"):
        assert res["metrics"][name]["value"] > 0, f"{name} is zero on the block path"

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run("queries_sf0.01", 0, cwd=bare)
    shutil.rmtree(bare)
    assert code != 0 and not any(line.startswith("{") for line in lines), \
        "a directory without the engine must fail without a result"
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
