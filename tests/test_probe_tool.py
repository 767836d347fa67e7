"""tools/probe.py: an end-to-end smoke (a cold A/B of spread on one
key, in its own session at sf0.01) and the untimed pass of ``probe``."""
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def test_probe_cold_ab_reports_both_arms(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.01",
               SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "probe.py"), "-n", "1",
         "--cold", "--ab", "spread", "q_text_stats"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    [line] = [json.loads(s) for s in out.stdout.splitlines()
              if s.startswith("{")]
    arms = line["q_text_stats"]
    assert set(arms) == {"identity", "spread"}
    for arm in arms.values():
        assert len(arm["runs"]) == 1
        assert arm["min"] == arm["median"] == arm["runs"][0] > 0
        assert arm["jobs"] >= 1
        assert arm["stages"] >= arm["jobs"] and arm["tasks"] >= arm["stages"]


def _probe_module():
    spec = importlib.util.spec_from_file_location(
        "probe_tool", ROOT / "tools" / "probe.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("cold", [False, True])
@pytest.mark.parametrize("n_arms", [1, 2])
def test_probe_runs_one_uncounted_untimed_pass_per_arm(
        spark, monkeypatch, cold, n_arms):
    """Every mode, --cold and a single arm included, runs one untimed
    pass per arm before the timed runs, so no timed run is a key's
    first, and the jobs of that pass stay out of the job shape."""
    probe = _probe_module()
    sc = spark.sparkContext
    events = []
    monkeypatch.setattr(probe.io, "memo_drop",
                        lambda s: events.append("drop"))

    def run():
        events.append("run")
        if events.count("run") <= n_arms:  # the untimed pass: 2 jobs
            sc.parallelize([1], 1).count()
        sc.parallelize([1], 1).count()

    arms = {f"arm{a}": (lambda a=a: events.append(f"set{a}"))
            for a in range(n_arms)}
    # job groups are named by key: one key per case keeps them apart
    out = probe.probe(spark, f"k{n_arms}{cold}", run, 2, cold, arms)
    drop = ["drop"] if cold else []
    untimed = [e for a in range(n_arms) for e in (f"set{a}", "run")]
    timed = [e for _ in range(2) for a in range(n_arms)
             for e in (f"set{a}", *drop, "run")]
    assert events == untimed + timed
    assert set(out) == set(arms)
    for arm in out.values():
        assert len(arm["runs"]) == 2
        assert (arm["jobs"], arm["stages"], arm["tasks"]) == (1, 1, 1)
