"""End-to-end smoke of tools/probe.py: a cold A/B of spread on one key,
in its own session at sf0.01."""
import json
import os
import subprocess
import sys
from pathlib import Path

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
