"""Unit tests for the driver-window rotation ordering in
__spark_entry__._rotated and the artifact reader _driver_green.

The ordering contract (stated in the _rotated docstring):
  (a) keys without a passing CORRECTNESS row first, in registry order;
  (b) driver greens sorted by (latest green round, registry index) —
      oldest-green-first with a deterministic registry tie-break;
  (c) the ordering is total over the registry — no key dropped.

These tests inject a synthetic green map so they are independent of
the CORRECTNESS_r*.json artifacts on disk.
"""
import importlib.util
import json
import os
import shutil
import sys

import pytest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module(directory=_HERE):
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(directory, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def entry_mod():
    return _entry_module()


def test_total_over_registry(entry_mod):
    """Every registry key appears exactly once, with any green map."""
    from engine import registry
    registry.load_all()
    keys = list(registry.QUERIES)
    for green in ({}, {keys[0]: 3}, {k: 5 for k in keys}):
        out = entry_mod._rotated(registry.QUERIES, green=green)
        assert sorted(out) == sorted(keys)
        assert len(out) == len(set(out))


def test_waiting_lead_greens_follow(entry_mod):
    """Keys absent from the green map precede every green key."""
    keys = {f"k{i}": None for i in range(10)}
    green = {"k0": 2, "k3": 5, "k7": 1}
    out = entry_mod._rotated(keys, green=green)
    waiting = [k for k in out if k not in green]
    assert out[: len(waiting)] == waiting


def test_greens_oldest_round_first_registry_tiebreak(entry_mod):
    """Greens sort by (round, registry index) — provably oldest-first,
    ties broken by registry declaration order."""
    keys = {k: None for k in ["a", "b", "c", "d", "e"]}
    green = {"a": 9, "b": 3, "c": 3, "d": 7, "e": 3}
    out = entry_mod._rotated(keys, green=green)
    assert out == ["b", "c", "e", "d", "a"]


def test_failed_latest_row_rotates_to_front(entry_mod):
    """A key whose latest driver row failed has no green entry and so
    re-enters the waiting tier at the front."""
    keys = {k: None for k in ["x", "y", "z"]}
    out = entry_mod._rotated(keys, green={"x": 4, "z": 4})
    assert out[0] == "y"


def test_no_artifacts_gives_registry_order(entry_mod):
    """With no CORRECTNESS rows (a fresh checkout) the order is the registry."""
    from engine import registry
    registry.load_all()
    keys = registry.QUERIES
    assert entry_mod._rotated(keys, green={}) == list(keys)


def test_broken_artifact_raises(tmp_path, monkeypatch):
    """A CORRECTNESS artifact that does not parse is an error, not a
    silent skip that would send its keys back to the front."""
    shutil.copy(os.path.join(_HERE, "__spark_entry__.py"), tmp_path)
    (tmp_path / "CORRECTNESS_r99.json").write_text('{"q_scan_project": {"ha')
    # the copy puts its own directory on sys.path; undo that afterwards
    monkeypatch.setattr(sys, "path", list(sys.path))
    mod = _entry_module(tmp_path)
    with pytest.raises(json.JSONDecodeError):
        mod._driver_green()
