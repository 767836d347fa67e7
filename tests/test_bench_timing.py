"""bench.time_runs and the min-of-N rule of every caller, with a fake
callable and clock: no SparkSession, no real time."""
from __future__ import annotations

import pytest

import bench
import scale_probe


class FakeRuns:
    """A callable whose n-th call takes ``durations[n]`` seconds on its
    own clock, which the test puts in place of ``time.perf_counter``."""

    def __init__(self, durations):
        self.durations = list(durations)
        self.now = 0.0
        self.calls = 0

    def clock(self) -> float:
        return self.now

    def __call__(self) -> None:
        self.now += self.durations[self.calls]
        self.calls += 1


@pytest.mark.parametrize("rule, durations, n_runs", [
    # headline: min-of-2, a third run while the best is under 0.5 s
    (bench.HEADLINE_RULE, [0.7, 0.49, 0.3], 3),
    (bench.HEADLINE_RULE, [0.7, 0.5, 0.3], 2),
    # the 128³ entries: min-of-3, never a fourth
    (bench.BLOCK_RULE, [0.1, 0.1, 0.1, 0.1], 3),
    # the sf1 lane and the x100 sweeps: min-of-2, never a third
    (bench.SF1_RULE, [0.1, 0.1, 0.1], 2),
    (scale_probe.X100_RULE, [0.1, 0.1, 0.1], 2),
    # scale_probe: a third run under 1.0 s at the base scales, under
    # 10.0 s at x10
    (scale_probe.BASE_RULE, [1.5, 0.99, 0.1], 3),
    (scale_probe.BASE_RULE, [1.5, 1.0, 0.1], 2),
    (scale_probe.X10_RULE, [12.0, 9.9, 1.0], 3),
    (scale_probe.X10_RULE, [10.0, 12.0, 1.0], 2),
])
def test_min_of_n_rules(monkeypatch, rule, durations, n_runs):
    fake = FakeRuns(durations)
    monkeypatch.setattr(bench.time, "perf_counter", fake.clock)
    runs = bench.time_runs(fake, *rule)
    assert runs == pytest.approx(durations[:n_runs])
    assert fake.calls == n_runs


def test_the_third_run_only_follows_n_runs(monkeypatch):
    # the threshold adds at most one run, even when every run is fast
    fake = FakeRuns([0.01] * 5)
    monkeypatch.setattr(bench.time, "perf_counter", fake.clock)
    assert len(bench.time_runs(fake, 1, 0.5)) == 2
