"""Meta-guards on the driver contract: every registered oracle must
PARSE in DuckDB against the real tables (catches SQL typos and
engine-dialect slips at test time instead of in the driver's
correctness gate), and every auxiliary key list (bench HEADLINE,
rotation cohorts, probe lists) must reference keys that actually
exist in the registry (catches renames silently orphaning a list).
No SparkSession needed — this file runs in milliseconds-to-seconds.
"""
from __future__ import annotations

import duckdb
import pytest

from engine.registry import ORACLE, QUERIES, load_all

load_all()

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS "
                f"SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", sorted(ORACLE))
def test_oracle_sql_parses_in_duckdb(duck, key):
    # EXPLAIN binds + plans without executing — a syntax error,
    # unknown function, or missing column fails here, in seconds,
    # instead of in the driver's correctness window.
    duck.sql(f"EXPLAIN {ORACLE[key]}")


def test_load_all_raises_on_a_missing_engine_module(monkeypatch):
    # a broken import must be loud: skipping the module would drop
    # its keys from the registry without a sound
    from engine import registry

    monkeypatch.setattr(registry, "_loaded", False)
    monkeypatch.setattr(registry, "_MODULES",
                        ["engine.queries.no_such_module"])
    with pytest.raises(ModuleNotFoundError, match="no_such_module"):
        load_all()


def test_bench_compact_line_fallback_keeps_the_total(monkeypatch):
    # an over-long timings map forces the drop-fastest fallback; every
    # dropped key moves into rest, so the line still adds up to value
    import json

    import bench

    rec = [f"q_recorded_key_{i:03d}" for i in range(150)]
    monkeypatch.setattr(bench, "RECORDED_KEYS", rec)
    timings = {k: 0.1 * i for i, k in enumerate(rec)}
    timings.update({f"q_other_{i}": 0.5 for i in range(20)})
    out = {"metric": "headline_suite_seconds", "sf": "0.1",
           "value": round(sum(timings.values()), 3)}
    line = bench.compact_line(out, timings, None, 2)
    c = json.loads(line)
    assert len(line) <= 1900
    assert c["n_omitted_fastest"] > 0
    assert c["rest_n"] + len(c["queries"]) == len(timings)
    # each figure (2-decimal keys, 1-decimal rest) may be off by 0.05
    tol = 0.05 * (len(c["queries"]) + 1) + 1e-9
    assert abs(sum(c["queries"].values()) + c["rest_sec"]
               - c["value"]) <= tol
    kept = [k for k in rec if k.removeprefix("q_") in c["queries"]]
    assert kept == rec[-len(kept):]  # the fastest were dropped


@pytest.mark.parametrize("t, headroom", [(9.99, 100), (99.99, 0)])
def test_bench_compact_line_fits_every_recorded_key(t, headroom):
    # the real key lists, every recorded key at t seconds with two
    # decimals and a full sf1 lane: the line keeps every recorded key
    # with room to spare for keys appended to RECORDED_KEYS later
    import json

    import bench

    timings = {k: t for k in bench.RECORDED_KEYS}
    timings.update({k: 0.5 for k in bench.HEADLINE if k not in timings})
    sf1 = {"queries": {k: 12.345 for k in bench.SF1_KEYS},
           "total": 123.456}
    out = {"metric": "headline_suite_seconds", "sf": "0.1",
           "value": round(sum(timings.values()), 3)}
    line = bench.compact_line(out, timings, sf1, 0)
    c = json.loads(line)
    assert len(line) <= 1900 - headroom
    assert "n_omitted_fastest" not in c
    assert len(c["queries"]) == len(bench.RECORDED_KEYS)
    assert set(c["queries"].values()) == {t}
    assert c["sf1_total"] == 123.456 and "sf1" not in c


def test_bench_headline_keys_exist():
    import bench

    missing = [k for k in bench.HEADLINE if k not in QUERIES]
    assert not missing, missing


def test_rotation_cohorts_reference_real_keys():
    # Discover cohorts by naming convention rather than a hand-kept
    # tuple, so a future _R0NX_NEW cohort can't be silently omitted
    # from the staleness check (the r6 _R06C_NEW omission).
    import __spark_entry__ as entry

    cohorts = [getattr(entry, name) for name in dir(entry)
               if name.endswith(("_GREEN", "_NEW"))]
    assert len(cohorts) >= 6, "cohort discovery broke"
    for cohort in cohorts:
        stale = [k for k in cohort if k not in QUERIES]
        assert not stale, stale


def test_scale_probe_keys_exist():
    import scale_probe

    for lst in (scale_probe.DOC_KEYS, scale_probe.REL_KEYS,
                scale_probe.X100_KEYS, scale_probe.REL100_KEYS):
        missing = [k for k in lst if k not in QUERIES]
        assert not missing, missing
