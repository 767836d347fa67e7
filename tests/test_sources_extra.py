"""Engine-side pins for the text source and the compaction op:
the tab-framed text round trip preserves every record, and the
compaction rewrite actually reduces the file count.
"""
from __future__ import annotations

import os

import pytest

from engine.io import memo
from engine.registry import QUERIES, load_all

load_all()


def test_text_source_preserves_every_record(spark, sf_dir):
    from engine.io import load_tables

    out = QUERIES["q_source_text"](spark, sf_dir)
    n = out.agg({"n": "sum"}).collect()[0][0]
    assert n == load_tables(spark, sf_dir)["documents"].count()


def test_compaction_reduces_file_count(spark, sf_dir):
    QUERIES["q_compaction"](spark, sf_dir).collect()
    comp = memo(spark, sf_dir, ("source", "compact"),
                lambda: pytest.fail("compaction dir not memoized"))
    frag = comp.replace("engine_compact_", "engine_frag_")
    n_frag = sum(1 for f in os.listdir(frag) if f.endswith(".parquet"))
    n_comp = sum(1 for f in os.listdir(comp) if f.endswith(".parquet"))
    assert n_frag == 64
    assert n_comp < n_frag / 8  # size-targeted: far fewer files


def test_time_travel_single_version_read_is_repeatable(spark, sf_dir):
    """An AS-OF read of one committed snapshot must be exactly the
    state at that version — deletes from later commits invisible,
    earlier versions untouched — and scans only that version's
    directory."""
    import os

    from engine.io import memo
    from engine.registry import QUERIES, load_all

    load_all()
    audit = {r["version"]: (r["n_rows"], r["total_bal"])
             for r in QUERIES["q_time_travel"](spark, sf_dir).collect()}
    root = memo(spark, sf_dir, ("source", "timetravel"),
                lambda: pytest.fail("time-travel root not memoized"))
    base_n = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    # v0 and v1 keep every row; v2's deletes are visible only in v2
    assert audit[0][0] == base_n
    assert audit[1][0] == base_n
    assert audit[2][0] < base_n
    # repeatable single-version read straight from its snapshot dir
    v1 = spark.read.parquet(os.path.join(root, "version=1"))
    assert v1.count() == audit[1][0]
    from pyspark.sql import functions as F
    got = v1.agg((F.sum(F.floor(F.col("bal") * 1e4 + F.lit(0.5))
                        .cast("long")) / 1e4).alias("t")).collect()[0]["t"]
    assert got == audit[1][1]
