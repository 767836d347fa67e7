"""Plan + behavior pins for the round-5 build-phase keys: the CDC /
MERGE family must broadcast the change side and never shuffle the
snapshot, the entropy kernel must be a zero-shuffle narrow map, the
Gram matrix must be partition-count-invariant (partials summed), and
the idempotent MERGE must absorb a replay exactly.
"""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.registry import QUERIES, load_all

from test_plans import final_plan, n_shuffles

load_all()


def test_cdc_apply_broadcasts_compacted_log(spark, sf_dir):
    plan = final_plan(spark, "q_cdc_apply", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # log compaction is ONE groupBy shuffle; the snapshot join and
    # anti-join consume broadcasts (AQE may add a small-side exchange
    # for the anti join at tiny SF — allow <= 3, never snapshot-sized)
    assert n_shuffles(plan) <= 3, plan
    # struct-max compaction, not a window sort
    assert "Window" not in plan, plan


def test_cdc_apply_branches_present(spark, sf_dir):
    rows = QUERIES["q_cdc_apply"](spark, sf_dir).collect()
    actions = {r["action"] for r in rows}
    assert actions == {"kept", "updated", "inserted"}
    # deletes actually removed: updated+kept < base count
    base_n = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(a != "inserted" for a in (r["action"] for r in rows)) < base_n


def test_merge_idempotent_plan_broadcasts_delta(spark, sf_dir):
    plan = final_plan(spark, "q_merge_idempotent", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_merge_idempotent_replay_is_noop(spark, sf_dir):
    """Double apply == single apply: the committed parquet state IS
    the single-apply result, and the query's output (apply #2 on top)
    must equal it row-for-row."""
    from engine.io import memo

    out = QUERIES["q_merge_idempotent"](spark, sf_dir)
    path = memo(spark, sf_dir, "merge_idem",
                lambda: pytest.fail("merge state not memoized"))
    committed = spark.read.parquet(path).select(
        "c_custkey",
        (F.floor(F.col("bal") * 1e4 + F.lit(0.5)) / 1e4).alias("bal"),
        "last_batch")
    assert out.exceptAll(committed).count() == 0
    assert committed.exceptAll(out).count() == 0


def test_text_entropy_zero_shuffle_narrow(spark, sf_dir):
    plan = final_plan(spark, "q_text_entropy", sf_dir)
    assert "Join" not in plan, plan
    assert n_shuffles(plan) == 0, plan


def test_text_entropy_values(spark):
    """'aabb' → 1 bit; uniform 4-char alphabet → 2 bits; single char
    → 0; matches the closed form on a hand fixture."""
    from engine.queries.curation import text_entropy

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd"), (3, "zzzz"), (4, "aab"), (5, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["ent"] for r in text_entropy(df).collect()}
    assert out[1] == 1.0
    assert out[2] == 2.0
    assert out[3] == 0.0
    h3 = -(2 / 3) * np.log2(2 / 3) - (1 / 3) * np.log2(1 / 3)
    assert abs(out[4] - np.floor(h3 * 1e4 + 0.5) / 1e4) < 1e-12
    assert 5 not in out    # empty text dropped, matching the oracle


def test_embed_gram_partition_invariant(spark, sf_dir):
    """The Gram partials must merge across partitions: forcing many
    input partitions must give the identical matrix (this is the
    failure mode a per-partition emit without the final groupBy
    would have)."""
    from engine.queries.vectors import gram_partials

    base = QUERIES["q_embed_gram"](spark, sf_dir)
    rows1 = {(r["i"], r["j"]): r["g"] for r in base.collect()}
    assert len(rows1) == 64 * 65 // 2

    # same kernel, input scattered over 13 partitions
    e = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .select("embedding").filter(F.col("embedding").isNotNull())
         .repartition(13))
    scattered = (
        gram_partials(e)
        .groupBy("i", "j").agg((F.sum("gs") / F.lit(1e8)).alias("g"))
    )
    rows2 = {(r["i"], r["j"]): r["g"] for r in scattered.collect()}
    assert rows1 == rows2


def test_embed_gram_one_partial_shuffle(spark, sf_dir):
    plan = final_plan(spark, "q_embed_gram", sf_dir)
    assert "Join" not in plan, plan
    assert n_shuffles(plan) <= 1, plan


def test_stream_interval_union_matches_batch(spark, sf_dir):
    """The streaming session-window islands must equal the batch
    interval-union key on the same fixture."""
    a = {r["user_id"]: (r["n_islands"], r["covered_us"])
         for r in QUERIES["q_stream_interval_union"](spark, sf_dir).collect()}
    b = {r["user_id"]: (r["n_islands"], r["covered_us"])
         for r in QUERIES["q_interval_union"](spark, sf_dir).collect()}
    assert a == b


def test_ts_ohlc_one_partial_agg_no_window(spark, sf_dir):
    """Candles must reduce map-side: two HashAggregates (or
    ObjectHashAggregate pair) around ONE exchange, and no window sort
    of ticks anywhere."""
    plan = final_plan(spark, "q_ts_ohlc", sf_dir)
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert n_shuffles(plan) == 1, plan


def test_ts_ohlc_open_close_are_time_extremes(spark, sf_dir):
    rows = QUERIES["q_ts_ohlc"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["n_ticks"] >= 1


def test_variant_funcs_narrow_then_agg(spark, sf_dir):
    plan = final_plan(spark, "q_variant_funcs", sf_dir)
    assert "Join" not in plan, plan
    assert n_shuffles(plan) == 1, plan


def test_python_ds_parallel_partitions(spark):
    """The custom source must expose its declared split count to the
    scheduler (8 InputPartitions -> 8 RDD partitions)."""
    from engine.pyds import register

    register(spark)
    df = (spark.read.format("synthetic_series")
          .option("rows", 2000).option("parts", 8).load())
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 2000
