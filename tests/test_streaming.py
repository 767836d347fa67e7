"""Structured Streaming smoke (FIXTURES.md B5): file-source replay of
events through the tumbling-window agg with a 10-minute watermark.
Asserts (a) every append-mode emitted window matches the batch
analogue and (b) a 2-hour-late replayed tail changes nothing.
"""
import tempfile

import pytest

from engine.streaming import read_event_stream, run_replay, streaming_dedup


def test_streaming_matches_batch_and_drops_late(spark, sf_dir):
    with tempfile.TemporaryDirectory() as wd:
        res = run_replay(spark, sf_dir, wd, query_name="t_stream")
        streamed = {
            (r.ws_us, r.event_type): (r.n, round(r.sum_value, 6))
            for r in res["streamed"].collect()
        }
        batch = {
            (r.ws_us, r.event_type): (r.n, round(r.sum_value, 6))
            for r in res["batch"].collect()
        }
        assert res["n_before"] > 0
        # append mode emits only watermark-finalized windows: subset,
        # and every emitted window agrees exactly with batch
        assert set(streamed) <= set(batch)
        for k, v in streamed.items():
            assert batch[k] == v
        # late tail (2h behind watermark) must not add or change rows
        assert res["n_after_late"] == res["n_before"]


def test_streaming_dedup_within_watermark(spark, sf_dir):
    with tempfile.TemporaryDirectory() as wd:
        src = f"{wd}/src"
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        dup = raw.limit(50)
        dup.union(dup).repartition(4).write.mode("overwrite").parquet(src)
        q = (
            streaming_dedup(read_event_stream(spark, src))
            .writeStream.outputMode("append")
            .format("memory").queryName("t_dedup").start()
        )
        q.processAllAvailable()
        n = spark.sql("SELECT count(DISTINCT event_id) FROM t_dedup").collect()[0][0]
        total = spark.sql("SELECT count(*) FROM t_dedup").collect()[0][0]
        q.stop()
        assert n == 50
        assert total == 50  # duplicates suppressed within the watermark


def test_stateful_running_totals(spark, sf_dir):
    """applyInPandasWithState keeps per-user state across micro-batches:
    the final emitted totals equal the batch per-user aggregates."""
    import tempfile

    from pyspark.sql import functions as F

    from engine.streaming import running_user_totals

    with tempfile.TemporaryDirectory() as wd:
        src = f"{wd}/src"
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        raw.repartition(6).write.mode("overwrite").parquet(src)
        q = (
            running_user_totals(read_event_stream(spark, src))
            .writeStream.outputMode("update")
            .format("memory").queryName("t_state").start()
        )
        q.processAllAvailable()
        q.stop()
        # last emitted row per user == batch aggregate
        final = {
            r.user_id: (r.n_events, round(r.total_value, 6))
            for r in spark.sql(
                "SELECT user_id, n_events, total_value FROM ("
                " SELECT *, row_number() OVER (PARTITION BY user_id "
                "   ORDER BY n_events DESC) rn FROM t_state) WHERE rn = 1"
            ).collect()
        }
        batch = {
            r.user_id: (r.n, round(r.s, 6))
            for r in raw.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert final == batch


def test_append_mode_emits_exactly_closed_windows(spark, sf_dir):
    # append output must be the complete-mode window table minus the
    # still-open windows (end > final watermark = max ts - 10 min)
    from engine.registry import QUERIES, load_all

    load_all()
    full = {(r.ws_us, r.event_type): (r.n, r.sum_value)
            for r in QUERIES["q_stream_tumbling"](spark, sf_dir).collect()}
    app = {(r.ws_us, r.event_type): (r.n, r.sum_value)
           for r in QUERIES["q_stream_tumbling_append"](spark, sf_dir)
           .collect()}
    assert set(app) < set(full)
    for k, v in app.items():
        assert full[k] == v, k
    wm_us = max(ws for ws, _ in full) - 600_000_000  # > every open start
    open_keys = set(full) - set(app)
    assert open_keys, "fixture should leave some windows open"
    assert all(ws + 3_600_000_000 > wm_us for ws, _ in open_keys)


def test_stream_stream_left_outer_join(spark, sf_dir):
    """Outer stream-stream join: matched pairs equal the batch left
    join, and unmatched views emit exactly one null-padded row once a
    sentinel batch advances the watermark past their eviction time."""
    import datetime
    import tempfile

    from pyspark.sql import functions as F

    from engine.io import parquet_schema, with_event_time
    from engine.streaming import attribution_left_join

    with tempfile.TemporaryDirectory() as wd:
        src = f"{wd}/src"
        raw = with_event_time(
            spark.read.parquet(f"{sf_dir}/events.parquet"))
        raw.repartition(4).write.mode("overwrite").parquet(src)

        # ingest the real data as ONE micro-batch (no maxFilesPerTrigger):
        # a multi-batch replay of unordered part-files would drop
        # early-timestamped views behind the advancing watermark —
        # legitimate streaming semantics, but not the batch oracle
        events = with_event_time(
            spark.readStream.schema(
                parquet_schema(spark, src)).parquet(src))
        q = (
            attribution_left_join(events)
            .writeStream.outputMode("append")
            .format("memory").queryName("t_ss_left").start()
        )
        q.processAllAvailable()
        # Sentinels far past every real event, one per JOIN SIDE: each
        # branch's watermark only advances on rows that SURVIVE its
        # filter, and the global watermark is the MIN across both
        # EventTimeWatermark nodes (multipleWatermarkPolicy=min) — a
        # row filtered from both branches would advance nothing. Two
        # rounds because state evicted by a watermark advance is
        # null-emitted in the NEXT micro-batch.
        hi = raw.agg(F.max("ts")).collect()[0][0]
        for i in range(2):
            sentinel = raw.limit(1).select(
                F.lit(10 ** 9 + 2 * i).alias("event_id"),
                F.lit(hi + datetime.timedelta(hours=12 + i)).alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("view").alias("event_type"),
                F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
            ).unionAll(raw.limit(1).select(
                F.lit(10 ** 9 + 2 * i + 1).alias("event_id"),
                F.lit(hi + datetime.timedelta(hours=12 + i)).alias("ts"),
                F.lit(-2).cast("long").alias("user_id"),
                F.lit("purchase").alias("event_type"),
                F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
            ))
            sentinel.write.mode("append").parquet(src)
            q.processAllAvailable()
        q.stop()

        got = {
            (r["view_id"], r["purchase_id"])
            for r in spark.sql(
                "SELECT * FROM t_ss_left WHERE view_id < 1000000000"
            ).collect()
        }
        views = raw.filter(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("u"), F.col("ts").alias("v_ts"))
        buys = raw.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("bu"), F.col("ts").alias("b_ts"))
        exp = {
            (r["view_id"], r["purchase_id"])
            for r in views.join(
                buys,
                (F.col("u") == F.col("bu"))
                & (F.col("b_ts") >= F.col("v_ts"))
                & (F.col("b_ts") <= F.col("v_ts")
                   + F.expr("INTERVAL 2 HOURS")),
                "left_outer").collect()
        }
        assert got == exp
        # every view appears at least once (outer semantics)
        n_views = views.count()
        assert len({v for v, _ in got}) == n_views


def test_transform_with_state_plan_builds(spark, sf_dir, tmp_path):
    """The transformWithStateInPandas plan must always BUILD (API
    wiring, schemas, processor class) even where the runtime deps for
    executing it are absent."""
    from engine.streaming import read_event_stream, running_user_totals_tws

    src = str(tmp_path / "src")
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .limit(10).write.parquet(src)
    df = running_user_totals_tws(read_event_stream(spark, src))
    assert [f.name for f in df.schema.fields] == [
        "user_id", "n_events", "total_value"]
    assert df.isStreaming


def test_transform_with_state_running_totals(spark, sf_dir):
    """Spark 4 transformWithStateInPandas: final per-user totals from
    the new StatefulProcessor API equal the batch aggregates (same
    contract as the applyInPandasWithState operator). Skipped where
    the state-server protocol deps (google.protobuf) are missing."""
    import tempfile

    import pytest

    from pyspark.sql import functions as F

    from engine.streaming import (read_event_stream,
                                  running_user_totals_tws, tws_available)

    if not tws_available():
        pytest.skip("transformWithState runtime needs google.protobuf, "
                    "absent in this container")

    # transformWithState requires the RocksDB state store provider
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        with tempfile.TemporaryDirectory() as wd:
            src = f"{wd}/src"
            raw = spark.read.parquet(f"{sf_dir}/events.parquet")
            raw.repartition(6).write.mode("overwrite").parquet(src)
            q = (
                running_user_totals_tws(read_event_stream(spark, src))
                .writeStream.outputMode("update")
                .format("memory").queryName("t_tws").start()
            )
            q.processAllAvailable()
            q.stop()
    finally:
        if old_prov is not None:
            spark.conf.set(prov_key, old_prov)
        else:
            spark.conf.unset(prov_key)
        # last update per user == batch totals
        final = {
            r["user_id"]: (r["n_events"], round(r["total_value"], 6))
            for r in spark.sql("""
                SELECT user_id, n_events, total_value FROM (
                  SELECT *, row_number() OVER (PARTITION BY user_id
                              ORDER BY n_events DESC) rn FROM t_tws
                ) WHERE rn = 1""").collect()
        }
        batch = {
            r["user_id"]: (r["n"], round(r["t"], 6))
            for r in raw.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("t")).collect()
        }
        assert set(final) == set(batch)
        for u in batch:
            assert final[u][0] == batch[u][0]
            assert abs(final[u][1] - batch[u][1]) < 1e-6


def test_stream_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once across restarts: a file-sink stream stopped and
    restarted from the same checkpoint neither loses nor duplicates
    rows — batch B, added while the query is down, is delivered once,
    and an idle restart appends nothing."""
    from pyspark.sql import functions as F

    from engine.io import parquet_schema, with_event_time

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = with_event_time(
        spark.read.parquet(f"{sf_dir}/events.parquet")).limit(400)
    a = raw.filter(F.col("event_id") % 2 == 0)
    b = raw.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.mode("overwrite").parquet(src)

    def run_once():
        events = with_event_time(
            spark.readStream.schema(
                parquet_schema(spark, src)).parquet(src))
        q = (events.select("event_id", "user_id", "value")
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").start())
        q.processAllAvailable()
        q.stop()

    run_once()                                   # processes batch A
    n1 = spark.read.parquet(out).count()
    b.coalesce(1).write.mode("append").parquet(src)   # B lands while down
    run_once()                                   # restart from checkpoint
    got = spark.read.parquet(out)
    n2 = got.count()
    run_once()                                   # idle restart: no growth
    n3 = spark.read.parquet(out).count()

    assert n1 == a.count()
    assert n2 == n1 + b.count()
    assert n3 == n2
    # no duplicates, exact content
    assert got.select("event_id").distinct().count() == n2
    exp = {r["event_id"] for r in raw.select("event_id").collect()}
    assert {r["event_id"] for r in got.collect()} == exp


def test_stream_sink_idempotent_replay_absorbed(spark, sf_dir):
    """The foreachBatch sink ran the bounded stream twice by
    construction; the committed batch directories must hold exactly
    one copy of the source (no .inprogress leftovers, row count ==
    |events|)."""
    import os

    from engine.io import memo
    from engine.registry import QUERIES, load_all

    load_all()
    QUERIES["q_stream_sink_idempotent"](spark, sf_dir).collect()
    sink = memo(spark, sf_dir, ("stream", "sink_idem"),
                lambda: pytest.fail("sink dir not memoized"))
    entries = os.listdir(sink)
    assert all(e.startswith("batch_id=") for e in entries), entries
    assert not any(e.endswith(".inprogress") for e in entries), entries
    n_sink = spark.read.parquet(sink).count()
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert n_sink == n_src


def test_fixture_has_no_exact_300s_session_gaps():
    """q_stream_interval_union's session_window is half-open (a gap of
    EXACTLY 300s starts a new session) while its batch oracle merges
    at s == prev_f — safe only while no consecutive per-user event
    pair is exactly 300s apart. Pin that fixture property at every
    committed scale so a regenerated fixture fails HERE, not in the
    driver's correctness window (ADVICE r5)."""
    import os

    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        p = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(p):
            continue
        n = duckdb.sql(f"""
            WITH g AS (
              SELECT user_id,
                     epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts) AS gap_us
              FROM '{p}')
            SELECT count(*) FROM g WHERE gap_us = 300 * 1000000
        """).fetchone()[0]
        assert n == 0, (
            f"{sf}: {n} exact-300s consecutive gaps — the "
            f"session_window/oracle boundary convention now diverges")


def test_capped_sessions_stateful_equals_batch(spark, sf_dir):
    """The applyInPandasWithState capped-sessionization twin
    (engine.streaming.capped_sessions_stateful) must reproduce the
    batch key q_session_capped exactly when the stream replays the
    events table in time order across multiple micro-batches — the
    custom-stateful proof the transformWithState twin cannot give in
    this container (round-13 VERDICT item 3).

    Replay discipline: events are split into 12 contiguous time
    slices written as separate files with strictly increasing mtimes;
    read_event_stream triggers at 4 files/batch, so session state
    crosses at least 2 micro-batch boundaries mid-session."""
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.registry import QUERIES, load_all
    from engine.streaming import capped_sessions_stateful, read_event_stream

    load_all()
    with tempfile.TemporaryDirectory() as wd:
        src = f"{wd}/src"
        os.makedirs(src)
        tbl = pq.read_table(f"{sf_dir}/events.parquet")
        order = pa.compute.sort_indices(
            tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")])
        tbl = tbl.take(order)
        n_slices, rows = 12, tbl.num_rows
        now = time.time()
        for i in range(n_slices):
            lo = i * rows // n_slices
            hi = (i + 1) * rows // n_slices
            p = f"{src}/slice-{i:03d}.parquet"
            pq.write_table(tbl.slice(lo, hi - lo), p)
            os.utime(p, (now + i, now + i))  # deterministic file order

        q = (
            capped_sessions_stateful(read_event_stream(spark, src))
            .writeStream.outputMode("update")
            .format("memory").queryName("t_sess_state").start()
        )
        q.processAllAvailable()
        q.stop()
        # n_events only grows within a (user, sess_idx); the final
        # session table is the max/min/max rollup of the update rows
        streamed = {
            (r.user_id, r.sess_idx): (r.n_events, r.start_us, r.end_us)
            for r in spark.sql("""
                SELECT user_id, sess_idx, max(n_events) AS n_events,
                       min(start_us) AS start_us, max(end_us) AS end_us
                FROM t_sess_state GROUP BY user_id, sess_idx
            """).collect()
        }
        batch = {
            (r.user_id, r.sess_idx): (r.n_events, r.start_us, r.end_us)
            for r in QUERIES["q_session_capped"](spark, sf_dir).collect()
        }
        assert streamed == batch


def test_capped_sessions_stateful_multichunk_group(spark):
    """A group LARGER than arrow maxRecordsPerBatch arrives at the
    applyInPandasWithState kernel as MULTIPLE Arrow chunks with no
    cross-chunk order guarantee (round-14 ADVICE, medium): the kernel
    must materialize all chunks before its time sort, or a
    reverse-ordered delivery misassigns sessions. This test forces
    the failure mode the fixture never exercises — one user, 40
    events written in REVERSE time order, maxRecordsPerBatch=5, a
    single micro-batch — and asserts the stateful result equals the
    pure-Python capped-session recursion over time-sorted events."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.queries.events import _SESS_CAP_US, _SESS_GAP_US
    from engine.io import with_event_time
    from engine.streaming import capped_sessions_stateful

    # 40 events: 3h spacing (crosses the 24h cap twice) plus one 9h
    # gap at index 20 (crosses the 8h inactivity split) — both
    # session-break branches exercised
    base = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z in us
    us, t = [], base
    for i in range(40):
        t += 9 * 3_600_000_000 if i == 20 else 3 * 3_600_000_000
        us.append(t)

    # expected sessions via the batch recursion
    sess, start, prev = 0, 0, 0
    expect: dict[tuple[int, int], tuple[int, int, int]] = {}
    for x in us:
        if sess == 0 or x - prev > _SESS_GAP_US or x - start > _SESS_CAP_US:
            sess += 1
            start = x
        prev = x
        n, smin, smax = expect.get((1, sess), (0, x, x))
        expect[(1, sess)] = (n + 1, min(smin, x), max(smax, x))

    tbl = pa.table({
        "event_id": pa.array(range(40), pa.int64()),
        "user_id": pa.array([1] * 40, pa.int64()),
        "ts": pa.array(list(reversed(us)), pa.timestamp("us")),
        "event_type": pa.array(["view"] * 40),
        "value": pa.array([1.0] * 40),
    })
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 5)
        with tempfile.TemporaryDirectory() as wd:
            src = f"{wd}/src"
            os.makedirs(src)
            pq.write_table(tbl, f"{src}/part-0.parquet")
            events = with_event_time(spark.readStream.schema(
                spark.read.parquet(src).schema).parquet(src))
            q = (capped_sessions_stateful(events)
                 .writeStream.outputMode("update")
                 .format("memory").queryName("t_sess_chunks").start())
            q.processAllAvailable()
            q.stop()
            got = {
                (r.user_id, r.sess_idx): (r.n_events, r.start_us, r.end_us)
                for r in spark.sql("""
                    SELECT user_id, sess_idx, max(n_events) AS n_events,
                           min(start_us) AS start_us,
                           max(end_us) AS end_us
                    FROM t_sess_chunks GROUP BY user_id, sess_idx
                """).collect()
            }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == expect
