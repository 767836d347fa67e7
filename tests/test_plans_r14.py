"""Round-14 behavior pins for q_stream_session_capped — the
arbitrary-stateful sessionization twin registered this round.

The correctness argument has three legs, each pinned separately:
1. the kernel really is the arbitrary-stateful API (not a window
   rewrite) and runs in update mode;
2. the replay source is the TIME-SLICED stager — cross-batch scan
   state is meaningless if batches can time-travel, so the key must
   never fall back to the unordered symlink stager;
3. the replay genuinely crosses micro-batch boundaries mid-session
   (otherwise the GroupState carry is never exercised and the test
   silently weakens to the one-batch case).
Value equality with the batch twin is the driver oracle's job (the
shared SESSION_CAPPED_ORACLE) plus the bit-equality pytest in
tests/test_streaming.py.
"""
import inspect
import os

from engine.registry import load_all

load_all()

SF = "/root/testdata/sf0.001"


def test_stream_session_capped_is_arbitrary_stateful():
    """The pipeline must be applyInPandasWithState in update mode —
    the one API that can express start-dependent session extension —
    and must NOT contain a session_window rewrite (which cannot)."""
    from engine import streaming
    from engine.queries import streaming_q

    qsrc = inspect.getsource(streaming_q.q_stream_session_capped)
    ksrc = inspect.getsource(streaming.capped_sessions_stateful)
    assert "capped_sessions_stateful" in qsrc
    assert '"update"' in qsrc
    assert "applyInPandasWithState" in ksrc
    assert 'outputMode="update"' in ksrc
    # no session_window CALL (the docstring may name it as the thing
    # this operator exists to surpass)
    assert "session_window(" not in ksrc


def test_stream_session_capped_uses_time_sliced_source():
    """The key must stage through _stage_source_time_sliced, never
    the unordered symlink stager: fixture part files are
    hash-partitioned, and an out-of-order batch would corrupt the
    cross-batch scan state undetectably on lucky fixtures."""
    from engine.queries import streaming_q

    qsrc = inspect.getsource(streaming_q.q_stream_session_capped)
    assert "_stage_source_time_sliced" in qsrc

    src_dir = streaming_q._stage_source_time_sliced(SF)
    slices = sorted(f for f in os.listdir(src_dir)
                    if f.endswith(".parquet"))
    assert len(slices) == 12
    # strictly increasing mtimes = deterministic file-source order
    mtimes = [os.path.getmtime(os.path.join(src_dir, f)) for f in slices]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # slices are contiguous in event time: each slice's max ts <= the
    # next slice's min ts
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    bounds = []
    for f in slices:
        t = pq.read_table(os.path.join(src_dir, f), columns=["ts"])
        bounds.append((pc.min(t["ts"]).as_py(), pc.max(t["ts"]).as_py()))
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2


def test_stream_session_capped_state_crosses_batches(spark):
    """At 12 slices / 4 files per trigger the replay is >=3
    micro-batches, and at least one session must span a batch
    boundary — i.e. some (user, sess_idx) must be emitted in MORE
    than one micro-batch with growing n_events. The memory sink keeps
    every update row, so a session updated across batches appears as
    >1 distinct n_events values for its (user, sess_idx)."""
    from engine.queries.streaming_q import _run_stream, \
        _stage_source_time_sliced
    from engine.streaming import capped_sessions_stateful

    def build(events):
        return capped_sessions_stateful(events), "update"

    name = _run_stream(spark, SF, "sess_capped", build,
                       src=_stage_source_time_sliced(SF))
    sink = spark.table(name)
    multi = (sink.groupBy("user_id", "sess_idx")
             .count().filter("count > 1").count())
    assert multi > 0, (
        "no session was updated across micro-batches — the GroupState "
        "carry path is not being exercised by this replay")


def test_stream_session_capped_slicing_invariance(spark):
    """The session assignment must be invariant to WHERE the
    micro-batch boundaries fall, as long as batches arrive in time
    order: a 5-slice replay (different boundary positions AND a
    different batch count than the registered 12-slice key) must
    produce the identical final session table."""
    from pyspark.sql import functions as F

    from engine.queries.streaming_q import _run_stream, \
        _stage_source_time_sliced
    from engine.streaming import capped_sessions_stateful

    def build(events):
        return capped_sessions_stateful(events), "update"

    def final(kind, n_slices):
        name = _run_stream(
            spark, SF, kind, build,
            src=_stage_source_time_sliced(SF, n_slices=n_slices))
        return {
            (r.user_id, r.sess_idx): (r.n_events, r.start_us, r.end_us)
            for r in spark.table(name)
            .groupBy("user_id", "sess_idx")
            .agg(F.max("n_events").alias("n_events"),
                 F.min("start_us").alias("start_us"),
                 F.max("end_us").alias("end_us")).collect()
        }

    assert final("sess_capped_s5", 5) == final("sess_capped", 12)


def test_stream_session_capped_rocksdb_state_store(spark):
    """State-backend independence: the sessionizer must produce the
    identical final table under the RocksDB state store provider (the
    production backend — bounded JVM heap, state spills to disk) as
    under the default HDFS-backed in-memory provider. Unlike
    transformWithState, applyInPandasWithState needs no protobuf
    state-server, so the RocksDB path is executable in this
    container."""
    from pyspark.sql import functions as F

    from engine.io import memo_drop
    from engine.queries.streaming_q import _run_stream, \
        _stage_source_time_sliced
    from engine.streaming import capped_sessions_stateful

    def build(events):
        return capped_sessions_stateful(events), "update"

    def final(kind):
        name = _run_stream(spark, SF, kind, build,
                           src=_stage_source_time_sliced(SF))
        return {
            (r.user_id, r.sess_idx): (r.n_events, r.start_us, r.end_us)
            for r in spark.table(name)
            .groupBy("user_id", "sess_idx")
            .agg(F.max("n_events").alias("n_events"),
                 F.min("start_us").alias("start_us"),
                 F.max("end_us").alias("end_us")).collect()
        }

    default = final("sess_capped")
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    memo_drop(spark, "stream", "sess_capped_rocks")
    try:
        spark.conf.set(
            prov_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        rocks = final("sess_capped_rocks")
    finally:
        if old is not None:
            spark.conf.set(prov_key, old)
        else:
            spark.conf.unset(prov_key)
    assert rocks == default
