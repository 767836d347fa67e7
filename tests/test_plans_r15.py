"""Round-15 behavior pins for the two perf/laziness fixes this round
made to session-level memoization:

1. q_tokenizer_apply's per-doc counts frame is memoized per
   (session, sf) — the BPE loading chain (budget -> mix -> pack ->
   ablation) composes it up to three times per downstream action, and
   the round-14 BENCH outliers were exactly this lineage recomputing
   per call. The pin asserts call identity (same DataFrame object),
   which only the memo can produce.
2. q_stream_session_capped's time-sliced stager is passed to
   _run_stream as a THUNK evaluated after the memo check — a memoized
   re-read must never pay the pyarrow sort + 12-slice write again
   (round-14 ADVICE). The pin primes the memo, then re-invokes the
   key with the stager monkeypatched to raise.

Also pinned here: plan_persist's one-generation-per-key contract, and
the shape of the stats folds that derive their totals instead of
persisting a shared frame (no crossJoin with a 1-row total).
"""
import pytest

from engine.registry import QUERIES, load_all

from test_plans import final_plan

load_all()

SF = "/root/testdata/sf0.001"


def test_tokenizer_apply_memoized_per_session(spark):
    a = QUERIES["q_tokenizer_apply"](spark, SF)
    b = QUERIES["q_tokenizer_apply"](spark, SF)
    assert a is b, "q_tokenizer_apply must return its session memo"
    # the memoized frame is persisted (a fit-shaped side-input): the
    # chain that composes it three times must read storage, not
    # recompute the corpus pass
    assert a.storageLevel.useMemory or a.storageLevel.useDisk


def test_stream_session_capped_staging_is_lazy(spark, monkeypatch):
    from engine.queries import streaming_q

    # prime the session memo (runs the stream + stager once)
    first = QUERIES["q_stream_session_capped"](spark, SF).count()
    assert first > 0

    def boom(sf, n_slices=12):
        raise AssertionError(
            "stager ran on a memoized re-read — the src thunk must "
            "only be evaluated when the stream actually executes")

    monkeypatch.setattr(
        streaming_q, "_stage_source_time_sliced", boom)
    again = QUERIES["q_stream_session_capped"](spark, SF).count()
    assert again == first


def test_plan_persist_unpersists_the_previous_generation(spark):
    """plan_persist holds one generation per key: it persists the
    frame it returns, and a second call with the same key unpersists
    the first one."""
    from pyspark import StorageLevel

    from engine.io import plan_persist, session_cache

    out1 = plan_persist(spark, "t15:gen", spark.range(10))
    assert out1.storageLevel != StorageLevel.NONE
    out2 = plan_persist(spark, "t15:gen", spark.range(11))
    assert out2.storageLevel != StorageLevel.NONE
    assert out1.storageLevel == StorageLevel.NONE  # GC'd generation
    gc = session_cache(spark, "_engine_plan_persist_gc")
    gc.pop("t15:gen").unpersist()  # leave the session clean


@pytest.mark.parametrize("key, n_bnlj", [
    ("q_kruskal_wallis", 0),
    ("q_levene_test", 0),
    # the horizon crossJoin onto the orders lead window
    ("q_survival_km", 1),
])
def test_stats_folds_need_no_total_crossjoin(spark, key, n_bnlj):
    """The k-row group folds of Kruskal-Wallis and Levene, and the
    Kaplan-Meier risk set, come from one aggregate (or one suffix
    window) over their shared frame, never from a crossJoin of that
    frame with a 1-row total of itself."""
    plan = final_plan(spark, key, "/root/testdata/sf0.01")
    assert plan.count("BroadcastNestedLoopJoin") == n_bnlj, plan
