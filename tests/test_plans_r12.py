"""Round-12 behavior pins for keys first registered in round 12:

q_sim_eval_lsh — the SRP-LSH bucket-width recall curve graded against
the exact brute-force truth (the q_sim_eval_ivf template applied to
the last ungraded candidate generator).
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.registry import QUERIES, load_all

load_all()


def test_sim_eval_lsh_recall_curve(spark, sf_dir):
    """The width curve must be coherent: one row per grid point
    (grid ∪ {production width}), exactly one is_production row at
    _lsh_nplanes, truth always the exact top-20, candidates capped at
    20 (the global cut), the production point at the ≥ 0.9 pin
    (matching tests/test_llm_quality.py's standing recall bound), and
    the narrowest bucket never beating the production width (the
    coarse trend — per-seed recall is NOT strictly monotone in b
    because each width draws its own plane matrix, so the pin is the
    endpoints, not the full ordering)."""
    from engine.queries.llm import _LSH_EVAL_NPLANES, _lsh_nplanes
    prod = _lsh_nplanes(spark, sf_dir)
    grid = sorted(set(_LSH_EVAL_NPLANES) | {prod})
    rows = {r["nplanes"]: r for r in
            QUERIES["q_sim_eval_lsh"](spark, sf_dir).collect()}
    assert sorted(rows) == grid
    assert [b for b, r in rows.items() if r["is_production"]] == [prod]
    for r in rows.values():
        assert r["n_truth"] == 20
        assert 0 <= r["n_candidates"] <= 20
        assert r["n_hit"] <= min(r["n_candidates"], r["n_truth"])
    assert rows[prod]["recall"] >= 0.9
    assert rows[max(grid)]["recall"] <= rows[prod]["recall"]


def test_sim_eval_lsh_production_width_matches_registered_key(
        spark, sf_dir):
    """The production-width pipeline the eval grades must be the
    REGISTERED q_sim_lsh_topk, pair for pair — the _ivf_topk_pairs
    no-drift discipline applied to _lsh_topk_pairs."""
    from engine.queries.llm import _lsh_nplanes, _lsh_topk_pairs
    prod = _lsh_nplanes(spark, sf_dir)
    reg = {(r["v1"], r["v2"]) for r in
           QUERIES["q_sim_lsh_topk"](spark, sf_dir).collect()}
    ours = {(r["v1"], r["v2"]) for r in
            _lsh_topk_pairs(spark, sf_dir, prod).collect()}
    assert reg == ours


def test_stream_dedup_incremental_equals_batch_twin(spark, sf_dir):
    """The streaming lane must emit EXACTLY the batch twin's verdict
    rows (same helpers, same oracle — the verbatim-composition
    discipline made observable), and the fixture must exercise both
    branches (duplicates found in the index AND novel docs)."""
    batch = {tuple(r) for r in
             QUERIES["q_dedup_incremental"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in
              QUERIES["q_stream_dedup_incremental"](spark, sf_dir)
              .collect()}
    assert stream == batch
    dup_flags = {r[2] for r in stream}
    assert dup_flags == {True, False}, (
        "fixture no longer exercises both dedup branches")


def test_stream_dedup_incremental_is_stateless_append():
    """The stream plan must stay stateless (append mode, no watermark
    or state store): determinism under ANY micro-batch split is the
    correctness argument, and stateless-ness is what guarantees it.
    Source-inspect the pipeline: its build function must hand
    _run_stream append mode, and the key must contain no stateful
    operator calls."""
    import inspect

    from engine.queries import streaming_q

    src = inspect.getsource(streaming_q.q_stream_dedup_incremental)
    assert 'return out, "append"' in src
    for stateful in ("withWatermark", "applyInPandasWithState",
                     "dropDuplicates", "groupBy"):
        assert stateful not in src, (
            f"{stateful} would make the emission micro-batch-"
            f"split-dependent")


def _hexpoly(md5hex: str) -> int:
    """Python replay of util.hexpoly_sql: BIGINT from the first 8 hex
    chars by positional arithmetic."""
    return int(md5hex[:8], 16)


def test_mix_schedule_epoch_and_tail_cross_pins(spark, sf_dir):
    """The manifest must reconcile EXACTLY with the registered
    planner: per source, full-pass rows = n_docs x full_epochs and
    full-pass tokens = n_tokens x full_epochs (every doc repeats
    whole epochs); every tail row carries epoch == full_epochs; and
    the tail keep set equals a hashlib replay of the md5 '#mix' grid
    at the planner's tail_ppm — the brute-force exact-replay
    discipline."""
    import hashlib
    from collections import Counter

    plan = {r["source"]: r for r in
            QUERIES["q_token_budget"](spark, sf_dir).collect()}
    rows = QUERIES["q_mix_schedule"](spark, sf_dir).collect()
    docs = {(r["doc_id"], r["source"]): r["n_tok"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "source",
                        "cast(size(split(text, ' ')) as long) as n_tok")
            .collect()}

    full_rows = Counter()
    full_toks = Counter()
    tails = set()
    for r in rows:
        p = plan[r["source"]]
        if r["is_tail"]:
            assert r["epoch"] == p["full_epochs"]
            tails.add((r["doc_id"], r["source"]))
        else:
            assert 0 <= r["epoch"] < p["full_epochs"]
            full_rows[r["source"]] += 1
            full_toks[r["source"]] += r["n_tok"]
    for s, p in plan.items():
        assert full_rows[s] == p["n_docs"] * p["full_epochs"], s
        assert full_toks[s] == p["n_tokens"] * p["full_epochs"], s

    expect_tails = set()
    for (doc_id, source), _ in docs.items():
        h = hashlib.md5(f"{doc_id}#mix".encode()).hexdigest()
        if _hexpoly(h) % 1000000 < plan[source]["tail_ppm"]:
            expect_tails.add((doc_id, source))
    assert tails == expect_tails
    assert tails, "fixture never exercises the tail pass"


def test_mix_schedule_plan_is_broadcast_and_exchange_free(
        spark, sf_dir):
    """Scale-shape pin: the planner table rides a broadcast hash
    join onto the corpus scan; the stream side is scan -> project ->
    generate with ZERO exchange (no SortMergeJoin, no
    CartesianProduct, no stream-side shuffle) — count semantic
    markers, not FileScan occurrences (cached-relation plan-print
    lesson)."""
    plan = (QUERIES["q_mix_schedule"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    for word in ("SortMergeJoin", "CartesianProduct",
                 "BatchEvalPython", "MapInPandas"):
        assert word not in plan, word


def test_sim_truth_shared_and_memoized(spark, sf_dir):
    """Both ANN evals grade against the SAME persisted truth frame:
    _sim_truth returns the identical (cached) plan object on repeat
    calls, so q_sim_eval_ivf and q_sim_eval_lsh cannot drift apart on
    the baseline (and the brute-force quadratic runs once, not once
    per eval key)."""
    from engine.queries.llm import _sim_truth
    t1 = _sim_truth(spark, sf_dir)
    t2 = _sim_truth(spark, sf_dir)
    assert t1 is t2
    assert t1.storageLevel.useMemory  # persisted, not recomputed


def test_isqrt_correction_exact_beyond_float_precision(spark):
    """q_token_budget's weight lane: floor(sqrt(double)) alone rounds
    WRONG once n_tokens crosses ~2^52; the one-step integer
    correction must equal math.isqrt on adversarial values in BOTH
    engines (round-11 ADVICE)."""
    import math

    import duckdb

    adversarial = [
        (2**30 + 1) ** 2 - 1,   # float sqrt rounds UP across the root
        (2**31 - 1) ** 2,       # exact square at the long boundary
        2**62 - 1, 2**52 + 1, 10**18 + 10**9, 4, 3, 1,
    ]
    corr = ("r + (CASE WHEN (r + 1) * (r + 1) <= n THEN 1 ELSE 0 END)"
            "  - (CASE WHEN r * r > n THEN 1 ELSE 0 END)")
    df = spark.createDataFrame([(n,) for n in adversarial], "n long")
    got_spark = [r["w"] for r in (
        df.selectExpr("n", "CAST(floor(sqrt(n)) AS BIGINT) AS r")
        .selectExpr("n", f"{corr} AS w").orderBy("n").collect())]
    got_duck = [r[0] for r in duckdb.sql(
        "SELECT " + corr + " AS w FROM ("
        "SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r"
        " FROM (SELECT unnest($ns) AS n)) ORDER BY n",
        params={"ns": adversarial}).fetchall()]
    want = [math.isqrt(n) for n in sorted(adversarial)]
    assert got_spark == want
    assert got_duck == want


def test_phash_truth_guard_trips_loudly(spark, sf_dir, monkeypatch):
    """The brute-force truth join must refuse inputs past the cap
    instead of planning an n^2 join (round-11 ADVICE)."""
    import pytest

    from engine.queries import multimodal as mm

    monkeypatch.setattr(mm, "_PHASH_TRUTH_MAX_DOCS", 1)
    with pytest.raises(ValueError, match="brute-force all-pairs"):
        QUERIES["q_dedup_eval_phash"](spark, sf_dir)


def test_memo_bound_evicts_least_recent_sf_group(spark):
    """A session keeps at most MEMO_KEEP_SF sf groups: touching one
    more evicts the least recently used group and unpersists its
    frames, bare or nested in a tuple/list; sf=None entries are
    session-wide and never evicted (the round-11 ADVICE bound)."""
    from engine.io import MEMO_KEEP_SF, memo

    class Frame:
        def __init__(self):
            self.unpersisted = False

        def unpersist(self):
            self.unpersisted = True

    s = spark.newSession()  # its own, empty memo store
    assert MEMO_KEEP_SF == 3
    wide, a, b, c = Frame(), Frame(), Frame(), Frame()
    memo(s, None, "k", lambda: wide)
    memo(s, "/sf_a/", "k", lambda: (a, "not-a-frame"))
    memo(s, "/sf_b", "k", lambda: [b])
    memo(s, "/sf_c", "k", lambda: c)
    assert memo(s, "/sf_b/", "k", lambda: None) == [b]  # hit, refresh
    assert not any(f.unpersisted for f in (a, b, c))
    memo(s, "/sf_d", "k", lambda: "d")  # a 4th sf evicts sf_a
    assert a.unpersisted
    assert not (b.unpersisted or c.unpersisted)
    assert memo(s, "/sf_a", "k", lambda: "rebuilt") == "rebuilt"
    assert c.unpersisted and not b.unpersisted  # LRU, not insertion
    assert memo(s, None, "k", lambda: None) is wide
    assert not wide.unpersisted


@pytest.mark.parametrize("key", [
    "q_tokenizer_apply",      # a persisted frame
    "q_quantile_bins",        # a Python value (the fitted edges)
    "q_stream_quality_gate",  # a memory-sink stream table
    "q_source_text",          # a staged artifact dir
])
def test_memo_hit_launches_no_spark_job(spark, sf_dir, key):
    """The second build of a memoized key in one session is a pure
    plan build: every fitted or staged side-input comes from the
    session memo, so no Spark job runs until the frame is acted on."""
    QUERIES[key](spark, sf_dir)
    sc = spark.sparkContext
    group = f"memo_hit_{key}"
    sc.setJobGroup(group, "second build")
    try:
        QUERIES[key](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_cold_bpe_fit_launches_one_spark_job(spark, sf_dir):
    """Over a materialized word-type table, a cold BPE fit is one
    Spark job: the collect of that table. The merge rounds run on the
    driver, not as two AQE jobs per round."""
    from engine.io import memo_drop
    from engine.queries.llm import _bpe_fit_pairs, _bpe_type_table

    _bpe_type_table(spark, sf_dir).count()
    memo_drop(spark, "bpe_merges")
    sc = spark.sparkContext
    group = "cold_bpe_fit"
    sc.setJobGroup(group, "cold fit")
    try:
        _bpe_fit_pairs(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_pack_schedule_tiling_and_epoch_major_order(spark, sf_dir):
    """The epoch-aware packing must (a) reconcile row-for-row with
    q_mix_schedule (same docs, same epochs — packing adds tiling, it
    never adds or drops schedule rows), (b) tile gaplessly per shard
    in (epoch, doc_id) order (replay the cumsum and recompute
    start/end/offset exactly), and (c) be epoch-major: within a
    shard, a doc of epoch e+1 never starts before the last epoch-e
    doc (the multi-pass curriculum order)."""
    from engine.queries.pipeline import _PACK_LEN, _PACK_SHARDS

    sched = sorted(
        ((r["doc_id"] % _PACK_SHARDS, r["epoch"], r["doc_id"],
          r["n_tok"])
         for r in QUERIES["q_mix_schedule"](spark, sf_dir).collect()))
    packed = {(r["shard"], r["epoch"], r["doc_id"]): r for r in
              QUERIES["q_pack_schedule"](spark, sf_dir).collect()}
    assert len(packed) == len(sched)

    cum = {}
    prev_epoch = {}
    for shard, epoch, doc_id, n_tok in sched:
        c = cum.get(shard, 0) + n_tok
        cum[shard] = c
        r = packed[(shard, epoch, doc_id)]
        assert r["n_tok"] == n_tok
        assert r["start_seq"] == (c - n_tok) // _PACK_LEN
        assert r["end_seq"] == (c - 1) // _PACK_LEN
        assert r["seq_offset"] == (c - n_tok) % _PACK_LEN
        assert epoch >= prev_epoch.get(shard, 0)
        prev_epoch[shard] = epoch
    assert any(e > 0 for _, e, _, _ in sched), (
        "fixture never schedules a second epoch — the epoch-major "
        "pin is vacuous")


def test_dedup_incremental_minhash_recrawl_identity(spark, sf_dir):
    """The near-dup gate must align with the exact gate's delta split
    and exercise both branches; and every %7 re-crawled doc whose
    original sits in the base (i.e. original %10 != 0 and >= 3 words)
    MUST hit — identical text gives identical signatures, so at least
    one band collides with the original's index rows, and dup_of is
    at most the original id."""
    rows = {r["doc_id"]: r for r in
            QUERIES["q_dedup_incremental_minhash"](spark, sf_dir)
            .collect()}
    exact = {r["doc_id"] for r in
             QUERIES["q_dedup_incremental"](spark, sf_dir).collect()}
    assert set(rows) == exact  # same delta universe, doc for doc
    flags = {r["is_near_dup"] for r in rows.values()}
    assert flags == {True, False}
    docs = {r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}
    checked = 0
    for doc_id, text in docs.items():
        if doc_id % 7 or doc_id % 10 == 0:
            continue  # not re-crawled, or original held out of base
        if len(text.split(" ")) < 3:
            continue  # no shingles -> no signature -> no claim
        r = rows[doc_id + 1000000000]
        assert r["is_near_dup"], doc_id
        assert r["dup_of"] <= doc_id
        checked += 1
    assert checked, "fixture has no re-crawled doc with a based twin"


def test_dedup_incremental_minhash_index_is_persisted(spark, sf_dir):
    """The base band index is the maintained artifact: memoized per
    (session, sf) and persisted, so a second invocation reuses it
    instead of recomputing the corpus signatures."""
    from engine.io import memo

    QUERIES["q_dedup_incremental_minhash"](spark, sf_dir)
    idx = memo(spark, sf_dir, "minhash_index",
               lambda: pytest.fail("base index not memoized"))
    assert idx.storageLevel.useMemory


def test_langid_eval_reconciles_with_verdicts(spark, sf_dir):
    """Every report row must equal a re-aggregation of the registered
    classifier's own verdicts (the q_dedup_report reconciliation
    discipline), the doc universe must balance (sum n_true == sum
    n_pred == |verdicts|), and the fixture must be non-vacuous (some
    language has an imperfect recall — otherwise the eval grades
    nothing)."""
    from collections import Counter

    verdicts = QUERIES["q_text_langid"](spark, sf_dir).collect()
    rep = {r["lang"]: r for r in
           QUERIES["q_langid_eval"](spark, sf_dir).collect()}
    true_c = Counter(v["lang"] for v in verdicts)
    pred_c = Counter(v["lang_guess"] for v in verdicts)
    correct_c = Counter(v["lang"] for v in verdicts if v["is_match"])
    assert set(rep) == set(true_c)
    for lang, r in rep.items():
        assert r["n_true"] == true_c[lang]
        assert r["n_pred"] == pred_c.get(lang, 0)
        assert r["n_correct"] == correct_c.get(lang, 0)
    assert sum(r["n_true"] for r in rep.values()) == len(verdicts)
    assert sum(r["n_pred"] for r in rep.values()) == len(verdicts)
    assert any(r["n_correct"] < r["n_true"] for r in rep.values()), (
        "classifier is perfect on the fixture — eval is vacuous")


def test_tokenizer_eval_curve_and_vocab_identity(spark, sf_dir):
    """The compression curve must be coherent: one row per grid
    budget, n_tokens strictly decreasing in k (every learned merge
    fires somewhere on the fixture), compression_ppm an exact-integer
    replay (1e6 * n_tokens // baseline), the k=0 row equal to the
    char-split baseline of the type table, and the production k=12
    total EQUAL to q_tokenizer_vocab's frequency-weighted occurrence
    sum (both are 'total tokens in the fully-merged corpus' — the
    lifecycle artifacts must agree)."""
    from engine.queries.llm import _BPE_EVAL_GRID

    rows = {r["n_merges"]: r for r in
            QUERIES["q_tokenizer_eval"](spark, sf_dir).collect()}
    assert sorted(rows) == sorted(_BPE_EVAL_GRID)
    base = rows[0]["n_tokens"]
    toks = [rows[k]["n_tokens"] for k in sorted(rows)]
    assert toks == sorted(toks, reverse=True)
    assert len(set(toks)) == len(toks), "a merge budget bought nothing"
    for r in rows.values():
        assert r["compression_ppm"] == 1000000 * r["n_tokens"] // base
        assert r["n_words"] == rows[0]["n_words"]
    vocab_total = sum(
        r["n"] for r in QUERIES["q_tokenizer_vocab"](spark, sf_dir)
        .collect())
    assert rows[max(rows)]["n_tokens"] == vocab_total


def test_stream_dedup_incremental_minhash_equals_batch_twin(
        spark, sf_dir):
    """The streaming near-dup lane must emit EXACTLY the batch twin's
    verdict rows — this pin is what certifies the row-local band
    computation (_band_structs_rowlocal) bit-matches the batch
    signature groupBy path (_band_frame), match set for match set."""
    batch = {tuple(r) for r in
             QUERIES["q_dedup_incremental_minhash"](spark, sf_dir)
             .collect()}
    stream = {tuple(r) for r in
              QUERIES["q_stream_dedup_incremental_minhash"](
                  spark, sf_dir).collect()}
    assert stream == batch
    assert {r[1] for r in stream} == {True, False}


def test_sim_eval_ivfpq_recall_curve(spark, sf_dir):
    """The shortlist curve must be coherent: one row per grid budget,
    exactly one production row at IVFPQ_SHORTLIST, sets top-20-sized,
    the endpoint trend non-decreasing (with exact refine scoring,
    recall is monotone in candidate-set inclusion and the per-cell
    cap grows with the budget), and the production row at the
    standing >= 0.6 recall bound (tests/test_queries.py pins 12/20
    for the registered key)."""
    from engine.queries.llm import (
        _IVFPQ_EVAL_SHORTLISTS, IVFPQ_SHORTLIST, _ivfpq_topk_pairs,
    )
    rows = {r["shortlist"]: r for r in
            QUERIES["q_sim_eval_ivfpq"](spark, sf_dir).collect()}
    assert sorted(rows) == sorted(_IVFPQ_EVAL_SHORTLISTS)
    assert [s for s, r in rows.items() if r["is_production"]] == [
        IVFPQ_SHORTLIST]
    for r in rows.values():
        assert r["n_truth"] == 20
        assert 0 <= r["n_candidates"] <= 20
    grid = sorted(rows)
    assert rows[grid[-1]]["recall"] >= rows[grid[0]]["recall"]
    assert rows[IVFPQ_SHORTLIST]["recall"] >= 0.6
    reg = {(r["v1"], r["v2"]) for r in
           QUERIES["q_sim_ivfpq_topk"](spark, sf_dir).collect()}
    ours = {(r["v1"], r["v2"]) for r in
            _ivfpq_topk_pairs(spark, sf_dir, IVFPQ_SHORTLIST)
            .collect()}
    assert reg == ours


def test_ingest_report_reconciles_with_gates(spark, sf_dir):
    """Every dashboard row must equal a re-aggregation of its
    registered gate's own emission (the q_contamination_report
    reconciliation discipline), and each gate must actually drop
    something on the fixture (n_kept < n_seen — a gate that filters
    nothing is vacuously summarized)."""
    rep = {r["gate"]: r for r in
           QUERIES["q_ingest_report"](spark, sf_dir).collect()}
    assert set(rep) == {"quality", "temperature", "contamination",
                        "dedup", "pii"}
    qg = QUERIES["q_stream_quality_gate"](spark, sf_dir).collect()
    assert rep["quality"]["n_seen"] == sum(r["n_docs"] for r in qg)
    assert rep["quality"]["n_kept"] == sum(r["n_keep"] for r in qg)
    tg = QUERIES["q_stream_temperature_gate"](spark, sf_dir).collect()
    assert rep["temperature"]["n_seen"] == sum(r["n_seen"] for r in tg)
    assert rep["temperature"]["n_kept"] == sum(r["n_kept"] for r in tg)
    cg = QUERIES["q_stream_contamination_gate"](
        spark, sf_dir).collect()
    assert rep["contamination"]["n_seen"] == sum(
        r["n_docs"] for r in cg)
    assert rep["contamination"]["n_kept"] == sum(
        r["n_docs"] - r["n_leaked"] for r in cg)
    dg = QUERIES["q_stream_dedup_incremental"](spark, sf_dir).collect()
    assert rep["dedup"]["n_seen"] == len(dg)
    assert rep["dedup"]["n_kept"] == sum(
        1 for r in dg if not r["is_dup"])
    pg = QUERIES["q_stream_pii_gate"](spark, sf_dir).collect()
    assert rep["pii"]["n_seen"] == sum(r["n_seen"] for r in pg)
    assert rep["pii"]["n_kept"] == sum(r["n_kept"] for r in pg)
    for gate, r in rep.items():
        assert r["n_kept"] < r["n_seen"], f"{gate} gate is vacuous"


def test_dp_histogram_mechanism_replay_and_suppression(spark, sf_dir):
    """The release must equal a from-scratch Python replay of the
    mechanism (exact bucket counts + the literal-threshold geometric
    noise off the md5 '#dph' uniform, τ-suppressed), and BOTH
    branches must be exercised on the fixture (some buckets released,
    some suppressed — the thresholding step is the point of the
    key)."""
    import hashlib
    from collections import Counter

    from engine.queries.curation import _DP_HIST_TAU, _DP_THS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("text").collect()
    counts = Counter(len(r["text"].split(" ")) for r in docs)

    def noise(bucket):
        u = int(hashlib.md5(f"{bucket}#dph".encode())
                .hexdigest()[:8], 16)
        for k, t in _DP_THS:
            if u < t:
                return k
        return _DP_THS[-1][0]

    expect = {b: max(n + noise(b), 0) for b, n in counts.items()}
    expect = {b: v for b, v in expect.items() if v >= _DP_HIST_TAU}
    got = {r["bucket"]: r["n_released"] for r in
           QUERIES["q_dp_histogram"](spark, sf_dir).collect()}
    assert got == expect
    assert len(got) < len(counts), "suppression branch is vacuous"
    assert got, "release is empty"


def test_r12_cohort_plan_hygiene(spark, sf_dir):
    """Executed-plan pins for the round-12 batch keys: no cartesian
    product and no row-at-a-time Python eval anywhere; the
    JVM-only designs additionally show no Pandas exchange; the
    DP histogram is exactly ONE exchange (the count aggregate —
    count semantic markers, not FileScans)."""
    jvm_only = ["q_mix_schedule", "q_pack_schedule", "q_langid_eval",
                "q_dp_histogram", "q_tokenizer_eval",
                "q_dedup_incremental_minhash"]
    for k in jvm_only:
        plan = (QUERIES[k](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for word in ("CartesianProduct", "BatchEvalPython",
                     "MapInPandas", "FlatMapGroupsInPandas"):
            assert word not in plan, (k, word)
    dp = (QUERIES["q_dp_histogram"](spark, sf_dir)
          ._jdf.queryExecution().executedPlan().toString())
    assert dp.count("Exchange") == 1


def test_mix_curriculum_reconciles_with_schedule_and_classifier(
        spark, sf_dir):
    """Every curriculum cell must equal a re-aggregation of the
    registered schedule joined to the registered classifier's own
    bucket cuts, the totals must balance to the full manifest, and
    the fixture must populate multiple epochs AND multiple buckets
    (a one-cell table grades nothing)."""
    from collections import Counter

    sched = QUERIES["q_mix_schedule"](spark, sf_dir).collect()
    buckets = {}
    for r in QUERIES["q_quality_classifier"](spark, sf_dir).collect():
        buckets[r["doc_id"]] = r["bucket"]
    cells_docs = Counter()
    cells_toks = Counter()
    for r in sched:
        cell = (r["epoch"], buckets[r["doc_id"]])
        cells_docs[cell] += 1
        cells_toks[cell] += r["n_tok"]
    got = {(r["epoch"], r["bucket"]): (r["n_docs"], r["n_tokens"])
           for r in QUERIES["q_mix_curriculum"](spark, sf_dir)
           .collect()}
    assert got == {c: (cells_docs[c], cells_toks[c])
                   for c in cells_docs}
    assert sum(v[0] for v in got.values()) == len(sched)
    assert len({e for e, _ in got}) > 1, "single-epoch fixture"
    assert len({b for _, b in got}) > 1, "single-bucket fixture"


# ---------------------------------------------- round-12b cohort
# (q_dedup_eval_simhash / q_shuffle_shards / q_interleave_sources /
#  q_pack_mask_spans / q_embed_dim_stats)


def test_r12b_cohort_plan_hygiene(spark, sf_dir):
    """Executed-plan pins for the second round-12 batch: the four
    production-path keys show no cartesian product and no Python
    eval of any kind; q_embed_dim_stats is exactly ONE exchange
    (the dimension groupBy — map-side partials in, d rows out).
    q_dedup_eval_simhash is deliberately absent: its candidate scan
    is a guarded fixture-grade all-pairs join (see its guard test)."""
    for k in ["q_shuffle_shards", "q_interleave_sources",
              "q_pack_mask_spans", "q_embed_dim_stats"]:
        plan = (QUERIES[k](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for word in ("CartesianProduct", "BatchEvalPython",
                     "MapInPandas", "FlatMapGroupsInPandas"):
            assert word not in plan, (k, word)
    dim = (QUERIES["q_embed_dim_stats"](spark, sf_dir)
           ._jdf.queryExecution().executedPlan().toString())
    assert dim.count("Exchange") == 1


def test_dedup_eval_simhash_curve(spark, sf_dir):
    """The Hamming tuning table must be coherent: one row per grid
    cutoff; candidates, hits and recall all non-decreasing in the
    cutoff (a wider ball only adds pairs — unlike the per-seed LSH
    widths this IS exactly monotone, same signatures throughout);
    truth constant, positive, and equal to the registered
    q_dedup_ngram_jaccard pair count; hits bounded by both sides;
    and the d=0 candidate count equal to the exact signature-
    collision pair count (sum of C(n,2) over simhash groups) — the
    all-pairs scan cross-checked against a groupBy identity."""
    from engine.queries.llm import _SIMHAM_GRID

    rows = {r["ham_max"]: r for r in
            QUERIES["q_dedup_eval_simhash"](spark, sf_dir).collect()}
    assert sorted(rows) == _SIMHAM_GRID
    truth_n = QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).count()
    assert truth_n > 0
    prev_c = prev_h = -1
    for d in _SIMHAM_GRID:
        r = rows[d]
        assert r["n_truth"] == truth_n
        assert r["n_hit"] <= min(r["n_candidates"], r["n_truth"])
        assert r["n_candidates"] >= prev_c
        assert r["n_hit"] >= prev_h
        prev_c, prev_h = r["n_candidates"], r["n_hit"]
    assert rows[max(_SIMHAM_GRID)]["recall"] >= rows[0]["recall"]
    assert rows[max(_SIMHAM_GRID)]["n_hit"] > 0, "vacuous curve"
    groups = (QUERIES["q_dedup_simhash"](spark, sf_dir)
              .groupBy("simhash").count().collect())
    exact_pairs = sum(r["count"] * (r["count"] - 1) // 2
                      for r in groups)
    assert rows[0]["n_candidates"] == exact_pairs


def test_dedup_eval_simhash_truth_guard(spark, sf_dir, monkeypatch):
    """The deliberate all-pairs scan must refuse inputs past its cap
    (the q_dedup_eval_phash row-count-guard discipline) — fail loudly
    before planning n(n-1)/2 pairs, never hang an executor pool."""
    import pytest

    from engine.queries import llm

    monkeypatch.setattr(llm, "_SIMHAM_TRUTH_MAX_DOCS", 1)
    with pytest.raises(ValueError, match="all-pairs"):
        QUERIES["q_dedup_eval_simhash"](spark, sf_dir)


def test_shuffle_shards_is_deterministic_permutation(spark, sf_dir):
    """The shuffle manifest must be a permutation (every doc exactly
    once; per-shard positions contiguous from 1), reproducible call
    to call, content-independent — and actually SHUFFLED: within a
    shard the key order must not be the doc_id order (md5 keys are
    order-free by construction; a sorted-by-doc_id 'shuffle' would
    mean the seed tag fell out of the key)."""
    rows = QUERIES["q_shuffle_shards"](spark, sf_dir).collect()
    n = len(rows)
    assert len({r["doc_id"] for r in rows}) == n
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= set(range(16))
    scrambled = 0
    for shard, rs in by_shard.items():
        pos = sorted(r["shard_pos"] for r in rs)
        assert pos == list(range(1, len(rs) + 1)), shard
        order = [r["doc_id"] for r in
                 sorted(rs, key=lambda r: r["shard_pos"])]
        if order != sorted(order):
            scrambled += 1
    assert scrambled > 0, "shard order degenerate: doc_id order"
    again = QUERIES["q_shuffle_shards"](spark, sf_dir).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in rows}


def test_interleave_matches_exact_fraction_replay(spark, sf_dir):
    """The closed-form BIGINT rank must equal an exact-rational
    replay of stride scheduling: v(s, p) = (2p-1)/(2*w_s) computed
    with Fractions, rank = |{picks with v' <= v}| (ties counted both
    ways — the documented shared-rank semantics). Also pins the
    weights to the per-source token totals and the within-source rank
    order to src_pos order."""
    from fractions import Fraction

    rows = QUERIES["q_interleave_sources"](spark, sf_dir).collect()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = {r["source"]: r["wt"] for r in
         d.select("source", F.size(F.split("text", " ")).alias("n"))
         .groupBy("source").agg(F.sum("n").alias("wt")).collect()}
    vs = [Fraction(2 * r["src_pos"] - 1, 2 * w[r["source"]])
          for r in rows]
    svs = sorted(vs)
    import bisect
    for r, v in zip(rows, vs):
        assert r["global_rank"] == bisect.bisect_right(svs, v), r
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for rs in by_source.values():
        rs.sort(key=lambda r: r["src_pos"])
        ranks = [r["global_rank"] for r in rs]
        assert ranks == sorted(ranks)
        assert len(set(ranks)) == len(ranks)


def test_pack_mask_spans_reconciles_with_packing(spark, sf_dir):
    """The per-sequence mask view must reconcile with the packing it
    composes: per shard, fill totals == q_pack_efficiency's token
    totals, sequence counts == n_seqs, doc multiplicity == manifest
    spans; every fill within (0, 512]; and the boundary flags must
    CHAIN — sequence s ends mid-doc iff sequence s+1 begins mid-doc
    (the same crossing seen from both sides), with sequence 0 never
    beginning mid-doc."""
    spans = QUERIES["q_pack_mask_spans"](spark, sf_dir).collect()
    eff = {r["shard"]: r for r in
           QUERIES["q_pack_efficiency"](spark, sf_dir).collect()}
    man = QUERIES["q_pack_sequences"](spark, sf_dir).collect()
    by_shard = {}
    for r in spans:
        by_shard.setdefault(r["shard"], {})[r["seq_id"]] = r
    exp_docs = {}
    for m in man:
        exp_docs[m["shard"]] = (exp_docs.get(m["shard"], 0)
                                + m["end_seq"] - m["start_seq"] + 1)
    assert set(by_shard) == set(eff)
    for shard, seqs in by_shard.items():
        assert sorted(seqs) == list(range(len(seqs)))
        assert len(seqs) == eff[shard]["n_seqs"]
        assert sum(r["fill_tokens"] for r in seqs.values()) \
            == eff[shard]["n_tokens"]
        assert sum(r["n_docs"] for r in seqs.values()) \
            == exp_docs[shard]
        assert not seqs[0]["begins_mid_doc"]
        for s in range(len(seqs)):
            r = seqs[s]
            assert 0 < r["fill_tokens"] <= 512
            if s + 1 in seqs:
                assert r["ends_mid_doc"] \
                    == seqs[s + 1]["begins_mid_doc"], (shard, s)


def test_embed_dim_stats_matches_numpy_replay(spark, sf_dir):
    """Every published statistic must equal a from-scratch numpy
    replay under the engine's own scaled-BIGINT conventions — mean
    and std through the exact integer sums then the shared IEEE
    expression and 1e-6 quantization, min/max as raw float-widened
    doubles, n_zero in the same scaled lane."""
    import math

    import numpy as np

    rows = {r["pos"]: r for r in
            QUERIES["q_embed_dim_stats"](spark, sf_dir).collect()}
    emb = np.stack([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding").collect()])
    n, dims = emb.shape
    assert sorted(rows) == list(range(dims))
    sv = np.floor(emb * 1e6 + 0.5).astype(np.int64)
    for pos in range(dims):
        r = rows[pos]
        assert r["n_vecs"] == n
        mu = sv[:, pos].sum() / n / 1e6
        sig = math.sqrt((sv[:, pos] ** 2).sum() / n / 1e12 - mu * mu)
        assert r["mean_val"] == math.floor(mu * 1e6 + 0.5) / 1e6
        assert r["std_val"] == math.floor(sig * 1e6 + 0.5) / 1e6
        assert r["vmin"] == emb[:, pos].min()
        assert r["vmax"] == emb[:, pos].max()
        assert r["n_zero"] == int((sv[:, pos] == 0).sum())


# ---------------------------------------------- round-12c cohort
# (q_embed_outlier_vecs / q_file_skipping_stats /
#  q_minhash_calibration / q_contamination_bloom_eval)


def test_r12c_cohort_plan_hygiene(spark, sf_dir):
    """No cartesian product and no Python eval in any of the four
    wave-3 keys — the calibration and bloom evals are equi-join-only
    BY DESIGN (candidate-bounded verification, never all-pairs), so
    unlike the simhash eval they carry the full hygiene pin."""
    for k in ["q_embed_outlier_vecs", "q_file_skipping_stats",
              "q_minhash_calibration", "q_contamination_bloom_eval"]:
        plan = (QUERIES[k](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for word in ("CartesianProduct", "BatchEvalPython",
                     "MapInPandas", "FlatMapGroupsInPandas"):
            assert word not in plan, (k, word)


def test_embed_outlier_vecs_matches_numpy_replay(spark, sf_dir):
    """Norms, moments, z-scores and flags all reproduce from scratch
    under the engine's scaled-BIGINT + shared-IEEE-expression rules;
    the fixture must flag some vectors but not most."""
    import math

    import numpy as np

    rows = {r["vec_id"]: r for r in
            QUERIES["q_embed_outlier_vecs"](spark, sf_dir).collect()}
    recs = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .select("vec_id", "embedding").collect())
    nsq = {}
    for r in recs:
        s = np.floor(np.asarray(r["embedding"], dtype=np.float64)
                     * 1e6 + 0.5).astype(np.int64)
        nsq[r["vec_id"]] = int((s * s).sum())
    vals = list(nsq.values())
    n = len(vals)
    mu = float(sum(vals)) / float(n)
    sig = math.sqrt(float(sum(v * v for v in vals)) / float(n)
                    - mu * mu)
    flagged = 0
    for vid, v in nsq.items():
        r = rows[vid]
        assert r["norm_sq"] == math.floor(v / 1e12 * 1e6 + 0.5) / 1e6
        z = math.floor((v - mu) / sig * 1e4 + 0.5) / 1e4
        assert r["z"] == z
        assert r["is_outlier"] == (abs(z) > 2.0)
        flagged += r["is_outlier"]
    assert 0 < flagged < n // 2


def test_file_skipping_stats_matches_cell_replay(spark, sf_dir):
    """Every row reproduces from the registered q_zorder_cells
    bounding boxes under the conservative disjointness test, and
    every predicate must land strictly BETWEEN 0 and total (a 0% or
    100% row grades nothing about the layout)."""
    from engine.queries.pipeline import _SKIP_PREDS

    cells = QUERIES["q_zorder_cells"](spark, sf_dir).collect()
    got = {r["predicate"]: r for r in
           QUERIES["q_file_skipping_stats"](spark, sf_dir).collect()}
    assert sorted(got) == sorted(p[0] for p in _SKIP_PREDS)
    for name, ul, uh, vl, vh in _SKIP_PREDS:
        skipped = rows_skipped = total = 0
        for c in cells:
            skip = False
            if ul is not None:
                skip = skip or c["ub_max"] < ul or c["ub_min"] > uh
            if vl is not None:
                skip = skip or c["vb_max"] < vl or c["vb_min"] > vh
            skipped += skip
            rows_skipped += c["n"] if skip else 0
            total += c["n"]
        r = got[name]
        assert r["n_cells"] == len(cells)
        assert r["n_skipped"] == skipped
        assert r["rows_total"] == total
        assert r["rows_skipped"] == rows_skipped
        assert r["skip_ppm"] == 1000000 * rows_skipped // total
        assert 0 < r["n_skipped"] < r["n_cells"], name


def _py_shingle_hashes(text):
    import hashlib

    ws = text.split(" ")
    out = set()
    for i in range(len(ws) - 2):
        s = " ".join(ws[i:i + 3])
        out.add(int(hashlib.md5(s.encode()).hexdigest()[:8], 16))
    return out


def test_minhash_calibration_matches_python_replay(spark, sf_dir):
    """The full calibration table reproduces from scratch: shingle
    sets, the 8 (a*h+b) % P signatures, per-pair agreement counts
    over all-pairs (the replay may brute-force; the engine may not),
    exact Jaccard over the SAME distinct-shingle universe, and the
    quantized bucket means. Also pins the measured shape the
    docstring claims: the top bucket's mean Jaccard is high and the
    bottom bucket's sits far below its naive estimate (the
    selection-bias regime)."""
    from engine.queries.llm import _AB, _P

    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}
    sh = {d: _py_shingle_hashes(t) for d, t in docs.items()
          if len(t.split(" ")) >= 3}
    sig = {d: tuple(min((a * h + b) % _P for h in hs)
                    for a, b in _AB)
           for d, hs in sh.items() if hs}
    buckets = {}
    ids = sorted(sig)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            nm = sum(x == y for x, y in zip(sig[d1], sig[d2]))
            if not nm:
                continue
            inter = len(sh[d1] & sh[d2])
            jac = inter / (len(sh[d1]) + len(sh[d2]) - inter)
            n, sj = buckets.get(nm, (0, 0))
            buckets[nm] = (n + 1, sj + math_floor(jac * 1e6 + 0.5))
    got = {r["n_match"]: r for r in
           QUERIES["q_minhash_calibration"](spark, sf_dir).collect()}
    assert sorted(got) == sorted(buckets)
    for nm, (n, sj) in buckets.items():
        r = got[nm]
        assert r["n_pairs"] == n
        assert r["est_jaccard"] == math_floor(nm / 8.0 * 1e6 + 0.5) / 1e6
        assert r["mean_jaccard"] == math_floor(
            sj / n / 1e6 * 1e6 + 0.5) / 1e6
    top = max(buckets)
    assert got[top]["mean_jaccard"] >= 0.5
    assert got[min(buckets)]["mean_jaccard"] \
        < got[min(buckets)]["est_jaccard"] / 2


def math_floor(x):
    import math

    return math.floor(x)


def test_contamination_bloom_eval_matches_python_replay(spark, sf_dir):
    """Counts for every filter size reproduce from a from-scratch
    bloom replay (positions, fill, probes); members never fail
    (n_pass >= n_true at every size); false positives are
    non-increasing in m and the largest size must improve on the
    smallest (otherwise the grid grades nothing)."""
    import hashlib

    from engine.queries.curation import _BLOOM_K, _BLOOM_SIZES

    docs = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}
    def grams(text):
        ws = text.split(" ")
        return {hashlib.md5(" ".join(ws[i:i + 4]).encode()).hexdigest()
                for i in range(len(ws) - 3)} if len(ws) >= 4 else set()
    hold, corp = set(), set()
    for d, t in docs.items():
        (hold if d % 97 == 0 else corp).update(grams(t))
    def pos(gh, j, m):
        return int(hashlib.md5(f"{gh}#b{j}".encode())
                   .hexdigest()[:8], 16) % m
    got = {r["m_bits"]: r for r in
           QUERIES["q_contamination_bloom_eval"](spark, sf_dir)
           .collect()}
    assert sorted(got) == sorted(_BLOOM_SIZES)
    prev_pass = None
    for m in sorted(_BLOOM_SIZES):
        bits = {pos(gh, j, m) for gh in hold for j in range(_BLOOM_K)}
        n_pass = sum(
            all(pos(gh, j, m) in bits for j in range(_BLOOM_K))
            for gh in corp)
        r = got[m]
        assert r["n_tested"] == len(corp)
        assert r["n_true"] == len(corp & hold)
        assert r["n_pass"] == n_pass
        assert r["n_pass"] >= r["n_true"]
        if prev_pass is not None:
            assert r["n_pass"] <= prev_pass
        prev_pass = r["n_pass"]
    assert got[max(_BLOOM_SIZES)]["n_pass"] \
        < got[min(_BLOOM_SIZES)]["n_pass"], "size grid grades nothing"


# ---------------------------------------------- round-12d cohort
# (q_pii_report / q_stream_pii_gate + the 5-gate ingest report)


def test_pii_report_matches_regex_replay(spark, sf_dir):
    """Every report cell reproduces from a from-scratch Python regex
    replay of the shared density kernel plus the registered
    redaction's own match counts; the quarantine cut must split the
    corpus (both branches populated globally — the screen exists to
    route a real tail)."""
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text").collect()
    email = re.compile("[a-zA-Z0-9._]+@[a-zA-Z0-9.]+")
    num = re.compile("[0-9]+")
    from collections import Counter

    from engine.queries.curation import _PII_TAU

    n_docs = Counter()
    quar = Counter()
    emails = Counter()
    nums = Counter()
    for r in docs:
        t = (f"{r['text']} contact user{r['doc_id']}@example.com"
             f" or 555-{r['doc_id'] % 10000}")
        stripped = num.sub("", email.sub("", t))
        density = 1000000 * (len(t) - len(stripped)) // len(t)
        n_docs[r["source"]] += 1
        quar[r["source"]] += density > _PII_TAU
        t1 = email.sub("<EMAIL>", t)
        emails[r["source"]] += len(email.findall(t))
        nums[r["source"]] += len(num.findall(t1))
    got = {r["source"]: r for r in
           QUERIES["q_pii_report"](spark, sf_dir).collect()}
    assert sorted(got) == sorted(n_docs)
    for s in n_docs:
        r = got[s]
        assert r["n_docs"] == n_docs[s]
        assert r["n_emails"] == emails[s]
        assert r["n_nums"] == nums[s]
        assert r["n_quarantined"] == quar[s]
        assert r["quarantine_ppm"] == 1000000 * quar[s] // n_docs[s]
    total_q = sum(quar.values())
    assert 0 < total_q < sum(n_docs.values()), "quarantine cut vacuous"


def test_stream_pii_gate_equals_batch_kernel(spark, sf_dir):
    """The streaming gate's emission must equal a batch re-aggregation
    of the SAME shared density kernel over the same table (the
    stream==batch certification every gate twin carries), and the
    fixture must exercise both branches."""
    from engine.queries.curation import _PII_TAU, pii_density

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = {r["source"]: (r["n_seen"], r["n_kept"]) for r in
             pii_density(d).groupBy("source").agg(
                 F.count(F.lit(1)).alias("n_seen"),
                 F.count(F.when(F.col("density_ppm") <= _PII_TAU, 1))
                 .alias("n_kept")).collect()}
    stream = {r["source"]: (r["n_seen"], r["n_kept"]) for r in
              QUERIES["q_stream_pii_gate"](spark, sf_dir).collect()}
    assert stream == batch
    assert any(k < s for s, k in stream.values())
    assert any(k > 0 for _, k in stream.values())


# ---------------------------------------------- round-12e cohort
# (q_shuffle_epoch / q_span_corruption_mask)


def test_r12e_cohort_plan_hygiene(spark, sf_dir):
    """No cartesian product, no Python eval, in either wave-5 key."""
    for k in ["q_shuffle_epoch", "q_span_corruption_mask"]:
        plan = (QUERIES[k](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for word in ("CartesianProduct", "BatchEvalPython",
                     "MapInPandas", "FlatMapGroupsInPandas"):
            assert word not in plan, (k, word)


def test_shuffle_epoch_is_per_epoch_permutation_and_reshuffles(
        spark, sf_dir):
    """Per epoch: exactly the scheduled instances, once each, with
    contiguous per-shard positions; ACROSS epochs the order must
    actually differ (the reshuffle-every-epoch contract — if two
    epochs list their common docs in the same relative order, the
    epoch salt fell out of the key)."""
    sched = QUERIES["q_mix_schedule"](spark, sf_dir).collect()
    rows = QUERIES["q_shuffle_epoch"](spark, sf_dir).collect()
    assert len(rows) == len(sched)
    from collections import defaultdict
    want = defaultdict(set)
    for r in sched:
        want[r["epoch"]].add((r["doc_id"], r["is_tail"]))
    got = defaultdict(set)
    by_epoch_shard = defaultdict(list)
    for r in rows:
        got[r["epoch"]].add((r["doc_id"], r["is_tail"]))
        by_epoch_shard[(r["epoch"], r["shard"])].append(r)
    assert {e: s for e, s in got.items()} == dict(want)
    for (e, sh), rs in by_epoch_shard.items():
        pos = sorted(r["shard_pos"] for r in rs)
        assert pos == list(range(1, len(rs) + 1)), (e, sh)

    def order(epoch):
        rs = [r for r in rows if r["epoch"] == epoch]
        rs.sort(key=lambda r: (r["shard"], r["shard_pos"]))
        return [r["doc_id"] for r in rs]

    epochs = sorted({r["epoch"] for r in rows})
    assert len(epochs) > 1, "single-epoch fixture grades no reshuffle"
    o0, o1 = order(epochs[0]), order(epochs[1])
    common = set(o0) & set(o1)
    seq0 = [d for d in o0 if d in common]
    seq1 = [d for d in o1 if d in common]
    assert seq0 != seq1, "epochs share one permutation"


def test_span_corruption_matches_hashlib_replay(spark, sf_dir):
    """The full span manifest reproduces from a hashlib replay of the
    position grid (mask -> merge adjacent runs -> number sentinels),
    spans are disjoint, in-bounds and never adjacent (adjacent masked
    positions must have merged), and global coverage sits near the
    configured rate."""
    import hashlib

    from engine.queries.pipeline import _SC_RATE

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .selectExpr("doc_id", "size(split(text, ' ')) as n",
                    "length(text) as lt").collect()
    expect = {}
    total_tok = total_masked = 0
    for r in docs:
        if r["lt"] == 0:
            continue
        total_tok += r["n"]
        masked = [pos for pos in range(1, r["n"] + 1)
                  if int(hashlib.md5(f"{r['doc_id']}#sc{pos}".encode())
                         .hexdigest()[:8], 16) % 100 < _SC_RATE]
        total_masked += len(masked)
        spans, start, prev = [], None, None
        for pos in masked:
            if start is None:
                start = prev = pos
            elif pos == prev + 1:
                prev = pos
            else:
                spans.append((start, prev - start + 1))
                start = prev = pos
        if start is not None:
            spans.append((start, prev - start + 1))
        for sid, (st, ln) in enumerate(spans):
            expect[(r["doc_id"], sid)] = (st, ln)
    got = {(r["doc_id"], r["sentinel_id"]): (r["span_start"],
                                             r["span_len"])
           for r in QUERIES["q_span_corruption_mask"](spark, sf_dir)
           .collect()}
    assert got == expect
    assert 0.10 < total_masked / total_tok < 0.20
    by_doc = {}
    for (d, sid), (st, ln) in got.items():
        by_doc.setdefault(d, []).append((st, ln))
    for d, spans in by_doc.items():
        spans.sort()
        for (s1, l1), (s2, _) in zip(spans, spans[1:]):
            assert s1 + l1 < s2, (d, spans)  # disjoint AND non-adjacent


def test_pack_shuffled_matches_tiling_replay(spark, sf_dir):
    """The end-of-chain packing must equal a Python tiling replay
    over the registered shuffle's own order: walk each (epoch,
    shard) stream in shard_pos order, accumulate tokens, and derive
    every manifest column; the plan must add NO exchange beyond the
    shuffle's (epoch/shard-keyed window over the composed manifest
    — no new SortMergeJoin, no cartesian, no Python eval)."""
    sh = QUERIES["q_shuffle_epoch"](spark, sf_dir).collect()
    got = {(r["doc_id"], r["epoch"]): r for r in
           QUERIES["q_pack_shuffled"](spark, sf_dir).collect()}
    assert len(got) == len(sh)
    from collections import defaultdict
    streams = defaultdict(list)
    for r in sh:
        streams[(r["epoch"], r["shard"])].append(r)
    k = 512
    for (e, s), rs in streams.items():
        rs.sort(key=lambda r: r["shard_pos"])
        cum = 0
        for r in rs:
            cum += r["n_tok"]
            g = got[(r["doc_id"], e)]
            assert g["shard"] == s
            assert g["start_seq"] == (cum - r["n_tok"]) // k
            assert g["end_seq"] == (cum - 1) // k
            assert g["seq_offset"] == (cum - r["n_tok"]) % k
    plan = (QUERIES["q_pack_shuffled"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    for word in ("SortMergeJoin", "CartesianProduct",
                 "BatchEvalPython", "MapInPandas"):
        assert word not in plan, word


def test_quality_drift_matches_python_psi_replay(spark, sf_dir):
    """Every PSI reproduces from a from-scratch replay over the
    REGISTERED classifier's own buckets (smoothed probabilities,
    math.log terms, 1e-6 per-term quantization, exact integer sum),
    and the drifted flag equals the quantized score's threshold cut.
    Also plan hygiene: no cartesian of corpus-sized inputs and no
    Python eval (the grid/baseline cross joins are broadcast 1-to-3
    row frames)."""
    import math

    docs = {r["doc_id"]: r["source"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source").collect()}
    buckets = {r["doc_id"]: r["bucket"] for r in
               QUERIES["q_quality_classifier"](spark, sf_dir)
               .collect()}
    from collections import Counter
    sb = Counter()
    ns = Counter()
    nb = Counter()
    for d, src in docs.items():
        b = buckets[d]
        sb[(src, b)] += 1
        ns[src] += 1
        nb[b] += 1
    n = len(docs)
    got = {r["source"]: r for r in
           QUERIES["q_quality_drift"](spark, sf_dir).collect()}
    assert sorted(got) == sorted(ns)
    for src in ns:
        tq = 0
        for b in ("low", "mid", "high"):
            p_sb = (sb[(src, b)] + 1) / (ns[src] + 3)
            p_b = (nb[b] + 1) / (n + 3)
            tq += math.floor((p_sb - p_b) * math.log(p_sb / p_b)
                             * 1e6 + 0.5)
        r = got[src]
        assert r["n_docs"] == ns[src]
        assert r["psi"] == tq / 1e6, src
        assert r["psi"] >= 0  # PSI is a divergence
        assert r["drifted"] == (r["psi"] > 0.1)
    plan = (QUERIES["q_quality_drift"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    for word in ("BatchEvalPython", "MapInPandas"):
        assert word not in plan, word


def test_batch_by_length_matches_hashlib_replay(spark, sf_dir):
    """The full batching manifest reproduces from scratch: literal
    bucket edges, in-bucket md5 order, fixed batch capacity, dynamic
    per-batch padding target. Every batch must be bucket-homogeneous
    with dense positions, and the padding target must never exceed
    the bucket edge (the bound that makes length-bucketing pay)."""
    import hashlib
    from collections import defaultdict

    from engine.queries.pipeline import _LB_BATCH, _LB_EDGES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .selectExpr("doc_id", "size(split(text, ' ')) as n_tok",
                    "length(text) as lt").collect()
    def bucket(n):
        for e in _LB_EDGES:
            if n <= e:
                return e
        return _LB_EDGES[-1] * 2
    per_bucket = defaultdict(list)
    for r in docs:
        if r["lt"] == 0:
            continue
        key = int(hashlib.md5(f"{r['doc_id']}#lb".encode())
                  .hexdigest()[:8], 16)
        per_bucket[bucket(r["n_tok"])].append(
            (key, r["doc_id"], r["n_tok"]))
    expect = {}
    for b, rs in per_bucket.items():
        rs.sort()
        for i, (_, d, n) in enumerate(rs):
            expect[d] = (n, b, i // _LB_BATCH, i % _LB_BATCH)
    got = {r["doc_id"]: r for r in
           QUERIES["q_batch_by_length"](spark, sf_dir).collect()}
    assert sorted(got) == sorted(expect)
    batches = defaultdict(list)
    for d, r in got.items():
        n, b, bid, pos = expect[d]
        assert (r["n_tok"], r["bucket"], r["batch_id"],
                r["pos_in_batch"]) == (n, b, bid, pos), d
        batches[(r["bucket"], r["batch_id"])].append(r)
    for (b, bid), rs in batches.items():
        assert sorted(r["pos_in_batch"] for r in rs) \
            == list(range(len(rs)))
        top = max(r["n_tok"] for r in rs)
        for r in rs:
            assert r["pad_to"] == top
            assert r["pad_to"] <= b
    assert len({b for b, _ in batches}) > 1, "single-bucket fixture"


def test_stream_quality_drift_equals_batch_twin(spark, sf_dir):
    """The live PSI view (batch projection over the streaming gate's
    own counts) must emit EXACTLY the batch monitor's rows — the
    stream==batch certification, made direct (both already hash
    against the same composed oracle)."""
    batch = {tuple(r) for r in
             QUERIES["q_quality_drift"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in
              QUERIES["q_stream_quality_drift"](spark, sf_dir)
              .collect()}
    assert stream == batch


def test_sim_eval_truncated_identity_and_shape(spark, sf_dir):
    """The dimension-budget table must grade itself: the full-width
    row (d'=64) re-derives the truth through the SAME shared kernel,
    so its recall is exactly 1.0 — any drift between
    _chunked_cos_topk and the registered q_sim_topk shows up here
    first. Shorter budgets are bounded by it, truth is always the
    exact top-20, and the measured near-zero prefix recall on the
    iid fixture embeddings is the honest reading (no Matryoshka
    structure to exploit — exactly what the table exists to
    reveal)."""
    from engine.queries.llm import _TRUNC_DIMS

    rows = {r["dim"]: r for r in
            QUERIES["q_sim_eval_truncated"](spark, sf_dir).collect()}
    assert sorted(rows) == sorted(_TRUNC_DIMS)
    full = max(_TRUNC_DIMS)
    for d, r in rows.items():
        assert r["n_truth"] == 20
        assert r["n_candidates"] == 20
        assert 0 <= r["n_hit"] <= 20
        assert r["recall"] <= rows[full]["recall"]
    assert rows[full]["n_hit"] == 20
    assert rows[full]["recall"] == 1.0


def test_sim_topk_unchanged_by_kernel_refactor(spark, sf_dir):
    """q_sim_topk must be exactly the dp=64 instance of the shared
    kernel — pair-for-pair, score-for-score."""
    from engine.queries.llm import _chunked_cos_topk

    reg = {tuple(r) for r in
           QUERIES["q_sim_topk"](spark, sf_dir).collect()}
    ours = {tuple(r) for r in
            _chunked_cos_topk(spark, sf_dir, 64).collect()}
    assert reg == ours


def test_sim_eval_quantized_curve(spark, sf_dir):
    """The bit-budget table must be coherent: one row per grid,
    truth always the exact top-20, recall non-decreasing in bits
    (same codec family, finer grid — unlike per-seed LSH widths this
    ordering has no randomness to break it on the committed
    fixtures), and the int8 row at >= 0.9 — the measured form of
    q_embed_quantize's rank-stability claim."""
    rows = {r["bits"]: r for r in
            QUERIES["q_sim_eval_quantized"](spark, sf_dir).collect()}
    assert sorted(rows) == [2, 4, 8]
    prev = -1
    for b in [2, 4, 8]:
        r = rows[b]
        assert r["n_truth"] == 20 and r["n_candidates"] == 20
        assert r["n_hit"] >= prev
        prev = r["n_hit"]
    assert rows[8]["recall"] >= 0.9
