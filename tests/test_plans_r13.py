"""Round-13 behavior pins for keys first registered in round 13:

q_token_budget_bpe — the data-mix planner re-based on tokenizer
tokens (verdict r12 item 4: budget in the unit the loader packs);
q_dp_quantile — exponential-mechanism quantile release (Python
mechanism replay + utility-loss bound);
q_contamination_bloom — the production bloom gate (confirmed lane ==
q_contamination, broadcast-only plan);
q_join_skew_report / q_incr_join_refresh — skew diagnostics and the
delta-join refresh identity;
q_data_card / q_dp_report — composite governance reports
(reconciliation against every composed key);
q_stream_incr_join_refresh — live==batch refresh identity.
"""
from __future__ import annotations

import math

from engine.registry import QUERIES, load_all

load_all()


def test_token_budget_bpe_reconciles_with_tokenizer_apply(
        spark, sf_dir):
    """Unit coherence: every per-source token total in the BPE budget
    table must equal the sum of the REGISTERED q_tokenizer_apply's
    per-doc counts for that source, n_docs must count ALL documents
    (left join: a doc the tokenizer emits no row for still counts),
    and the planner math must be the q_token_budget lane exactly —
    weight == isqrt(n_tokens), B == 2 * corpus tokens, each
    allocation == floor(B * w / S)."""
    from collections import Counter, defaultdict

    docs = {r["doc_id"]: r["source"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source").collect()}
    per_doc = QUERIES["q_tokenizer_apply"](spark, sf_dir).collect()
    tok_c = defaultdict(int)
    for r in per_doc:
        tok_c[docs[r["doc_id"]]] += r["n_tokens"]
    doc_c = Counter(docs.values())

    rows = {r["source"]: r for r in
            QUERIES["q_token_budget_bpe"](spark, sf_dir).collect()}
    assert set(rows) == set(doc_c)
    s_tot = sum(math.isqrt(tok_c[s]) for s in rows)
    b_tot = 2 * sum(tok_c[s] for s in rows)
    for src, r in rows.items():
        assert r["n_docs"] == doc_c[src]
        assert r["n_tokens"] == tok_c[src]
        assert r["weight"] == math.isqrt(tok_c[src])
        assert r["share_ppm"] == 1_000_000 * r["weight"] // s_tot
        assert r["alloc_tokens"] == b_tot * r["weight"] // s_tot
        assert r["full_epochs"] == r["alloc_tokens"] // r["n_tokens"]
        assert r["tail_ppm"] == (r["alloc_tokens"] % r["n_tokens"]
                                 ) * 1_000_000 // r["n_tokens"]
    # allocation exhausts the budget up to |sources| floor remainders
    assert 0 <= b_tot - sum(r["alloc_tokens"] for r in rows.values()) \
        < len(rows) * max(b_tot // s_tot, 1)


def test_token_budget_units_differ_but_structure_matches(
        spark, sf_dir):
    """The two planners must emit the same sources and the same
    schema, and the BPE unit must actually differ from the
    whitespace unit (BPE merges fire on the fixtures, so per-source
    totals cannot coincide — if they did, the new key would grade
    nothing)."""
    ws = {r["source"]: r for r in
          QUERIES["q_token_budget"](spark, sf_dir).collect()}
    bpe = {r["source"]: r for r in
           QUERIES["q_token_budget_bpe"](spark, sf_dir).collect()}
    assert set(ws) == set(bpe)
    assert ws[next(iter(ws))].asDict().keys() == \
        bpe[next(iter(bpe))].asDict().keys()
    assert any(ws[s]["n_tokens"] != bpe[s]["n_tokens"] for s in ws), (
        "BPE totals identical to whitespace totals — unit change "
        "is vacuous on the fixture")
    # n_docs is unit-independent: both planners must agree
    for s in ws:
        assert ws[s]["n_docs"] == bpe[s]["n_docs"]


def test_token_budget_bpe_plan_hygiene(spark, sf_dir):
    """The planner's corpus-sized work ends at the |sources|-row
    weighted frame: the returned plan's (S, B) totals are literals
    (no second corpus scan on the broadcast side — the
    tests/test_plans_r10.py lazy-total lesson applied to the new
    lane), and the output stays |sources| rows."""
    df = QUERIES["q_token_budget_bpe"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the (s, b) literal side-input leaves NO join ABOVE the persisted
    # counts frame (the doc_id broadcast join lives inside the cached
    # lineage, where it belongs); a crossJoin against a lazy total
    # would appear here
    above_cache = plan.split("InMemoryRelation")[0]
    assert "Join" not in above_cache, above_cache
    n_src = (spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("source").distinct().count())
    assert df.count() == n_src


def test_dp_quantile_matches_python_mechanism_replay(spark, sf_dir):
    """The release must equal a from-scratch Python replay of the
    exponential mechanism (hashlib md5 uniform -> Gumbel via
    math.log, quantized integer scores, argmax with the v-asc
    tie-break), and the mechanism must be sane: the released value's
    TRUE utility sits within a small additive bound of optimal (the
    eps=1 exponential-mechanism guarantee made checkable because the
    noise is replayable)."""
    import hashlib
    import math
    from collections import Counter

    from engine.queries.curation import _DPQ_DOMAIN, _DPQ_PCTS

    lens = [len(r["text"].split(" ")) for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("text").collect()]
    n = len(lens)
    hist = Counter(lens)
    cle = {}
    run = 0
    for v in range(1, _DPQ_DOMAIN + 1):
        run += hist.get(v, 0)
        cle[v] = run
    assert run == n, "domain must cover every fixture length"

    def u32(v, pct):
        h = hashlib.md5(f"{v}#dpq{pct}".encode()).hexdigest()[:8]
        return int(h, 16)

    expected = {}
    for pct in _DPQ_PCTS:
        best = None
        for v in range(1, _DPQ_DOMAIN + 1):
            g = -math.log(-math.log((u32(v, pct) + 0.5)
                                    / 4294967296.0))
            sq = math.floor((-abs(100 * cle[v] - pct * n) / 200.0
                             + g) * 1000000 + 0.5)
            # argmax, tie-break v ascending == first strict winner
            if best is None or sq > best[0]:
                best = (sq, v)
        expected[pct] = best[1]

    rows = {r["pct"]: r["value_released"] for r in
            QUERIES["q_dp_quantile"](spark, sf_dir).collect()}
    assert rows == expected
    # mechanism sanity: true utility loss of the release is bounded
    # (w.h.p. bound 2*(ln|domain| + t)/eps; t=5 gives ~19.7 ranks —
    # replayable noise makes this a deterministic pin, not a flake)
    for pct, v in rows.items():
        opt = max(-abs(100 * cle[x] - pct * n)
                  for x in range(1, _DPQ_DOMAIN + 1))
        got = -abs(100 * cle[v] - pct * n)
        assert (opt - got) / 100.0 <= 2 * (math.log(_DPQ_DOMAIN) + 5)


def test_contamination_bloom_gate_reconciles_with_detector(
        spark, sf_dir):
    """The production gate must reproduce q_contamination exactly on
    the confirmed lane: for every doc with n_shared > 0 the count
    equals the registered detector's n_shared (no false negatives by
    construction — the per-slot membership semantics), every
    detector-flagged doc appears, n_pass_bloom >= n_shared
    everywhere, and the FP branch is non-vacuous at the production
    size (some row has n_pass_bloom > n_shared — otherwise the
    filter grades nothing at this m)."""
    det = {r["doc_id"]: r["n_shared"] for r in
           QUERIES["q_contamination"](spark, sf_dir).collect()}
    gate = {r["doc_id"]: r for r in
            QUERIES["q_contamination_bloom"](spark, sf_dir).collect()}
    confirmed = {d: r["n_shared"] for d, r in gate.items()
                 if r["n_shared"] > 0}
    assert confirmed == det
    assert all(r["n_pass_bloom"] >= r["n_shared"]
               for r in gate.values())
    assert any(r["n_pass_bloom"] > r["n_shared"]
               for r in gate.values()), (
        "no bloom false positives at the production size — the "
        "prefilter is vacuous on this fixture")


def test_contamination_bloom_plan_is_broadcast_only(spark, sf_dir):
    """Both joins (bit set, exact confirm) must be broadcast — the
    corpus gram side never shuffles for a join; and the production
    size must divide the eval's largest size (the stacked-position
    identity both keys rely on)."""
    from engine.queries.curation import _BLOOM_PROD_M, _BLOOM_SIZES

    assert max(_BLOOM_SIZES) % _BLOOM_PROD_M == 0
    plan = (QUERIES["q_contamination_bloom"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    for word in ("SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BatchEvalPython"):
        assert word not in plan, word


def test_join_skew_report_matches_python_replay(spark, sf_dir):
    """Every diagnostic reproduces from a Counter replay of the raw
    key columns, and the salt hint is the clamped max/mean ratio."""
    from collections import Counter

    from engine.queries.profiling import _SKEW_KEYS

    rows = {(r["rel"], r["key"]): r for r in
            QUERIES["q_join_skew_report"](spark, sf_dir).collect()}
    assert set(rows) == set(_SKEW_KEYS)
    for rel, key in _SKEW_KEYS:
        c = Counter(x[key] for x in spark.read.parquet(
            f"{sf_dir}/{rel}.parquet").select(key).collect())
        r = rows[(rel, key)]
        n_rows, n_keys, mx = sum(c.values()), len(c), max(c.values())
        assert r["n_rows"] == n_rows
        assert r["n_keys"] == n_keys
        assert r["max_rows"] == mx
        assert r["skew_x100"] == 100 * mx * n_keys // n_rows
        assert r["top_share_ppm"] == 1_000_000 * mx // n_rows
        assert r["salt_hint"] == min(32, max(1, mx * n_keys // n_rows))


def test_incr_join_refresh_identity_and_broadcast_deltas(
        spark, sf_dir):
    """The three-lane incremental refresh must equal the full-join
    recompute cell for cell (the delta-join identity the oracle hash
    also proves), the delta slices must be non-vacuous, and the plan
    must contain broadcast joins for the delta lanes."""
    from collections import defaultdict

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).collect()
    c = {r["c_custkey"]: r["c_mktsegment"] for r in
         spark.read.parquet(f"{sf_dir}/customer.parquet")
         .select("c_custkey", "c_mktsegment").collect()}
    assert any(r["o_orderkey"] % 13 == 0 for r in o), "empty delta-o"
    assert any(k % 17 == 0 for k in c), "empty delta-c"
    import math
    full = defaultdict(lambda: [0, 0])
    for r in o:
        seg = c.get(r["o_custkey"])
        if seg is None:
            continue
        cell = full[(r["o_orderstatus"], seg)]
        cell[0] += 1
        cell[1] += math.floor(r["o_totalprice"] * 100 + 0.5)
    got = {(r["o_orderstatus"], r["c_mktsegment"]):
           (r["n_orders"], r["total_cents"]) for r in
           QUERIES["q_incr_join_refresh"](spark, sf_dir).collect()}
    assert got == {k: tuple(v) for k, v in full.items()}
    plan = (QUERIES["q_incr_join_refresh"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan


def test_data_card_reconciles_with_components(spark, sf_dir):
    """Every card column must equal a re-aggregation of the
    registered component keys' own outputs (the q_dedup_report
    reconciliation discipline, applied across five families), and
    the fixture must exercise every column (some dup, some
    quarantine, some high-quality docs somewhere)."""
    from collections import Counter, defaultdict

    card = {r["source"]: r for r in
            QUERIES["q_data_card"](spark, sf_dir).collect()}
    tb = {r["source"]: r for r in
          QUERIES["q_token_budget"](spark, sf_dir).collect()}
    assert set(card) == set(tb)
    for s, r in card.items():
        assert r["n_docs"] == tb[s]["n_docs"]
        assert r["n_tokens"] == tb[s]["n_tokens"]

    docs = {r["doc_id"]: r["source"] for r in
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source").collect()}
    # dup lane vs q_dedup_exact
    dup = defaultdict(int)
    for g in QUERIES["q_dedup_exact"](spark, sf_dir).collect():
        pass  # groups carry keeper only; recount via text hashes
    import hashlib
    texts = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "source", "text").collect()
    groups = defaultdict(list)
    for r in texts:
        groups[hashlib.md5(r["text"].encode()).hexdigest()].append(r)
    for g in groups.values():
        keeper = min(x["doc_id"] for x in g)
        for x in g:
            if x["doc_id"] != keeper:
                dup[x["source"]] += 1
    for s, r in card.items():
        assert r["dup_ppm"] == 1_000_000 * dup.get(s, 0) // r["n_docs"]
    # exact duplicates exist only at sf0.1 (8 docs — the lane's
    # non-zero case is covered by the three-scale oracle check);
    # at the test fixture scale the identity above pins dup_ppm == 0

    # language lane vs q_text_langid
    lc = defaultdict(Counter)
    for v in QUERIES["q_text_langid"](spark, sf_dir).collect():
        lc[docs[v["doc_id"]]][v["lang_guess"]] += 1
    for s, r in card.items():
        top = sorted(lc[s].items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r["top_lang"], 1_000_000 * top[1] // r["n_docs"]) == \
            (top[0], r["top_lang_ppm"])

    # PII lane vs q_pii_report
    pii = {r["source"]: r["quarantine_ppm"] for r in
           QUERIES["q_pii_report"](spark, sf_dir).collect()}
    for s, r in card.items():
        assert r["pii_quarantine_ppm"] == pii[s]
    assert any(v > 0 for v in pii.values()), "pii lane vacuous"
    assert any(r["quality_high_ppm"] > 0 for r in card.values()), \
        "quality lane vacuous"


def test_stream_incr_join_refresh_equals_batch_twin(spark, sf_dir):
    """The live refresh must equal the batch refresh cell for cell
    (same helpers, same merge — the dedup_incr stream==batch
    discipline), and its stream lane must exist as a memory sink."""
    batch = {(r["o_orderstatus"], r["c_mktsegment"]):
             (r["n_orders"], r["total_cents"]) for r in
             QUERIES["q_incr_join_refresh"](spark, sf_dir).collect()}
    live = {(r["o_orderstatus"], r["c_mktsegment"]):
            (r["n_orders"], r["total_cents"]) for r in
            QUERIES["q_stream_incr_join_refresh"](spark, sf_dir)
            .collect()}
    assert live == batch
    assert batch, "empty refresh — fixture vacuous"


def test_dp_report_reconciles_with_releases(spark, sf_dir):
    """Each dashboard row must equal a re-aggregation of its
    registered release key's own output, and every mechanism must be
    non-vacuous on the fixture."""
    card = {r["mechanism"]: r for r in
            QUERIES["q_dp_report"](spark, sf_dir).collect()}
    comps = {
        "count": ("q_dp_count", "n_noised"),
        "sum": ("q_dp_sum", "sum_noised_cents"),
        "histogram": ("q_dp_histogram", "n_released"),
        "quantile": ("q_dp_quantile", "value_released"),
    }
    assert set(card) == set(comps)
    for mech, (key, col) in comps.items():
        rows = QUERIES[key](spark, sf_dir).collect()
        assert card[mech]["n_released"] == len(rows)
        assert card[mech]["released_sum"] == sum(r[col] for r in rows)
        assert len(rows) > 0, f"{mech} release vacuous"


def test_r13_cohort_plan_hygiene(spark, sf_dir):
    """No cartesian product and no Python eval in any round-13 key —
    the whole cohort is built from broadcast/equi-join + map-side
    aggregate shapes (the composite reports excepted from nothing:
    they aggregate registered pipelines, which carry the same
    hygiene)."""
    for k in ["q_token_budget_bpe", "q_dp_quantile",
              "q_contamination_bloom", "q_join_skew_report",
              "q_incr_join_refresh", "q_data_card", "q_dp_report"]:
        plan = (QUERIES[k](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for word in ("CartesianProduct", "BatchEvalPython",
                     "MapInPandas", "FlatMapGroupsInPandas"):
            assert word not in plan, (k, word)


def test_ts_rolling_median_matches_python_replay(spark, sf_dir):
    """Every row's doubled median reproduces from a sorted-window
    Python replay over cent-quantized values, including the ramp-up
    rows and even/odd window parity."""
    import math
    from collections import defaultdict

    from engine.queries.incremental import _RMED_W

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts", "value").collect()
    series = defaultdict(list)
    for r in rows:
        series[r["user_id"]].append(
            (r["ts"], r["event_id"],
             math.floor(r["value"] * 100 + 0.5)))
    expected = {}
    for u, xs in series.items():
        xs.sort(key=lambda t: (t[0], t[1]))
        for i in range(len(xs)):
            win = sorted(c for _, _, c in xs[max(0, i - _RMED_W + 1):
                                            i + 1])
            n = len(win)
            m2 = (2 * win[n // 2] if n % 2 == 1
                  else win[n // 2 - 1] + win[n // 2])
            expected[xs[i][1]] = m2
    got = {r["event_id"]: r["med_x2_cents"] for r in
           QUERIES["q_ts_rolling_median"](spark, sf_dir).collect()}
    assert got == expected


def test_stream_checkpoint_resume_actually_resumes(spark, sf_dir):
    """The restarted query must consume SOME rows (the stop landed
    mid-stream) but strictly fewer than the corpus (offsets + state
    were restored from the checkpoint — a from-scratch rerun reads
    everything), while the key's totals hash the batch aggregate
    (checked by the oracle gate; re-pinned here cheaply)."""
    from engine.queries.streaming_q import checkpoint_resume_meta

    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    out = {r["event_type"]: r["n"] for r in
           QUERIES["q_stream_checkpoint_resume"](spark, sf_dir)
           .collect()}
    assert sum(out.values()) == total
    meta = checkpoint_resume_meta(spark, sf_dir)
    assert meta is not None
    _, resumed = meta
    assert 0 < resumed < total, (
        f"restart consumed {resumed} of {total} rows — "
        f"{'nothing left to resume' if resumed == 0 else 'no recovery'}")


def test_dedup_incremental_semantic_recrawl_and_consistency(
        spark, sf_dir):
    """Re-crawled base vectors (vec_id % 7 == 0, % 10 != 0) must hit
    BY CONSTRUCTION with max_cos == 1.0 (their own index entry);
    new-arrival verdicts must agree with the full-recompute semantic
    lane where both apply (a delta vec flagged against a base member
    implies the pairwise cosine >= tau in the full lane's terms);
    and both delta branches must be exercised."""
    rows = {r["vec_id"]: r for r in
            QUERIES["q_dedup_incremental_semantic"](spark, sf_dir)
            .collect()}
    assert rows, "no flagged vectors — gate vacuous"
    recrawls = [v for v in rows if v % 7 == 0 and v % 10 != 0]
    assert recrawls, "no re-crawled vectors in the fixture"
    for v in recrawls:
        assert rows[v]["max_cos"] == 1.0, (v, rows[v])
    ids = [r["vec_id"] for r in spark.read.parquet(
        f"{sf_dir}/embeddings.parquet").select("vec_id").collect()]
    all_recrawls = [v for v in ids if v % 7 == 0 and v % 10 != 0]
    # every re-crawl is flagged (identity match cannot be missed)
    assert set(all_recrawls) <= set(rows)
    for v, r in rows.items():
        assert 1 <= r["n_dups"]
        assert r["max_cos"] >= 0.35  # _SEM_TAU


def test_stream_dedup_incremental_semantic_equals_batch_twin(
        spark, sf_dir):
    """The live semantic gate must equal the batch twin cell for
    cell — same cluster structure (shared _seminc_parts), same
    quantized distances and cosines, despite the stream computing
    assignment and dot products row-locally."""
    batch = {r["vec_id"]: (r["cluster"], r["n_dups"], r["max_cos"])
             for r in QUERIES["q_dedup_incremental_semantic"](
                 spark, sf_dir).collect()}
    live = {r["vec_id"]: (r["cluster"], r["n_dups"], r["max_cos"])
            for r in QUERIES["q_stream_dedup_incremental_semantic"](
                spark, sf_dir).collect()}
    assert live == batch
    assert batch, "empty gate — fixture vacuous"


def test_centroid_drift_matches_numpy_replay(spark, sf_dir):
    """Every cluster row reproduces from a numpy replay over the
    shared assignment frames (base centroid = label mean of base
    members; updated centroid = mean over assigned base ∪ delta
    members; drift = quantized L2), counts balance, and BOTH flag
    branches fire at the production threshold."""
    import numpy as np

    from engine.queries.llm import _DRIFT_TAU, _seminc_parts

    ab, ad, cents = _seminc_parts(spark, sf_dir)
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding").collect()}
    ab_r = [(r["vec_id"], r["cl"]) for r in ab.collect()]
    ad_r = [(r["vec_id"], r["cl"]) for r in ad.collect()]
    got = {r["cluster"]: r for r in
           QUERIES["q_embed_centroid_drift"](spark, sf_dir)
           .collect()}
    from collections import defaultdict
    members = defaultdict(list)
    base_n = defaultdict(int)
    seen = defaultdict(set)
    for v, cl in ab_r:
        members[cl].append(emb[v])
        base_n[cl] += 1
        seen[cl].add(v)
    for v, cl in ad_r:
        members[cl].append(emb[v])
        seen[cl].add(v)
    assert set(got) == set(members)
    for cl, vecs in members.items():
        new_c = np.mean(np.stack(vecs), axis=0)
        old_c = np.array(cents[cl], dtype=np.float64)
        drift = np.floor(
            np.sqrt(((new_c - old_c) ** 2).sum()) * 1e6 + 0.5) / 1e6
        r = got[cl]
        assert r["n_base"] == base_n[cl]
        assert r["n_base"] + r["n_delta"] == len(seen[cl])
        assert abs(r["drift"] - drift) < 2e-6, (cl, r["drift"], drift)
        assert r["needs_refresh"] == (r["drift"] > _DRIFT_TAU)
    flags = [r["needs_refresh"] for r in got.values()]
    assert any(flags) and not all(flags), (
        "drift threshold vacuous on the fixture")


def test_mix_schedule_bpe_reconciles_with_bpe_planner(spark, sf_dir):
    """The BPE manifest's full-pass rows and tokens must reconcile
    with the BPE planner per source (n_docs x full_epochs rows;
    n_tokens x full_epochs tokens), tail flags must equal the
    hashlib '#mix' replay against the BPE tail_ppm, and n_tok must
    be the TOKENIZER unit (summing to the planner's n_tokens, not
    the whitespace planner's)."""
    import hashlib
    from collections import defaultdict

    plan = {r["source"]: r for r in
            QUERIES["q_token_budget_bpe"](spark, sf_dir).collect()}
    man = QUERIES["q_mix_schedule_bpe"](spark, sf_dir).collect()
    full_rows = defaultdict(int)
    full_toks = defaultdict(int)
    for r in man:
        if not r["is_tail"]:
            full_rows[r["source"]] += 1
            full_toks[r["source"]] += r["n_tok"]
        else:
            u = int(hashlib.md5(f"{r['doc_id']}#mix".encode())
                    .hexdigest()[:8], 16) % 1_000_000
            assert u < plan[r["source"]]["tail_ppm"], r
    for s, p in plan.items():
        assert full_rows[s] == p["n_docs"] * p["full_epochs"]
        assert full_toks[s] == p["n_tokens"] * p["full_epochs"]


def test_pack_schedule_bpe_tiling_replay_and_unit(spark, sf_dir):
    """The BPE packing reproduces from a Python tiling replay over
    the BPE manifest (shard cumsum in (epoch, doc_id) order), and
    the two unit chains genuinely diverge: at least one document's
    sequence placement differs between q_pack_schedule and the BPE
    packer (otherwise the unit change packed nothing differently)."""
    from collections import defaultdict

    from engine.queries.pipeline import _PACK_LEN, _PACK_SHARDS

    man = QUERIES["q_mix_schedule_bpe"](spark, sf_dir).collect()
    shards = defaultdict(list)
    for r in man:
        shards[r["doc_id"] % _PACK_SHARDS].append(
            (r["epoch"], r["doc_id"], r["n_tok"]))
    expected = {}
    for sh, rows in shards.items():
        rows.sort()
        cum = 0
        for ep, doc, nt in rows:
            cum += nt
            expected[(sh, doc, ep)] = (
                nt, (cum - nt) // _PACK_LEN, (cum - 1) // _PACK_LEN,
                (cum - nt) % _PACK_LEN)
    got = {(r["shard"], r["doc_id"], r["epoch"]):
           (r["n_tok"], r["start_seq"], r["end_seq"],
            r["seq_offset"]) for r in
           QUERIES["q_pack_schedule_bpe"](spark, sf_dir).collect()}
    assert got == expected
    ws = {(r["shard"], r["doc_id"], r["epoch"]):
          (r["start_seq"], r["seq_offset"]) for r in
          QUERIES["q_pack_schedule"](spark, sf_dir).collect()}
    common = set(got) & set(ws)
    assert common, "no shared (shard, doc, epoch) rows to compare"
    assert any((got[k][1], got[k][3]) != ws[k] for k in common), (
        "identical packings in both units — the BPE chain is vacuous")


def test_pack_unit_ablation_reconciles_with_both_packers(
        spark, sf_dir):
    """Each ablation row re-aggregates its packer's own manifest
    exactly, and the two units genuinely diverge in every measured
    column (the table grades nothing otherwise)."""
    from collections import defaultdict

    from engine.queries.pipeline import _PACK_LEN

    abl = {r["unit"]: r for r in
           QUERIES["q_pack_unit_ablation"](spark, sf_dir).collect()}
    assert set(abl) == {"whitespace", "bpe"}
    for unit, key in (("whitespace", "q_pack_schedule"),
                      ("bpe", "q_pack_schedule_bpe")):
        rows = QUERIES[key](spark, sf_dir).collect()
        per = defaultdict(lambda: [0, 0, 0])  # n_seqs, toks, inst
        for r in rows:
            c = per[r["shard"]]
            c[0] = max(c[0], r["end_seq"] + 1)
            c[1] += r["n_tok"]
            c[2] += 1
        n_seqs = sum(c[0] for c in per.values())
        n_toks = sum(c[1] for c in per.values())
        n_inst = sum(c[2] for c in per.values())
        a = abl[unit]
        assert a["n_instances"] == n_inst
        assert a["n_tokens"] == n_toks
        assert a["n_seqs"] == n_seqs
        assert a["pad_tokens"] == n_seqs * _PACK_LEN - n_toks
        assert a["pad_ppm"] == (1_000_000 * a["pad_tokens"]
                                // (n_seqs * _PACK_LEN))
    for col in ("n_tokens", "n_seqs", "pad_ppm"):
        assert abl["whitespace"][col] != abl["bpe"][col], col


def test_asof_tolerance_matches_python_replay(spark, sf_dir):
    """Every row reproduces from a per-customer sorted replay, and
    all three branches are live: matched-within-tolerance,
    staleness-nulled, and first-order-never-matched."""
    from collections import defaultdict

    from engine.queries.joins import _ASOF_TOL_DAYS

    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate").collect()
    per = defaultdict(list)
    for r in rows:
        per[r["o_custkey"]].append((r["o_orderdate"], r["o_orderkey"]))
    expected = {}
    for c, xs in per.items():
        xs.sort()
        for i, (d, k) in enumerate(xs):
            if i == 0:
                expected[k] = (None, None)
            else:
                pd_, pk = xs[i - 1]
                gap = (d.date() - pd_.date()).days
                expected[k] = ((pk, gap) if gap <= _ASOF_TOL_DAYS
                               else (None, None))
    got = {r["o_orderkey"]: (r["prev_orderkey"], r["gap_days"])
           for r in QUERIES["q_join_asof_tolerance"](
               spark, sf_dir).collect()}
    assert got == expected
    vals = list(got.values())
    assert any(v[0] is not None for v in vals), "no in-tolerance match"
    assert any(v[0] is None for v in vals), "no nulled match"


def test_source_json_corrupt_quarantines_exactly(spark, sf_dir):
    """The '_corrupt' row must count exactly the injected rows
    (event_id % 37 == 0) and the good-row totals must equal the
    parquet original's — Spark's permissive parser neither drops a
    good row nor passes a corrupted one."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type").collect()
    n_bad = sum(1 for r in ev if r["event_id"] % 37 == 0)
    from collections import Counter
    good = Counter(r["event_type"] for r in ev
                   if r["event_id"] % 37 != 0)
    got = {r["event_type"]: r["n"] for r in
           QUERIES["q_source_json_corrupt"](spark, sf_dir).collect()}
    assert got.pop("_corrupt") == n_bad > 0
    assert got == dict(good)


def test_asof_forward_matches_python_replay(spark, sf_dir):
    """Forward direction: each order's next_orderkey is the sorted
    successor within its customer; each customer's last order has
    none."""
    from collections import defaultdict

    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate").collect()
    per = defaultdict(list)
    for r in rows:
        per[r["o_custkey"]].append((r["o_orderdate"], r["o_orderkey"]))
    expected = {}
    for xs in per.values():
        xs.sort()
        for i, (_, k) in enumerate(xs):
            expected[k] = xs[i + 1][1] if i + 1 < len(xs) else None
    got = {r["o_orderkey"]: r["next_orderkey"]
           for r in QUERIES["q_join_asof_forward"](
               spark, sf_dir).collect()}
    assert got == expected
    assert any(v is None for v in got.values())
    assert any(v is not None for v in got.values())


def test_asof_nearest_matches_python_replay(spark, sf_dir):
    """Nearest direction: the closest neighbor wins with the
    documented tie rule (gap_prior <= gap_next → prior), singletons
    match nothing, and BOTH directions are live on the fixture."""
    from collections import defaultdict

    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate").collect()
    per = defaultdict(list)
    for r in rows:
        per[r["o_custkey"]].append((r["o_orderdate"], r["o_orderkey"]))
    expected = {}
    for xs in per.values():
        xs.sort()
        for i, (d, k) in enumerate(xs):
            pd_, pk = xs[i - 1] if i > 0 else (None, None)
            nd, nk = xs[i + 1] if i + 1 < len(xs) else (None, None)
            if pd_ is None and nd is None:
                expected[k] = (None, None, None)
            elif nd is None or (pd_ is not None
                                and (d.date() - pd_.date()).days
                                <= (nd.date() - d.date()).days):
                expected[k] = (pk, (d.date() - pd_.date()).days, "prior")
            else:
                expected[k] = (nk, (nd.date() - d.date()).days, "next")
    got = {r["o_orderkey"]: (r["match_orderkey"], r["gap_days"],
                             r["matched_dir"])
           for r in QUERIES["q_join_asof_nearest"](
               spark, sf_dir).collect()}
    assert got == expected
    dirs = {v[2] for v in got.values()}
    assert "prior" in dirs and "next" in dirs


def test_asof_direction_family_single_window_exchange(spark, sf_dir):
    """All four as-of keys keep the single-shuffle window plan: one
    Exchange and one Window operator each — lag and lead in
    q_join_asof_nearest share the window spec, so adding the second
    direction costs zero extra exchanges."""
    for key in ("q_join_asof", "q_join_asof_forward",
                "q_join_asof_tolerance", "q_join_asof_nearest"):
        plan = QUERIES[key](spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        n_ex = plan.count("Exchange hashpartitioning")
        n_w = plan.count("Window ")
        assert n_ex == 1, f"{key}: {n_ex} exchanges"
        assert n_w == 1, f"{key}: {n_w} window ops"


def test_anova_matches_python_replay(spark, sf_dir):
    """Exact integer fields match a from-scratch replay; F and
    eta-squared match the closed form within float tolerance."""
    from collections import defaultdict

    import pytest

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value").collect()
    g = defaultdict(lambda: [0, 0, 0])
    for r in rows:
        vc = math.floor(r["value"] * 100 + 0.5)
        st = g[r["event_type"]]
        st[0] += 1
        st[1] += vc
        st[2] += vc * vc
    n = sum(s[0] for s in g.values())
    tt = float(sum(s[1] for s in g.values()))
    k = len(g)
    ssb = sum(float(s[1]) * s[1] / s[0] for s in g.values()) - tt * tt / n
    ssw = sum(s[2] - float(s[1]) * s[1] / s[0] for s in g.values())
    got = QUERIES["q_anova"](spark, sf_dir).collect()[0]
    assert (got["n"], got["k"]) == (n, k)
    assert (got["dof_between"], got["dof_within"]) == (k - 1, n - k)
    # published values carry the engine's 1e-4 quantization
    assert got["ss_between"] == pytest.approx(ssb / 1e4, abs=2e-4)
    assert got["ss_within"] == pytest.approx(ssw / 1e4, abs=2e-4)
    assert got["f_stat"] == pytest.approx(
        (ssb / (k - 1)) / (ssw / (n - k)), abs=2e-4)
    assert got["eta_sq"] == pytest.approx(ssb / (ssb + ssw), abs=2e-4)


def test_langid_calibration_reconciles_with_verdicts(spark, sf_dir):
    """The calibration table must aggregate EXACTLY the verdict frame
    q_text_langid publishes: bin masses sum to the verdict row count,
    per-bin corrects sum to the verdict match count, ece_ppm equals
    the published per-bin gaps folded at 1e-6 grain, and bins/rates
    are well-formed."""
    verd = QUERIES["q_text_langid"](spark, sf_dir).collect()
    cal = QUERIES["q_langid_calibration"](spark, sf_dir).collect()
    assert sum(r["n"] for r in cal) == len(verd)
    assert (sum(r["n_correct"] for r in cal)
            == sum(1 for v in verd if v["is_match"]))
    assert len(cal) >= 2, "degenerate reliability diagram"
    n_tot = sum(r["n"] for r in cal)
    ece_from_bins = sum(r["n"] * r["gap_abs"] for r in cal) / n_tot
    assert abs(ece_from_bins * 1_000_000 - cal[0]["ece_ppm"]) <= len(cal) + 1
    for r in cal:
        assert 0 <= r["bin"] <= 9
        assert 0 < r["conf_avg"] <= 1.0
        assert 0 <= r["acc"] <= 1.0
        assert len({x["ece_ppm"] for x in cal}) == 1


def test_decile_lift_matches_python_replay(spark, sf_dir):
    """Full replay of the gains table: leakage-safe split, integer
    score, quantile_disc cutpoints, per-decile counts and the exact
    cumulative capture curve; decile 1 must out-lift decile 10."""
    import datetime

    from collections import defaultdict

    split = datetime.datetime(2001, 1, 1)
    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderdate", "o_totalprice").collect()
    feat = defaultdict(lambda: [0, 0])
    resp = set()
    for r in rows:
        if r["o_orderdate"] < split:
            st = feat[r["o_custkey"]]
            st[0] += 1
            st[1] += math.floor(r["o_totalprice"] * 100 + 0.5)
        else:
            resp.add(r["o_custkey"])
    scored = [(st[1] + 10_000 * st[0], ck in resp)
              for ck, st in feat.items()]
    srt = sorted(s for s, _ in scored)
    cuts = [srt[max(0, math.ceil(p / 10 * len(srt)) - 1)]
            for p in range(1, 10)]
    per = defaultdict(lambda: [0, 0])
    for s, rp in scored:
        d = 1 + sum(s <= c for c in cuts)
        per[d][0] += 1
        per[d][1] += rp
    rt = sum(v[1] for v in per.values())
    got = sorted(QUERIES["q_decile_lift"](spark, sf_dir).collect(),
                 key=lambda r: r["decile"])
    assert [r["decile"] for r in got] == sorted(per)
    cum = 0
    for r in got:
        n, nr = per[r["decile"]]
        cum += nr
        assert (r["n_cust"], r["n_resp"]) == (n, nr)
        assert r["cum_capture_ppm"] == 1_000_000 * cum // rt
    # well-formed gains table: both outcomes live, curve completes
    nt = sum(v[0] for v in per.values())
    assert 0 < rt < nt, "outcome window degenerate"
    assert got[-1]["cum_capture_ppm"] == 1_000_000
    assert all(0.0 <= r["resp_rate"] <= 1.0 for r in got)


def test_source_csv_corrupt_quarantines_exactly(spark, sf_dir):
    """The '_corrupt' row counts exactly the injected cast-failure
    rows (event_id % 41 == 0) and the survivors' totals equal the
    parquet original's — the CSV parser neither drops a good row nor
    passes a poisoned one."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type").collect()
    n_bad = sum(1 for r in ev if r["event_id"] % 41 == 0)
    from collections import Counter
    good = Counter(r["event_type"] for r in ev
                   if r["event_id"] % 41 != 0)
    got = {r["event_type"]: r["n"] for r in
           QUERIES["q_source_csv_corrupt"](spark, sf_dir).collect()}
    assert got.pop("_corrupt") == n_bad
    assert got == dict(good)


def test_ts_lag_features_match_python_replay(spark, sf_dir):
    """Every training example reproduces from a per-user sorted
    replay: bit-copied lags, the exact cent-grain rolling mean, and
    the strict >=4-priors admission rule."""
    from collections import defaultdict

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts", "value").collect()
    per = defaultdict(list)
    for r in rows:
        per[r["user_id"]].append((r["ts"], r["event_id"], r["value"]))
    expected = {}
    for u, xs in per.items():
        xs.sort(key=lambda x: (x[0], x[1]))
        for i in range(4, len(xs)):
            prev = [xs[i - k][2] for k in (1, 2, 3)]
            s4 = sum(math.floor(xs[i - k][2] * 100 + 0.5)
                     for k in (1, 2, 3, 4))
            expected[xs[i][1]] = (u, xs[i][2], *prev, s4 / 400.0, i)
    got = {r["event_id"]: (r["user_id"], r["target"], r["lag1"],
                           r["lag2"], r["lag3"], r["mean4"], r["n_prev"])
           for r in QUERIES["q_ts_lag_features"](spark, sf_dir).collect()}
    assert got == expected
    assert expected, "no training examples emitted"


def test_stream_late_data_reads_then_drops(spark, sf_dir):
    """The straggler file must be READ (its rows appear as batch
    input) and fully DROPPED (the final state equals the on-time
    aggregate; the drop counter fires). Non-vacuity: the straggler
    is most of the corpus."""
    from engine.queries.streaming_q import late_data_meta

    got = {(r["ws_us"], r["event_type"]): r["n"] for r in
           QUERIES["q_stream_late_data"](spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type").collect()
    import datetime
    cut = datetime.datetime(2024, 1, 24)
    from collections import Counter
    day_us = 86_400_000_000
    ontime = Counter(
        ((int(r["ts"].replace(tzinfo=datetime.timezone.utc)
              .timestamp() * 1_000_000) // day_us) * day_us,
         r["event_type"])
        for r in ev if r["ts"] >= cut)
    n_late = sum(1 for r in ev if r["ts"] < cut)
    assert got == dict(ontime)
    assert n_late > sum(ontime.values()), "straggler not dominant"
    prog = late_data_meta(spark, sf_dir)
    assert prog is not None and len(prog) >= 3
    # the straggler batch read every late row...
    assert any(rows == n_late for _, rows, _ in prog)
    # ...and the state operator recorded watermark drops
    assert sum(d for _, _, d in prog) > 0


def test_sample_balanced_equalizes_classes(spark, sf_dir):
    """Every language contributes exactly the min class mass, the
    kept set matches the md5-rank replay, and the draw is
    deterministic (same result twice)."""
    from collections import Counter, defaultdict

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang").collect()
    counts = Counter(r["lang"] for r in docs)
    k = min(counts.values())
    import hashlib
    draws = defaultdict(list)
    for r in docs:
        h = int(hashlib.md5(
            f"bal#{r['doc_id']}".encode()).hexdigest()[:8], 16)
        draws[r["lang"]].append((h, r["doc_id"]))
    expected = {}
    for lang, xs in draws.items():
        xs.sort()
        for rk, (_, did) in enumerate(xs[:k], 1):
            expected[did] = (lang, rk)
    got = {r["doc_id"]: (r["lang"], r["rk"]) for r in
           QUERIES["q_sample_balanced"](spark, sf_dir).collect()}
    assert got == expected
    per_lang = Counter(v[0] for v in got.values())
    assert set(per_lang.values()) == {k}
    got2 = {r["doc_id"]: (r["lang"], r["rk"]) for r in
            QUERIES["q_sample_balanced"](spark, sf_dir).collect()}
    assert got2 == got


def test_kruskal_wallis_matches_scipy_formula(spark, sf_dir):
    """H and the tie-corrected H' match a from-scratch midrank
    replay (the scipy.stats.kruskal closed form) within the
    publication quantum."""
    from collections import Counter, defaultdict

    import pytest

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value").collect()
    byv = Counter(r["value"] for r in rows)
    order = sorted(byv)
    rank2 = {}
    prior = 0
    for v in order:
        rank2[v] = 2 * prior + byv[v] + 1
        prior += byv[v]
    r2 = defaultdict(int)
    ng = Counter()
    for r in rows:
        r2[r["event_type"]] += rank2[r["value"]]
        ng[r["event_type"]] += 1
    n = len(rows)
    k = len(ng)
    sr2 = sum(float(r2[g]) * r2[g] / ng[g] for g in ng)
    h = 3.0 * sr2 / (n * (n + 1.0)) - 3.0 * (n + 1)
    ties = float(sum(t ** 3 - t for t in byv.values()))
    hc = h / (1.0 - ties / (float(n) ** 3 - n))
    got = QUERIES["q_kruskal_wallis"](spark, sf_dir).collect()[0]
    assert (got["n"], got["k"], got["dof"]) == (n, k, k - 1)
    assert got["h_stat"] == pytest.approx(h, abs=2e-4)
    assert got["h_tie_corrected"] == pytest.approx(hc, abs=2e-4)


def test_levene_bf_matches_python_replay(spark, sf_dir):
    """W matches a from-scratch Brown-Forsythe replay (median-
    centered absolute deviations, one-way F) within the publication
    quantum — and the medians really are the even/odd-exact 2x
    integers."""
    from collections import defaultdict

    import pytest

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value").collect()
    grp = defaultdict(list)
    for r in rows:
        grp[r["event_type"]].append(math.floor(r["value"] * 100 + 0.5))
    dev = defaultdict(list)
    for g, xs in grp.items():
        xs.sort()
        m = len(xs)
        m2 = (xs[m // 2] * 2 if m % 2
              else xs[m // 2 - 1] + xs[m // 2])
        assert isinstance(m2, int)
        for x in xs:
            dev[g].append(abs(2 * x - m2))
    n = sum(len(xs) for xs in dev.values())
    k = len(dev)
    tt = float(sum(sum(xs) for xs in dev.values()))
    ssb = sum(float(sum(xs)) ** 2 / len(xs) for xs in dev.values()) \
        - tt * tt / n
    ssw = sum(float(sum(x * x for x in xs))
              - float(sum(xs)) ** 2 / len(xs) for xs in dev.values())
    w = (ssb / (k - 1)) / (ssw / (n - k))
    got = QUERIES["q_levene_test"](spark, sf_dir).collect()[0]
    assert (got["n"], got["k"]) == (n, k)
    assert (got["dof_between"], got["dof_within"]) == (k - 1, n - k)
    assert got["w_stat"] == pytest.approx(w, abs=2e-4)


def test_window_rolling_distinct_matches_brute(spark, sf_dir):
    """The first-appearance emission identity: the bounded-explode
    plan reproduces the brute trailing-7-day COUNT(DISTINCT) for
    every window-end day, including the ramp-up partials, and emits
    nothing past the activity range."""
    import datetime
    from collections import defaultdict

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts").collect()
    active = defaultdict(set)
    for r in rows:
        active[r["user_id"]].add(r["ts"].date())
    all_days = sorted({d for ds in active.values() for d in ds})
    mn, mx = all_days[0], all_days[-1]
    brute = {}
    d = mn
    while d <= mx:
        lo = d - datetime.timedelta(days=6)
        brute[d] = sum(1 for ds in active.values()
                       if any(lo <= x <= d for x in ds))
        d += datetime.timedelta(days=1)
    brute = {d.isoformat(): n for d, n in brute.items() if n > 0}
    got = {r["w_day"]: r["n_active"] for r in
           QUERIES["q_window_rolling_distinct"](spark, sf_dir).collect()}
    assert got == brute
    assert max(got) == mx.isoformat(), (
        "emitted windows past the activity range")


def test_ts_changepoint_matches_python_replay(spark, sf_dir):
    """Each type's published position is the exact argmax of the
    two-window contrast over admissible positions, with the
    (ts, event_id) tie-break."""
    from collections import defaultdict

    from engine.queries.incremental import _CHG_W

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "event_id", "ts", "value").collect()
    per = defaultdict(list)
    for r in rows:
        per[r["event_type"]].append(
            (r["ts"], r["event_id"], math.floor(r["value"] * 100 + 0.5)))
    expected = {}
    for g, xs in per.items():
        xs.sort(key=lambda x: (x[0], x[1]))
        pre = [0]
        for _, _, vc in xs:
            pre.append(pre[-1] + vc)
        best = None
        for i in range(_CHG_W, len(xs) - _CHG_W):
            s_prev = pre[i] - pre[i - _CHG_W]
            s_next = pre[i + 1 + _CHG_W] - pre[i + 1]
            d = abs(s_next - s_prev)
            key = (-d, xs[i][0], xs[i][1])
            if best is None or key < best[0]:
                best = (key, xs[i][1], xs[i][0], d)
        assert best is not None, f"{g}: no admissible position"
        us = int(best[2].replace(
            tzinfo=__import__("datetime").timezone.utc)
            .timestamp() * 1_000_000)
        expected[g] = (best[1], us, best[3] / (100.0 * _CHG_W))
    got = {r["event_type"]: (r["event_id"], r["ts_us"], r["mean_shift"])
           for r in QUERIES["q_ts_changepoint"](spark, sf_dir).collect()}
    assert got == expected


def test_stream_anova_equals_batch_twin(spark, sf_dir):
    """Live == batch, cell for cell: the streaming moment
    accumulation and the batch aggregate feed the same fold and must
    produce identical rows."""
    live = QUERIES["q_stream_anova"](spark, sf_dir).collect()
    batch = QUERIES["q_anova"](spark, sf_dir).collect()
    assert [r.asDict() for r in live] == [r.asDict() for r in batch]


def test_bootstrap_ci_matches_python_replay(spark, sf_dir):
    """Every replicate weight, weighted mean, and the discrete
    percentile picks reproduce from a from-scratch md5 replay; the
    CI brackets the point mean in every group."""
    import hashlib
    import math as _m
    from collections import defaultdict

    import pytest

    from engine.queries.analytics_extra import _BS_B, _BS_THRESH

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "event_id", "value").collect()
    acc = defaultdict(lambda: [[0, 0] for _ in range(_BS_B)])
    pt = defaultdict(lambda: [0, 0])
    for r in rows:
        vc = _m.floor(r["value"] * 100 + 0.5)
        pt[r["event_type"]][0] += 1
        pt[r["event_type"]][1] += vc
        for b in range(_BS_B):
            u = int(hashlib.md5(
                f"{r['event_id']}#bs{b}".encode()).hexdigest()[:8],
                16) % 1000000
            w = sum(u >= t for t in _BS_THRESH)
            acc[r["event_type"]][b][0] += w
            acc[r["event_type"]][b][1] += w * vc
    got = {r["grp"]: r for r in
           QUERIES["q_bootstrap_ci"](spark, sf_dir).collect()}
    assert set(got) == set(pt)
    for g, reps in acc.items():
        means = sorted(s / (100.0 * n) for n, s in reps if n)
        lo = means[max(0, _m.ceil(0.05 * len(means)) - 1)]
        hi = means[max(0, _m.ceil(0.95 * len(means)) - 1)]
        r = got[g]
        assert r["n"] == pt[g][0]
        assert r["mean"] == pytest.approx(
            pt[g][1] / (100.0 * pt[g][0]), abs=2e-6)
        assert r["ci_lo"] == pytest.approx(lo, abs=2e-6)
        assert r["ci_hi"] == pytest.approx(hi, abs=2e-6)
        assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
        assert r["ci_lo"] < r["ci_hi"], "degenerate interval"


def test_dp_topk_matches_python_mechanism_replay(spark, sf_dir):
    """The release equals a from-scratch one-shot-Gumbel replay, and
    the mechanism is sane: every released value's true count is
    within the eps=1 utility bound of the k-th best count."""
    import hashlib
    import math as _m
    from collections import Counter

    from engine.queries.curation import _DPQ_DOMAIN, _DPT_K

    lens = Counter(
        len(r["text"].split(" ")) for r in
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text").collect())
    scored = []
    for v in range(1, _DPQ_DOMAIN + 1):
        u = int(hashlib.md5(f"{v}#dpt".encode()).hexdigest()[:8], 16)
        g = -_m.log(-_m.log((u + 0.5) / 4294967296.0))
        sq = _m.floor((lens.get(v, 0) / (2.0 * _DPT_K) + g)
                      * 1000000 + 0.5)
        scored.append((-sq, v))
    scored.sort()
    expected = {rk: v for rk, (_, v) in enumerate(scored[:_DPT_K], 1)}
    got = {r["rk"]: r["value_released"] for r in
           QUERIES["q_dp_topk"](spark, sf_dir).collect()}
    assert got == expected
    kth = sorted(lens.values(), reverse=True)[_DPT_K - 1]
    bound = 2 * _DPT_K * (_m.log(_DPQ_DOMAIN) + 5)
    for v in got.values():
        assert lens.get(v, 0) >= kth - bound


def test_survival_km_matches_python_replay(spark, sf_dir):
    """Spells, risk sets, hazards and the log-KM fold reproduce from
    a from-scratch censoring-aware replay; the curve is monotone
    non-increasing and censoring is genuinely present."""
    from collections import Counter, defaultdict

    import pytest

    rows = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_custkey", "o_orderkey", "o_orderdate").collect()
    per = defaultdict(list)
    for r in rows:
        per[r["o_custkey"]].append((r["o_orderdate"], r["o_orderkey"]))
    horizon = max(r["o_orderdate"] for r in rows)
    events, cens = Counter(), Counter()
    for xs in per.values():
        xs.sort()
        for i, (d, _) in enumerate(xs):
            if i + 1 < len(xs):
                events[(xs[i + 1][0].date() - d.date()).days] += 1
            else:
                cens[(horizon.date() - d.date()).days] += 1
    n_tot = sum(events.values()) + sum(cens.values())
    got = sorted(QUERIES["q_survival_km"](spark, sf_dir).collect(),
                 key=lambda r: r["t_days"])
    assert [r["t_days"] for r in got] == sorted(events)
    run, at_risk = 0, n_tot
    prev_t = None
    lnsum = 0
    for t in sorted(set(events) | set(cens)):
        d, c = events.get(t, 0), cens.get(t, 0)
        if d > 0:
            row = next(r for r in got if r["t_days"] == t)
            assert row["n_risk"] == at_risk
            assert row["d_event"] == d
            assert row["c_censored"] == c
            assert row["hazard_ppm"] == 1_000_000 * d // at_risk
            if d < at_risk:
                lnsum += math.floor(
                    math.log((at_risk - d) / at_risk) * 1e6 + 0.5)
            assert row["km_log_survival"] == pytest.approx(
                lnsum / 1e6, abs=2e-6)
        at_risk -= d + c
    kls = [r["km_log_survival"] for r in got]
    assert all(a >= b for a, b in zip(kls, kls[1:])), "not monotone"
    assert sum(cens.values()) > 0, "no censoring on fixture"


def test_ab_srm_matches_python_replay(spark, sf_dir):
    """Arm counts reproduce from the md5 assignment for every
    registered experiment, the chi2 matches the closed form, and the
    flag agrees with the published statistic."""
    import hashlib

    import pytest

    from engine.queries.analytics_extra import (_SRM_CRIT,
                                                _SRM_EXPERIMENTS)

    users = {r["user_id"] for r in
             spark.read.parquet(f"{sf_dir}/events.parquet")
             .select("user_id").distinct().collect()}
    got = {r["exp_id"]: r for r in
           QUERIES["q_ab_srm"](spark, sf_dir).collect()}
    assert set(got) == {s for s, _ in _SRM_EXPERIMENTS}
    for salt, pct in _SRM_EXPERIMENTS:
        n_a = sum(1 for u in users
                  if int(hashlib.md5(f"{u}#{salt}".encode())
                         .hexdigest()[:8], 16) % 100 < pct)
        n = len(users)
        ea, eb = n * pct / 100.0, n * (100 - pct) / 100.0
        chi2 = ((n_a - ea) ** 2 / ea + ((n - n_a) - eb) ** 2 / eb)
        r = got[salt]
        assert (r["n_units"], r["n_a"], r["n_b"]) == (n, n_a, n - n_a)
        assert r["chi2_srm"] == pytest.approx(chi2, abs=2e-6)
        assert r["srm_flag"] == (r["chi2_srm"] > _SRM_CRIT)


def test_ab_power_matches_closed_form(spark, sf_dir):
    """Every grid row's MDE reproduces from the exact pooled moments
    and the literal planning constant; MDE shrinks as 1/sqrt(n)."""
    import pytest

    from engine.queries.analytics_extra import _PWR_NS, _PWR_Z

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value").collect()
    vc = [math.floor(r["value"] * 100 + 0.5) for r in rows
          if r["event_type"] in ("click", "view")]
    n = len(vc)
    s, q = sum(vc), sum(x * x for x in vc)
    var = (float(q) - float(s) * s / n) / (n - 1) / 1e4
    mean = s / (100.0 * n)
    got = sorted(QUERIES["q_ab_power"](spark, sf_dir).collect(),
                 key=lambda r: r["n_per_arm"])
    assert [r["n_per_arm"] for r in got] == sorted(_PWR_NS)
    for r in got:
        mde = _PWR_Z * math.sqrt(2.0 * var / r["n_per_arm"])
        assert r["metric_mean"] == pytest.approx(mean, abs=2e-6)
        assert r["metric_var"] == pytest.approx(var, abs=2e-6)
        assert r["mde_abs"] == pytest.approx(mde, abs=2e-6)
        assert r["mde_pct"] == pytest.approx(mde / mean * 100,
                                             abs=2e-4)
    mdes = [r["mde_abs"] for r in got]
    assert all(a > b for a, b in zip(mdes, mdes[1:]))


def test_stream_srm_equals_batch_twin(spark, sf_dir):
    """Live == batch, cell for cell: the streaming first-seen-unit
    accumulation must reproduce the batch gate exactly."""
    live = sorted(QUERIES["q_stream_srm"](spark, sf_dir).collect(),
                  key=lambda r: r["exp_id"])
    batch = sorted(QUERIES["q_ab_srm"](spark, sf_dir).collect(),
                   key=lambda r: r["exp_id"])
    assert [r.asDict() for r in live] == [r.asDict() for r in batch]


def test_ab_cuped_matches_python_replay(spark, sf_dir):
    """Theta, variances and the reduction reproduce from a
    from-scratch per-user pre/post replay; the covariate genuinely
    reduces variance on the fixture (theta != 0, reduction > 0) and
    var_cuped == var_y * (1 - rho^2) within quantization."""
    import datetime

    from collections import defaultdict

    import pytest

    split = datetime.datetime(2024, 1, 16)
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value").collect()
    per = defaultdict(lambda: [0, 0])
    for r in rows:
        vc = math.floor(r["value"] * 100 + 0.5)
        per[r["user_id"]][0 if r["ts"] < split else 1] += vc
    n = len(per)
    xs = [v[0] for v in per.values()]
    ys = [v[1] for v in per.values()]
    sx, sy = float(sum(xs)), float(sum(ys))
    sxx = float(sum(x * x for x in xs))
    syy = float(sum(y * y for y in ys))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    var_y = (n * syy - sy * sy) / (n * n) / 1e4
    var_x = (n * sxx - sx * sx) / (n * n) / 1e4
    got = QUERIES["q_ab_cuped"](spark, sf_dir).collect()[0]
    assert got["n_units"] == n
    assert got["theta"] == pytest.approx(theta, abs=2e-6)
    assert got["var_y"] == pytest.approx(var_y, abs=2e-4)
    assert got["var_cuped"] == pytest.approx(
        var_y - theta * theta * var_x, abs=2e-4)
    assert got["var_reduction_pct"] == pytest.approx(
        100.0 * theta * theta * var_x / var_y, abs=2e-4)
    assert got["theta"] != 0.0
    assert 0.0 < got["var_reduction_pct"] < 100.0


def test_stream_bootstrap_ci_equals_batch_twin(spark, sf_dir):
    """Live == batch, cell for cell: the identity-lane streaming
    accumulation must reproduce the batch bootstrap exactly."""
    live = sorted(
        QUERIES["q_stream_bootstrap_ci"](spark, sf_dir).collect(),
        key=lambda r: r["grp"])
    batch = sorted(QUERIES["q_bootstrap_ci"](spark, sf_dir).collect(),
                   key=lambda r: r["grp"])
    assert [r.asDict() for r in live] == [r.asDict() for r in batch]


def test_stream_cuped_equals_batch_twin(spark, sf_dir):
    """Live == batch, cell for cell: the update-mode per-unit state
    must reproduce the batch CUPED table exactly."""
    live = QUERIES["q_stream_cuped"](spark, sf_dir).collect()
    batch = QUERIES["q_ab_cuped"](spark, sf_dir).collect()
    assert [r.asDict() for r in live] == [r.asDict() for r in batch]
