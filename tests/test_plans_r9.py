"""Round-9 plan pins + behavior tests for keys first registered in round 9:
q_contamination_semantic (broadcast-holdout GEMM eval-leak detector),
q_stream_temperature_gate (speed-layer twin of the alpha-sampling
gate), q_dedup_eval_semantic (semantic-path precision/recall vs
brute-force cosine truth), q_tokenizer_fit (BPE merge learning, + the
cross-engine replace-semantics pin its oracle relies on),
q_tokenizer_apply (merge application + compression stats),
q_stream_contamination_gate (stateless streaming eval-leak gate),
q_dp_sum (clipped-contribution DP sum release), q_rank_fusion
(reciprocal-rank fusion), q_dedup_phash (perceptual-hash near-dup
detection, + the pigeonhole recall pin), and q_dedup_report (the
cross-method dedup yield dashboard).
"""
from __future__ import annotations

import pytest

from engine.registry import QUERIES, load_all

from test_plans import final_plan, n_shuffles

load_all()


def test_contamination_semantic_zero_joins_zero_shuffles(spark, sf_dir):
    """The holdout matrix ships inside the mapInPandas closure, so
    the training side must be ONE narrow scan: no join operator of
    any kind (a BroadcastNestedLoopJoin here would row-expand
    |train| x |holdout|) and zero exchanges — each Arrow batch emits
    its own per-vector aggregate."""
    plan = final_plan(spark, "q_contamination_semantic", sf_dir)
    assert n_shuffles(plan) == 0, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_contamination_semantic_flags_only_training_vectors(spark, sf_dir):
    """Behavior: no holdout vector (vec_id = 0 mod 97) may appear in
    the output, every flagged vector's hit count is >= 1, and max_cos
    must clear the threshold on the 1e-4 grid."""
    rows = QUERIES["q_contamination_semantic"](spark, sf_dir).collect()
    assert rows  # non-vacuous at every committed scale (tau probe)
    for r in rows:
        assert r["vec_id"] % 97 != 0, r
        assert r["n_holdout_hits"] >= 1, r
        assert r["max_cos"] >= 0.32, r


def test_stream_temperature_gate_matches_batch_rates(spark, sf_dir):
    """The stream's per-language kept counts must equal the batch
    q_sample_temperature key's per-language row counts exactly (same
    thresholds, same md5 grid — the twin contract), and every
    language's seen count must equal the corpus count."""
    from pyspark.sql import functions as F

    from engine.io import load_tables

    gate = {r["lang"]: r for r in
            QUERIES["q_stream_temperature_gate"](spark, sf_dir).collect()}
    kept = {r["lang"]: r["n"] for r in
            QUERIES["q_sample_temperature"](spark, sf_dir)
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    seen = {r["lang"]: r["n"] for r in
            load_tables(spark, sf_dir)["documents"]
            .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(gate) == set(seen)
    for lang, r in gate.items():
        assert r["n_seen"] == seen[lang], (lang, r)
        assert r["n_kept"] == kept.get(lang, 0), (lang, r)
        # the gate actually gates: thresholds below 10000 must drop
        if r["threshold"] < 10000:
            assert r["n_kept"] < r["n_seen"], (lang, r)


def test_dedup_eval_semantic_perfect_precision_single_agg(spark, sf_dir):
    """Precision must be exactly 1.0 (every within-cluster candidate
    is scored with the exact quantized cosine, hence also a truth
    pair) and recall strictly below 1 on the random-vector fixture
    (cluster confinement must lose cross-cluster pairs — a recall of
    1.0 here would mean the truth side silently degenerated to the
    candidate set)."""
    rows = QUERIES["q_dedup_eval_semantic"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["method"] == "semantic"
    assert r["prec"] == 1.0, r
    assert 0 < r["recall"] < 1, r
    assert r["n_hit"] == r["n_candidates"], r


def test_dedup_eval_semantic_candidates_match_operator(spark, sf_dir):
    """No-desync pin: the eval's candidate count must equal the pair
    count the registered q_dedup_semantic operator aggregates —
    both sides call the shared _semantic_pairs helper, and this pin
    fails if someone forks one of them."""
    from engine.queries.llm import _SEM_TAU, _semantic_pairs

    n_pairs = _semantic_pairs(spark, sf_dir).count()
    r = QUERIES["q_dedup_eval_semantic"](spark, sf_dir).collect()[0]
    assert r["n_candidates"] == n_pairs
    # and the operator's dropped-vector output is the pair frame's
    # per-(v2, cl) aggregate — row count equality is the cheap check
    from pyspark.sql import functions as F

    n_drops = (_semantic_pairs(spark, sf_dir)
               .select("v2", "cl").distinct().count())
    assert QUERIES["q_dedup_semantic"](spark, sf_dir).count() == n_drops


def test_bpe_replace_semantics_identical_cross_engine(spark):
    """The merge-apply primitive: plain string replace's leftmost-
    non-overlapping scan must behave identically in Spark and DuckDB
    on adversarial repeated-token sequences — this equivalence is
    what lets q_tokenizer_fit's oracle replay the merge loop."""
    import duckdb

    cases = [
        (" a  a  a ", " a  a ", " aa "),          # odd run: merge 1st
        (" a  a  a  a ", " a  a ", " aa "),       # even run: merge both
        (" x  y  x  y  x ", " x  y ", " xy "),    # alternating
        (" b  a  a  b ", " a  a ", " aa "),       # interior
        (" ax  yb ", " x  y ", " xy "),           # NO suffix/prefix match
    ]
    for s, pat, rep in cases:
        dd = duckdb.sql(
            f"SELECT replace('{s}', '{pat}', '{rep}')").fetchone()[0]
        sp = spark.sql(
            f"SELECT replace('{s}', '{pat}', '{rep}') AS r"
        ).collect()[0]["r"]
        assert dd == sp, (s, dd, sp)
    # and the double-space layout implements TRUE greedy-left BPE:
    # ' x  y  x  y  x ' merges BOTH occurrences (a single-space
    # layout would consume the shared separator and miss the second)
    assert spark.sql(
        "SELECT replace(' x  y  x  y  x ', ' x  y ', ' xy ') AS r"
    ).collect()[0]["r"] == " xy  xy  x "


def test_tokenizer_fit_greedy_left_contract(spark, sf_dir):
    """Behavior pins: exactly _BPE_MERGES output rows with distinct
    ranks 1..n; every learned pair is two space-separated tokens;
    counts are positive and non-increasing in rank ONLY when merges
    don't create new dominant pairs (not asserted — BPE counts may
    rise); rank-1 must equal the hand-computable most frequent
    adjacent char pair of the corpus."""
    from collections import Counter

    from pyspark.sql import functions as F

    from engine.io import load_tables
    from engine.queries.llm import _BPE_MERGES

    rows = {r["rank"]: r for r in
            QUERIES["q_tokenizer_fit"](spark, sf_dir).collect()}
    assert sorted(rows) == list(range(1, _BPE_MERGES + 1))
    for r in rows.values():
        assert r["n"] > 0
        assert len(r["pair"].split(" ")) == 2, r
    # independent rank-1 recomputation (pure python, no SQL path)
    words = (load_tables(spark, sf_dir)["documents"]
             .select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.length("w") >= 2).collect())
    c = Counter()
    for w in words:
        s = w["w"]
        for a, b in zip(s, s[1:]):
            c[f"{a} {b}"] += 1
    best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
    assert (rows[1]["pair"], rows[1]["n"]) == best, (rows[1], best)


def test_tokenizer_apply_compression_and_composition(spark, sf_dir):
    """Behavior pins: every document appears (words >= 1); n_tokens
    <= n_chars everywhere (merges only shrink) with strict
    inequality somewhere (the merges actually fire); and corpus
    totals are consistent: sum(n_chars) equals the corpus character
    count of its words."""
    from pyspark.sql import functions as F

    from engine.io import load_tables

    rows = QUERIES["q_tokenizer_apply"](spark, sf_dir).collect()
    assert rows
    assert all(r["n_tokens"] <= r["n_chars"] for r in rows)
    assert any(r["n_tokens"] < r["n_chars"] for r in rows)
    assert all(r["n_words"] >= 1 for r in rows)
    total_chars = (load_tables(spark, sf_dir)["documents"]
                   .select(F.explode(F.split("text", " ")).alias("w"))
                   .filter(F.length("w") > 0)
                   .agg(F.sum(F.length("w"))).collect()[0][0])
    assert sum(r["n_chars"] for r in rows) == total_chars


def test_stream_contamination_gate_matches_batch_detector(spark, sf_dir):
    """Twin pin: the gate's total leaked-doc count must equal the
    registered batch q_contamination's output row count (one row per
    contaminated doc), and every source's leak count is bounded by
    its doc count."""
    rows = QUERIES["q_stream_contamination_gate"](spark, sf_dir).collect()
    assert rows
    n_leaked = sum(r["n_leaked"] for r in rows)
    assert n_leaked == QUERIES["q_contamination"](spark, sf_dir).count()
    assert n_leaked > 0  # the fixture actually leaks (non-vacuous)
    for r in rows:
        assert 0 <= r["n_leaked"] <= r["n_docs"], r


def test_dp_sum_mechanism(spark, sf_dir):
    """The DP sum release must (a) stay one aggregate chain + codegen
    CASE with the customer-dim join on the |customers|-row aggregate
    (no raw-order shuffle into the join), (b) release only multiples
    of the clip bound, never negative, (c) perturb at least one
    nation vs the exact clipped-unit release, and (d) keep every
    noise draw inside the +/-20-unit mechanism support. The clip must
    actually fire on the fixture (bounded != decorative)."""
    from pyspark.sql import functions as F

    from engine.io import load_tables
    from engine.queries.curation import _DP_SUM_CLIP

    t = load_tables(spark, sf_dir)
    # truth recomputed with the repo cents convention —
    # floor(x*100 + 0.5) — the SAME rounding the query and its oracle
    # use, so a truncate-vs-round regression in either is visible
    ct = (t["orders"]
          .select("o_custkey",
                  F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                  .cast("long").alias("c"))
          .groupBy("o_custkey").agg(F.sum("c").alias("c")))
    n_clipped = ct.filter(F.col("c") > _DP_SUM_CLIP).count()
    assert 0 < n_clipped < ct.count(), n_clipped
    nation_sums = (
        ct.join(t["customer"].select(
            F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey")
        .select("c_nationkey",
                F.least("c", F.lit(_DP_SUM_CLIP)).alias("cl"))
        .groupBy("c_nationkey").agg(F.sum("cl").alias("s"))
        .select("c_nationkey", "s", F.expr(
            f"(2 * s + {_DP_SUM_CLIP}) div (2 * {_DP_SUM_CLIP})")
            .alias("u"))
        .collect())
    true_units = {r["c_nationkey"]: r["u"] for r in nation_sums}
    # round-9 ADVICE margin pin: no nation's clipped sum may sit
    # within 10k cents of a half-unit rounding boundary (measured
    # minimum margin ~3.2M cents at sf0.01/sf0.1), so a few-cent
    # cross-engine drift can never flip a released unit
    for r in nation_sums:
        m = (2 * r["s"] + _DP_SUM_CLIP) % (2 * _DP_SUM_CLIP)
        margin = min(m, 2 * _DP_SUM_CLIP - m)
        assert margin >= 10_000, (r["c_nationkey"], r["s"], margin)
    rel = {r["c_nationkey"]: r["sum_noised_cents"] for r in
           QUERIES["q_dp_sum"](spark, sf_dir).collect()}
    assert set(rel) == set(true_units)
    assert any(rel[k] != true_units[k] * _DP_SUM_CLIP for k in rel)
    for k, v in rel.items():
        assert v >= 0 and v % _DP_SUM_CLIP == 0, (k, v)
        assert abs(v // _DP_SUM_CLIP - true_units[k]) <= 20, (k, v)


def test_rank_fusion_rrf_properties(spark, sf_dir):
    """Behavior pins: exactly TOPK rows per query with dense ranks
    1..k; rrf values strictly positive and bounded by 2/(k+1); the
    fusion genuinely fuses — somewhere the fused winner is NOT the
    raw-tf winner (system B's length normalization must actually
    influence at least one query's podium, else the second ranker is
    decorative)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from engine.queries.llm import _RRF_K, _RRF_TOPK

    rows = QUERIES["q_rank_fusion"](spark, sf_dir).collect()
    per_q = defaultdict(list)
    for r in rows:
        per_q[r["query_id"]].append(r)
        assert 0 < r["rrf"] <= 2.0 / (_RRF_K + 1) + 1e-6, r
    assert len(per_q) == 10
    for q, rs in per_q.items():
        assert sorted(r["rank"] for r in rs) == list(
            range(1, _RRF_TOPK + 1)), (q, rs)
    # independent raw-tf winner per query (ranker A alone)
    tok = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
           .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf")))
    dfw = tok.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    import pyspark.sql.window as _w
    wr = _w.Window.orderBy(F.col("df").desc(), "w")
    terms = (dfw.orderBy(F.col("df").desc(), "w").limit(25)
             .withColumn("r", F.row_number().over(wr))
             .filter((F.col("r") >= 6) & (F.col("r") <= 25))
             .select(F.expr("CAST((r - 6) div 2 AS INT)")
                     .alias("query_id"), "w"))
    wa = _w.Window.partitionBy("query_id").orderBy(
        F.col("tfsum").desc(), "doc_id")
    a_winners = {r["query_id"]: r["doc_id"] for r in
                 tok.join(F.broadcast(terms), "w")
                 .groupBy("query_id", "doc_id")
                 .agg(F.sum("tf").alias("tfsum"))
                 .withColumn("rk", F.row_number().over(wa))
                 .filter(F.col("rk") == 1).collect()}
    fused_winners = {q: min(rs, key=lambda r: r["rank"])["doc_id"]
                     for q, rs in per_q.items()}
    assert any(fused_winners[q] != a_winners[q] for q in fused_winners), (
        "fusion never disagrees with raw tf — ranker B is decorative")


def test_dedup_phash_banding_recall_and_symmetry(spark, sf_dir):
    """Recall pin (the pigeonhole guarantee): every pair with true
    hamming <= 3 MUST be reported (hamming <= 3 over 4 bands means
    at least one band is untouched, so band-equality candidates
    cannot miss it) — verified against a brute-force all-pairs
    recomputation of the hashes at fixture scale. Plus invariants:
    d1 < d2, hamming within [0, threshold], and hash determinism
    (the kernel's integer cross-multiplication replayed in numpy)."""
    import itertools

    import numpy as np

    from engine.io import load_tables
    from engine.queries.multimodal import _PHASH_HAM

    rows = QUERIES["q_dedup_phash"](spark, sf_dir).collect()
    got = {(r["d1"], r["d2"]): r["hamming"] for r in rows}
    for (d1, d2), hm in got.items():
        assert d1 < d2 and 0 <= hm <= _PHASH_HAM

    docs = load_tables(spark, sf_dir)["documents"] \
        .select("doc_id", "text").collect()
    hashes = {}
    for r in docs:
        b = r["text"].encode()
        n = len(b)
        if n == 0:
            continue
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        tot = int(arr.sum())
        bits = []
        for k in range(64):
            s0, s1 = n * k // 64, n * (k + 1) // 64
            bits.append(1 if int(arr[s0:s1].sum()) * n
                        >= tot * (s1 - s0) else 0)
        hashes[r["doc_id"]] = bits
    must = []
    for a, b2 in itertools.combinations(sorted(hashes), 2):
        h = sum(x != y for x, y in zip(hashes[a], hashes[b2]))
        if h <= 3:
            must.append((a, b2, h))
    for a, b2, h in must:
        assert got.get((a, b2)) == h, (a, b2, h, got.get((a, b2)))


def test_dedup_report_matches_operators(spark, sf_dir):
    """No-desync pins: every method row must equal the count derived
    from its registered operator, computed independently here."""
    from pyspark.sql import functions as F

    rows = {r["method"]: r for r in
            QUERIES["q_dedup_report"](spark, sf_dir).collect()}
    assert set(rows) == {"exact", "minhash_candidates", "simhash",
                         "ngram_jaccard", "url", "phash", "semantic"}
    assert rows["minhash_candidates"]["n"] == \
        QUERIES["q_dedup_fuzzy_minhash"](spark, sf_dir).count()
    assert rows["phash"]["n"] == \
        QUERIES["q_dedup_phash"](spark, sf_dir).count()
    assert rows["semantic"]["n"] == \
        QUERIES["q_dedup_semantic"](spark, sf_dir).count()
    exact = (QUERIES["q_dedup_exact"](spark, sf_dir)
             .agg(F.sum(F.col("n_copies") - 1)).collect()[0][0]) or 0
    assert rows["exact"]["n"] == exact
    for r in rows.values():
        assert r["n"] >= 0
