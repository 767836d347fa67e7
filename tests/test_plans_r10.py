"""Round-10 plan pins + behavior tests for keys first registered in round 10:
q_dedup_substring_cut (substring-dedup removal — the Lee et al. 2022
transformation over the measurement twin's duplicated-gram islands).
"""
from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from engine.registry import QUERIES, load_all

load_all()

G = 4   # _SUBDUP_G
R = 4   # _SUBCUT_R


def _brute_force_cut(texts):
    """Reference re-implementation of the cut on raw Python strings:
    gram hash = md5 of the space-joined 4-gram, duplicated = in >= 2
    distinct docs, islands of >= R consecutive duplicated grams cut
    words [lo, hi=last+G-1]; returns {doc_id: (clean, kept, cut)}."""
    grams = {}
    words = {d: t.split(" ") for d, t in texts.items() if t}
    for d, ws in words.items():
        for s in range(len(ws) - G + 1):
            gh = hashlib.md5(" ".join(ws[s:s + G]).encode()).hexdigest()
            grams.setdefault(gh, set()).add(d)
    dup = {gh for gh, ds in grams.items() if len(ds) >= 2}
    out = {}
    for d, ws in words.items():
        pos = [s + 1 for s in range(len(ws) - G + 1)
               if hashlib.md5(" ".join(ws[s:s + G]).encode())
               .hexdigest() in dup]
        cut_idx = set()
        i = 0
        while i < len(pos):
            j = i
            while j + 1 < len(pos) and pos[j + 1] == pos[j] + 1:
                j += 1
            if j - i + 1 >= R:
                cut_idx.update(range(pos[i], pos[j] + G))  # lo..hi incl
            i = j + 1
        kept = [w for k, w in enumerate(ws, 1) if k not in cut_idx]
        cut = [w for k, w in enumerate(ws, 1) if k in cut_idx]
        out[d] = (" ".join(kept), kept, cut)
    return out


def test_substring_cut_matches_brute_force(spark, sf_dir):
    """The splice must equal a from-scratch Python re-implementation
    on the whole sf0.001 fixture — text, word counts, char counts."""
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("doc_id", "text").collect() if r["text"]}
    want = _brute_force_cut(texts)
    got = {r["doc_id"]: r for r in
           QUERIES["q_dedup_substring_cut"](spark, sf_dir).collect()}
    assert set(got) == set(want)
    for d, (clean, kept, cut) in want.items():
        g = got[d]
        assert g["text_clean"] == clean, d
        assert g["n_words_kept"] == len(kept), d
        assert g["n_words_cut"] == len(cut), d
        assert g["n_chars_kept"] == sum(len(w) for w in kept), d
        assert g["n_chars_cut"] == sum(len(w) for w in cut), d


def test_substring_cut_consistent_with_measurement_twin(spark, sf_dir):
    """Islands -> splice consistency: a document loses words iff the
    measurement twin reports a duplicated run >= R, and kept + cut
    always reconciles with the raw text (no word invented or lost).
    The cut must actually fire on the fixture (non-vacuous)."""
    runs = {r["doc_id"]: r["max_dup_run"] for r in
            QUERIES["q_dedup_substring"](spark, sf_dir).collect()}
    cut = {r["doc_id"]: r for r in
           QUERIES["q_dedup_substring_cut"](spark, sf_dir).collect()}
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("doc_id", "text").collect() if r["text"]}
    n_cut_docs = 0
    for d, r in cut.items():
        ws = texts[d].split(" ")
        assert r["n_words_kept"] + r["n_words_cut"] == len(ws), d
        assert (r["n_chars_kept"] + r["n_chars_cut"]
                == sum(len(w) for w in ws)), d
        # runs below the gram width are absent from the measurement
        # frame (docs with < G words have no grams): default 0
        if r["n_words_cut"] > 0:
            n_cut_docs += 1
            assert runs.get(d, 0) >= R, d
        else:
            assert runs.get(d, 0) < R, d
    assert n_cut_docs > 0


def test_dedup_eval_phash_pigeonhole_and_brute_force(spark, sf_dir):
    """The eval's two rows must reconcile with a from-scratch numpy
    brute force over the payload hashes (the r9 pytest pin's method,
    now cross-checking the oracle-graded numbers): recall at the
    pigeonhole radius is EXACTLY 1.0, truth counts match the brute
    force at both radii, and the candidate set is non-vacuous."""
    import numpy as np

    from engine.multimodal import attach_payload
    from engine.queries.multimodal import _PHASH_HAM, _PHASH_PIGEON

    rows = {r["method"]: r for r in
            QUERIES["q_dedup_eval_phash"](spark, sf_dir).collect()}
    assert set(rows) == {f"phash_ham{_PHASH_HAM}",
                         f"phash_ham{_PHASH_PIGEON}"}

    # brute-force truth from raw payload bytes (independent hashing)
    docs = (attach_payload(
        spark.read.parquet(f"{sf_dir}/documents.parquet"))
        .filter(F.length("payload") > 0)
        .select("doc_id", "payload").collect())
    hashes = {}
    for r in docs:
        arr = np.frombuffer(bytes(r["payload"]),
                            dtype=np.uint8).astype(np.int64)
        n = len(arr)
        edges = (n * np.arange(65)) // 64
        bsum = np.add.reduceat(np.concatenate((arr, [0])), edges[:-1])
        bl = np.diff(edges)
        bsum = np.where(bl == 0, 0, bsum)
        bits = (bsum * n >= int(arr.sum()) * bl).astype(np.int64)
        w = 1 << np.arange(16)  # 16-bit bands: no int64 shift overflow
        hashes[r["doc_id"]] = tuple(
            int((bits[k * 16:(k + 1) * 16] * w).sum()) for k in range(4))
    ids = sorted(hashes)
    t12 = t3 = 0
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            hm = sum(bin(a ^ b).count("1")
                     for a, b in zip(hashes[d1], hashes[d2]))
            t12 += hm <= _PHASH_HAM
            t3 += hm <= _PHASH_PIGEON
    r12 = rows[f"phash_ham{_PHASH_HAM}"]
    r3 = rows[f"phash_ham{_PHASH_PIGEON}"]
    assert r12["n_truth"] == t12 and r3["n_truth"] == t3
    assert r12["n_candidates"] == r3["n_candidates"] > 0
    assert r3["n_hit"] == t3  # pigeonhole: every <=3 pair banded
    if t3:
        assert r3["recall"] == 1.0
    # detected pairs = candidates that are true pairs at the radius
    assert r12["n_hit"] == QUERIES["q_dedup_phash"](
        spark, sf_dir).count()


def test_substring_cut_splice_is_codegen_no_extra_text_shuffle(
        spark, sf_dir):
    """The splice adds no Python evaluation (no mapInPandas /
    BatchEvalPython in the plan — transform/filter/exists/array_join
    are JVM expressions) and the text column feeds the final project
    from its scan side, not from inside the island aggregation."""
    df = QUERIES["q_dedup_substring_cut"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tokenizer_vocab_structure_and_fit_consistency(spark, sf_dir):
    """Vocab pins: (a) the merge rows are exactly the fused forms of
    q_tokenizer_fit's learned pairs (earliest rank kept on surface
    collisions); (b) base chars are single characters at rank 0 and
    cover every character of every merge token; (c) occurrence
    counts are non-negative and total exactly the corpus-weighted
    final token count replayed from the fit's merges; (d) no token
    appears twice within a kind."""
    from engine.queries.llm import _BPE_MERGES
    fit = QUERIES["q_tokenizer_fit"](spark, sf_dir).collect()
    fused = {}
    for r in sorted(fit, key=lambda r: r["rank"]):
        fused.setdefault(r["pair"].replace(" ", ""), r["rank"])
    rows = QUERIES["q_tokenizer_vocab"](spark, sf_dir).collect()
    merges = {r["token"]: r["rank"] for r in rows if r["kind"] == "merge"}
    chars = {r["token"]: r["rank"] for r in rows if r["kind"] == "char"}
    assert len(rows) == len(merges) + len(chars)
    assert merges == fused
    assert all(len(t) == 1 and rk == 0 for t, rk in chars.items())
    assert all(c in chars for t in merges for c in t)
    assert all(r["n"] >= 0 for r in rows)
    # replay the merge loop in Python over the corpus word types
    texts = [r["text"] for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("text").collect() if r["text"]]
    freq = {}
    for t in texts:
        for w in t.split(" "):
            if len(w) >= 2:
                freq[w] = freq.get(w, 0) + 1
    order = sorted(fused, key=fused.get)
    pairs_by_rank = {r["rank"]: tuple(r["pair"].split(" ")) for r in fit}
    total = 0
    for w, n in freq.items():
        seq = list(w)
        for rk in range(1, _BPE_MERGES + 1):
            a, b = pairs_by_rank[rk]
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
    # greedy-left replay gives the exact final token multiset
        total += n * len(seq)
    assert sum(r["n"] for r in rows) == total


def test_token_budget_exact_integer_replay(spark, sf_dir):
    """Re-derive the whole planner in exact Python integer math from
    the raw per-source token counts and require equality, then pin
    the planner invariants: shares sum to <= 1e6 (floor rounding),
    allocations sum to <= budget with deficit < |sources| x max
    source (floor of each), and alloc == full_epochs * n + tail
    reconstruction within one ppm quantum."""
    import math
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw = {r["source"]: (r["nd"], r["nt"]) for r in
           d.groupBy("source")
           .agg(F.count(F.lit(1)).alias("nd"),
                F.sum(F.size(F.split("text", " "))).alias("nt"))
           .collect()}
    w = {s: math.isqrt(nt) for s, (nd, nt) in raw.items()}
    S = sum(w.values())
    B = 2 * sum(nt for _, nt in raw.values())
    rows = {r["source"]: r for r in
            QUERIES["q_token_budget"](spark, sf_dir).collect()}
    assert set(rows) == set(raw)
    for s, (nd, nt) in raw.items():
        r = rows[s]
        alloc = B * w[s] // S
        assert (r["n_docs"], r["n_tokens"], r["weight"]) == (nd, nt, w[s])
        assert r["share_ppm"] == 1000000 * w[s] // S
        assert r["alloc_tokens"] == alloc
        assert r["full_epochs"] == alloc // nt
        assert r["tail_ppm"] == (alloc % nt) * 1000000 // nt
        # tail is a proper fraction; a full extra epoch would have
        # landed in full_epochs
        assert 0 <= r["tail_ppm"] < 1000000
    assert sum(r["share_ppm"] for r in rows.values()) <= 1000000
    total_alloc = sum(r["alloc_tokens"] for r in rows.values())
    # each floor loses < 1 token of the exact B*w/S share
    assert B - len(raw) < total_alloc <= B


def test_dedup_eval_bands_scurve_nesting(spark, sf_dir):
    """The four configs factorize the SAME 8 signatures with aligned
    boundaries, so candidate sets nest by construction: all-8-match
    implies each half matches implies each pair matches. Pins: set
    containment 1x8 <= 2x4 <= 4x2 <= 8x1, counts monotone, recall
    non-decreasing / precision non-increasing along the same order
    (where defined), n_truth identical everywhere, and the (4, 2)
    row equal to q_dedup_eval's production grading."""
    from engine.queries.llm import (_BAND_CONFIGS, _band_pairs,
                                    _minhash_signatures,
                                    _shingle_hashes)
    rows = {(r["n_bands"], r["rows_per_band"]): r
            for r in QUERIES["q_dedup_eval_bands"](spark, sf_dir).collect()}
    assert set(rows) == set(_BAND_CONFIGS)
    order = [(1, 8), (2, 4), (4, 2), (8, 1)]  # coarse -> fine bands
    truths = {r["n_truth"] for r in rows.values()}
    assert len(truths) == 1
    for a, b in zip(order, order[1:]):
        assert rows[a]["n_candidates"] <= rows[b]["n_candidates"]
        assert rows[a]["n_hit"] <= rows[b]["n_hit"]
        if rows[a]["recall"] is not None:
            assert rows[a]["recall"] <= rows[b]["recall"]
    sig = _minhash_signatures(_shingle_hashes(spark, sf_dir))
    sets = {c: {(r["d1"], r["d2"])
                for r in _band_pairs(sig, *c).collect()}
            for c in order}
    assert sets[(1, 8)] <= sets[(2, 4)] <= sets[(4, 2)] <= sets[(8, 1)]
    prod = QUERIES["q_dedup_eval"](spark, sf_dir).collect()[0]
    r42 = rows[(4, 2)]
    assert (r42["n_candidates"], r42["n_truth"], r42["n_hit"],
            r42["prec"], r42["recall"]) == (
        prod["n_candidates"], prod["n_truth"], prod["n_hit"],
        prod["prec"], prod["recall"])


def test_contamination_cut_consistent_with_measurement_twin(
        spark, sf_dir):
    """Excision <-> measurement consistency on the full fixture:
    exactly the docs q_contamination flags lose words (no run
    threshold — any leaked gram cuts), holdout docs are absent from
    the output, kept + cut reconciles with the raw text, every cut
    span covers >= one gram width (4 words), and the cut fires
    non-vacuously. Cut word counts are re-derived from a brute-force
    Python interval union over the leaked gram positions."""
    flagged = {r["doc_id"] for r in
               QUERIES["q_contamination"](spark, sf_dir).collect()}
    cut = {r["doc_id"]: r for r in
           QUERIES["q_contamination_cut"](spark, sf_dir).collect()}
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select("doc_id", "text").collect()
             if r["text"] and r["doc_id"] % 97 != 0}
    assert set(cut) == set(texts)
    assert all(d % 97 != 0 for d in cut)
    # brute-force leak positions: holdout gram hashes from raw text
    import hashlib

    def grams(t):
        ws = t.split(" ")
        return {s: hashlib.md5(" ".join(ws[s:s + 4]).encode())
                .hexdigest() for s in range(len(ws) - 3)}
    hold_texts = {r["doc_id"]: r["text"] for r in
                  spark.read.parquet(f"{sf_dir}/documents.parquet")
                  .select("doc_id", "text").collect()
                  if r["text"] and r["doc_id"] % 97 == 0}
    hold = {gh for t in hold_texts.values() for gh in grams(t).values()}
    n_cut_docs = 0
    for d, r in cut.items():
        ws = texts[d].split(" ")
        assert r["n_words_kept"] + r["n_words_cut"] == len(ws), d
        assert (r["n_chars_kept"] + r["n_chars_cut"]
                == sum(len(w) for w in ws)), d
        idx = set()
        for s, gh in grams(texts[d]).items():
            if gh in hold:
                idx.update(range(s, s + 4))
        assert r["n_words_cut"] == len(idx), d
        assert (d in flagged) == (r["n_words_cut"] > 0), d
        if idx:
            n_cut_docs += 1
            expect = " ".join(w for k, w in enumerate(ws) if k not in idx)
            assert r["text_clean"] == expect, d
    assert n_cut_docs > 0
    assert set(flagged) == {d for d, r in cut.items()
                            if r["n_words_cut"] > 0}


def test_quality_ablation_matches_score_key_and_is_monotone(
        spark, sf_dir):
    """The ablation's integer-algebra keep decision must agree with a
    replay over q_text_quality's own per-doc output computed as exact
    fractions from the raw features (the float `quality` column is
    rounded, so the replay recomputes the exact rational from the
    unrounded feature frame), t=0 keeps the whole corpus, and
    docs/tokens are non-increasing in the threshold."""
    from fractions import Fraction

    from engine.queries.llm import _ABLATION_THRS, _quality_features
    feats = _quality_features(spark, sf_dir).collect()
    rows = {r["thr_permille"]: r for r in
            QUERIES["q_quality_ablation"](spark, sf_dir).collect()}
    assert sorted(rows) == _ABLATION_THRS
    assert rows[0]["n_docs"] == len(feats)
    assert rows[0]["n_tokens"] == sum(r["n_words"] for r in feats)
    assert rows[0]["doc_ppm"] == rows[0]["token_ppm"] == 1000000
    for t in _ABLATION_THRS:
        kept = [r for r in feats if
                Fraction(4 * r["n_stop"] + 3 * r["n_long"], 10)
                + Fraction(3 * min(r["sum_len"], 10 * r["n_words"]), 100)
                >= Fraction(t * r["n_words"], 1000)]
        assert rows[t]["n_docs"] == len(kept), t
        assert rows[t]["n_tokens"] == sum(r["n_words"] for r in kept), t
        assert (rows[t]["doc_ppm"]
                == 1000000 * len(kept) // len(feats)), t
    for a, b in zip(_ABLATION_THRS, _ABLATION_THRS[1:]):
        assert rows[a]["n_docs"] >= rows[b]["n_docs"]
        assert rows[a]["n_tokens"] >= rows[b]["n_tokens"]
    # the sweep must actually separate the fixture (non-degenerate)
    assert rows[_ABLATION_THRS[-1]]["n_docs"] < rows[0]["n_docs"]


def test_pack_efficiency_identities_vs_manifest(spark, sf_dir):
    """Per-shard identities re-derived from the registered manifest:
    n_seqs = ceil(n_tokens / 512) (the cumsum is gapless), tail_pad
    = n_seqs*512 - n_tokens in [0, 512), n_crossing counts exactly
    the manifest rows with end_seq > start_seq, ppms are the exact
    integer divisions, and every shard of the manifest appears."""
    man = QUERIES["q_pack_sequences"](spark, sf_dir).collect()
    eff = {r["shard"]: r for r in
           QUERIES["q_pack_efficiency"](spark, sf_dir).collect()}
    shards = {}
    for r in man:
        s = shards.setdefault(r["shard"],
                              {"docs": 0, "tok": 0, "cross": 0, "mx": 0})
        s["docs"] += 1
        s["tok"] += r["n_tok"]
        s["cross"] += r["end_seq"] > r["start_seq"]
        s["mx"] = max(s["mx"], r["end_seq"])
    assert set(eff) == set(shards)
    for sh, s in shards.items():
        r = eff[sh]
        n_seqs = -(-s["tok"] // 512)
        assert r["n_docs"] == s["docs"]
        assert r["n_tokens"] == s["tok"]
        assert r["n_seqs"] == n_seqs == s["mx"] + 1
        assert r["tail_pad"] == n_seqs * 512 - s["tok"]
        assert 0 <= r["tail_pad"] < 512
        assert r["n_crossing"] == s["cross"]
        assert r["pad_ppm"] == 1000000 * r["tail_pad"] // (n_seqs * 512)
        assert r["crossing_ppm"] == 1000000 * s["cross"] // s["docs"]


def test_dedup_cross_source_matrix_reconciles_with_pairs(spark, sf_dir):
    """The matrix must be exactly the verified near-dup pair set
    attributed to sources: total n_pairs == |q_dedup_ngram_jaccard|,
    every cell re-derivable from the pairs + the (doc_id, source)
    projection, source_a <= source_b everywhere, and the fixture
    yields at least one OFF-diagonal (cross-source) cell."""
    src = {r["doc_id"]: r["source"] for r in
           spark.read.parquet(f"{sf_dir}/documents.parquet")
           .select("doc_id", "source").collect()}
    pairs = [(r["d1"], r["d2"]) for r in
             QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir).collect()]
    want = {}
    for d1, d2 in pairs:
        key = tuple(sorted((src[d1], src[d2])))
        want[key] = want.get(key, 0) + 1
    got = {(r["source_a"], r["source_b"]): r["n_pairs"] for r in
           QUERIES["q_dedup_cross_source"](spark, sf_dir).collect()}
    assert got == want
    assert sum(got.values()) == len(pairs) > 0
    assert all(a <= b for a, b in got)
    assert any(a != b for a, b in got)


def test_r10_cohort_plans_stay_jvm_side(spark, sf_dir):
    """Plan hygiene for every round-10 key with a JVM-only design:
    no row-at-a-time Python eval, no Pandas exchange, no cartesian
    product anywhere in the executed plan."""
    for k in ["q_tokenizer_vocab", "q_token_budget",
              "q_quality_ablation", "q_contamination_cut",
              "q_pack_efficiency", "q_dedup_cross_source",
              "q_dedup_eval_bands"]:
        plan = (QUERIES[k](spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString())
        for word in ("BatchEvalPython", "MapInPandas",
                     "CartesianProduct"):
            assert word not in plan, (k, word)


def test_sim_eval_ivf_recall_curve(spark, sf_dir):
    """The nprobe curve must be coherent: one row per grid point,
    recall non-decreasing in nprobe, the production nprobe=4 point at
    the >= 0.9 pin (matching tests/test_llm_quality.py's standing
    bound), both sets top-20-sized so prec == recall, and the
    nprobe=4 candidate set identical to the registered
    q_sim_ivf_topk's pairs."""
    from engine.queries.llm import _IVF_EVAL_NPROBES, _ivf_topk_pairs
    rows = {r["nprobe"]: r for r in
            QUERIES["q_sim_eval_ivf"](spark, sf_dir).collect()}
    assert sorted(rows) == _IVF_EVAL_NPROBES
    prev = -1.0
    for npr in _IVF_EVAL_NPROBES:
        r = rows[npr]
        assert r["n_candidates"] == r["n_truth"] == 20
        assert r["prec"] == r["recall"]
        assert r["recall"] >= prev
        prev = r["recall"]
    assert rows[4]["recall"] >= 0.9
    reg = {(r["v1"], r["v2"]) for r in
           QUERIES["q_sim_ivf_topk"](spark, sf_dir).collect()}
    ours = {(r["v1"], r["v2"]) for r in
            _ivf_topk_pairs(spark, sf_dir, 4).collect()}
    assert reg == ours


def test_contamination_report_reconciles_with_detectors(spark, sf_dir):
    """Every dashboard row must equal a re-aggregation of its
    registered detector's own output, and the fixture must light up
    every method (non-vacuous at sf0.001 by fixture design)."""
    rep = {r["method"]: r for r in
           QUERIES["q_contamination_report"](spark, sf_dir).collect()}
    assert set(rep) == {"ngram_doc", "ngram_chunk", "semantic", "cut"}
    c1 = QUERIES["q_contamination"](spark, sf_dir).collect()
    assert rep["ngram_doc"]["n_flagged"] == len(c1)
    assert rep["ngram_doc"]["n_findings"] == sum(r["n_shared"] for r in c1)
    c2 = QUERIES["q_contamination_chunk"](spark, sf_dir).collect()
    assert rep["ngram_chunk"]["n_flagged"] == sum(
        1 for r in c2 if r["n_contam_chunks"] > 0)
    assert rep["ngram_chunk"]["n_findings"] == sum(
        r["n_contam_chunks"] for r in c2)
    c3 = QUERIES["q_contamination_semantic"](spark, sf_dir).collect()
    assert rep["semantic"]["n_flagged"] == len(c3)
    assert rep["semantic"]["n_findings"] == sum(
        r["n_holdout_hits"] for r in c3)
    c4 = QUERIES["q_contamination_cut"](spark, sf_dir).collect()
    assert rep["cut"]["n_flagged"] == sum(
        1 for r in c4 if r["n_words_cut"] > 0)
    assert rep["cut"]["n_findings"] == sum(r["n_words_cut"] for r in c4)
    assert all(r["n_flagged"] > 0 for r in rep.values())
    # the cut excises a superset of the doc-grain flags (no run
    # threshold), so flagged doc counts must agree
    assert rep["cut"]["n_flagged"] == rep["ngram_doc"]["n_flagged"]


def test_contamination_cut_broadcasts_holdout_and_single_scan_budget(
        spark, sf_dir):
    """Scale-shape pins for two round-10 keys: (a) q_contamination_cut
    probes the benchmark-bounded holdout gram set via broadcast — the
    corpus gram side must never sort-merge for the membership join
    (the q_contamination pin extended to the cut); (b) q_token_budget
    touches the documents table exactly ONCE (one map-side aggregate;
    everything after is |sources|-row math on a broadcast total)."""
    plan = (QUERIES["q_contamination_cut"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    bplan = (QUERIES["q_token_budget"](spark, sf_dir)
             ._jdf.queryExecution().executedPlan().toString())
    # the planner reads the persisted |sources|-row stats frame and
    # applies LITERAL totals — no join, no second corpus pass (a
    # crossJoin against the lazy total frame used to re-execute the
    # whole aggregate lineage on the broadcast side)
    assert "InMemoryTableScan" in bplan, bplan
    assert "Join" not in bplan, bplan
