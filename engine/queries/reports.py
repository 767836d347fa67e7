"""Cross-family composite reports.

Loads LAST in engine.registry._MODULES: these keys compose ORACLE
strings registered by llm / pipeline / curation, so they must import
after every producer (curation itself is transitively imported during
llm's import, which is why the dataset card cannot live there — the
q_token_budget oracle does not exist yet at that point).

Reference (GFleishman/dask_stitch, stitch.py:7-121) has no reporting
surface; this extends the engine's governance family
(q_dedup_report / q_contamination_report / q_ingest_report).
"""
from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..io import load_tables
from ..registry import ORACLE as _ORACLE, query

from .curation import q_pii_report  # noqa: E402


def _data_card_oracle() -> str:
    from .llm import QC_BUCKET_SQL, QC_LOGIT_SQL, QC_T_SQL
    return f"""
WITH tb AS ({_ORACLE['q_token_budget']}),
de AS ({_ORACLE['q_dedup_exact']}),
dup AS (SELECT d.source, count(*) AS n_dup
        FROM documents d JOIN de ON md5(d.text) = de.h
        WHERE d.doc_id <> de.keeper GROUP BY d.source),
lg AS ({_ORACLE['q_text_langid']}),
lc AS (SELECT d.source, lg.lang_guess, count(*) AS n
       FROM lg JOIN documents d USING (doc_id)
       GROUP BY d.source, lg.lang_guess),
ltop AS (SELECT source, lang_guess AS top_lang, n FROM (
            SELECT *, row_number() OVER (PARTITION BY source
                ORDER BY n DESC, lang_guess) AS rn FROM lc)
         WHERE rn = 1),
pr AS ({_ORACLE['q_pii_report']}),
t AS ({QC_T_SQL}),
sc AS (SELECT doc_id, {QC_LOGIT_SQL} AS logit FROM t),
qb AS (SELECT doc_id, {QC_BUCKET_SQL} AS bucket FROM sc),
qh AS (SELECT d.source,
              count(CASE WHEN qb.bucket = 'high' THEN 1 END)
                  AS n_high
       FROM qb JOIN documents d USING (doc_id) GROUP BY d.source)
SELECT tb.source, tb.n_docs, tb.n_tokens,
       CAST(1000000 * coalesce(dup.n_dup, 0) // tb.n_docs AS BIGINT)
           AS dup_ppm,
       ltop.top_lang,
       CAST(1000000 * ltop.n // tb.n_docs AS BIGINT) AS top_lang_ppm,
       pr.quarantine_ppm AS pii_quarantine_ppm,
       CAST(1000000 * qh.n_high // tb.n_docs AS BIGINT)
           AS quality_high_ppm
FROM tb
LEFT JOIN dup USING (source)
JOIN ltop USING (source)
JOIN pr USING (source)
JOIN qh USING (source)
"""


@query("q_data_card", oracle=_data_card_oracle())
def q_data_card(spark, sf):
    """Per-source DATASET CARD — the datasheet a corpus release ships
    (Gebru et al.'s "Datasheets for Datasets" reduced to the numbers
    a pre-training ingest actually gates on), and the capstone of
    the report family (q_dedup_report / q_contamination_report /
    q_ingest_report are per-METHOD dashboards; this is the
    per-SOURCE one a data vendor review reads): available docs and
    tokens (the REGISTERED q_token_budget planner's own counts),
    exact-duplicate redundancy in ppm (q_dedup_exact's groups,
    keeper-excluded), the dominant predicted language and its share
    (q_text_langid's verdicts), the PII quarantine rate
    (q_pii_report's screen verbatim), and the high-quality-bucket
    share (the shared QC calibration fragments). Every column is
    computed FROM a registered operator — Spark calls the q_* keys,
    the oracle nests each key's ORACLE/fragment verbatim — so the
    card can never disagree with the operators it summarizes (the
    q_dedup_report discipline).

    Scale: each composed pipeline is its own already-bounded shape
    (see the operators); the card adds four |sources|-grain
    aggregates and four broadcast-sized joins on source. NOT a
    bench entry and probe-excluded (composes five pipelines — the
    q_dedup_report precedent)."""
    from .llm import (QC_BUCKET_SQL, q_dedup_exact, q_text_langid,
                      qc_score)
    from .pipeline import q_token_budget

    d = load_tables(spark, sf)["documents"]
    tb = q_token_budget(spark, sf).select(
        "source", "n_docs", "n_tokens")
    de = q_dedup_exact(spark, sf)
    dup = (d.select("doc_id", "source",
                    F.md5(F.col("text").cast("binary")).alias("h"))
           .join(de, "h")
           .filter(F.col("doc_id") != F.col("keeper"))
           .groupBy("source").agg(F.count(F.lit(1)).alias("n_dup")))
    src = d.select("doc_id", "source")
    lc = (q_text_langid(spark, sf).select("doc_id", "lang_guess")
          .join(src, "doc_id")
          .groupBy("source", "lang_guess")
          .agg(F.count(F.lit(1)).alias("n")))
    wl = Window.partitionBy("source").orderBy(
        F.col("n").desc(), "lang_guess")
    ltop = (lc.withColumn("rn", F.row_number().over(wl))
            .filter(F.col("rn") == 1)
            .select("source", F.col("lang_guess").alias("top_lang"),
                    "n"))
    pr = q_pii_report(spark, sf).select(
        "source",
        F.col("quarantine_ppm").alias("pii_quarantine_ppm"))
    qh = (qc_score(d)
          .select("source", F.expr(QC_BUCKET_SQL).alias("bucket"))
          .groupBy("source")
          .agg(F.count(F.when(F.col("bucket") == "high", 1))
               .alias("n_high")))
    return (tb.join(dup, "source", "left")
            .join(F.broadcast(ltop), "source")
            .join(F.broadcast(pr), "source")
            .join(F.broadcast(qh), "source")
            .select(
                "source", "n_docs", "n_tokens",
                F.expr("CAST(1000000 * coalesce(n_dup, 0)"
                       " div n_docs AS BIGINT)").alias("dup_ppm"),
                "top_lang",
                F.expr("CAST(1000000 * n div n_docs AS BIGINT)")
                 .alias("top_lang_ppm"),
                "pii_quarantine_ppm",
                F.expr("CAST(1000000 * n_high div n_docs AS BIGINT)")
                 .alias("quality_high_ppm")))


@query("q_stream_incr_join_refresh",
       oracle=_ORACLE["q_incr_join_refresh"])
def q_stream_incr_join_refresh(spark, sf):
    """Speed-layer twin of q_incr_join_refresh — the delta-join
    lane as a LIVE ingest: the orders delta (o_orderkey ≡ 0 mod 13)
    replays as a file stream, every arriving order joins the full
    customer dimension through a stream-static BROADCAST hash join
    (the q_stream_join_static shape — the stream is never
    repartitioned for the join) and folds into a complete-mode
    (status, segment) aggregate whose state is |groups| rows at any
    stream length. Batch-side, the standing MV lane and the
    base⋈Δc lane come from the SAME _ijr_parts/_ijr_lane helpers as
    the batch twin (one cents rule, one delta split — the
    dedup_incr_* no-desync discipline) and the three partials
    sum-merge exactly as the batch refresh does. Both twins hash
    against the SAME full-recompute oracle (composed verbatim), so
    the live view and the batch refresh cannot disagree.

    Scale: stream state is |groups| rows; the broadcast dimension
    ships once per executor; the batch lanes are the registered
    refresh shapes. Lives in reports.py because the composed oracle
    needs q_incr_join_refresh registered first (module loads
    last)."""
    from .incremental import _ijr_lane, _ijr_merge, _ijr_parts
    from .streaming_q import _run_stream

    def build(orders):
        dlt = (orders.filter(F.col("o_orderkey") % 13 == 0)
               .select("o_custkey", "o_orderstatus",
                       F.floor(F.col("o_totalprice") * 100
                               + F.lit(0.5)).cast("long")
                       .alias("cents")))
        c_full = (load_tables(spark, sf)["customer"]
                  .select("c_custkey", "c_mktsegment"))
        g = (dlt.join(F.broadcast(c_full),
                      dlt.o_custkey == c_full.c_custkey)
             .groupBy("o_orderstatus", "c_mktsegment")
             .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                  F.sum("cents").cast("long").alias("total_cents")))
        return g, "complete"

    d1 = spark.table(_run_stream(spark, sf, "incrjoin", build,
                                 one_batch=True, table="orders"))
    o, c = _ijr_parts(spark, sf)
    base_o = o.filter(F.col("o_orderkey") % 13 != 0)
    base_c = c.filter(F.col("c_custkey") % 17 != 0)
    dlt_c = c.filter(F.col("c_custkey") % 17 == 0)
    mv = _ijr_lane(base_o, base_c)
    d2 = _ijr_lane(base_o, dlt_c, bcast="right")
    return _ijr_merge(mv, d1, d2)


def _dp_report_oracle() -> str:
    from .curation import _DP_HIST_TAU, _DPQ_PCTS
    rows = []
    for mech, unit, key, col in [
        ("count", "groups released", "q_dp_count", "n_noised"),
        ("sum", "groups released", "q_dp_sum", "sum_noised_cents"),
        ("histogram", f"buckets kept (tau={_DP_HIST_TAU})",
         "q_dp_histogram", "n_released"),
        ("quantile", f"percentiles ({len(_DPQ_PCTS)}-point grid)",
         "q_dp_quantile", "value_released"),
    ]:
        rows.append(
            f"SELECT '{mech}' AS mechanism, '{unit}' AS unit,"
            f" CAST(count(*) AS BIGINT) AS n_released,"
            f" CAST(sum({col}) AS BIGINT) AS released_sum"
            f" FROM ({_ORACLE[key]})")
    return " UNION ALL ".join(rows)


@query("q_dp_report", oracle=_dp_report_oracle())
def q_dp_report(spark, sf):
    """DP-release GOVERNANCE dashboard — the q_dedup_report
    discipline on the privacy family: one row per registered release
    mechanism (count / sum / histogram / quantile) with how many
    rows the release published and their sum in the release's own
    unit — the audit table a privacy officer reads to confirm what
    actually left the boundary this period (row counts are
    themselves part of the privacy ledger: the histogram's
    suppressed-bucket count is visible as |released| vs |domain|).
    Spark aggregates the REGISTERED q_dp_* keys; the oracle wraps
    each key's ORACLE verbatim as a closed subquery — the dashboard
    cannot disagree with the releases it summarizes.

    Scale: each release is already |groups|/|buckets|/|pcts|-row
    bounded; the report adds one 1-row aggregate per mechanism and
    a 4-row union. NOT a bench entry, probe-excluded (composes four
    pipelines — the q_dedup_report precedent)."""
    from .curation import (_DP_HIST_TAU, _DPQ_PCTS, q_dp_count,
                           q_dp_histogram, q_dp_quantile, q_dp_sum)

    rows = [
        ("count", "groups released", q_dp_count(spark, sf), "n_noised"),
        ("sum", "groups released", q_dp_sum(spark, sf),
         "sum_noised_cents"),
        ("histogram", f"buckets kept (tau={_DP_HIST_TAU})",
         q_dp_histogram(spark, sf), "n_released"),
        ("quantile", f"percentiles ({len(_DPQ_PCTS)}-point grid)",
         q_dp_quantile(spark, sf), "value_released"),
    ]
    out = None
    for mech, unit, frame, col in rows:
        r = (frame.agg(F.count(F.lit(1)).cast("long").alias("n_released"),
                       F.sum(col).cast("long").alias("released_sum"))
             .select(F.lit(mech).alias("mechanism"),
                     F.lit(unit).alias("unit"),
                     "n_released", "released_sum"))
        out = r if out is None else out.unionByName(r)
    return out
