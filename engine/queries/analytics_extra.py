"""Analytic-function extras: distribution ranks, bivariate statistics,
and text normalization — rounding out the window/aggregate surface
(SURVEY.md §2.2 extras).
"""
from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ..io import load_tables, memo, plan_persist, spread
from ..registry import query
from .util import (dsum, hexpoly_col, hexpoly_sql, prod128, rnd,
                   sql_dsum, sql_rnd, sum128)


@query("q_window_ntile", oracle="""
SELECT c_custkey, c_nationkey,
       ntile(4) OVER w AS tile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""")
def q_window_ntile(spark, sf):
    """Quartile assignment + distribution ranks per nation. The
    ordering carries a unique tiebreak (c_custkey) so ntile's bucket
    boundaries are engine-independent; percent_rank and cume_dist are
    exact rationals (int/int division) that both engines evaluate to
    the same IEEE double — no quantization needed. One window sort per
    nation partition; at 100 TB this is the canonical 'rank within
    shard' shape (the partition key carries the shuffle)."""
    c = load_tables(spark, sf)["customer"]
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), "c_custkey")
    return c.select(
        "c_custkey", "c_nationkey",
        F.ntile(4).over(w).alias("tile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query("q_corr_stats", oracle=f"""
SELECT l_returnflag,
       {sql_rnd('corr(l_quantity, l_extendedprice)')} AS r,
       {sql_rnd('covar_samp(l_quantity, l_extendedprice)')} AS cov_s,
       {sql_rnd('covar_pop(l_quantity, l_extendedprice)')} AS cov_p
FROM lineitem GROUP BY l_returnflag
""")
def q_corr_stats(spark, sf):
    """Bivariate statistics per group (Pearson r, sample/population
    covariance) — the co-moment aggregates are algebraic (one
    map-side-combinable pass), the same scale shape as q_agg_stats.
    Values quantized with the engine's standard 1e-4 grid; both
    engines use pairwise co-moment accumulation over the same
    partition-parallel merges at fixture scale."""
    li = load_tables(spark, sf)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        rnd(F.corr("l_quantity", "l_extendedprice")).alias("r"),
        rnd(F.covar_samp("l_quantity", "l_extendedprice")).alias("cov_s"),
        rnd(F.covar_pop("l_quantity", "l_extendedprice")).alias("cov_p"),
    )


@query("q_rollup_time", oracle="""
SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       count(*) AS n
FROM orders GROUP BY ROLLUP (y, m)
""")
def q_rollup_time(spark, sf):
    """Calendar-hierarchy rollup (year → month → grand total) — the
    time-dimension twin of the categorical q_agg_rollup, i.e. a
    hypertable-style time rollup. Spark compiles ROLLUP to one Expand
    + partial/final aggregate: a single shuffle regardless of how many
    grouping sets the hierarchy adds."""
    o = load_tables(spark, sf)["orders"]
    return (
        o.select(F.year("o_orderdate").alias("y"),
                 F.month("o_orderdate").alias("m"))
        .rollup("y", "m")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("q_agg_approx_quantile")  # rows-only: sketch internals differ by engine
def q_agg_approx_quantile(spark, sf):
    """Approximate percentiles per group via Spark's relative-error
    quantile sketch (`approx_percentile`, KLL-style, mergeable) — the
    100 TB path for q_percentile_cont: map-side sketches merge
    associatively, no per-group sort. No oracle by design (sketch
    internals are engine-specific); tests/test_pipeline.py bounds the
    error against the exact percentiles instead."""
    li = load_tables(spark, sf)["lineitem"]
    return li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5D, 1000)").alias("p50"),
        F.expr("approx_percentile(l_quantity, 0.9D, 1000)").alias("p90"),
    )


@query("q_text_clean", oracle="""
SELECT doc_id,
       substr(trim(regexp_replace(regexp_replace(lower(text),
              '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 60) AS clean
FROM documents
""")
def q_text_clean(spark, sf):
    """Text normalization: lowercase, strip non-alphanumerics,
    collapse runs of spaces, trim — the first stage of every corpus
    cleaning recipe. Pure narrow projection (no shuffle, fully
    codegen'd JVM-side regex); prefix-limited output keeps the
    driver hash small."""
    d = load_tables(spark, sf)["documents"]
    clean = F.substring(
        F.trim(F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
            " +", " ")),
        1, 60)
    return d.select("doc_id", clean.alias("clean"))


_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]


def _guard_quantize(boundaries, eps: float = 1e-6):
    """Quantize fitted boundaries to the 1e-4 grid with a guard band:
    any boundary within ``eps`` grid units of a .5 rounding edge
    raises loudly instead of silently hash-flipping a bin between
    engines whose interpolation differs by an ulp. (For 2-decimal
    data and decile p's the exact boundary*1e4 is an integer, so the
    guard never fires on the fixtures — it exists for the day the
    data stops cooperating.)"""
    import math

    out = []
    for b in boundaries:
        frac = (b * 10000) - math.floor(b * 10000)
        if abs(frac - 0.5) <= eps:
            raise ValueError(
                "quantile boundary inside quantization guard band: "
                f"{b!r}")
        out.append(math.floor(b * 10000 + 0.5) / 10000)
    return out


def _exact_quantiles_distributed(li, col: str, probs):
    """Exact interpolated quantiles WITHOUT a value-cardinality
    aggregation buffer or a global sort: (1) groupBy(value) counts —
    codegen partial+final agg, shuffle = |distinct| rows; (2) range-
    repartition the distinct frame and take a per-range prefix sum
    (parallel windows keyed by partition id — never a single-
    partition window); (3) per-range totals become running offsets
    INSIDE the bracket job (broadcast-joined back on pid), so local
    prefixes and absolute ranks are derived from ONE materialization;
    (4) one bracketing filter fetches only the <= 2*|probs| rows that
    straddle the target ranks. Interpolation at rank (n-1)p runs on
    the driver over those few rows — the same math as SQL
    percentile_cont.

    Consistency: repartitionByRange samples its boundaries at
    execution time, so two separate jobs over the frame could observe
    DIFFERENT pid layouts if the shuffle is ever recomputed (executor
    loss). The only value crossing jobs here is the total count n —
    partition-layout-invariant — while the pid-dependent offsets are
    computed in the same job (same shuffle materialization) as the
    rows they offset."""
    import math

    from pyspark.sql import Window

    # percentile semantics ignore NULLs; without this filter a NULL
    # group would sort first under range partitioning and shift every
    # rank.
    D = (li.where(F.col(col).isNotNull())
         .groupBy(F.col(col).alias("v"))
         .agg(F.count(F.lit(1)).alias("c")))
    Dp = (D.repartitionByRange(32, "v")
          .withColumn("pid", F.spark_partition_id()))
    w = Window.partitionBy("pid").orderBy("v")
    Dc = Dp.withColumn("cum_in", F.sum("c").over(w)).persist()
    try:
        # job 1: total count only — invariant under any partitioning
        n = Dc.agg(F.sum("c")).collect()[0][0]
        if not n:
            raise ValueError(
                f"exact quantiles of empty/all-NULL column {col!r}")

        pts, ranks = [], set()
        for p in probs:
            pos = p * (n - 1)
            lo = math.floor(pos)
            hi = min(lo + 1, n - 1)
            pts.append((pos, lo, hi))
            ranks.update((lo, hi))

        # pid -> running offset, derived in the SAME job as the
        # bracket fetch. The unpartitioned window is index-sized
        # (<= 32 per-range totals), never data-sized.
        tot = Dc.groupBy("pid").agg(F.max("cum_in").alias("t"))
        wo = (Window.orderBy("pid")
              .rowsBetween(Window.unboundedPreceding, -1))
        offs = tot.select(
            "pid",
            F.coalesce(F.sum("t").over(wo), F.lit(0)).alias("off"))
        abs_cum = F.col("cum_in") + F.col("off")
        cond = None
        for r in sorted(ranks):
            c = ((abs_cum - F.col("c") <= F.lit(r))
                 & (F.lit(r) < abs_cum))
            cond = c if cond is None else (cond | c)
        rows = (Dc.join(F.broadcast(offs), "pid")
                .withColumn("ac", abs_cum).filter(cond)
                .select("v", (F.col("ac") - F.col("c")).alias("cp"), "ac")
                .collect())
    finally:
        Dc.unpersist()

    def val_at(r):
        for row in rows:
            if row["cp"] <= r < row["ac"]:
                return row["v"]
        raise AssertionError(f"rank {r} not bracketed")

    return [val_at(lo) + (val_at(hi) - val_at(lo)) * (pos - lo)
            for pos, lo, hi in pts]


@query("q_quantile_bins", oracle=f"""
WITH b AS (
  SELECT list_transform(
           quantile_cont(l_extendedprice, {_DECILES}),
           x -> floor(x * 10000 + 0.5) / 10000) AS bs
  FROM lineitem)
SELECT len(list_filter(bs, x -> l_extendedprice > x)) + 1 AS bin,
       count(*) AS n,
       {{lo}} AS lo, {{hi}} AS hi
FROM lineitem, b
GROUP BY 1
""".format(lo="(floor((min(l_extendedprice)) * 10000 + 0.5) / 10000)",
           hi="(floor((max(l_extendedprice)) * 10000 + 0.5) / 10000)"))
def q_quantile_bins(spark, sf):
    """Equal-frequency (decile) binning of a numeric feature — the
    feature-discretization shape in every training pipeline: decile
    boundaries fitted once, rows assigned to bins, per-bin profiles
    emitted.

    Scale: the naive form (ntile over a global ORDER BY) is a
    single-reducer total sort — a scale-killer. The exact fit here is
    fully distributed (:func:`_exact_quantiles_distributed`): value-
    counts aggregation + range-parallel prefix ranks + an index-sized
    bracket collect — no value-cardinality in-memory percentile
    buffer (Spark's built-in exact ``percentile`` holds a counts map
    per partition, which is value-cardinality-sized; it also measured
    2.3-2.7 s on 600k rows here vs ~1 s for this plan). The nine
    fitted boundaries re-enter the plan as LITERALS, so the
    assignment is a pure codegen ``size(filter(...))`` narrow map —
    no join, no broadcast, nothing sorted or shuffled until the final
    |bins|-row aggregate. Boundaries are guard-band-quantized
    (:func:`_guard_quantize`) so a sub-ulp cross-engine
    interpolation delta can never silently flip a bin.

    At-scale twin: ``spark.engine.quantileBins.approx=true`` fits
    with ``approx_percentile`` (mergeable t-digest-style sketch,
    map-side combine — measured 6.5 s vs 16 s exact-builtin at 60M
    rows). Only the fit differs; the literal-array assignment plan is
    byte-identical (pinned in tests/test_plans_r5.py). The fit is
    memoized per mode."""
    li = load_tables(spark, sf)["lineitem"]
    approx = (str(spark.conf.get(
        "spark.engine.quantileBins.approx", "false")).lower() == "true")

    def build():
        if approx:
            ps = ", ".join(str(p) for p in _DECILES)
            raw = li.agg(F.expr(
                f"approx_percentile(l_extendedprice, array({ps}), 100000)"
            ).alias("r")).collect()[0]["r"]
        else:
            raw = _exact_quantiles_distributed(
                li, "l_extendedprice", _DECILES)
        return _guard_quantize(raw)

    bs = F.array(*[F.lit(b) for b in
                   memo(spark, sf, ("qbins", approx), build)])
    x = F.col("l_extendedprice")
    return (
        li.select(
            (F.size(F.filter(bs, lambda b: x > b)) + 1).alias("bin"),
            x.alias("v"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"),
             rnd(F.min("v")).alias("lo"),
             rnd(F.max("v")).alias("hi"))
    )


@query("q_robust_stats", oracle="""
WITH med AS (
  SELECT l_returnflag,
         CAST(quantile_disc(l_extendedprice, 0.5) AS DOUBLE) AS med
  FROM lineitem GROUP BY l_returnflag),
dev AS (
  SELECT l.l_returnflag, m.med,
         abs(l.l_extendedprice - m.med) AS ad
  FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag)
SELECT l_returnflag,
       floor(max(med) * 100 + 0.5) / 100 AS median_price,
       floor(CAST(quantile_disc(ad, 0.5) AS DOUBLE) * 100 + 0.5)
           / 100 AS mad
FROM dev GROUP BY l_returnflag
""")
def q_robust_stats(spark, sf):
    """Robust location/spread per group: median and MAD (median
    absolute deviation) of the price column — the outlier-resistant
    profile a pipeline prefers over mean/stddev on heavy-tailed
    data (the IQR-fence sibling of q_anomaly_iqr).

    Two passes by necessity (MAD needs the median first): pass 1
    fits per-group medians (DISCRETE percentile — an actual data
    value, bit-identical cross-engine, the q_percentile_disc
    convention); the |groups|-sized median frame broadcast-joins
    back; pass 2 takes the discrete median of absolute deviations.
    Both aggregations are map-side combinable; nothing driver-sized
    but the medians."""
    # percentile_disc's per-partition sort is the dominant cost of
    # both passes; spread() floors the 3-partition fixture scan at
    # the core count so the partial aggregates parallelize
    li = spread(load_tables(spark, sf)["lineitem"]
                .select("l_returnflag", "l_extendedprice"))
    med = (li.groupBy("l_returnflag")
           .agg(F.expr("percentile_disc(0.5) WITHIN GROUP "
                       "(ORDER BY l_extendedprice)").alias("med")))
    dev = (li.join(F.broadcast(med), "l_returnflag")
           .select("l_returnflag", "med",
                   F.abs(F.col("l_extendedprice") - F.col("med"))
                   .alias("ad")))
    return (
        dev.groupBy("l_returnflag")
        .agg(rnd(F.max("med"), 2).alias("median_price"),
             rnd(F.expr("percentile_disc(0.5) WITHIN GROUP "
                        "(ORDER BY ad)"), 2).alias("mad"))
    )


@query("q_weighted_quantile", oracle="""
WITH g AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(CAST(l_quantity AS BIGINT)) AS wt
  FROM lineitem GROUP BY l_returnflag, l_extendedprice),
c AS (
  SELECT l_returnflag, v, wt,
         sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
         sum(wt) OVER (PARTITION BY l_returnflag) AS tw
  FROM g)
SELECT l_returnflag,
       min(CASE WHEN cw * 4 >= tw THEN v END) AS w_p25,
       min(CASE WHEN cw * 2 >= tw THEN v END) AS w_median,
       min(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS w_p75
FROM c GROUP BY l_returnflag
""")
def q_weighted_quantile(spark, sf):
    """WEIGHTED quantiles per group — the quantity-weighted price
    quartiles ("half the UNITS sold at or below this price", not
    half the line items): the smallest value whose cumulative weight
    reaches p of the group total. Discrete pick over exact BIGINT
    weights (quantity is integral), so the comparisons cw·k ≥ tw·m
    are pure integer arithmetic — no interpolation, no float
    boundary, bit-identical cross-engine.

    Scale: the value-count aggregation FIRST collapses the fact rows
    to |group × distinct value| rows (map-side combinable); the
    cumulative window then sorts only that reduced frame within each
    group partition — the same distinct-first discipline as the
    exact-quantile fit (_exact_quantiles_distributed), which is what
    keeps the window input value-cardinality-sized instead of
    fact-table-sized at 100 TB."""
    li = load_tables(spark, sf)["lineitem"]
    g = (li.groupBy("l_returnflag",
                    F.col("l_extendedprice").alias("v"))
         .agg(F.sum(F.col("l_quantity").cast("long")).alias("wt")))
    wc = W.partitionBy("l_returnflag").orderBy("v")
    wt_ = W.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag", "v",
        F.sum("wt").over(wc).alias("cw"),
        F.sum("wt").over(wt_).alias("tw"))
    pick = lambda cond: F.min(F.when(cond, F.col("v")))
    return c.groupBy("l_returnflag").agg(
        pick(F.col("cw") * 4 >= F.col("tw")).alias("w_p25"),
        pick(F.col("cw") * 2 >= F.col("tw")).alias("w_median"),
        pick(F.col("cw") * 4 >= F.col("tw") * 3).alias("w_p75"),
    )


# ------------------------------------------------------------- A/B Welch
AB_WELCH_ORACLE = f"""
WITH g AS (
  SELECT CAST(hour(ts) AS INT) AS hr,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         {sql_dsum("CASE WHEN event_type = 'click' THEN value END")} AS s1,
         {sql_dsum("CASE WHEN event_type = 'view' THEN value END")} AS s2,
         {sql_dsum("CASE WHEN event_type = 'click' "
                   "THEN value * value END")} AS q1,
         {sql_dsum("CASE WHEN event_type = 'view' "
                   "THEN value * value END")} AS q2
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
  HAVING n1 > 1 AND n2 > 1),
v AS (
  SELECT hr, n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
         (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
         (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
  FROM g)
SELECT hr, n1, n2,
       {sql_rnd("m1")} AS mean_a, {sql_rnd("m2")} AS mean_b,
       {sql_rnd("(m1 - m2) / nullif(sqrt(v1 / n1 + v2 / n2), 0)")} AS t_stat,
       {sql_rnd("((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2)) / "
                "nullif((v1 / n1) * (v1 / n1) / (n1 - 1) + "
                " (v2 / n2) * (v2 / n2) / (n2 - 1), 0)")} AS dof
FROM v
"""


@query("q_ab_welch", oracle=AB_WELCH_ORACLE)
def q_ab_welch(spark, sf):
    """Welch's unequal-variance t-test per hour-of-day stratum:
    'click' vs 'view' event values compared on mean difference, with
    the Welch–Satterthwaite effective degrees of freedom — the A/B
    experiment readout shape (per-stratum effect size + test
    statistic from one aggregation pass).

    Scale: ONE map-side-combined groupBy(hour) carries six partial
    sums (conditional counts + scaled-BIGINT value/value² sums per
    arm); every statistic is closed-form arithmetic on those exact
    partials, so the post-shuffle work is 24 rows regardless of
    input size.  The scaled-BIGINT sums make both arms' moments
    order-independent — t and dof are then deterministic doubles
    quantized once at the end."""
    e = (load_tables(spark, sf)["events"]
         .filter(F.col("event_type").isin("click", "view")))
    a = F.col("event_type") == "click"
    val = F.col("value")
    g = (e.groupBy(F.hour("ts").cast("int").alias("hr"))
         .agg(F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("n1"),
              F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("n2"),
              dsum(F.when(a, val)).alias("s1"),
              dsum(F.when(~a, val)).alias("s2"),
              dsum(F.when(a, val * val)).alias("q1"),
              dsum(F.when(~a, val * val)).alias("q2"))
         .filter((F.col("n1") > 1) & (F.col("n2") > 1)))
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2 = F.col("s1") / n1, F.col("s2") / n2
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / n1) / (n1 - 1)
    v2 = (F.col("q2") - F.col("s2") * F.col("s2") / n2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    return g.select(
        "hr", "n1", "n2",
        rnd(m1).alias("mean_a"), rnd(m2).alias("mean_b"),
        # nullif guards: two zero-variance arms zero both denominators,
        # and this ANSI config hard-errors on double/0 (degenerate
        # strata yield NULL in both engines — oracle mirrored)
        rnd((m1 - m2) / F.nullif(F.sqrt(se2), F.lit(0.0)))
        .alias("t_stat"),
        rnd(se2 * se2
            / F.nullif((v1 / n1) * (v1 / n1) / (n1 - 1)
                       + (v2 / n2) * (v2 / n2) / (n2 - 1),
                       F.lit(0.0))).alias("dof"))


# ------------------------------------------------------- seasonal profile
@query("q_ts_seasonal", oracle=f"""
WITH h AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr,
         CAST(count(*) AS BIGINT) AS n_h,
         sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS sc_h
  FROM events GROUP BY 1, 2),
t AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS sc,
         {sql_dsum("value * value")} AS q
  FROM events GROUP BY 1),
b AS (
  SELECT h.event_type,
         sum(n_h * ((CAST(sc_h AS DOUBLE) / 10000.0 / n_h)
                    - (CAST(t.sc AS DOUBLE) / 10000.0 / t.n))
                 * ((CAST(sc_h AS DOUBLE) / 10000.0 / n_h)
                    - (CAST(t.sc AS DOUBLE) / 10000.0 / t.n))) AS ss_b
  FROM h JOIN t USING (event_type) GROUP BY 1)
SELECT h.event_type, h.hr, h.n_h,
       {sql_rnd("CAST(h.sc_h AS DOUBLE) / 10000.0 / h.n_h")} AS hour_mean,
       {sql_rnd("CAST(t.sc AS DOUBLE) / 10000.0 / t.n")} AS grand_mean,
       {sql_rnd("CAST(h.sc_h AS DOUBLE) / 10000.0 / h.n_h "
                "- CAST(t.sc AS DOUBLE) / 10000.0 / t.n")} AS dev,
       {sql_rnd("b.ss_b / nullif(t.q - t.n * "
                "(CAST(t.sc AS DOUBLE) / 10000.0 / t.n) * "
                "(CAST(t.sc AS DOUBLE) / 10000.0 / t.n), 0)")} AS strength
FROM h JOIN t USING (event_type) JOIN b USING (event_type)
""")
def q_ts_seasonal(spark, sf):
    """Hour-of-day seasonal profile per event type: hourly mean,
    grand mean, deviation, and the type's seasonality strength
    (ANOVA between-hours sum of squares over total sum of squares) —
    the 'does this metric have a daily cycle' decomposition that
    gates seasonal-adjustment downstream.

    Scale: classic two-level rollup — the (type, hour) partial
    aggregate carries exact counts and scaled-BIGINT sums; the type
    level re-aggregates the 24-row partials, and the strength term
    joins the two tiny grains back.  Input-sized work is the one
    partial-combined scan; everything after operates on
    |types|x24 rows.  Moments are order-independent (scaled-BIGINT);
    the between/total SS ratio is double arithmetic over those exact
    inputs, quantized once."""
    e = load_tables(spark, sf)["events"]
    h = (e.groupBy("event_type", F.hour("ts").cast("int").alias("hr"))
         .agg(F.count(F.lit(1)).alias("n_h"),
              F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5))
                    .cast("long")).alias("sc_h")))
    t = (e.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5))
                    .cast("long")).alias("sc"),
              dsum(F.col("value") * F.col("value")).alias("q")))
    m = F.col("sc").cast("double") / 10000.0 / F.col("n")
    mh = F.col("sc_h").cast("double") / 10000.0 / F.col("n_h")
    b = (h.join(t, "event_type")
         .groupBy("event_type")
         .agg(F.sum(F.col("n_h") * (mh - m) * (mh - m)).alias("ss_b")))
    return (
        h.join(t, "event_type").join(b, "event_type")
        .select("event_type", "hr", "n_h",
                rnd(mh).alias("hour_mean"),
                rnd(m).alias("grand_mean"),
                rnd(mh - m).alias("dev"),
                rnd(F.col("ss_b")
                    / F.nullif(F.col("q") - F.col("n") * m * m,
                               F.lit(0.0))).alias("strength"))
    )


# -------------------------------------------------------- Gini / Lorenz
@query("q_gini", oracle=f"""
WITH oc AS (
  SELECT c_nationkey,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS xs,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY o_totalprice, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey),
g AS (
  SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xs) AS BIGINT) AS sx,
         CAST(sum(CAST(rk AS HUGEINT) * xs) AS DOUBLE) AS srx
  FROM oc GROUP BY 1)
SELECT c_nationkey, n,
       {sql_rnd("CAST(sx AS DOUBLE) / 100.0")} AS total,
       {sql_rnd("2.0 * srx / (CAST(n AS DOUBLE) * sx) "
                "- (n + 1.0) / n")} AS gini
FROM g
""")
def q_gini(spark, sf):
    """Revenue-concentration (Gini coefficient) of order totals per
    customer nation, from the exact rank formula
    G = 2·Σ rk·x / (n·Σx) − (n+1)/n — the inequality measure behind
    'what fraction of revenue comes from the top customers'.

    Scale: one join (customer side broadcast-able), one PARTITIONed
    rank window keyed by nation, one aggregate of two exact BIGINT
    sums.  Order totals are quantized to cents before the
    rank-weighted product and sum run in the decimal(38,0) lane
    (util.prod128), exact while rk·xs stays under 38 digits — int64
    would cross at 6e5 rows/group for the sum and ~1.8e11 for the
    per-row product at cent grain.
    Ties rank deterministically via the order key."""
    t = load_tables(spark, sf)
    oc = (t["orders"]
          .join(F.broadcast(t["customer"]
                            .select("c_custkey", "c_nationkey")),
                F.col("o_custkey") == F.col("c_custkey"))
          .select("c_nationkey", "o_totalprice", "o_orderkey"))
    w = (W.partitionBy("c_nationkey")
         .orderBy("o_totalprice", "o_orderkey"))
    r = oc.select(
        "c_nationkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long").alias("xs"),
        F.row_number().over(w).alias("rk"))
    # 128-bit rank-weighted product AND sum (util.prod128/sum128):
    # Σ rk·xs crosses int64 near 6e5 rows/group at cent grain (the
    # 100× relational probe), and the per-row product itself crosses
    # once rk·xs exceeds 2^63 (~1.8e11 rows/group at cent grain) —
    # the multiply runs in the 128-bit lane from the start; the
    # oracle mirrors with a HUGEINT operand cast.
    g = (r.groupBy("c_nationkey")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("xs").alias("sx"),
              F.sum(prod128(F.col("rk"), F.col("xs")))
              .cast("double").alias("srx")))
    n = F.col("n").cast("double")
    return g.select(
        "c_nationkey", "n",
        rnd(F.col("sx").cast("double") / 100.0).alias("total"),
        rnd(2.0 * F.col("srx") / (n * F.col("sx"))
            - (F.col("n") + 1.0) / n).alias("gini"))


# -------------------------------------------- chi-square independence
@query("q_chi2_independence", oracle=f"""
WITH o AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(count(*) AS BIGINT) AS obs
  FROM customer GROUP BY 1, 2),
rt AS (SELECT seg, CAST(sum(obs) AS BIGINT) AS r_tot FROM o GROUP BY 1),
ct AS (SELECT nat, CAST(sum(obs) AS BIGINT) AS c_tot FROM o GROUP BY 1),
n AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM o),
cells AS (
  SELECT rt.seg, ct.nat, rt.r_tot, ct.c_tot,
         coalesce(o.obs, 0) AS obs
  FROM rt CROSS JOIN ct
  LEFT JOIN o ON o.seg = rt.seg AND o.nat = ct.nat),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cells,
         sum((obs - CAST(r_tot AS DOUBLE) * c_tot / total)
             * (obs - CAST(r_tot AS DOUBLE) * c_tot / total)
             / (CAST(r_tot AS DOUBLE) * c_tot / total)) AS chi2,
         count(DISTINCT seg) AS r, count(DISTINCT nat) AS c,
         max(total) AS total
  FROM cells, n)
SELECT n_cells, CAST(total AS BIGINT) AS n,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       {sql_rnd("chi2")} AS chi2,
       {sql_rnd("sqrt(chi2 / nullif(total * least(r - 1, c - 1), 0))")}
           AS cramers_v
FROM s
""")
def q_chi2_independence(spark, sf):
    """Chi-square test of independence between market segment and
    nation (customer contingency table), with Cramér's V effect
    size — the 'are these two categoricals associated' readout every
    segmentation analysis starts from.

    Scale: ONE groupBy over the data builds the observed
    contingency; everything after (marginals, the r x c expected
    grid INCLUDING empty cells via the marginal cross join, the chi2
    fold) runs on |r·c| rows — broadcast-joined, never data-sized.
    Observed/marginal counts are exact BIGINTs, so the statistic is
    deterministic double arithmetic over |cells| terms, quantized
    once."""
    c = load_tables(spark, sf)["customer"]
    o = (c.groupBy(F.col("c_mktsegment").alias("seg"),
                   F.col("c_nationkey").alias("nat"))
         .agg(F.count(F.lit(1)).alias("obs")))
    rt = o.groupBy("seg").agg(F.sum("obs").alias("r_tot"))
    ct = o.groupBy("nat").agg(F.sum("obs").alias("c_tot"))
    cells = (rt.crossJoin(F.broadcast(ct))
             .join(F.broadcast(o), ["seg", "nat"], "left")
             .select("seg", "nat", "r_tot", "c_tot",
                     F.coalesce(F.col("obs"), F.lit(0)).alias("obs")))
    e = F.col("r_tot").cast("double") * F.col("c_tot") / F.col("total")
    s = (cells.crossJoin(
            F.broadcast(o.agg(F.sum("obs").alias("total"))))
         .agg(F.count(F.lit(1)).alias("n_cells"),
              F.sum((F.col("obs") - e) * (F.col("obs") - e) / e)
              .alias("chi2"),
              F.countDistinct("seg").alias("r"),
              F.countDistinct("nat").alias("c"),
              F.max("total").alias("total")))
    return s.select(
        "n_cells", F.col("total").alias("n"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        rnd(F.col("chi2")).alias("chi2"),
        # nullif guard: a single-category marginal zeroes the V
        # denominator, and this ANSI config hard-errors on double/0
        rnd(F.sqrt(F.col("chi2")
                   / F.nullif((F.col("total")
                               * F.least(F.col("r") - 1,
                                         F.col("c") - 1))
                              .cast("double"), F.lit(0.0))))
        .alias("cramers_v"))


# --------------------------------------------------------- Benford audit
BENFORD_ORACLE = f"""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice >= 1),
o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM o)
SELECT digit, n,
       {sql_rnd("CAST(n AS DOUBLE) / total")} AS obs_freq,
       {sql_rnd("log10(1.0 + 1.0 / digit)")} AS exp_freq,
       {sql_rnd("CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit)")}
           AS dev
FROM o, t
"""


@query("q_benford", oracle=BENFORD_ORACLE)
def q_benford(spark, sf):
    """Benford first-significant-digit audit of order totals: the
    observed digit distribution against Benford's law log10(1+1/d)
    — the classic anomalous-data / fabricated-values screen in data
    quality and fraud detection.

    Scale: digit extraction is an exact string operation (first
    char of the integer part — no log in the hot path, so no libm
    edge at exact powers of ten), one map-side-combined groupBy to
    9 rows, then constant arithmetic.  The only transcendental is
    the 9 literal Benford expectations."""
    o = load_tables(spark, sf)["orders"]
    d = (o.filter(F.col("o_totalprice") >= 1)
         .select(F.substring(
             F.floor("o_totalprice").cast("long").cast("string"),
             1, 1).cast("int").alias("digit")))
    g = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = g.agg(F.sum("n").alias("total"))
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    return (g.crossJoin(F.broadcast(t))
            .select("digit", "n",
                    rnd(F.col("n").cast("double") / F.col("total"))
                    .alias("obs_freq"),
                    rnd(exp).alias("exp_freq"),
                    rnd(F.col("n").cast("double") / F.col("total") - exp)
                    .alias("dev")))


# ------------------------------------------------- Kolmogorov–Smirnov
@query("q_ks_test", oracle=f"""
WITH v AS (
  SELECT l_quantity AS v,
         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM lineitem WHERE l_returnflag IN ('A', 'N')
  GROUP BY 1),
r AS (
  SELECT CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS r1,
         CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS r2
  FROM v),
n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM v),
s AS (SELECT max(abs(r1 * n2 - r2 * n1)) AS dnum, max(n1) AS n1,
             max(n2) AS n2
      FROM r, n)
SELECT n1, n2,
       {sql_rnd("CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)", 6)}
           AS d_stat,
       (CAST(dnum AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
        > 1.358 * sqrt((n1 + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n2)))
           AS reject_95
FROM s
""")
def q_ks_test(spark, sf):
    """Exact two-sample Kolmogorov–Smirnov test: sup-distance between
    the empirical CDFs of returned ('A') vs in-transit ('N') line
    quantities, with the large-sample 95% decision — the
    distribution-drift detector (train/serve skew, cohort shift)
    that makes no normality assumption, unlike q_ab_welch.

    Exactness: D is computed as max |r1·n2 − r2·n1| / (n1·n2) over
    the value-grouped cumulative counts — pure integer arithmetic
    until one final division, so the statistic is bit-deterministic.
    Scale: the data collapses to |distinct values| rows in one
    map-side-combined groupBy BEFORE the cumulative window (the
    q_weighted_quantile discipline); the global-ordered window runs
    over that cardinality-sized frame, and for huge domains the
    range-partitioned prefix-sum swap (q_quantile_bins' distributed
    fit) is the documented path."""
    li = (load_tables(spark, sf)["lineitem"]
          .filter(F.col("l_returnflag").isin("A", "N")))
    a = F.col("l_returnflag") == "A"
    v = (li.groupBy(F.col("l_quantity").alias("v"))
         .agg(F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("c1"),
              F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("c2")))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    r = v.select(F.sum("c1").over(w).alias("r1"),
                 F.sum("c2").over(w).alias("r2"))
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    s = (r.crossJoin(F.broadcast(n))
         .agg(F.max(F.abs(F.col("r1") * F.col("n2")
                          - F.col("r2") * F.col("n1"))).alias("dnum"),
              F.max("n1").alias("n1"), F.max("n2").alias("n2")))
    d = (F.col("dnum").cast("double")
         / (F.col("n1").cast("double") * F.col("n2")))
    thr = 1.358 * F.sqrt((F.col("n1") + F.col("n2").cast("double"))
                         / (F.col("n1").cast("double") * F.col("n2")))
    return s.select("n1", "n2", rnd(d, 6).alias("d_stat"),
                    (d > thr).alias("reject_95"))


# ------------------------------------------------ period-over-period
@query("q_pct_change", oracle=f"""
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         {sql_dsum('value')} AS total
  FROM events GROUP BY 1, 2),
l AS (
  SELECT event_type, day, total,
         lag(total) OVER (PARTITION BY event_type ORDER BY day) AS prev
  FROM d)
SELECT event_type, CAST(day AS VARCHAR) AS day,
       {sql_rnd("total")} AS total, {sql_rnd("prev")} AS prev,
       {sql_rnd("(total - prev) / prev")} AS pct_change
FROM l WHERE prev IS NOT NULL
""")
def q_pct_change(spark, sf):
    """Period-over-period change: daily value totals per event type
    with the day-over-day percentage delta — the default trend
    readout on any metrics dashboard.

    Scale: one map-side-combined groupBy to the (type, day) grain,
    then a lag window PARTITIONed by type over the day-grain frame
    (|days| rows per series, not |events|).  Daily totals are
    scaled-BIGINT sums, so both the totals and the ratio are
    deterministic."""
    e = load_tables(spark, sf)["events"]
    d = (e.groupBy("event_type",
                   F.date_trunc("day", "ts").cast("date").alias("day"))
         .agg(dsum("value").alias("total")))
    w = W.partitionBy("event_type").orderBy("day")
    l = d.select("event_type", "day", "total",
                 F.lag("total").over(w).alias("prev"))
    return (l.filter(F.col("prev").isNotNull())
            .select("event_type",
                    # ISO string: driver hash-safe type convention
                    F.col("day").cast("string").alias("day"),
                    rnd(F.col("total")).alias("total"),
                    rnd(F.col("prev")).alias("prev"),
                    rnd((F.col("total") - F.col("prev")) / F.col("prev"))
                    .alias("pct_change")))


# ------------------------------------------------ Mann–Whitney U test
@query("q_mann_whitney", oracle=f"""
WITH v AS (
  SELECT l_quantity AS v,
         CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
              AS BIGINT) AS c1,
         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
              AS BIGINT) AS c2
  FROM lineitem WHERE l_returnflag IN ('A', 'N')
  GROUP BY 1),
r AS (
  SELECT v, c1, c2, c1 + c2 AS c,
         CAST(coalesce(sum(c1 + c2) OVER (
             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS prior
  FROM v),
n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                 - (c1 + c2)) AS ties
      FROM v),
s AS (
  SELECT max(n1) AS n1, max(n2) AS n2, max(ties) AS ties,
         sum(c1 * (prior + (c + 1) / 2.0)) AS r1
  FROM r, n)
SELECT n1, n2,
       {sql_rnd("n1 * CAST(n2 AS DOUBLE) + n1 * (n1 + 1) / 2.0 - r1")}
           AS u_stat,
       {sql_rnd("(n1 * CAST(n2 AS DOUBLE) + n1 * (n1 + 1) / 2.0 - r1 "
                " - n1 * CAST(n2 AS DOUBLE) / 2.0) / "
                "nullif(sqrt(n1 * CAST(n2 AS DOUBLE) / 12.0 * "
                "     ((n1 + n2 + 1) - ties / "
                "      (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 0)")}
           AS z_stat
FROM s
""")
def q_mann_whitney(spark, sf):
    """Mann–Whitney U rank-sum test (returned vs in-transit line
    quantities, the q_ks_test arms): the nonparametric location test
    with exact midrank tie handling and the tie-corrected normal
    approximation — completing the inference family (parametric
    q_ab_welch, distribution-shape q_ks_test, rank-location here).

    Exactness: ranks derive from the value-grouped cumulative
    counts, so midranks are exact .5-granular doubles and R1 is a
    sum of products of exact values; the tie correction Σ(t³−t) is
    pure integer arithmetic.  Scale: identical shape to q_ks_test —
    data collapses to |distinct values| in one combine-heavy
    groupBy, the ordered window touches only that frame.  The tie
    term Σ(t³−t) is exact BIGINT up to ~2.1M rows per distinct value
    per arm (t³ < 2⁶³); past that the tie partial switches to double
    — the q_gini headroom discipline."""
    li = (load_tables(spark, sf)["lineitem"]
          .filter(F.col("l_returnflag").isin("A", "N")))
    a = F.col("l_returnflag") == "A"
    v = (li.groupBy(F.col("l_quantity").alias("v"))
         .agg(F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("c1"),
              F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("c2")))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    c = F.col("c1") + F.col("c2")
    r = v.select(
        "c1", c.alias("c"),
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0))
        .alias("prior"))
    # the tie cube goes 128-bit from the FIRST multiply: t³ itself
    # crosses int64 once one value carries >2.1M rows, and Σ(t³−t)
    # crosses near 6e5 rows/value across ~50 values (the 100×
    # relational probe) — decimal(38,0) covers both; the oracle
    # mirrors with a HUGEINT cast before its cube.
    cd = c.cast("decimal(38,0)")
    n = v.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"),
              F.sum(cd * cd * cd - cd).cast("double").alias("ties"))
    s = (r.crossJoin(F.broadcast(n))
         .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
              F.max("ties").alias("ties"),
              F.sum(F.col("c1")
                    * (F.col("prior") + (F.col("c") + 1) / 2.0))
              .alias("r1")))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    u = n1d * n2d + F.col("n1") * (F.col("n1") + 1) / 2.0 - F.col("r1")
    sigma = F.sqrt(n1d * n2d / 12.0
                   * ((F.col("n1") + F.col("n2") + 1)
                      - F.col("ties")
                      / ((n1d + n2d) * (F.col("n1") + F.col("n2") - 1))))
    # nullif guard (q_ts_seasonal convention): an all-tied sample
    # zeroes sigma, and this ANSI config hard-errors on ANY /0 —
    # including double — instead of yielding Inf/NaN
    return s.select("n1", "n2", rnd(u).alias("u_stat"),
                    rnd((u - n1d * n2d / 2.0)
                        / F.nullif(sigma, F.lit(0.0))).alias("z_stat"))


# ------------------------------------------------- mutual information
@query("q_mutual_info", oracle=f"""
WITH o AS (
  SELECT event_type AS x, CAST(hour(ts) AS INT) AS y,
         CAST(count(*) AS BIGINT) AS nxy
  FROM events GROUP BY 1, 2),
mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM o GROUP BY 1),
my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM o GROUP BY 1),
t AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM o),
s AS (
  SELECT sum(CAST(nxy AS DOUBLE) / n
             * ln(CAST(nxy AS DOUBLE) * n
                  / (CAST(nx AS DOUBLE) * ny))) AS mi,
         max(n) AS n
  FROM o JOIN mx USING (x) JOIN my USING (y), t),
hx AS (SELECT -sum(CAST(nx AS DOUBLE) / n
                   * ln(CAST(nx AS DOUBLE) / n)) AS h FROM mx, t),
hy AS (SELECT -sum(CAST(ny AS DOUBLE) / n
                   * ln(CAST(ny AS DOUBLE) / n)) AS h FROM my, t)
SELECT CAST(s.n AS BIGINT) AS n,
       {sql_rnd("s.mi")} AS mi_nats,
       {sql_rnd("hx.h")} AS h_x, {sql_rnd("hy.h")} AS h_y,
       {sql_rnd("s.mi / nullif(sqrt(hx.h * hy.h), 0)")} AS nmi
FROM s, hx, hy
""")
def q_mutual_info(spark, sf):
    """Mutual information (and normalized MI) between event type and
    hour-of-day — the information-theoretic companion to
    q_chi2_independence: how many nats knowing the hour tells you
    about the event mix.  Cells with zero joint count contribute
    zero, so only observed cells participate (no empty-cell grid).

    Scale: one data-sized groupBy builds the joint counts; marginals
    (windows) and the MI/entropy folds run over the |x·y| observed
    cells.  All counts exact BIGINTs; ln over exact
    rationals quantized once (the q_text_entropy libm precedent)."""
    e = load_tables(spark, sf)["events"]
    o = (e.groupBy(F.col("event_type").alias("x"),
                   F.hour("ts").cast("int").alias("y"))
         .agg(F.count(F.lit(1)).alias("nxy")))
    # the marginals and the grand total are windows over the cell
    # frame, and each entropy sums its marginal once (the first cell
    # of each x / y), so the cell aggregate has ONE consumer: without
    # it every marginal join re-ran the events scan, since the join
    # filters pushed into each copy defeat exchange reuse
    wx, wy = W.partitionBy("x"), W.partitionBy("y")
    cells = o.select(
        # a NULL-keyed cell counts in n and its marginal's entropy but
        # not in the MI sum, as the oracle's inner joins have it
        F.when(F.col("x").isNotNull() & F.col("y").isNotNull(),
               F.col("nxy")).alias("nxy"),
        F.sum("nxy").over(wx).alias("nx"),
        F.sum("nxy").over(wy).alias("ny"),
        F.sum("nxy").over(W.partitionBy()).alias("n"),
        (F.row_number().over(wx.orderBy("y")) == 1).alias("x1"),
        (F.row_number().over(wy.orderBy("x")) == 1).alias("y1"))
    nd = F.col("n").cast("double")
    s = cells.agg(
        F.sum(F.col("nxy") / nd
              * F.log(F.col("nxy") * nd
                      / (F.col("nx").cast("double") * F.col("ny"))))
        .alias("mi"),
        F.max("n").alias("n"),
        (-F.sum(F.when(F.col("x1"), F.col("nx") / nd
                       * F.log(F.col("nx") / nd)))).alias("h_x"),
        (-F.sum(F.when(F.col("y1"), F.col("ny") / nd
                       * F.log(F.col("ny") / nd)))).alias("h_y"))
    return s.select(F.col("n").cast("long").alias("n"),
                    rnd(F.col("mi")).alias("mi_nats"),
                    rnd(F.col("h_x")).alias("h_x"),
                    rnd(F.col("h_y")).alias("h_y"),
                    # nullif guard: a single-valued marginal (one
                    # event type or one hour) zeroes an entropy —
                    # Spark NULL vs DuckDB Inf/NaN without it
                    rnd(F.col("mi")
                        / F.nullif(
                            F.sqrt(F.col("h_x") * F.col("h_y")),
                            F.lit(0.0)))
                    .alias("nmi"))


# ------------------------------------------------ Spearman correlation
def _spearman_rank2(df, col):
    """Per-(l_returnflag, value) CENTERED doubled midranks as exact
    BIGINTs: 2·(midrank − (n+1)/2) = 2·prior + t − n_group, where
    prior = rows strictly below and t = the value's tie count —
    derived from one value-grouped count + one ordered cumulative
    window per group, the q_mann_whitney shape. Centering makes the
    rank column exactly zero-mean, so the Pearson closed form loses
    its n·Σxy − ΣxΣy cancellation terms entirely — the uncentered
    form at n ≈ 4e6 cancels 25 significant digits and leaves pure
    rounding noise (a constant column produced junk instead of the
    exact 0 the nullif guard needs). Returns (l_returnflag, v, r2)."""
    v = (df.groupBy("l_returnflag", F.col(col).alias("v"))
         .agg(F.count(F.lit(1)).cast("long").alias("t")))
    w = (W.partitionBy("l_returnflag").orderBy("v")
         .rowsBetween(W.unboundedPreceding, -1))
    wg = W.partitionBy("l_returnflag")
    return v.select(
        "l_returnflag", "v",
        (2 * F.coalesce(F.sum("t").over(w), F.lit(0))
         + F.col("t") - F.sum("t").over(wg)).alias("r2"))


def _spearman_rank2_sql(col: str) -> str:
    return f"""
  SELECT l_returnflag, v,
         2 * CAST(coalesce(sum(t) OVER (
             PARTITION BY l_returnflag ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) + t
         - CAST(sum(t) OVER (PARTITION BY l_returnflag) AS BIGINT) AS r2
  FROM (SELECT l_returnflag, {col} AS v, CAST(count(*) AS BIGINT) AS t
        FROM lineitem GROUP BY 1, 2)"""


@query("q_spearman_corr", oracle=f"""
WITH rx AS ({_spearman_rank2_sql('l_quantity')}),
ry AS ({_spearman_rank2_sql('l_discount')}),
j AS (
  SELECT li.l_returnflag, rx.r2 AS x, ry.r2 AS y
  FROM lineitem li
  JOIN rx ON rx.l_returnflag = li.l_returnflag
         AND rx.v = li.l_quantity
  JOIN ry ON ry.l_returnflag = li.l_returnflag
         AND ry.v = li.l_discount),
s AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
  FROM j GROUP BY l_returnflag)
SELECT l_returnflag, n,
       {sql_rnd("CAST(sxy AS DOUBLE) / "
                "nullif(sqrt(CAST(sxx AS DOUBLE) "
                "* CAST(syy AS DOUBLE)), 0)")}
           AS rho
FROM s
""")
def q_spearman_corr(spark, sf):
    """Spearman rank correlation per group (quantity vs discount
    within each return flag) — the monotone-association twin of
    q_corr_stats's Pearson r, robust to outliers and monotone
    transforms. Completes the rank-statistics family
    (q_mann_whitney location, q_ks_test shape, rank correlation
    here). Both columns are LOW-CARDINALITY (quantity ~50 values,
    discount 11), which is what makes the rank-model-join plan the
    right one; a continuous column would make the model data-sized —
    rank it with the range-partitioned offset machinery of
    _exact_quantiles_distributed instead of a broadcast model.
    Co-moments accumulate in decimal(38,0) (see inline comment), so
    the exact-integer discipline holds to ~1e12 rows per group.

    Exactness: Spearman is Pearson over midranks; CENTERED doubled
    midranks (2·prior + t − n) are exact BIGINTs from value-grouped
    counts, so the three co-moment sums are pure integer arithmetic
    — order-independent, hash-identical — and doubles appear only in
    the final Σxy/√(Σx²·Σy²) over exact integers (the doubling and
    centering cancel; zero-mean ranks eliminate the catastrophic
    n·Σxy − ΣxΣy cancellation the uncentered form hits at n ≈ 4e6).

    Scale: two value-grouped counts (|distinct values| rows) with
    ordered windows over THOSE frames only, two broadcastable
    rank-model joins back to the fact rows (the q_text_perplexity
    model-join shape), one map-side-combinable co-moment aggregate.
    No global sort of fact rows, no per-row window."""
    li = load_tables(spark, sf)["lineitem"]
    rx = _spearman_rank2(li, "l_quantity")
    ry = _spearman_rank2(li, "l_discount")
    rx = rx.select(F.col("l_returnflag").alias("rf_x"),
                   F.col("v").alias("v_x"), F.col("r2").alias("x"))
    ry = ry.select(F.col("l_returnflag").alias("rf_y"),
                   F.col("v").alias("v_y"), F.col("r2").alias("y"))
    # measured and deliberately NOT spread: two same-session A/Bs of
    # a round-robin floor before the co-moment pass were a wash
    # (medians 2.98→2.55 then 1.60→1.53 with mins equal-or-worse) —
    # the decimal partial aggregation is not heavy enough to pay for
    # the exchange (OPTIMIZATION_r15.md)
    j = (li.select("l_returnflag", "l_quantity", "l_discount")
         .join(F.broadcast(rx),
               (F.col("l_returnflag") == F.col("rf_x"))
               & (F.col("l_quantity") == F.col("v_x")))
         .join(F.broadcast(ry),
               (F.col("l_returnflag") == F.col("rf_y"))
               & (F.col("l_discount") == F.col("v_y"))))
    # 128-bit co-moment sums (util.sum128): per-row products are
    # exact longs (centered ranks ≤ 2n — fine to n ≈ 1.5e9 rows per
    # group) but Σx² ≈ n³/3 blows through int64 near n ≈ 2M, a hard
    # ANSI error at the 10× probe scale. Centered ranks make Σx = 0
    # exactly, so the closed form is just Σxy/√(Σx²·Σy²) — no
    # n·Σxy − ΣxΣy cancellation (see _spearman_rank2).
    s = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sum128(F.col("x") * F.col("y")).alias("sxy"),
        sum128(F.col("x") * F.col("x")).alias("sxx"),
        sum128(F.col("y") * F.col("y")).alias("syy"))
    den = F.sqrt(F.col("sxx") * F.col("syy"))
    return s.select("l_returnflag", "n",
                    rnd(F.col("sxy")
                        / F.nullif(den, F.lit(0.0))).alias("rho"))


# ---------------------------------------------------- winsorization
@query("q_winsorize", oracle=f"""
WITH b AS (
  SELECT event_type,
         percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS lo,
         percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN e.value < b.lo THEN b.lo
            WHEN e.value > b.hi THEN b.hi
            ELSE e.value END AS clipped,
       e.value < b.lo OR e.value > b.hi AS was_clipped
FROM events e JOIN b USING (event_type)
""")
def q_winsorize(spark, sf):
    """Per-group winsorization — clip each value into its group's
    [p05, p95] band, the outlier treatment feature pipelines apply
    before scaling (q_feature_scale) when heavy tails would dominate
    the variance. DISCRETE percentiles keep the boundaries actual
    data values, bit-identical across engines (the q_anomaly_iqr
    convention — interpolated percentiles are not hash-safe).

    Scale: one aggregate produces the |groups|-row boundary frame,
    BROADCAST back onto the fact scan; the clip is a codegen CASE —
    no window over the data, no second shuffle. The same shape at
    any group cardinality: boundaries are always |groups| rows."""
    e = load_tables(spark, sf)["events"]
    b = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)")
        .alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)")
        .alias("hi"))
    return (
        e.join(F.broadcast(b), "event_type")
        .select(
            "event_id", "event_type", "value",
            F.when(F.col("value") < F.col("lo"), F.col("lo"))
            .when(F.col("value") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("value")).alias("clipped"),
            ((F.col("value") < F.col("lo"))
             | (F.col("value") > F.col("hi"))).alias("was_clipped"))
    )


# ------------------------------------------------- one-way ANOVA
#: Shared one-way-ANOVA oracle — composed verbatim into q_anova and
#: its streaming twin q_stream_anova (streaming_q.py), so live and
#: batch hash the same ground truth.
ANOVA_ORACLE = f"""
WITH v AS (
  SELECT event_type AS grp,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(vc) AS BIGINT) AS s_g,
         CAST(sum(CAST(vc AS HUGEINT) * vc) AS DOUBLE) AS q_g
  FROM v GROUP BY 1),
t AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS DOUBLE) AS tt,
         CAST(count(*) AS BIGINT) AS k
  FROM g),
s AS (
  SELECT max(n) AS n, max(k) AS k,
         sum(CAST(s_g AS DOUBLE) * s_g / n_g) - max(tt * tt / n)
             AS ssb_c2,
         sum(q_g - CAST(s_g AS DOUBLE) * s_g / n_g) AS ssw_c2
  FROM g, t)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       CAST(k - 1 AS BIGINT) AS dof_between,
       CAST(n - k AS BIGINT) AS dof_within,
       {sql_rnd("ssb_c2 / 10000.0")} AS ss_between,
       {sql_rnd("ssw_c2 / 10000.0")} AS ss_within,
       {sql_rnd("(ssb_c2 / (k - 1)) / nullif(ssw_c2 / (n - k), 0)")}
           AS f_stat,
       {sql_rnd("ssb_c2 / nullif(ssb_c2 + ssw_c2, 0)")} AS eta_sq
FROM s
"""


def anova_from_moments(g):
    """The k-row closed form over a (grp, n_g, s_g, q_g) moment frame
    — shared by q_anova (one batch aggregate feeds it) and
    q_stream_anova (the complete-mode sink feeds it), so the two
    lanes cannot diverge in the fold."""
    t = g.agg(F.sum("n_g").alias("n"),
              F.sum("s_g").cast("double").alias("tt"),
              F.count(F.lit(1)).alias("k"))
    sg2 = F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
    s = (g.crossJoin(F.broadcast(t))
         .agg(F.max("n").alias("n"), F.max("k").alias("k"),
              (F.sum(sg2)
               - F.max(F.col("tt") * F.col("tt") / F.col("n")))
              .alias("ssb_c2"),
              F.sum(F.col("q_g") - sg2).alias("ssw_c2")))
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        (F.col("k") - 1).cast("long").alias("dof_between"),
        (F.col("n") - F.col("k")).cast("long").alias("dof_within"),
        rnd(F.col("ssb_c2") / 10000.0).alias("ss_between"),
        rnd(F.col("ssw_c2") / 10000.0).alias("ss_within"),
        # nullif guard: a zero-variance-within corpus (all values
        # equal inside every group) NULLs F instead of erroring
        rnd((F.col("ssb_c2") / (F.col("k") - 1))
            / F.nullif(F.col("ssw_c2") / (F.col("n") - F.col("k")),
                       F.lit(0.0))).alias("f_stat"),
        rnd(F.col("ssb_c2")
            / F.nullif(F.col("ssb_c2") + F.col("ssw_c2"),
                       F.lit(0.0))).alias("eta_sq"))


@query("q_anova", oracle=ANOVA_ORACLE)
def q_anova(spark, sf):
    """One-way ANOVA: does mean event value differ across event
    types? Completes the engine's hypothesis-test family (Welch t =
    2 groups, Mann-Whitney = 2 groups rank-based, chi2 = two
    categoricals, KS = two distributions) with the k-group mean
    comparison, publishing the F statistic, both sums of squares,
    degrees of freedom, and the eta-squared effect size.

    Determinism: values are cent-quantized BIGINTs, so each group's
    (n, sum, sum-of-squares) triple is EXACT integer arithmetic —
    one map-side aggregate, order-independent by construction; the
    per-row square runs in the 128-bit lane (prod128 — the
    q_mann_whitney overflow lesson, since sum(vc^2) crosses 2^63 at
    the 100x probe grain). The SSB/SSW folds then run in doubles
    over |k| rows only (k = |event types|, broadcast-grain) and
    quantize once — the q_mutual_info discipline. Scale: ONE
    data-sized shuffle (the groupBy), everything downstream is
    k-row."""
    e = load_tables(spark, sf)["events"]
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = (e.select(F.col("event_type").alias("grp"), vc.alias("vc"))
         .groupBy("grp")
         .agg(F.count(F.lit(1)).alias("n_g"),
              F.sum("vc").alias("s_g"),
              sum128(prod128(F.col("vc"), F.col("vc"))).alias("q_g")))
    return anova_from_moments(g)


# --------------------------------------------- decile lift / gains
#: Temporal feature/outcome split for the lift table: features come
#: from orders STRICTLY BEFORE the split, the response from on/after
#: it — the leakage rule every supervised pipeline lives by. 2001-01
#: leaves ~6 years of history and a 7-month response window, so both
#: responders and non-responders exist at every committed scale.
_LIFT_SPLIT = "TIMESTAMP '2001-01-01'"
#: Literal model weights (the q_quality_classifier discipline): the
#: score is cents + 10000·order-count — a deployed propensity model's
#: coefficients become plan constants, exact integer arithmetic.
_LIFT_W_FREQ = 10_000


@query("q_decile_lift", oracle=f"""
WITH a AS (
  SELECT o_custkey AS ck, CAST(count(*) AS BIGINT) AS freq_a,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS mon_a
  FROM orders WHERE o_orderdate < {_LIFT_SPLIT} GROUP BY 1),
r AS (SELECT DISTINCT o_custkey AS ck FROM orders
      WHERE o_orderdate >= {_LIFT_SPLIT}),
s AS (SELECT a.ck, mon_a + {_LIFT_W_FREQ} * freq_a AS score,
             (r.ck IS NOT NULL) AS resp
      FROM a LEFT JOIN r ON a.ck = r.ck),
c AS (SELECT quantile_disc(score,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM s),
d AS (SELECT resp, CAST(1
          + CAST(score <= qs[1] AS INT) + CAST(score <= qs[2] AS INT)
          + CAST(score <= qs[3] AS INT) + CAST(score <= qs[4] AS INT)
          + CAST(score <= qs[5] AS INT) + CAST(score <= qs[6] AS INT)
          + CAST(score <= qs[7] AS INT) + CAST(score <= qs[8] AS INT)
          + CAST(score <= qs[9] AS INT) AS INT) AS decile
      FROM s, c),
g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
             CAST(count(CASE WHEN resp THEN 1 END) AS BIGINT) AS n_resp
      FROM d GROUP BY 1),
t AS (SELECT CAST(sum(n_cust) AS BIGINT) AS nt,
             CAST(sum(n_resp) AS BIGINT) AS rt FROM g)
SELECT decile, n_cust, n_resp,
       {sql_rnd('CAST(n_resp AS DOUBLE) / n_cust', 6)} AS resp_rate,
       {sql_rnd('(CAST(n_resp AS DOUBLE) / n_cust)'
                ' / nullif(CAST(rt AS DOUBLE) / nt, 0)', 6)} AS lift,
       CAST(1000000 * CAST(sum(n_resp) OVER (ORDER BY decile)
                           AS BIGINT) // nullif(rt, 0) AS BIGINT)
           AS cum_capture_ppm
FROM g, t
""")
def q_decile_lift(spark, sf):
    """DECILE LIFT / gains table — the standard readout for 'does
    this model rank well': customers are scored by a literal-weight
    propensity model over their PRE-SPLIT order history (exact
    integer score — cents + 10000·orders), the response is whether
    they ordered ON/AFTER the split (the leakage-safe temporal
    protocol: no feature can see the outcome window), and each score
    decile reports its response rate, lift over the base rate, and
    the cumulative capture curve a campaign-targeting or
    data-selection budget reads (decile 1 = top scores). Customers
    with no pre-split history are unscorable and excluded — in
    production they fall to a cold-start policy, not this table.

    Determinism: scores and responses are exact integers/booleans;
    decile assignment counts strict comparisons against the 9
    discrete-percentile cutpoints (the q_rfm_segment discipline —
    never a global ntile window over the data); cum_capture_ppm is
    exact integer arithmetic (1e6·cum_resp // total_resp). The only
    doubles are the two published rates, quantized once.

    Scale: two map-side-combinable aggregates over orders (feature
    window + responder set), one 9-scalar percentile aggregate
    broadcast back, then everything is 10-row grain — including the
    cumulative window, which orders 10 rows, not the data."""
    o = load_tables(spark, sf)["orders"]
    split = F.expr(_LIFT_SPLIT)
    a = (o.filter(F.col("o_orderdate") < split)
         .groupBy(F.col("o_custkey").alias("ck"))
         .agg(F.count(F.lit(1)).alias("freq_a"),
              F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                    .cast("long")).alias("mon_a")))
    r = (o.filter(F.col("o_orderdate") >= split)
         .select(F.col("o_custkey").alias("ck")).distinct()
         .withColumn("resp0", F.lit(True)))
    # s feeds BOTH the cutpoint aggregate and the decile groupBy;
    # pruning specializes the two copies (score-only vs score+resp)
    # so exchange reuse cannot collapse them — plan_persist computes
    # the scored frame once per invocation instead of twice
    s = plan_persist(spark, "decile_lift:s",
                     a.select("ck", (F.col("mon_a")
                                     + F.lit(_LIFT_W_FREQ)
                                     * F.col("freq_a"))
                             .alias("score"))
                     .join(r, "ck", "left")
                     .select("score", F.coalesce("resp0", F.lit(False))
                             .alias("resp")))
    c = s.agg(*[
        F.expr(f"percentile_disc({p / 10}) WITHIN GROUP "
               f"(ORDER BY score)").alias(f"q{p}")
        for p in range(1, 10)])
    decile = F.lit(1)
    for p in range(1, 10):
        decile = decile + (F.col("score") <= F.col(f"q{p}")).cast("int")
    g = (s.crossJoin(F.broadcast(c))
         .groupBy(decile.cast("int").alias("decile"))
         .agg(F.count(F.lit(1)).alias("n_cust"),
              F.count(F.when(F.col("resp"), 1)).alias("n_resp")))
    t = g.agg(F.sum("n_cust").alias("nt"), F.sum("n_resp").alias("rt"))
    cum = F.sum("n_resp").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0))
    return (g.crossJoin(F.broadcast(t))
            .select("decile", "n_cust", "n_resp",
                    rnd(F.col("n_resp").cast("double")
                        / F.col("n_cust"), 6).alias("resp_rate"),
                    rnd((F.col("n_resp").cast("double") / F.col("n_cust"))
                        / F.nullif(F.col("rt").cast("double")
                                   / F.col("nt"), F.lit(0.0)), 6)
                    .alias("lift"),
                    (F.lit(1000000) * cum.cast("long"))
                    .cast("long").alias("_cr"),
                    "rt")
            .select("decile", "n_cust", "n_resp", "resp_rate", "lift",
                    F.expr("_cr div nullif(rt, 0)")
                    .alias("cum_capture_ppm")))


# --------------------------------------------- Kruskal-Wallis H test
@query("q_kruskal_wallis", oracle=f"""
WITH vg AS (
  SELECT event_type AS grp, value AS v, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
tv AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM vg GROUP BY 1),
r AS (
  SELECT v, t,
         CAST(coalesce(sum(t) OVER (
             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS prior
  FROM tv),
g AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n_g,
         CAST(sum(c * (2 * prior + t + 1)) AS BIGINT) AS r2
  FROM vg JOIN r USING (v) GROUP BY grp),
n AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k FROM g),
tt AS (SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE)
           AS ties FROM tv),
s AS (
  SELECT max(n) AS n, max(k) AS k, max(ties) AS ties,
         sum(CAST(r2 AS DOUBLE) * r2 / n_g) AS sr2
  FROM g, n, tt)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       CAST(k - 1 AS BIGINT) AS dof,
       {sql_rnd("3.0 * sr2 / (n * (n + 1.0)) - 3.0 * (n + 1)")}
           AS h_stat,
       {sql_rnd("(3.0 * sr2 / (n * (n + 1.0)) - 3.0 * (n + 1))"
                " / nullif(1.0 - ties"
                " / (CAST(n AS DOUBLE) * n * n - n), 0)")}
           AS h_tie_corrected
FROM s
""")
def q_kruskal_wallis(spark, sf):
    """Kruskal–Wallis H — the k-group RANK test pairing with q_anova
    the way q_mann_whitney pairs with q_ab_welch: does the value
    distribution's location differ across event types when nothing
    about normality can be assumed? Publishes H and the tie-corrected
    H' = H / (1 − Σ(t³−t)/(N³−N)).

    Exactness: doubled midranks are exact BIGINTs (2·midrank =
    2·prior + t + 1, the q_spearman_corr ×2 trick), so each group's
    rank sum R2_g is pure integer arithmetic; the tie cube runs
    128-bit from the first multiply (the q_mann_whitney overflow
    lesson). The only doubles are the k-row Σ R2_g²/n_g fold and the
    closed form — quantized once; at the hash-checked scales the
    fold's ulp noise sits orders below the 1e-4 quantum (the q_gini
    headroom discipline; past ~1e6 rows the published statistic is
    probe-timed, never hashed). Scale: one data-sized groupBy to
    |distinct (type, value)| cells, the ordered window touches only
    the |distinct value| frame — the q_ks_test shape."""
    e = load_tables(spark, sf)["events"]
    # NULL values are excluded up front ON BOTH SIDES (r16, r15
    # ADVICE): the engine's tie sum flows through vg.join(r, 'v'),
    # which drops NULL-valued cells, while the oracle's tt previously
    # kept them — a latent engine-vs-oracle divergence on any corpus
    # with NULL values (fixtures have none; dual-SF oracle-verified
    # bit-identical before and after). A rank test has no defined
    # rank for NULL anyway.
    vg = (e.filter(F.col("value").isNotNull())
          .groupBy(F.col("event_type").alias("grp"),
                   F.col("value").alias("v"))
          .agg(F.count(F.lit(1)).alias("c")))
    tv = vg.groupBy("v").agg(F.sum("c").alias("t"))
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    r = tv.select(
        "v", "t",
        F.coalesce(F.sum("t").over(w), F.lit(0)).alias("prior"))
    # the tie cube folds INTO the same group pass by exact integer
    # algebra: Σ_g Σ_v c_gv·(t_v²−1) = Σ_v t_v·(t_v²−1) = Σ_v (t_v³−t_v)
    # because Σ_g c_gv = t_v — so the separate tt lineage (a third
    # full execution of the cell aggregate) disappears; decimal(38,0)
    # per-cell products keep the cube exact (the q_mann_whitney
    # overflow lesson), cast to double once at the k-row fold.
    g = (vg.join(r, "v")
         .groupBy("grp")
         .agg(F.sum("c").alias("n_g"),
              F.sum(F.col("c") * (2 * F.col("prior")
                                  + F.col("t") + 1)).alias("r2"),
              sum128((prod128(F.col("t"), F.col("t")) - 1)
                     * F.col("c"), "decimal").alias("ties_g")))
    # Σ R2_g²/n_g does not depend on N, so N, k, the tie sum and the
    # rank-sum fold are one aggregate over the k group rows
    s = g.agg(F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k"),
              F.sum("ties_g").cast("double").alias("ties"),
              F.sum(F.col("r2").cast("double") * F.col("r2")
                    / F.col("n_g")).alias("sr2"))
    nd = F.col("n").cast("double")
    h = 3.0 * F.col("sr2") / (nd * (nd + 1.0)) - 3.0 * (F.col("n") + 1)
    corr = 1.0 - F.col("ties") / (nd * nd * nd - nd)
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        (F.col("k") - 1).cast("long").alias("dof"),
        rnd(h).alias("h_stat"),
        # nullif guard: an all-tied corpus (every value identical)
        # zeroes the correction — NULL beats a hard /0 error
        rnd(h / F.nullif(corr, F.lit(0.0))).alias("h_tie_corrected"))


# ------------------------------------- Levene / Brown-Forsythe test
@query("q_levene_test", oracle=f"""
WITH v AS (
  SELECT event_type AS grp,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
md AS (SELECT grp, CAST(2 * median(vc) AS BIGINT) AS m2
       FROM v GROUP BY 1),
d AS (SELECT v.grp, abs(2 * vc - m2) AS dc
      FROM v JOIN md USING (grp)),
g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
         CAST(sum(dc) AS BIGINT) AS s_g,
         CAST(sum(CAST(dc AS HUGEINT) * dc) AS DOUBLE) AS q_g
  FROM d GROUP BY 1),
t AS (
  SELECT CAST(sum(n_g) AS BIGINT) AS n,
         CAST(sum(s_g) AS DOUBLE) AS tt,
         CAST(count(*) AS BIGINT) AS k
  FROM g),
s AS (
  SELECT max(n) AS n, max(k) AS k,
         sum(CAST(s_g AS DOUBLE) * s_g / n_g) - max(tt * tt / n)
             AS ssb,
         sum(q_g - CAST(s_g AS DOUBLE) * s_g / n_g) AS ssw
  FROM g, t)
SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
       CAST(k - 1 AS BIGINT) AS dof_between,
       CAST(n - k AS BIGINT) AS dof_within,
       {sql_rnd("(ssb / (k - 1)) / nullif(ssw / (n - k), 0)")}
           AS w_stat
FROM s
""")
def q_levene_test(spark, sf):
    """Levene's test, Brown–Forsythe variant — the
    variance-homogeneity check that guards q_anova's equal-variance
    assumption (the test a careful analyst runs FIRST; scipy's
    levene(center='median')): a one-way F on the absolute deviations
    from each group's MEDIAN. The median centering is what makes it
    robust — one outlier shifts a group mean and poisons a
    mean-centered Levene, but cannot move the median.

    Exactness: deviations are |2·vc − 2·median| on cent-quantized
    BIGINTs — 2× the median of integers is integer-valued even for
    even groups (the q_ts_rolling_median trick), so every deviation
    is an exact integer and the group moments are exact (squares in
    the 128-bit lane); the k-row SSB/SSW folds are the q_anova
    discipline, quantized once. W is unit-free, so the 2×-cent
    scaling cancels. Scale: one percentile aggregate per group
    (broadcast back as a |k|-row join) + one map-side moment
    aggregate — two passes over the data, k-row everything after."""
    e = load_tables(spark, sf)["events"]
    v = e.select(F.col("event_type").alias("grp"),
                 F.floor(F.col("value") * 100 + F.lit(0.5))
                 .cast("long").alias("vc"))
    md = (v.groupBy("grp")
          .agg((2 * F.expr("percentile(vc, 0.5)")).cast("long")
               .alias("m2")))
    d = (v.join(F.broadcast(md), "grp")
         .select("grp", F.abs(2 * F.col("vc") - F.col("m2"))
                 .alias("dc")))
    g = (d.groupBy("grp")
         .agg(F.count(F.lit(1)).alias("n_g"),
              F.sum("dc").alias("s_g"),
              sum128(prod128(F.col("dc"), F.col("dc"))).alias("q_g")))
    # SSB = Σ s_g²/n_g − T²/N: every term is a sum over the k group
    # rows, so one aggregate yields them all and a select forms SSB
    sg2 = F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
    s = g.agg(F.sum("n_g").alias("n"), F.count(F.lit(1)).alias("k"),
              F.sum("s_g").cast("double").alias("tt"),
              F.sum(sg2).alias("ssg2"),
              F.sum(F.col("q_g") - sg2).alias("ssw"))
    ssb = F.col("ssg2") - F.col("tt") * F.col("tt") / F.col("n")
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        (F.col("k") - 1).cast("long").alias("dof_between"),
        (F.col("n") - F.col("k")).cast("long").alias("dof_within"),
        rnd((ssb / (F.col("k") - 1))
            / F.nullif(F.col("ssw") / (F.col("n") - F.col("k")),
                       F.lit(0.0))).alias("w_stat"))



# --------------------------------------------- Poisson bootstrap CI
#: Replicate count. 32 replicate means give stable 5%/95% discrete
#: percentiles while keeping the explode a fixed small constant.
_BS_B = 32
#: Poisson(1) CDF in exact ppm — the inverse-CDF thresholds that turn
#: one md5 ppm draw into a bootstrap weight (w = #thresholds <= u,
#: capped at 8; P(w >= 8) < 1e-5 so the cap is unreachable in ppm
#: grain). Literal in BOTH plans, so the weight is engine-exact.
_BS_THRESH = [367879, 735759, 919699, 981012, 996340,
              999406, 999917, 999990]


def _bs_weight_sql() -> str:
    return "(" + " + ".join(
        f"CAST(uu >= {t} AS INT)" for t in _BS_THRESH) + ")"


@query("q_bootstrap_ci", oracle=f"""
WITH v AS (
  SELECT event_type AS grp, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events),
pt AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vc) AS BIGINT) AS s
  FROM v GROUP BY 1),
d AS (
  SELECT grp, vc,
         b.b,
         {hexpoly_sql("md5(concat(event_id, '#bs', b.b))")} % 1000000
             AS uu
  FROM v CROSS JOIN
       (SELECT CAST(unnest(generate_series(0, {_BS_B - 1})) AS BIGINT)
            AS b) b),
r AS (
  SELECT grp, b,
         CAST(sum({_bs_weight_sql()} * vc) AS BIGINT) AS ws,
         CAST(sum({_bs_weight_sql()}) AS BIGINT) AS wn
  FROM d GROUP BY grp, b),
m AS (
  SELECT grp, b,
         CAST(ws AS DOUBLE) / (100.0 * nullif(wn, 0)) AS mb
  FROM r),
q AS (
  SELECT grp, quantile_disc(mb, 0.05) AS lo,
         quantile_disc(mb, 0.95) AS hi
  FROM m GROUP BY grp)
SELECT pt.grp, pt.n,
       {sql_rnd('CAST(pt.s AS DOUBLE) / (100.0 * pt.n)', 6)} AS mean,
       {sql_rnd('q.lo', 6)} AS ci_lo,
       {sql_rnd('q.hi', 6)} AS ci_hi
FROM pt JOIN q ON pt.grp = q.grp
""")
def q_bootstrap_ci(spark, sf):
    """POISSON-BOOTSTRAP confidence interval for each group mean —
    the bootstrap that actually runs at 100 TB (and powers
    production A/B systems): classical resampling draws n rows with
    replacement — a global operation no partition can do alone —
    but Poisson(1) per-row weights are an excellent approximation
    to multinomial resampling AND embarrassingly parallel: each row
    computes its own {_BS_B} replicate weights from an md5 ppm draw
    against the LITERAL Poisson CDF thresholds (w = #thresholds <=
    u — pure integer comparisons, engine-exact and replayable,
    where rand() is neither), so one bounded {_BS_B}x explode + one
    map-side aggregate yields every replicate's weighted mean and
    the 5%/95% discrete percentiles of those means are the CI.

    Determinism: weights and weighted sums are exact integers;
    replicate means are identical doubles on both engines (same
    integer inputs, same single division), so the discrete
    percentile picks the same elements; published floats quantized
    once. Scale: corpus-sized work is the {_BS_B}x explode feeding
    ONE combine-heavy groupBy to |groups|x{_BS_B} rows — no global
    resample, no shuffle of raw rows, CI cost is a constant factor
    on one aggregate."""
    e = load_tables(spark, sf)["events"]
    v = e.select(F.col("event_type").alias("grp"), "event_id",
                 F.floor(F.col("value") * 100 + F.lit(0.5))
                 .cast("long").alias("vc"))
    pt = v.groupBy("grp").agg(F.count(F.lit(1)).alias("n"),
                              F.sum("vc").alias("s"))
    # the {B}x explode + per-replicate md5 is the corpus-sized CPU
    # cost; spread() floors the pre-explode partition count at the
    # core count so the weight kernel parallelizes (no-op at scale)
    v = spread(v)
    d = v.select(
        "grp", "vc",
        F.explode(F.sequence(F.lit(0), F.lit(_BS_B - 1))).alias("b"),
        "event_id")
    uu = hexpoly_col(F.md5(F.concat(
        F.col("event_id").cast("string"), F.lit("#bs"),
        F.col("b").cast("string")))) % 1000000
    w = sum((uu >= t).cast("int") for t in _BS_THRESH)
    r = (d.select("grp", "b", "vc", w.alias("w"))
         .groupBy("grp", "b")
         .agg(F.sum(F.col("w") * F.col("vc")).alias("ws"),
              F.sum("w").alias("wn")))
    m = r.select("grp", (F.col("ws").cast("double")
                         / (100.0 * F.nullif(F.col("wn").cast("double"),
                                             F.lit(0.0)))).alias("mb"))
    q = m.groupBy("grp").agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY mb)")
        .alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY mb)")
        .alias("hi"))
    return (pt.join(F.broadcast(q), "grp")
            .select("grp", "n",
                    rnd(F.col("s").cast("double")
                        / (100.0 * F.col("n")), 6).alias("mean"),
                    rnd(F.col("lo"), 6).alias("ci_lo"),
                    rnd(F.col("hi"), 6).alias("ci_hi")))


# --------------------------------------------- Kaplan-Meier survival
@query("q_survival_km", oracle=f"""
WITH o AS (
  SELECT o_custkey, o_orderdate,
         lead(o_orderdate) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders),
hz AS (SELECT max(o_orderdate) AS horizon FROM orders),
sp AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN CAST(date_diff('day', o_orderdate, nxt) AS BIGINT)
              ELSE CAST(date_diff('day', o_orderdate, horizon)
                        AS BIGINT) END AS t,
         (nxt IS NOT NULL) AS ev
  FROM o, hz),
c AS (
  SELECT t, CAST(count(CASE WHEN ev THEN 1 END) AS BIGINT) AS d,
         CAST(count(CASE WHEN NOT ev THEN 1 END) AS BIGINT) AS cns
  FROM sp GROUP BY t),
r AS (
  SELECT t, d, cns,
         CAST((SELECT count(*) FROM sp) AS BIGINT)
         - CAST(coalesce(sum(d + cns) OVER (
               ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
  FROM c),
k AS (
  SELECT t, n_risk, d, cns,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(floor(ln((n_risk - d)
                                 / CAST(n_risk AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT)
              WHEN d = 0 THEN 0 END AS lnq
  FROM r)
SELECT t AS t_days, n_risk, d AS d_event, cns AS c_censored,
       CAST(1000000 * d // n_risk AS BIGINT) AS hazard_ppm,
       {sql_rnd("CAST(sum(lnq) OVER (ORDER BY t"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " AS DOUBLE) / 1000000.0", 6)} AS km_log_survival
FROM k WHERE d > 0
""")
def q_survival_km(spark, sf):
    """KAPLAN-MEIER survival curve for repurchase time — the
    censoring-correct answer to "how long until a customer orders
    again", where the naive mean-gap silently drops every customer
    who hasn't reordered YET (the classic churn-analysis bias): each
    consecutive-order gap is an observed event, each customer's tail
    (last order to the corpus horizon) enters as a CENSORED spell
    that keeps them in the at-risk denominator until their censor
    time. Published per event time: at-risk count, events, censored,
    the exact hazard (1e6·d//n, integer), and the KM curve in LOG
    domain — log S(t) = Σ ln((n−d)/n) over event times, each ln
    quantized at 1e-6 BEFORE the sum (the PSI discipline) so the
    running fold is integer-exact and the single published double is
    one division by a literal. The log form also sidesteps exp(),
    which is not hash-safe cross-engine (the q_ts_ewma lesson);
    S(t) = exp(log S) is the reader's one-liner.

    Scale: one lead window on customers (single shuffle), one
    map-side (t, event) count — the curve lives on |distinct gap|
    rows (bounded by the corpus day span), and the running fold
    orders that bounded frame, not the data."""
    o0 = load_tables(spark, sf)["orders"]
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hz = o0.agg(F.max("o_orderdate").alias("horizon"))
    o = (o0.select("o_custkey", "o_orderdate",
                   F.lead("o_orderdate").over(w).alias("nxt"))
         .crossJoin(F.broadcast(hz)))
    sp = o.select(
        F.when(F.col("nxt").isNotNull(),
               F.datediff("nxt", "o_orderdate"))
         .otherwise(F.datediff("horizon", "o_orderdate"))
         .cast("long").alias("t"),
        F.col("nxt").isNotNull().alias("ev"))
    c = sp.groupBy("t").agg(
        F.count(F.when(F.col("ev"), 1)).alias("d"),
        F.count(F.when(~F.col("ev"), 1)).alias("cns"))
    # every spell lands in exactly one t bucket as either d or cns
    # (so Σ(d+cns) = |sp|): the spells still at risk at t are the
    # integer suffix sum of d+cns over the |distinct gap| rows of c,
    # with no spell total and no second corpus pass
    wf = W.orderBy("t").rowsBetween(W.currentRow, W.unboundedFollowing)
    r = c.select("t", "d", "cns",
                 F.sum(F.col("d") + F.col("cns")).over(wf)
                 .alias("n_risk"))
    lnq = (F.when((F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                  F.floor(F.log((F.col("n_risk") - F.col("d"))
                                / F.col("n_risk").cast("double"))
                          * 1000000 + F.lit(0.5)).cast("long"))
           .when(F.col("d") == 0, F.lit(0).cast("long")))
    k = r.select("t", "n_risk", "d", "cns", lnq.alias("lnq"))
    run = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return (k.select(
                "t", "n_risk", "d", "cns",
                F.sum("lnq").over(run).alias("lnsum"))
            .filter(F.col("d") > 0)
            .select(F.col("t").alias("t_days"), "n_risk",
                    F.col("d").alias("d_event"),
                    F.col("cns").alias("c_censored"),
                    F.expr("1000000 * d div n_risk").alias("hazard_ppm"),
                    rnd(F.col("lnsum").cast("double") / 1000000.0, 6)
                    .alias("km_log_survival")))


# ----------------------------------------------- sample-ratio check
#: The SRM gate's experiment registry: salt + intended A-share in
#: percent, as LITERALS (a real registry is a broadcast dim table).
_SRM_EXPERIMENTS = [("exp1", 50), ("exp2", 50), ("exp3", 20)]
#: chi-square 95% critical value, 1 dof — the standard SRM alarm.
_SRM_CRIT = 3.841459


def _srm_rows_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{s}' AS exp_id, CAST({p} AS BIGINT) AS pct_a"
        for s, p in _SRM_EXPERIMENTS)


@query("q_ab_srm", oracle=f"""
WITH u AS (SELECT DISTINCT user_id FROM events),
e AS ({_srm_rows_sql()}),
a AS (
  SELECT e.exp_id, e.pct_a,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(CASE WHEN
             {hexpoly_sql("md5(concat(user_id, '#', exp_id))")}
                 % 100 < e.pct_a THEN 1 END) AS BIGINT) AS n_a
  FROM u CROSS JOIN e GROUP BY e.exp_id, e.pct_a),
s AS (
  SELECT exp_id, n, n_a, n - n_a AS n_b,
         (n_a - n * pct_a / 100.0)
             * (n_a - n * pct_a / 100.0)
             / (n * pct_a / 100.0)
         + ((n - n_a) - n * (100 - pct_a) / 100.0)
             * ((n - n_a) - n * (100 - pct_a) / 100.0)
             / (n * (100 - pct_a) / 100.0) AS chi2
  FROM a)
SELECT exp_id, n AS n_units, n_a, n_b,
       {sql_rnd("chi2", 6)} AS chi2_srm,
       ({sql_rnd("chi2", 6)} > {_SRM_CRIT}) AS srm_flag
FROM s
""")
def q_ab_srm(spark, sf):
    """SAMPLE-RATIO-MISMATCH gate — the first thing a trustworthy
    A/B platform checks before showing anyone a p-value: for each
    registered experiment (salt + intended A-share), users are
    hash-assigned (md5 of user and salt — the deterministic
    assignment a real platform uses, so the oracle replays it
    bit-for-bit) and the observed arm counts are chi-square-tested
    against the INTENDED ratio; a flagged experiment has a broken
    randomizer or a differentially-dropped arm, and every downstream
    stat on it is garbage (Fabijan et al. 2019). The 80/20 exp3 row
    keeps the unequal-split lane live.

    Determinism: unit counts are exact integers from one distinct +
    one cross-join aggregate; chi2 is closed-form double arithmetic
    on them, quantized once, and the flag compares the QUANTIZED
    value so it can never disagree with the published statistic.
    Scale: |experiments| is a literal registry; the corpus-sized
    work is ONE distinct + one map-side combined aggregate — output
    is |experiments| rows."""
    e = load_tables(spark, sf)["events"]
    u = e.select("user_id").distinct()
    exps = spark.createDataFrame(
        _SRM_EXPERIMENTS, "exp_id string, pct_a long")
    h = hexpoly_col(F.md5(F.concat(
        F.col("user_id").cast("string"), F.lit("#"),
        F.col("exp_id")))) % 100
    a = (u.crossJoin(F.broadcast(exps))
         .groupBy("exp_id", "pct_a")
         .agg(F.count(F.lit(1)).alias("n"),
              F.count(F.when(h < F.col("pct_a"), 1)).alias("n_a")))
    ea = F.col("n") * F.col("pct_a") / 100.0
    eb = F.col("n") * (100 - F.col("pct_a")) / 100.0
    chi2 = ((F.col("n_a") - ea) * (F.col("n_a") - ea) / ea
            + ((F.col("n") - F.col("n_a")) - eb)
            * ((F.col("n") - F.col("n_a")) - eb) / eb)
    q = rnd(chi2, 6)
    return a.select(
        "exp_id", F.col("n").alias("n_units"), "n_a",
        (F.col("n") - F.col("n_a")).alias("n_b"),
        q.alias("chi2_srm"),
        (q > _SRM_CRIT).alias("srm_flag"))


# ------------------------------------------------- A/B power table
#: Candidate per-arm sample sizes for the MDE table — a LITERAL
#: planning grid (the experiment sizes a team actually debates).
_PWR_NS = [100, 1_000, 10_000, 100_000, 1_000_000]
#: z_{1-alpha/2} + z_{power} for alpha=5% two-sided, 80% power —
#: the canonical 2.8016 planning constant, as a literal.
_PWR_Z = 2.801585


@query("q_ab_power", oracle=f"""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS s,
         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
             * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS q
  FROM events WHERE event_type IN ('click', 'view')),
v AS (
  SELECT n,
         (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
             / (n - 1) / 10000.0 AS var_pooled,
         CAST(s AS DOUBLE) / (100.0 * n) AS mean_v
  FROM m),
g AS (SELECT CAST(unnest({_PWR_NS}) AS BIGINT) AS n_per_arm)
SELECT g.n_per_arm,
       {sql_rnd('v.mean_v', 6)} AS metric_mean,
       {sql_rnd('v.var_pooled', 6)} AS metric_var,
       {sql_rnd(f'{_PWR_Z} * sqrt(2.0 * v.var_pooled / g.n_per_arm)',
                6)} AS mde_abs,
       {sql_rnd(f'{_PWR_Z} * sqrt(2.0 * v.var_pooled / g.n_per_arm)'
                ' / nullif(v.mean_v, 0) * 100.0', 6)} AS mde_pct
FROM g, v
""")
def q_ab_power(spark, sf):
    """A/B POWER / minimum-detectable-effect table — the planning
    step that belongs BEFORE q_ab_srm (validity) and q_ab_welch
    (inference), completing the experimentation lifecycle: from the
    metric's pooled variance (exact cent-integer moments over the
    click/view population — the q_anova discipline), the table
    answers "at n users per arm, what's the smallest lift we could
    detect?" for a literal grid of candidate sizes, via the
    canonical two-sample formula MDE = (z_{{α/2}} + z_{{power}}) ·
    sqrt(2σ²/n) at 5%/80%. A team reads the row where mde_pct drops
    below their practical-significance bar and sizes the experiment
    there — no more "we ran two weeks and saw nothing" experiments
    that were underpowered on day one.

    Determinism: ONE map-side moment aggregate (exact integers,
    128-bit squares); the grid is literal; everything published is
    closed-form double arithmetic quantized once. Scale: the corpus
    collapses to one 3-scalar row, then |grid| rows."""
    e = load_tables(spark, sf)["events"]
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = (e.filter(F.col("event_type").isin("click", "view"))
         .select(vc.alias("vc"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("vc").alias("s"),
              sum128(prod128(F.col("vc"), F.col("vc"))).alias("q")))
    v = m.select(
        "n",
        ((F.col("q") - F.col("s").cast("double") * F.col("s")
          / F.col("n")) / (F.col("n") - 1) / 10000.0)
        .alias("var_pooled"),
        (F.col("s").cast("double") / (100.0 * F.col("n")))
        .alias("mean_v"))
    g = spark.createDataFrame([(n,) for n in _PWR_NS],
                              "n_per_arm long")
    mde = F.lit(_PWR_Z) * F.sqrt(2.0 * F.col("var_pooled")
                                 / F.col("n_per_arm"))
    return (g.crossJoin(F.broadcast(v))
            .select("n_per_arm",
                    rnd(F.col("mean_v"), 6).alias("metric_mean"),
                    rnd(F.col("var_pooled"), 6).alias("metric_var"),
                    rnd(mde, 6).alias("mde_abs"),
                    rnd(mde / F.nullif(F.col("mean_v"), F.lit(0.0))
                        * 100.0, 6).alias("mde_pct")))


# ------------------------------------------------- CUPED adjustment
#: Pre/post boundary for the CUPED covariate: the first half of the
#: fixture month is "pre-experiment" history, the second half the
#: experiment window — both sides populated at every committed scale.
_CUPED_SPLIT = "TIMESTAMP '2024-01-16 00:00:00'"


#: Shared CUPED oracle — composed verbatim into q_ab_cuped and its
#: streaming twin q_stream_cuped (streaming_q.py), so live and batch
#: hash the same ground truth.
AB_CUPED_ORACLE = f"""
WITH v AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < {_CUPED_SPLIT}
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= {_CUPED_SPLIT}
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
  FROM v),
s AS (
  SELECT n,
         (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) AS theta,
         (n * syy - sy * sy) / (CAST(n AS DOUBLE) * n) / 10000.0
             AS var_y,
         (n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n) / 10000.0
             AS var_x
  FROM m)
SELECT n AS n_units,
       {sql_rnd('theta', 6)} AS theta,
       {sql_rnd('var_y', 6)} AS var_y,
       {sql_rnd('var_y - theta * theta * var_x', 6)} AS var_cuped,
       {sql_rnd('100.0 * theta * theta * var_x / nullif(var_y, 0)',
                6)} AS var_reduction_pct
FROM s
"""


def cuped_from_xy(v):
    """The closed form over a (user, x, y) exact-cent frame — shared
    by q_ab_cuped and q_stream_cuped so the twins cannot diverge in
    the moments or the fold."""
    m = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        sum128(prod128(F.col("x"), F.col("x"))).alias("sxx"),
        sum128(prod128(F.col("y"), F.col("y"))).alias("syy"),
        sum128(prod128(F.col("x"), F.col("y"))).alias("sxy"))
    nd = F.col("n").cast("double")
    theta = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / F.nullif(F.col("n") * F.col("sxx")
                        - F.col("sx") * F.col("sx"), F.lit(0.0)))
    var_y = ((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
             / (nd * nd) / 10000.0)
    var_x = ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
             / (nd * nd) / 10000.0)
    s = m.select("n", theta.alias("theta"), var_y.alias("var_y"),
                 var_x.alias("var_x"))
    return s.select(
        F.col("n").alias("n_units"),
        rnd(F.col("theta"), 6).alias("theta"),
        rnd(F.col("var_y"), 6).alias("var_y"),
        rnd(F.col("var_y") - F.col("theta") * F.col("theta")
            * F.col("var_x"), 6).alias("var_cuped"),
        rnd(100.0 * F.col("theta") * F.col("theta") * F.col("var_x")
            / F.nullif(F.col("var_y"), F.lit(0.0)), 6)
        .alias("var_reduction_pct"))


@query("q_ab_cuped", oracle=AB_CUPED_ORACLE)
def q_ab_cuped(spark, sf):
    """CUPED variance reduction (Deng et al. 2013) — the production
    A/B technique that slots between q_ab_power and q_ab_welch:
    each unit's PRE-experiment metric (first-half-of-month value
    sum; a user with no history enters at 0, the real-platform
    convention) becomes the control covariate, θ = cov(x,y)/var(x)
    is the optimal adjustment coefficient, and the table publishes
    the adjusted metric variance and the variance-reduction
    percentage (= 100·ρ²) — the number that says how much smaller
    an experiment this metric now needs (compose with q_ab_power:
    the MDE shrinks by sqrt of the reduction).

    Determinism: per-unit (x, y) are exact cent BIGINTs from one
    user-keyed aggregate; the five co-moments are exact integers
    with the cross products in the 128-bit lane (Σxy crosses 2^63
    near 1e7 users — the q_mann_whitney lesson); θ and the
    variances are closed-form doubles on those exact moments,
    quantized once. Scale: TWO map-side-combinable aggregates
    (user rollup, then one 5-scalar moment row) — nothing after is
    data-sized."""
    e = load_tables(spark, sf)["events"]
    split = F.expr(_CUPED_SPLIT)
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    v = (e.groupBy("user_id")
         .agg(F.sum(F.when(F.col("ts") < split, vc).otherwise(0))
              .alias("x"),
              F.sum(F.when(F.col("ts") >= split, vc).otherwise(0))
              .alias("y")))
    return cuped_from_xy(v)
