"""Geo/spatial operators: grid-cell bucketed joins over point data.

The reference (GFleishman/dask_stitch) has no geospatial surface —
its nearest analogue is the block-grid neighborhood structure
(stitch.py:94-121, the 27-neighbor halo), and the SAME Spark design
carries over: discretize space into cells sized to the query radius,
emit each small-side point into its 3x3 neighbor cells, and join on
the cell id so candidate pairs are generated by construction instead
of all-pairs.  That is the standard scale path for spatial joins
(geohash / S2-cell bucketing); the all-pairs form exists only as the
DuckDB oracle.

Points are synthesized deterministically from the driver tables
(md5-derived lat/lon per entity key — the engine's cross-engine hash
convention, engine/queries/util.py), so both engines see bit-identical
coordinates and plain IEEE arithmetic keeps every distance comparison
exact across Spark and DuckDB.  Coordinates live on a flat plane
(lat in [-60, 60), lon in [-180, 180), no wraparound) — the cell
machinery, not great-circle trig, is what is under test; swapping in
haversine changes one expression.

100 TB design notes per key in the docstrings; plans pinned in
tests/test_plans_geo.py.
"""
from __future__ import annotations

from pyspark.sql import Column, Window as W, functions as F

from ..io import load_tables, memo
from ..registry import query
from .util import hex32_sql, hexpoly_col, rnd, sql_rnd

# query radius in degrees; cell size == radius so a 3x3 cell
# neighborhood is a superset of every point within the radius
_R = 3.0
_R2 = _R * _R


def _coord(salt: str, key: Column, span_mdeg: int, lo: float) -> Column:
    """Deterministic coordinate in [lo, lo + span_mdeg/1e4) from the
    32-bit md5 polynomial of salt||key — Spark side."""
    h = hexpoly_col(F.md5(F.concat(F.lit(salt), key.cast("string"))))
    return (h % span_mdeg) / 10000.0 + lo


def _coord_sql(salt: str, key: str, span_mdeg: int, lo: float) -> str:
    """The oracle-side spelling of :func:`_coord` (bit-identical)."""
    h = hex32_sql(f"'{salt}' || CAST({key} AS VARCHAR)")
    return f"(({h} % {span_mdeg}) / 10000.0 + {lo})"


def _customer_points(spark, sf):
    """Synthesized point table, cached once.

    The md5-derived coordinates stand in for STORED columns (real
    point data carries lat/lon on disk); caching the synthesized
    frame both matches that reality and is the projection-collapse
    barrier — without it Catalyst inlines the md5 expression into
    every downstream consumer (measured: the kNN array lambda
    re-evaluated it per site element, 1000x per point, 30 s vs
    0.5 s at sf0.1)."""
    return memo(spark, sf, "geo_cust", lambda: load_tables(
        spark, sf)["customer"].select(
        "c_custkey", "c_acctbal",
        _coord("glat", F.col("c_custkey"), 1_200_000, -60.0)
        .alias("lat"),
        _coord("glon", F.col("c_custkey"), 3_600_000, -180.0)
        .alias("lon"),
    ).cache())


def _site_points(spark, sf):
    """Synthesized site dimension, cached once — same stored-column
    rationale as :func:`_customer_points`."""
    return memo(spark, sf, "geo_site", lambda: load_tables(
        spark, sf)["supplier"].select(
        "s_suppkey",
        _coord("slat", F.col("s_suppkey"), 1_200_000, -60.0)
        .alias("slat"),
        _coord("slon", F.col("s_suppkey"), 3_600_000, -180.0)
        .alias("slon"),
    ).cache())


_CUST_PTS_SQL = f"""
SELECT c_custkey, c_acctbal,
       {_coord_sql('glat', 'c_custkey', 1_200_000, -60.0)} AS lat,
       {_coord_sql('glon', 'c_custkey', 3_600_000, -180.0)} AS lon
FROM customer
"""

_SITE_PTS_SQL = f"""
SELECT s_suppkey,
       {_coord_sql('slat', 's_suppkey', 1_200_000, -60.0)} AS slat,
       {_coord_sql('slon', 's_suppkey', 3_600_000, -180.0)} AS slon
FROM supplier
"""


@query("q_geo_cell_join", oracle=f"""
WITH pts AS ({_CUST_PTS_SQL}), sites AS ({_SITE_PTS_SQL})
SELECT c_custkey, s_suppkey,
       {sql_rnd('sqrt((lat - slat) * (lat - slat)'
                 ' + (lon - slon) * (lon - slon))', 6)} AS dist
FROM pts, sites
WHERE (lat - slat) * (lat - slat) + (lon - slon) * (lon - slon) <= {_R2}
""")
def q_geo_cell_join(spark, sf):
    """Point-radius spatial join via grid-cell bucketing.

    Scale path: each site is emitted into its 3x3 neighbor cells
    (9 rows — the spatial twin of the reference's 27-neighbor halo
    emit, stitch.py:113-121), the big point side computes its single
    cell, and the join runs on the cell id; the exact distance
    predicate then prunes the candidate ring.  Candidates per point
    are bounded by local site density — never all-pairs (the oracle
    is the all-pairs form).  Here the site side is also small, so it
    is broadcast and the big side is never shuffled at all; with two
    large sides the same plan shuffles both on the cell id, and a
    hotspot cell (urban skew) is AQE-split.  The oracle cross-joins
    and filters — identical IEEE arithmetic, identical rows."""
    pts = _customer_points(spark, sf).withColumns({
        "cx": F.floor(F.col("lat") / _R).cast("int"),
        "cy": F.floor(F.col("lon") / _R).cast("int"),
    })
    sites = _site_points(spark, sf).withColumns({
        "scx": F.floor(F.col("slat") / _R).cast("int"),
        "scy": F.floor(F.col("slon") / _R).cast("int"),
    })
    off = spark.range(-1, 2).select(F.col("id").cast("int").alias("dx")) \
        .crossJoin(spark.range(-1, 2).select(F.col("id").cast("int")
                                             .alias("dy")))
    ring = sites.crossJoin(F.broadcast(off)).select(
        "s_suppkey", "slat", "slon",
        (F.col("scx") + F.col("dx")).alias("cx"),
        (F.col("scy") + F.col("dy")).alias("cy"),
    )
    dlat = F.col("lat") - F.col("slat")
    dlon = F.col("lon") - F.col("slon")
    d2 = dlat * dlat + dlon * dlon
    return (
        pts.join(F.broadcast(ring), ["cx", "cy"])
        .where(d2 <= F.lit(_R2))
        .select("c_custkey", "s_suppkey", rnd(F.sqrt(d2), 6).alias("dist"))
    )


@query("q_geo_knn", oracle=f"""
WITH pts AS ({_CUST_PTS_SQL}), sites AS ({_SITE_PTS_SQL}),
ranked AS (
  SELECT c_custkey, s_suppkey,
         (lat - slat) * (lat - slat) + (lon - slon) * (lon - slon) AS d2,
         row_number() OVER (
           PARTITION BY c_custkey
           ORDER BY (lat - slat) * (lat - slat)
                    + (lon - slon) * (lon - slon), s_suppkey) AS rnk
  FROM pts, sites
)
SELECT c_custkey, rnk, s_suppkey, {sql_rnd('sqrt(d2)', 6)} AS dist
FROM ranked WHERE rnk <= 3
""")
def q_geo_knn(spark, sf):
    """Exact k-nearest-sites (k=3) per point against a dimension-
    sized site table (stores, cells, sensors) — the Arrow batch path:
    sites are collected once (index-sized, like the IVF codebook) and
    each ``mapInPandas`` batch computes its |batch| x |sites| distance
    matrix in vectorized numpy, taking the per-row stable-argsort
    top-3.  The point side is NEVER shuffled (one round-robin
    repartition spreads the fixture's single parquet split across
    cores — it moves slim point rows, no candidate pair ever
    materializes).  Two JVM-side formulations lost by orders of
    magnitude at sf0.1: join+window shuffled |points|x|sites| rows
    (30 s) and a higher-order array_sort over structs fell back to
    interpreted per-element eval (45 s); the numpy matrix runs the
    same arithmetic in ~0.5 s and is exactly how the engine's
    chunked-GEMM ANN keys scale (llm.py).  Ties break by site key:
    sites are pre-sorted by s_suppkey and the argsort is stable.
    Distances are plain IEEE double arithmetic — identical bits to
    the oracle's SQL expressions."""
    pts = _customer_points(spark, sf).repartition(
        spark.sparkContext.defaultParallelism)
    srows = _site_points(spark, sf).orderBy("s_suppkey").collect()

    def gen(batches):
        import numpy as np
        import pandas as pd

        s_lat = np.array([r.slat for r in srows], dtype=np.float64)
        s_lon = np.array([r.slon for r in srows], dtype=np.float64)
        s_key = np.array([r.s_suppkey for r in srows], dtype=np.int64)
        k = min(3, len(s_key))
        for pdf in batches:
            if not len(pdf):
                continue
            dlat = pdf["lat"].to_numpy()[:, None] - s_lat[None, :]
            dlon = pdf["lon"].to_numpy()[:, None] - s_lon[None, :]
            d2 = dlat * dlat + dlon * dlon
            idx = np.argsort(d2, axis=1, kind="stable")[:, :k]
            dist = np.sqrt(np.take_along_axis(d2, idx, axis=1))
            dist = np.floor(dist * 1e6 + 0.5) / 1e6
            n = len(pdf)
            yield pd.DataFrame({
                "c_custkey": np.repeat(
                    pdf["c_custkey"].to_numpy(), k),
                "rnk": np.tile(np.arange(1, k + 1), n),
                "s_suppkey": s_key[idx].ravel(),
                "dist": dist.ravel(),
            })

    return pts.mapInPandas(
        gen, "c_custkey long, rnk int, s_suppkey long, dist double")


# density-rollup cell size: coarser than the join radius so the
# rollup is non-degenerate at every fixture scale (at sf0.001 the
# 3-degree grid holds 150 points in 4800 cells and no cell reaches
# the HAVING threshold)
_RS = 10.0


@query("q_geo_cell_stats", oracle=f"""
WITH pts AS ({_CUST_PTS_SQL})
SELECT CAST(floor(lat / {_RS}) AS INT) AS cx,
       CAST(floor(lon / {_RS}) AS INT) AS cy,
       count(*) AS n,
       {sql_rnd('min(c_acctbal)', 2)} AS min_bal,
       {sql_rnd('max(c_acctbal)', 2)} AS max_bal
FROM pts
GROUP BY 1, 2
HAVING count(*) >= 3
""")
def q_geo_cell_stats(spark, sf):
    """Spatial density rollup: aggregate points per grid cell (the
    geohash-rollup shape).  One map-side-combinable shuffle on the
    cell id — partial counts per input partition, then the merge; the
    result frame is cell-count-sized (bounded by the grid, not the
    data), so this survives any data scale.  Hotspot cells skew the
    shuffle's reduce side at 100 TB: AQE splits them, or salt the
    cell id and re-merge for pathological point masses."""
    pts = _customer_points(spark, sf)
    return (
        pts.groupBy(
            F.floor(F.col("lat") / _RS).cast("int").alias("cx"),
            F.floor(F.col("lon") / _RS).cast("int").alias("cy"),
        )
        .agg(F.count(F.lit(1)).alias("n"),
             rnd(F.min("c_acctbal"), 2).alias("min_bal"),
             rnd(F.max("c_acctbal"), 2).alias("max_bal"))
        .where(F.col("n") >= 3)
    )
