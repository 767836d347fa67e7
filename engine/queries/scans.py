"""Scans, sources, filters, projections (SURVEY.md §2.2 rows 1-5).

Catalyst pushes the filters and column selections here all the way
into the parquet scan (verified via .explain: PushedFilters /
ReadSchema) — at 100 TB these queries read only the referenced
columns and row groups.
"""
from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from ..io import TABLES, load_tables, memo
from ..registry import query
from .util import hex32_sql, hexpoly_col, hexpoly_sql, rnd, sql_dsum, sql_rnd


@query("q_scan_project", oracle=f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
       {sql_rnd('l_extendedprice')} AS price
FROM lineitem
WHERE l_orderkey % 100 = 0
""")
def q_scan_project(spark, sf):
    li = load_tables(spark, sf)["lineitem"]
    return (
        li.filter(F.col("l_orderkey") % 100 == 0)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
                  rnd("l_extendedprice").alias("price"))
    )


@query("q_scan_count_all", oracle="\nUNION ALL\n".join(
    f"SELECT '{t}' AS tbl, count(*) AS n FROM {t}" for t in TABLES
))
def q_scan_count_all(spark, sf):
    dfs = load_tables(spark, sf)
    parts = [
        dfs[t].agg(F.count(F.lit(1)).alias("n")).select(F.lit(t).alias("tbl"), "n")
        for t in TABLES
    ]
    return reduce(lambda a, b: a.unionAll(b), parts)


@query("q_source_range", oracle=f"""
SELECT id,
       id * 2          AS dbl,
       id % 7          AS grp,
       {sql_rnd('sqrt(id)')}   AS sq,
       (id * (id + 1)) // 2    AS tri
FROM generate_series(0, 999) AS t(id)
""")
def q_source_range(spark, sf):
    # generated source — the analogue of position_grid's meshgrid
    # (reference local_affine.py:7-13), 1-D case.
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") * 2).alias("dbl"),
        (F.col("id") % 7).alias("grp"),
        rnd(F.sqrt("id")).alias("sq"),
        F.expr("id * (id + 1) div 2").alias("tri"),
    )


@query("q_sink_roundtrip", oracle=f"""
SELECT r_name,
       count(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def q_sink_roundtrip(spark, sf):
    """Parquet sink + re-scan: writes the per-region order rollup and
    returns the read-back result. Oracle-checked with q_join_inner's
    SQL — the parquet round trip must preserve every value and type
    bit-exactly, so the sink itself is inside the hash gate. The write
    is memoized like every prepared artifact."""
    import hashlib
    import os
    import tempfile

    from .joins import q_join_inner

    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        out = os.path.join(tempfile.gettempdir(),
                           f"engine_sink_{digest}_{os.getpid()}", "rollup")
        q_join_inner(spark, sf).write.mode("overwrite").parquet(out)
        return out

    return spark.read.parquet(memo(spark, sf, "sink_roundtrip", build))


@query("q_filter_pred", oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_quantity BETWEEN 10 AND 30
  AND l_returnflag IN ('A', 'R')
  AND l_partkey IS NOT NULL
""")
def q_filter_pred(spark, sf):
    li = load_tables(spark, sf)["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("TIMESTAMP_NTZ '1998-01-01'"))
            & F.col("l_quantity").between(10, 30)
            & F.col("l_returnflag").isin("A", "R")
            & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@query("q_project_compute", oracle=f"""
SELECT l_orderkey, l_linenumber,
       {sql_rnd('l_extendedprice * (1 - l_discount)')} AS net,
       CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS qty_class,
       CAST(l_quantity AS INTEGER) AS qty_int
FROM lineitem
""")
def q_project_compute(spark, sf):
    li = load_tables(spark, sf)["lineitem"]
    return li.select(
        "l_orderkey", "l_linenumber",
        rnd(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        F.when(F.col("l_quantity") >= 25, "bulk").otherwise("small").alias("qty_class"),
        F.col("l_quantity").cast("int").alias("qty_int"),
    )


@query("q_sample_hash", oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE {hex32_sql("concat(l_orderkey, '#', l_linenumber)")} % 100 < 10
""")
def q_sample_hash(spark, sf):
    """Deterministic ~10% sample via content hashing — unlike
    TABLESAMPLE this is reproducible across engines, runs, and
    partitionings (the property a training-data pipeline needs for
    stable held-out splits)."""
    li = load_tables(spark, sf)["lineitem"]
    h = hexpoly_col(F.expr("md5(concat(l_orderkey, '#', l_linenumber))"))
    return (
        li.withColumn("_h", h)
        .filter(F.col("_h") % 100 < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query("q_table_checksum", oracle=f"""
SELECT count(*) AS n_rows,
       CAST(sum({hex32_sql(
           "concat(l_orderkey, '|', l_linenumber, '|', l_returnflag,"
           " '|', CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))")})
            AS BIGINT) AS checksum
FROM lineitem
""")
def q_table_checksum(spark, sf):
    """Order-independent table fingerprint — the replication /
    migration verification op: every row contributes an md5-derived
    32-bit digest of its key columns and exact-cents price, and the
    fingerprint is the SUM (commutative, overflow-free: 2^32 x rows
    stays under 2^63 through ~2^31 rows). Two replicas with equal
    (n_rows, checksum) agree row-for-row with overwhelming
    probability; any single-row corruption shifts the sum.

    Scale: one scan, one partial+final aggregate — the cheapest
    possible full-table integrity pass, and the per-partition
    partials ARE the incremental per-shard checksums a storage layer
    would persist. md5-derived, never engine-native hash()."""
    li = load_tables(spark, sf)["lineitem"]
    digest = hexpoly_col(F.md5(F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long").cast("string"))))
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(digest).alias("checksum"))
