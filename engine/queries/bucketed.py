"""Bucketed co-located join: the fact-fact join strategy for repeated
joins at 100 TB. Both sides are written once bucketed by the join key
(`bucketBy` + saveAsTable); every subsequent join on that key reads
co-located buckets and runs with NO shuffle exchange on either side —
the Spark analogue of the reference's aligned chunk grids, where
neighboring tiles are joined by construction rather than by data
movement.

The result values are ordinary join output (oracle-checked); the
plan property (no Exchange on the bucketed sides) is asserted in
tests/test_bucketed.py.
"""
from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from ..io import load_tables, memo
from ..registry import query
from .util import dsum, sql_dsum


def prepare_bucketed(spark, sf: str, buckets: int = 8) -> str:
    """Write lineitem + orders bucketed by the join key (idempotent
    per session+sf; the tables live in the session catalog, so the
    memo does too). Returns the table-name suffix used."""
    def build():
        full = os.path.abspath(sf.rstrip("/"))
        # Tag carries a digest of the FULL path: two sf dirs with the same
        # basename must not share table names, or the second prepare would
        # silently repoint the first's cached tag at wrong-scale data.
        digest = hashlib.md5(full.encode()).hexdigest()[:8]
        tag = f'{os.path.basename(full).replace(".", "_")}_{digest}'
        wh = tempfile.mkdtemp(prefix=f"engine_buckets_{tag}_")
        t = load_tables(spark, sf)
        for name, df, k in (
            ("lineitem", t["lineitem"], "l_orderkey"),
            ("orders", t["orders"], "o_orderkey"),
        ):
            tbl = f"bkt_{tag}_{name}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (df.write.bucketBy(buckets, k).sortBy(k)
               .option("path", f"{wh}/{tbl}")
               .mode("overwrite").saveAsTable(tbl))
        return tag

    return memo(spark, sf, "bucketed", build)


@query("q_join_bucketed", oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       {sql_dsum('l_extendedprice')} AS total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""")
def q_join_bucketed(spark, sf):
    tag = prepare_bucketed(spark, sf)
    li = spark.table(f"bkt_{tag}_lineitem")
    o = spark.table(f"bkt_{tag}_orders")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("total"))
    )
