"""Non-parquet source connectors, oracle-checked end to end.

The engine's canonical storage is parquet (columnar, predicate
pushdown, the only sane 100 TB format), but a corpus pipeline ingests
CSV and JSON-lines too. Each key here writes a slice of a driver
table to the text format once (memoized), reads it back
through the corresponding Spark source with an EXPLICIT schema (schema
inference is a full extra pass at scale — never in production plans),
and aggregates; the oracle runs the same aggregate on the original
parquet, so the whole write→read→compute path is value-checked.

Doubles survive the text round-trip exactly: Spark writes shortest
round-trip decimal representations.
"""
from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import functions as F

from ..io import load_tables, memo
from ..registry import query
from .util import dsum, hexpoly_col, hexpoly_sql, sql_dsum


def _roundtrip_dir(spark, sf: str, fmt: str) -> str:
    """Write the slice for ``fmt`` once; returns dir."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        # per-process artifact dir: mode("overwrite") deletes before
        # rewriting, so a shared path would let two concurrent
        # processes on the same sf clobber files the other is mid-read
        out = os.path.join(tempfile.gettempdir(),
                           f"engine_src_{fmt}_{digest}_{os.getpid()}")
        t = load_tables(spark, sf)
        if fmt == "csv":
            (t["orders"].select("o_orderkey", "o_orderstatus",
                                "o_totalprice")
             .write.mode("overwrite").option("header", "true").csv(out))
        elif fmt == "orc":
            (t["lineitem"].select("l_orderkey", "l_returnflag",
                                  "l_quantity", "l_extendedprice")
             .write.mode("overwrite").orc(out))
        else:
            (t["events"].select("event_id", "event_type", "value")
             .write.mode("overwrite").json(out))
        return out

    return memo(spark, sf, ("source", fmt), build)


@query("q_source_csv", oracle=f"""
SELECT o_orderstatus, count(*) AS n, {sql_dsum('o_totalprice')} AS total
FROM orders GROUP BY o_orderstatus
""")
def q_source_csv(spark, sf):
    """CSV source connector: parquet → CSV → ``spark.read.csv`` with an
    explicit schema → aggregate, hash-matched against the parquet
    original. At 100 TB the CSV scan parallelizes per file split like
    any other source; what it can NEVER do is prune columns or push
    predicates — which is why this connector exists for ingest and the
    engine's storage stays parquet."""
    path = _roundtrip_dir(spark, sf, "csv")
    df = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double")
        .option("header", "true").csv(path)
    )
    return (
        df.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("o_totalprice").alias("total"))
    )


@query("q_sink_partitioned", oracle=f"""
SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents WHERE lang = 'en' GROUP BY source
""")
def q_sink_partitioned(spark, sf):
    """Hive-partitioned parquet sink + partition-pruned read-back:
    documents written ``partitionBy(lang)`` once (memoized),
    then read with a ``lang = 'en'`` filter that must resolve as a
    PARTITION filter (directory pruning — zero I/O for other
    languages), aggregated, and hash-matched against the original
    table. Partition layout is the first scale lever at 100 TB: a
    predicate on the partition column skips data before any row is
    read. The pruning itself is pinned in
    tests/test_plans_pipeline.py."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        out = os.path.join(tempfile.gettempdir(),
                           f"engine_sink_part_{digest}_{os.getpid()}")
        (load_tables(spark, sf)["documents"]
         .write.mode("overwrite").partitionBy("lang").parquet(out))
        return out

    path = memo(spark, sf, ("source", "part"), build)
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("n_chars").alias("chars"))
    )


@query("q_source_json", oracle=f"""
SELECT event_type, count(*) AS n, {sql_dsum('value')} AS sum_value
FROM events GROUP BY event_type
""")
def q_source_json(spark, sf):
    """JSON-lines source connector, same contract as q_source_csv:
    explicit schema (no inference pass), aggregate hash-matched
    against the parquet original."""
    path = _roundtrip_dir(spark, sf, "json")
    df = spark.read.schema(
        "event_id long, event_type string, value double").json(path)
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
    )


@query("q_source_orc", oracle=f"""
SELECT l_returnflag, count(*) AS n,
       {sql_dsum('l_quantity')} AS qty,
       {sql_dsum('l_extendedprice')} AS price
FROM lineitem GROUP BY l_returnflag
""")
def q_source_orc(spark, sf):
    """ORC source/sink connector: parquet → ORC → ``spark.read.orc``
    → aggregate, hash-matched against the parquet original. Unlike
    the text formats, ORC is a real columnar alternative at 100 TB —
    the read-back scan prunes columns and pushes predicates exactly
    like parquet (both sit behind the same datasource-v2 scan
    machinery), so this key value-checks the full write→read→compute
    path through Spark's second columnar format."""
    path = _roundtrip_dir(spark, sf, "orc")
    df = spark.read.orc(path)
    return (
        df.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("l_quantity").alias("qty"),
             dsum("l_extendedprice").alias("price"))
    )


@query("q_source_text", oracle="""
SELECT doc_id % 10 AS bucket, count(*) AS n,
       CAST(sum(length(text)) AS BIGINT) AS chars
FROM documents GROUP BY doc_id % 10
""")
def q_source_text(spark, sf):
    """Line-delimited text source (``spark.read.text``) — the raw
    ingest format of every web-scale corpus (one record per line;
    WET/plain-text dumps). Documents are written as
    ``doc_id<TAB>text`` lines, read back as raw strings, re-parsed
    with ``substring_index``/JVM string ops, and aggregated —
    hash-matched against the parquet original, so the parse path
    itself is value-checked.

    At 100 TB the text scan splits per line block like any source but
    prunes nothing; the parse stays whole-stage-codegen (no Python).
    The fixture text is tab/newline-free (record framing is the
    LOADER's contract — documents with embedded newlines belong in
    parquet/JSON, not line files)."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        out = os.path.join(tempfile.gettempdir(),
                           f"engine_src_text_{digest}_{os.getpid()}")
        # coalesce: concat_ws silently DROPS a NULL argument, which
        # would emit a tab-less line that later mis-parses (the whole
        # line, id included, would come back as text). NULL text must
        # round-trip as an empty field, not as framing corruption.
        (load_tables(spark, sf)["documents"]
         .select(F.concat_ws("\t", F.col("doc_id").cast("string"),
                             F.coalesce(F.col("text"), F.lit("")))
         .alias("value"))
         .write.mode("overwrite").text(out))
        return out

    path = memo(spark, sf, ("source", "text"), build)
    lines = spark.read.text(path)
    parsed = lines.select(
        F.substring_index("value", "\t", 1).cast("long").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return (
        parsed.groupBy((F.col("doc_id") % 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.length("text")).alias("chars"))
    )


@query("q_compaction", oracle=f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {sql_dsum('l_extendedprice')} AS price
FROM lineitem GROUP BY l_returnflag, l_linestatus
""")
def q_compaction(spark, sf):
    """Small-file compaction — the table-maintenance op every
    streaming-ingested 100 TB table needs: a fragmented write (64
    files here, standing in for per-micro-batch files) is rewritten
    into size-targeted files via a round-robin ``repartition(n)``,
    and the compacted table is read back and aggregated,
    hash-matched against the original — proving the rewrite is
    content-preserving.

    n = ceil(bytes / 128 MB target): at scale this is computed from
    the source footer sizes exactly as here, the rewrite is one
    round-robin shuffle (no skew by construction), and readers go
    from footer-bound (thousands of file opens per scan) to
    bandwidth-bound. The file-count drop is pinned in
    tests/test_sources_extra.py."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        frag = os.path.join(tempfile.gettempdir(),
                            f"engine_frag_{digest}_{os.getpid()}")
        comp = os.path.join(tempfile.gettempdir(),
                            f"engine_compact_{digest}_{os.getpid()}")
        li = load_tables(spark, sf)["lineitem"].select(
            "l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice")
        li.repartition(64).write.mode("overwrite").parquet(frag)
        fragmented = spark.read.parquet(frag)
        nbytes = sum(
            os.path.getsize(os.path.join(frag, f))
            for f in os.listdir(frag) if f.endswith(".parquet"))
        target = max(1, -(-nbytes // (128 * 1024 * 1024)))
        fragmented.repartition(target).write.mode("overwrite").parquet(comp)
        return comp

    path = memo(spark, sf, ("source", "compact"), build)
    df = spark.read.parquet(path)
    return (
        df.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("l_extendedprice").alias("price"))
    )


@query("q_source_python_ds", oracle="""
WITH s AS (
  SELECT i AS id, (i * i) % 97 AS bucket, CAST(i % 7 AS DOUBLE) / 2.0 AS reading
  FROM generate_series(0, 1999) t(i))
SELECT bucket, count(*) AS n,
       CAST(sum(CAST(floor(reading * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total
FROM s
WHERE id % 3 != 1
GROUP BY bucket
""")
def q_source_python_ds(spark, sf):
    """Custom PARALLEL source via Spark 4's Python DataSource API
    (engine/pyds.py): the planner asks the source for its
    ``InputPartition`` list and schedules one task per split — the
    contract that makes an arbitrary external system (sensor feed,
    REST paginator, bespoke format) scale like a parquet scan. The
    source generates a deterministic series, so the DuckDB oracle
    replays it with ``generate_series`` and a hash match proves the
    whole partition-planning + per-task read path end to end (2000
    rows over 8 splits; a filter and aggregate run on top to show
    the source composes with ordinary relational plans).

    At 100 TB: a real implementation maps shards/byte-ranges to
    InputPartitions and switches the reader to Arrow batches
    (DataSourceArrowReader) — the plan shape is identical."""
    from ..pyds import register

    register(spark)
    df = (spark.read.format("synthetic_series")
          .option("rows", 2000).option("parts", 8).load())
    return (
        df.filter(F.col("id") % 3 != 1)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("reading").alias("total"))
    )


@query("q_time_travel", oracle=f"""
WITH v0 AS (
  SELECT c_custkey, c_acctbal AS bal FROM customer),
v1 AS (
  SELECT c_custkey,
         CASE WHEN {hexpoly_sql("md5(concat(c_custkey, '#tt1'))")} % 100 < 20
              THEN bal + 50.0 ELSE bal END AS bal
  FROM v0),
v2 AS (
  SELECT c_custkey,
         CASE WHEN {hexpoly_sql("md5(concat(c_custkey, '#tt2'))")} % 100 >= 95
              THEN bal + 25.0 ELSE bal END AS bal
  FROM v1
  WHERE {hexpoly_sql("md5(concat(c_custkey, '#tt2'))")} % 100 >= 5),
hist AS (
  SELECT 0 AS version, bal FROM v0
  UNION ALL SELECT 1, bal FROM v1
  UNION ALL SELECT 2, bal FROM v2)
SELECT version, count(*) AS n_rows, {sql_dsum('bal')} AS total_bal
FROM hist GROUP BY version
""")
def q_time_travel(spark, sf):
    """Snapshot time travel (the Delta/Iceberg `VERSION AS OF` read):
    a table evolves through three committed versions (v0 base, v1 =
    20% balance updates, v2 = 5% deletes + 5% more updates), each
    version is COMMITTED TO STORAGE as its own snapshot (copy-on-
    write, the manifest being the version-keyed directory layout),
    and the query reads ALL THREE versions back FROM DISK to produce
    the per-version audit. The oracle recomputes every version from
    lineage, so a hash match proves the storage round-trip of each
    historical snapshot — the property time travel actually
    guarantees (reads of version k are repeatable forever, no matter
    what later commits did, including deletes).

    Scale: a production table-format manifest lists files per
    snapshot so an `AS OF` read scans exactly one version's files —
    this key models that with one directory per version (the
    partition-pruning machinery of q_sink_partitioned applies
    unchanged to a version= layout); history audits like this one
    scan only the versions they name. Diffs are derived by content
    hash so the oracle can replay them deterministically."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        root = os.path.join(tempfile.gettempdir(),
                            f"engine_tt_{digest}_{os.getpid()}")
        c = load_tables(spark, sf)["customer"]
        h1 = hexpoly_col(F.expr("md5(concat(c_custkey, '#tt1'))")) % 100
        h2 = hexpoly_col(F.expr("md5(concat(c_custkey, '#tt2'))")) % 100
        v0 = c.select("c_custkey", F.col("c_acctbal").alias("bal"))
        v1 = v0.select(
            "c_custkey",
            F.when(h1 < 20, F.col("bal") + 50.0)
             .otherwise(F.col("bal")).alias("bal"))
        v2 = (v1.filter(h2 >= 5)
              .select("c_custkey",
                      F.when(h2 >= 95, F.col("bal") + 25.0)
                       .otherwise(F.col("bal")).alias("bal")))
        for ver, df in ((0, v0), (1, v1), (2, v2)):
            df.write.mode("overwrite").parquet(
                os.path.join(root, f"version={ver}"))
        return root

    path = memo(spark, sf, ("source", "timetravel"), build)
    hist = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, f"version={v}") for v in (0, 1, 2)])
    return (
        hist.groupBy("version")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             dsum("bal").alias("total_bal"))
    )


@query("q_source_json_corrupt", oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum('value')} AS sum_value
FROM events WHERE event_id % 37 <> 0 GROUP BY event_type
UNION ALL
SELECT '_corrupt' AS event_type, count(*) AS n, 0.0 AS sum_value
FROM events WHERE event_id % 37 = 0
""")
def q_source_json_corrupt(spark, sf):
    """MALFORMED-record ingestion policy — the connector capability
    every real feed needs and the clean-roundtrip source keys don't
    exercise: a JSONL stage where every event_id ≡ 0 (mod 37) row is
    WRITTEN CORRUPTED (truncated JSON — the injection rule IS the
    oracle's ground truth, so the driver hash checks that Spark's
    parser quarantines exactly the right rows and parses every
    survivor bit-identically), read back in PERMISSIVE mode with an
    explicit columnNameOfCorruptRecord, and aggregated: per-type
    counts/sums over the good rows plus one '_corrupt' accounting
    row. The aggregate references data columns alongside the corrupt
    column, so the single-pass plan is legal (Spark disallows
    corrupt-column-only queries) and nothing is cached. At 100 TB
    the same policy ships rejects to a badRecordsPath and alerts on
    the '_corrupt' row's rate — the schema, mode, and accounting
    here are exactly that plan."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        out = os.path.join(tempfile.gettempdir(),
                           f"engine_src_jcorrupt_{digest}_{os.getpid()}")
        ev = load_tables(spark, sf)["events"]
        line = F.when(
            F.col("event_id") % 37 == 0,
            F.concat(F.lit('{"event_id": '),
                     F.col("event_id").cast("string"),
                     F.lit(' "TRUNCATED')),
        ).otherwise(F.to_json(F.struct("event_id", "event_type",
                                       "value")))
        (ev.select(line.alias("value"))
         .write.mode("overwrite").text(out))
        return out

    path = memo(spark, sf, ("source", "json_corrupt"), build)
    df = (spark.read
          .schema("event_id long, event_type string, value double,"
                  " _bad string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(path))
    return (df.groupBy(
                F.when(F.col("_bad").isNotNull(), F.lit("_corrupt"))
                 .otherwise(F.col("event_type")).alias("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(dsum("value"), F.lit(0.0))
                  .alias("sum_value")))


@query("q_source_csv_corrupt", oracle=f"""
SELECT event_type, count(*) AS n,
       {sql_dsum('value')} AS sum_value
FROM events WHERE event_id % 41 <> 0 GROUP BY event_type
UNION ALL
SELECT '_corrupt' AS event_type, count(*) AS n, 0.0 AS sum_value
FROM events WHERE event_id % 41 = 0
""")
def q_source_csv_corrupt(spark, sf):
    """MALFORMED-record policy for the CSV lane — the
    q_source_json_corrupt discipline on the other text format a real
    feed arrives in (and the format where corruption looks DIFFERENT:
    a type-cast failure mid-row, not broken framing): every event_id
    ≡ 0 (mod 41) row is staged with an unparseable value field, the
    stage is read back PERMISSIVE with an explicit
    columnNameOfCorruptRecord, and the aggregate publishes per-type
    good-row counts/sums plus the '_corrupt' accounting row. The
    injection rule is the oracle's ground truth, so the driver hash
    proves Spark's CSV parser flags exactly the cast-failed rows and
    parses every survivor bit-identically (the staged value string is
    the double's own cast, so the CSV→double round trip must be
    exact). PERMISSIVE CSV keeps the columns that DID parse on a
    corrupt row — the quarantine bucket still counts the row once,
    which is the accounting a badRecordsPath alert needs. Same
    100 TB posture as the JSONL twin: schema, mode, and the
    '_corrupt'-rate alert are the production plan."""
    def build():
        digest = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
        out = os.path.join(tempfile.gettempdir(),
                           f"engine_src_ccorrupt_{digest}_{os.getpid()}")
        ev = load_tables(spark, sf)["events"]
        line = F.concat(
            F.col("event_id").cast("string"), F.lit(","),
            F.col("event_type"), F.lit(","),
            F.when(F.col("event_id") % 41 == 0, F.lit("NOT_A_DOUBLE"))
             .otherwise(F.col("value").cast("string")))
        (ev.select(line.alias("value"))
         .write.mode("overwrite").text(out))
        return out

    path = memo(spark, sf, ("source", "csv_corrupt"), build)
    df = (spark.read
          .schema("event_id long, event_type string, value double,"
                  " _bad string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .csv(path))
    return (df.groupBy(
                F.when(F.col("_bad").isNotNull(), F.lit("_corrupt"))
                 .otherwise(F.col("event_type")).alias("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.coalesce(dsum("value"), F.lit(0.0))
                  .alias("sum_value")))
