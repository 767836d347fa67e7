"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``).

The engine's demonstration that an arbitrary external system —
a sensor feed, an internal REST paginator, a bespoke file format —
plugs into the DataFrame API as a first-class PARALLEL source: the
planner asks :meth:`SeriesReader.partitions` for the split list and
schedules one task per ``InputPartition``, so ingest scales with the
cluster exactly like a parquet scan. Rows are generated
deterministically from (row index) alone, which is what makes the
source oracle-checkable.

At 100 TB the same contract holds — a real source maps shards /
byte-ranges / topic partitions to ``InputPartition``s and each task
reads only its slice; the Arrow-batch reader variant
(``DataSourceArrowReader``) is the throughput path once volume
matters (this demo yields plain tuples for clarity).
"""
from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


class SeriesReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("rows", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, part):
        i = part.value
        lo = self.n * i // self.parts
        hi = self.n * (i + 1) // self.parts
        for k in range(lo, hi):
            yield (k, (k * k) % 97, float(k % 7) / 2.0)


class SeriesSource(DataSource):
    """``synthetic_series``: deterministic (id, bucket, reading)."""

    @classmethod
    def name(cls):
        return "synthetic_series"

    def schema(self):
        return "id long, bucket long, reading double"

    def reader(self, schema):
        return SeriesReader(self.options)


def register(spark) -> None:
    """Idempotent per-session registration."""
    from .io import memo

    memo(spark, None, "pyds",
         lambda: spark.dataSource.register(SeriesSource))
