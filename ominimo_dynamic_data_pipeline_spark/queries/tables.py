"""Test-table loading for the driver-contract query catalog.

Tables live as one parquet file per table under a scale-factor directory
(TESTDATA.md).  Reads are lazy; Catalyst pushes filters/projections into
the parquet scans (verify with ``df.explain``: PushedFilters/ReadSchema).
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session DataFrame cache: re-calling spark.read.parquet for the same
# path costs ~100 ms of driver-side work (file listing + footer schema read
# + analysis over Py4J) PER TABLE, which dominates sub-second catalog
# queries — q89 spent 0.56 s of its 1.1 s wall just rebuilding its five
# table frames.  DataFrames are immutable lazy plans, so reuse across
# queries is safe.  A weak-key dict would NOT bound this cache: a cached
# DataFrame holds a strong ``_session`` reference back to its
# SparkSession, so the value would pin the key alive forever — instead
# the cache is an explicitly bounded FIFO over the few most recent
# sessions (the suite churns short-lived sessions; dropping an old
# session's entry only costs the ~100 ms rebuild if it is ever used
# again).
_MAX_SESSIONS = 4
_CACHE: "OrderedDict[int, tuple[SparkSession, dict[tuple[str, str], DataFrame]]]" = (
    OrderedDict()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # key by id() but store the session too: the strong reference makes
    # id-reuse after garbage collection impossible while the entry lives
    sid = id(spark)
    entry = _CACHE.get(sid)
    if entry is None or entry[0] is not spark:
        entry = (spark, {})
        _CACHE[sid] = entry
        while len(_CACHE) > _MAX_SESSIONS:
            _CACHE.popitem(last=False)
    per_session = entry[1]
    key = (sf_dir, name)
    if key in per_session:
        return per_session[key]
    df = _read_table(spark, sf_dir, name)
    per_session[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # events.ts as TIMESTAMP(NANOS) parquet, surfaced as epoch-nanos
            # via spark.sql.legacy.parquet.nanosAsLong; convert to a
            # microsecond timestamp (integer division — double division
            # would lose precision on ~1.7e18 nanos).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Session tz is pinned to UTC, so this cast is value-preserving;
            # plain TIMESTAMP is required by streaming watermarks and keeps
            # one temporal type across the whole engine.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}

