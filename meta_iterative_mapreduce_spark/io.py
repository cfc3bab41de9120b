"""Table loading for the driver-generated parquet fixtures.

The reference's only source was an interactive stdin scan of (x, y)
pairs (kernel.cu:92-104); here every table is a columnar parquet scan
with Catalyst predicate pushdown and column pruning for free.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def fixture_fingerprint(sf_dir: str, *tables: str) -> str:
    """Short content fingerprint of fixture tables (path + size +
    mtime of every data file). Derived caches (bucketed copies,
    sketch logs) key on THIS, not on the sf_dir path alone — if the
    fixture at a path is regenerated with different data, the cache
    tag changes and stale derived state can never be served (the
    silent-wrong-rows failure mode ADVICE r6 flagged)."""
    import hashlib

    h = hashlib.md5(sf_dir.encode())
    for t in tables or TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        entries = []
        if os.path.isfile(p):
            st = os.stat(p)
            entries.append((t, st.st_size, st.st_mtime_ns))
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in sorted(files):
                    fp = os.path.join(root, f)
                    st = os.stat(fp)
                    entries.append(
                        (os.path.relpath(fp, p), st.st_size, st.st_mtime_ns)
                    )
        for e in sorted(entries):
            h.update(repr(e).encode())
    return h.hexdigest()[:12]


# Parquet leaf types whose Spark type no session setting changes, keyed
# on (physical, logical, converted) type as the footer stores them.
# Every other leaf (timestamps, dates, decimals, small or unsigned ints,
# un-annotated binary, enum/JSON strings, nested or repeated fields) is
# left to Spark's own inference.
_FOOTER_TYPES = {
    ("INT32", "NONE", "NONE"): IntegerType(),
    ("INT64", "NONE", "NONE"): LongType(),
    ("FLOAT", "NONE", "NONE"): FloatType(),
    ("DOUBLE", "NONE", "NONE"): DoubleType(),
    ("BOOLEAN", "NONE", "NONE"): BooleanType(),
    ("BYTE_ARRAY", "STRING", "UTF8"): StringType(),
}


def _footer_schema(path: str) -> StructType | None:
    """The schema `spark.read.parquet(path)` infers for ONE flat
    Parquet file, read from its footer in the driver, or None where
    Spark must infer it itself. Spark's inference always runs a job,
    even for one file; this read costs a few milliseconds.

    Decided from the Parquet physical/logical types, never from the
    Arrow schema a writer may have stored beside them, since Spark
    reads only the former. None for a directory (or a missing, hidden
    or unreadable path: Spark then raises its own error), any leaf
    outside `_FOOTER_TYPES`, names that collide when case is ignored,
    and Spark-written files (their footer carries Spark's own schema).
    Nothing is cached: each call reads the footer as it is now."""
    if not os.path.isfile(path) or os.path.basename(path)[0] in "._":
        return None
    try:
        meta = pq.read_metadata(path)
    except (OSError, pa.ArrowException):
        return None
    if b"org.apache.spark.sql.parquet.row.metadata" in (meta.metadata or {}):
        return None
    fields = []
    for i in range(meta.num_columns):
        c = meta.schema.column(i)
        t = _FOOTER_TYPES.get((c.physical_type, c.logical_type.type, c.converted_type))
        if t is None or c.path != c.name or c.max_repetition_level:
            return None
        fields.append(StructField(c.name, t, True))
    if not fields or len({f.name.lower() for f in fields}) < len(fields):
        return None
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts arrives in whatever flavor the fixture generator
        # used: TIMESTAMP(NANOS) (which Spark's vectorized reader
        # rejects — read as raw nanos via nanosAsLong), tz-naive
        # TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ), or
        # tz-aware micros. Normalize every flavor to TIMESTAMP_NTZ —
        # the engine's event-time house type (functions/time.py):
        # naive walls make every wall-clock function match the DuckDB
        # oracle under ANY session time zone, and ts_us() extracts
        # epoch micros without session-tz detours.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        t = dict(df.dtypes).get("ts")
        if t == "bigint":
            # integer `div`, NOT `/`: float division of epoch-nanos loses
            # precision past 2^53 and truncates to the wrong microsecond.
            # Build NTZ directly from the epoch offset — session-tz
            # INDEPENDENT (a timestamp_micros(...).cast('ntz') detour
            # would render walls in spark.sql.session.timeZone and
            # shift every wall 8h under an LA session).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
                ),
            )
        if dict(df.dtypes).get("ts") == "timestamp":
            # tz-aware micros: take the instant's epoch micros and lay it
            # down as UTC walls in NTZ — again bypassing the session tz
            # (a plain cast would preserve session-local walls instead).
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, unix_micros(ts),"
                    " TIMESTAMP_NTZ'1970-01-01 00:00:00')"
                ),
            )
        return df
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
