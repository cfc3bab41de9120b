"""io.load_table reads a single flat Parquet file's schema from its
footer instead of running Spark's schema-inference job. The footer
schema must be None (Spark infers) or exactly what Spark infers, for
every fixture file and for files built to trip the mapping, under
both session time zones."""

from __future__ import annotations

import glob
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from meta_iterative_mapreduce_spark.io import _footer_schema, load_table

# file name -> does it take the footer path?
_HOSTILE = {
    "ts_naive": (pa.table({"t": pa.array([0], pa.timestamp("us"))}), False),
    "ts_utc": (pa.table({"t": pa.array([0], pa.timestamp("us", tz="UTC"))}), False),
    "ts_ns": (pa.table({"t": pa.array([0], pa.timestamp("ns"))}), False),
    "date32": (pa.table({"d": pa.array([0], pa.date32())}), False),
    "decimal": (pa.table({"m": pa.array([Decimal("1.25")], pa.decimal128(5, 2))}), False),
    "list_float": (pa.table({"l": pa.array([[1.0]], pa.list_(pa.float32()))}), False),
    "struct": (pa.table({"s": pa.array([{"a": 1}])}), False),
    "int8": (pa.table({"i": pa.array([1], pa.int8())}), False),
    "uint32": (pa.table({"u": pa.array([1], pa.uint32())}), False),
    "binary": (pa.table({"b": pa.array([b"x"], pa.binary())}), False),
    "case_collision": (pa.table({"A": [1], "a": [2]}), False),
    "large_string": (pa.table({"s": pa.array(["x"], pa.large_string())}), True),
    "dict_string": (pa.table({"s": pa.array(["x", "y", "x"]).dictionary_encode()}), True),
    "flat_mix": (
        pa.table(
            {
                "i": pa.array([1], pa.int32()),
                "l": pa.array([1], pa.int64()),
                "f": pa.array([1.0], pa.float32()),
                "d": pa.array([1.0], pa.float64()),
                "b": pa.array([True]),
                "s": pa.array(["x"]),
            }
        ),
        True,
    ),
    "required_and_field_id": (
        pa.table(
            {"k": [1], "v": ["x"]},
            schema=pa.schema(
                [
                    pa.field("k", pa.int64(), nullable=False),
                    pa.field("v", pa.string(), metadata={b"PARQUET:field_id": b"7"}),
                ]
            ),
        ),
        True,
    ),
}


@pytest.fixture(scope="module")
def hostile(spark, tmp_path_factory):
    """{path: takes the footer path?} for every generated file, a
    Spark-written part file and the directory holding it."""
    d = tmp_path_factory.mktemp("footer")
    out = {}
    for name, (table, footer) in _HOSTILE.items():
        p = str(d / f"{name}.parquet")
        pq.write_table(table, p)
        out[p] = footer
    sdir = str(d / "spark_written.parquet")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s").coalesce(1).write.parquet(sdir)
    (part,) = glob.glob(os.path.join(sdir, "part-*.parquet"))
    out[part] = False
    out[sdir] = False
    return out


@pytest.mark.parametrize("tz", ["UTC", "America/Los_Angeles"])
def test_footer_schema_is_none_or_sparks_own(spark, hostile, tz):
    fixtures = sorted(glob.glob("/root/testdata/*/*.parquet"))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        n_footer = 0
        for p in fixtures + sorted(hostile):
            s = _footer_schema(p)
            if p in hostile:
                assert (s is not None) == hostile[p], p
            if s is not None:
                n_footer += 1
                assert s == spark.read.parquet(p).schema, p
        assert n_footer > sum(hostile.values())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_load_table_reads_the_footer_on_every_call(spark, tmp_path):
    """No schema is kept between calls: a file rewritten in place
    loads with its new schema, and a missing path still raises
    Spark's own error."""
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1], pa.int32())}), p)
    assert load_table(spark, str(tmp_path), "t").dtypes == [("a", "int")]
    pq.write_table(pa.table({"a": pa.array([2], pa.int64()), "b": ["x"]}), p)
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(2, "x")]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "missing")
