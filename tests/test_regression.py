"""Algorithmic property checks for the regression family
(SURVEY.md §5.2.4)."""

from __future__ import annotations

import math
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators import regression as R


def _li(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_sufficient_stats_equals_builtin(spark, sf_dir):
    """Explicit sufficient-statistics OLS == Spark's regr_* built-ins."""
    li = _li(spark, sf_dir)
    ours = R.ols_from_stats(
        R.sufficient_stats(li, "l_quantity", "l_extendedprice")
    ).collect()[0]
    builtin = R.fit_exact(li, "l_quantity", "l_extendedprice").collect()[0]
    assert math.isclose(ours["w0"], builtin["w0"], rel_tol=1e-9)
    assert math.isclose(ours["w1"], builtin["w1"], rel_tol=1e-9)
    assert ours["n_rows"] == builtin["n_rows"]


def test_averaged_fit_with_one_chunk_is_exact(spark, sf_dir):
    """Model averaging degenerates to exact OLS when chunks → 1."""
    li = _li(spark, sf_dir)
    avg1 = R.averaged_fit(
        li, "l_quantity", "l_extendedprice", F.lit(0)
    ).collect()[0]
    exact = R.fit_exact(li, "l_quantity", "l_extendedprice").collect()[0]
    assert math.isclose(avg1["w0"], exact["w0"], rel_tol=1e-9)
    assert math.isclose(avg1["w1"], exact["w1"], rel_tol=1e-9)


def test_meta_fit_collapses_to_chunked(spark, sf_dir):
    """Two-level averaging with a single super-chunk == one-level."""
    li = _li(spark, sf_dir)
    chunk = F.col("l_orderkey") % 8
    meta = R.meta_fit(li, "l_quantity", "l_extendedprice", chunk, F.lit(0)).collect()[0]
    one = (
        R.chunked_fit(li, "l_quantity", "l_extendedprice", chunk)
        .agg(F.avg("w0").alias("w0"), F.avg("w1").alias("w1"))
        .collect()[0]
    )
    assert math.isclose(meta["w0"], one["w0"], rel_tol=1e-9)
    assert math.isclose(meta["w1"], one["w1"], rel_tol=1e-9)


def test_ema_recursion_matches_closed_form(spark, sf_dir):
    """Driver-loop EMA == the closed-form geometric expansion used by
    q_regression_iterative_ema (α^(T−1)·f_1 + (1−α)·Σ α^(T−t)·f_t)."""
    li = _li(spark, sf_dir)
    batch = F.date_format("l_shipdate", "yyyy-MM")
    chunk = F.col("l_orderkey") % 8
    res = R.iterative_ema_fit(
        li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0
    )
    fits = (
        R.batch_fits(li, "l_quantity", "l_extendedprice", batch, chunk)
        .orderBy("batch")
        .collect()
    )
    a = R.DEFAULT_ALPHA
    T = len(fits)
    w1 = (a ** (T - 1)) * fits[0]["f1"] + sum(
        (1 - a) * (a ** (T - t)) * fits[t - 1]["f1"] for t in range(2, T + 1)
    )
    assert math.isclose(res.w1, w1, rel_tol=1e-9)
    assert res.n_batches == T


def test_iterative_loop_matches_single_pass(spark, sf_dir):
    """The reference-faithful per-batch driver loop and the single-pass
    batch_fits + driver EMA produce identical weights."""
    li = _li(spark, sf_dir).filter(F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
    batch = F.date_format("l_shipdate", "yyyy-MM")
    chunk = F.col("l_orderkey") % 4
    fast = R.iterative_ema_fit(li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0)
    slow = R.iterative_fit_loop(li, "l_quantity", "l_extendedprice", batch, chunk, eps=0.0)
    assert math.isclose(fast.w0, slow.w0, rel_tol=1e-9)
    assert math.isclose(fast.w1, slow.w1, rel_tol=1e-9)


def test_flagship_entry_schema(spark):
    df = R.flagship(spark)
    rows = df.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_batches"] > 0 and r["n_iters"] >= 1
    assert not math.isnan(r["w0"]) and not math.isnan(r["w1"])


def test_fit_loop_and_single_pass_agree_on_null_batch_key(spark):
    """A NULL batch key is one more batch for both loop forms, ordered
    first as Spark's ascending sort puts it."""
    rows = [
        (None if i % 5 == 0 else i % 3, float(i % 7), 2.0 * (i % 7) + (i % 3) + 0.1 * (i % 4))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "b int, x double, y double")
    batch, chunk = F.col("b"), F.lit(0)
    fast = R.iterative_ema_fit(df, "x", "y", batch, chunk, eps=0.0)
    slow = R.iterative_fit_loop(df, "x", "y", batch, chunk, eps=0.0)
    assert fast.n_batches == slow.n_batches == 4
    assert fast.n_iters == slow.n_iters == 4
    assert math.isclose(fast.w0, slow.w0, rel_tol=1e-9)
    assert math.isclose(fast.w1, slow.w1, rel_tol=1e-9)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it launched), counted under a job
    group of its own once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_regression_round_job_counts(spark, tmp_path):
    """The Spark jobs each regression call launches, as upper bounds:
    a single flat Parquet file loads with no schema-inference job, a
    meta_fit round is one shuffle map stage plus its collect, and the
    per-chunk tables' single partition leaves no exchange (so no job)
    after the per-chunk level. A job added to any of these fails here."""
    bdir = tmp_path / "in" / "batches.parquet"
    os.makedirs(bdir)
    rng = np.random.default_rng(3)
    for b in range(4):
        key = np.arange(b * 2000, (b + 1) * 2000, dtype=np.int64)
        x = rng.uniform(0, 50, 2000)
        y = 3.0 + 2.0 * x + rng.normal(0, 1, 2000)
        pq.write_table(pa.table({"key": key, "x": x, "y": y}), str(bdir / f"b{b}.parquet"))
    key = F.col("key")
    _, n = _jobs(spark, lambda: load_table(spark, str(bdir), "b0"))
    assert n == 0
    for b in range(4):
        _, n = _jobs(
            spark,
            lambda: R.meta_fit(
                load_table(spark, str(bdir), f"b{b}"), "x", "y", key % 8, key % 2
            ).collect(),
        )
        assert n <= 2, (b, n)
    batch = F.expr("key div 2000")
    fits = {}
    for fn, bound in ((R.iterative_ema_fit, 3), (R.iterative_fit_loop, 12)):
        fits[fn.__name__], n = _jobs(
            spark,
            lambda: fn(load_table(spark, str(tmp_path / "in"), "batches"), "x", "y", batch, key % 8),
        )
        assert n <= bound, (fn.__name__, n)
    fast, slow = fits["iterative_ema_fit"], fits["iterative_fit_loop"]
    assert fast.n_batches == slow.n_batches == 4
    assert math.isclose(fast.w0, slow.w0, rel_tol=1e-9)
    assert math.isclose(fast.w1, slow.w1, rel_tol=1e-9)
