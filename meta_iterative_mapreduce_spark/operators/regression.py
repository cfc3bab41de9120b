"""Iterative distributed linear regression — the reference's core capability.

The reference (kernel.cu) trains `y = w1*x + w0` with two nested
map-reduce levels: MPI scatter → per-GPU-block closed-form OLS on a
contiguous sub-range (kernel.cu:42-63) → host average over blocks
(kernel.cu:148-157) → MPI_Reduce average over processes
(kernel.cu:165-166) → EMA smoothing across interactive data batches
with alpha=0.2 (kernel.cu:25, 214-215).

Spark-first re-expression:
- A GPU block's fused sufficient-statistics pass (Σx, Σy, Σx², Σxy —
  kernel.cu:53-59) is one partial hash-aggregate; the closed-form solve
  (kernel.cu:62-63) is Spark's built-in `regr_slope`/`regr_intercept`.
- The per-chunk fit is one groupBy over all partitions (deterministic
  chunk keys `l_orderkey % K`, never engine hashes — SURVEY.md §2.2
  rule b). Its O(chunks) result is coalesced into ONE partition, so
  the reduce tail (super-chunk average, global average, batch order)
  runs where that table already sits with no further exchange — the
  reference's single averaging host (kernel.cu:148-157, 165-166),
  still as lazy DataFrame operators.
- The interactive batch loop (kernel.cu:190-196) becomes either a
  driver loop over cached DataFrames (`iterative_fit_loop`, faithful)
  or — because the reference's weight "rebroadcast" is dead code
  (SURVEY.md §1.2.2) so batches are independent — a SINGLE aggregation
  computing every batch fit in one shuffle, with the EMA recursion
  applied to the O(#batches) collected scalars (`iterative_ema_fit`).
  At 100 TB the single-pass form is the right plan: one wide shuffle
  keyed on (batch, chunk), no per-batch job launch overhead.

Both `exact` (merge sufficient statistics ⇒ identical to single-machine
OLS) and `averaged` (reference-faithful uniform model averaging,
kernel.cu:150-157) modes are exposed (SURVEY.md §1.2.3).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import owned, persist
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.registry import register

DEFAULT_ALPHA = 0.2  # kernel.cu:25


# ---------------------------------------------------------------------------
# Composable building blocks (R6/R7/R9/R10/R13 of SURVEY.md §2.1)
# ---------------------------------------------------------------------------


def sufficient_stats(df: DataFrame, x: str, y: str) -> DataFrame:
    """Fused multi-aggregate of OLS sufficient statistics (R6).

    One data pass computing n, Σx, Σy, Σx², Σxy — exactly the fused
    loop of kernel.cu:53-59, but as a single partial+final
    HashAggregate (map-side combine ⇒ O(partitions) shuffle rows).
    """
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x)).alias("sx"),
        F.sum(F.col(y)).alias("sy"),
        F.sum(F.col(x) * F.col(x)).alias("sxx"),
        F.sum(F.col(x) * F.col(y)).alias("sxy"),
    )


def ols_from_stats(stats: DataFrame) -> DataFrame:
    """Closed-form OLS solve from sufficient statistics (R7).

    w1 = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); w0 = (Σy − w1·Σx) / n
    — the same algebra as kernel.cu:62-63, evaluated on aggregated
    scalars (constant-time, driver-free).
    """
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    denom = n * sxx - sx * sx
    w1 = (n * sxy - sx * sy) / denom
    return stats.select(
        ((sy - w1 * sx) / n).alias("w0"),
        w1.alias("w1"),
        n.alias("n_rows"),
    )


def fit_exact(df: DataFrame, x: str, y: str) -> DataFrame:
    """Exact global OLS via Spark's built-in regression aggregates.

    Algebraically identical to merging sufficient statistics across all
    partitions — the 'done right' version of the reference's model
    averaging (SURVEY.md §1.2.3).
    """
    return df.agg(
        F.regr_intercept(F.col(y), F.col(x)).alias("w0"),
        F.regr_slope(F.col(y), F.col(x)).alias("w1"),
        F.regr_count(F.col(y), F.col(x)).alias("n_rows"),
    )


def chunked_fit(df: DataFrame, x: str, y: str, chunk: Column) -> DataFrame:
    """Per-chunk closed-form OLS — the reference's secondary map level.

    Each chunk is a GPU block's sub-range (kernel.cu:44-53), made
    deterministic with an arithmetic bucket key instead of a physical
    range. Returns one row per chunk with (w0, w1, n_rows), in one
    partition: any reduce over it then plans no exchange.
    """
    return (
        df.groupBy(chunk.alias("chunk"))
        .agg(
            F.regr_intercept(F.col(y), F.col(x)).alias("w0"),
            F.regr_slope(F.col(y), F.col(x)).alias("w1"),
            F.regr_count(F.col(y), F.col(x)).alias("n_rows"),
        )
        .coalesce(1)
    )


def averaged_fit(df: DataFrame, x: str, y: str, chunk: Column) -> DataFrame:
    """Chunk fits + uniform average — reference-faithful R9 semantics.

    Uniform (not size-weighted) averaging matches kernel.cu:150-157;
    see SURVEY.md §1.2.3 for why this approximates exact OLS.
    """
    return chunked_fit(df, x, y, chunk).agg(
        F.avg("w0").alias("w0"), F.avg("w1").alias("w1")
    )


def meta_fit(df: DataFrame, x: str, y: str, chunk: Column, super_chunk: Column) -> DataFrame:
    """Two-level (meta) averaged fit: chunk → super-chunk → global.

    The reference's primary+secondary reduce tree (kernel.cu:148-157
    block average, then kernel.cu:165-166/173-174 process average).
    The per-chunk fit is the one distributed aggregation; its O(chunks)
    rows are coalesced into one partition, where the super-chunk and
    global averages run with no exchange — one shuffle per round.
    """
    per_chunk = (
        df.groupBy(super_chunk.alias("super_chunk"), chunk.alias("chunk"))
        .agg(
            F.regr_intercept(F.col(y), F.col(x)).alias("w0"),
            F.regr_slope(F.col(y), F.col(x)).alias("w1"),
        )
        .coalesce(1)
    )
    per_super = per_chunk.groupBy("super_chunk").agg(
        F.avg("w0").alias("w0"), F.avg("w1").alias("w1")
    )
    return per_super.agg(F.avg("w0").alias("w0"), F.avg("w1").alias("w1"))


# ---------------------------------------------------------------------------
# Iteration + EMA (R11-R13)
# ---------------------------------------------------------------------------


def ema_step(w_old: float, w_new: float, alpha: float = DEFAULT_ALPHA) -> float:
    """w_old = α·w_old + (1−α)·w_new  (kernel.cu:214-215)."""
    return alpha * w_old + (1.0 - alpha) * w_new


@dataclass
class FitResult:
    w0: float
    w1: float
    n_iters: int
    n_batches: int
    converged: bool


def batch_fits(
    df: DataFrame, x: str, y: str, batch: Column, chunk: Column
) -> DataFrame:
    """Every batch's chunk-averaged fit, in ONE aggregation.

    groupBy(batch, chunk) → per-chunk OLS → groupBy(batch) → uniform
    average. One shuffle keyed on (batch, chunk); the O(#batches ×
    chunks) per-chunk table is coalesced into one partition, so the
    batch average and any later sort or window over batches plan no
    exchange. Output is O(#batches) rows, safe to collect at any scale.
    """
    per_chunk = (
        df.select(batch.alias("batch"), chunk.alias("chunk"), F.col(x), F.col(y))
        .groupBy("batch", "chunk")
        .agg(
            F.regr_intercept(F.col(y), F.col(x)).alias("w0"),
            F.regr_slope(F.col(y), F.col(x)).alias("w1"),
        )
        .coalesce(1)
    )
    return per_chunk.groupBy("batch").agg(
        F.avg("w0").alias("f0"), F.avg("w1").alias("f1")
    )


def iterative_ema_fit(
    df: DataFrame,
    x: str,
    y: str,
    batch: Column,
    chunk: Column,
    alpha: float = DEFAULT_ALPHA,
    eps: float = 1e-6,
    max_iter: int | None = None,
) -> FitResult:
    """Iterative fit with EMA smoothing and ε-convergence (R11-R13).

    Replaces the reference's interactive "optimize further? 1/0"
    convergence decision (kernel.cu:175-188) with
    max(|Δw0|, |Δw1|) < eps. Batch fits are computed in a single Spark
    job (see `batch_fits`); the inherently-sequential EMA recursion
    runs over the collected O(#batches) scalars in the driver — the
    same place the reference keeps (w0_old, w1_old) on rank 0
    (kernel.cu:132).
    """
    rows = batch_fits(df, x, y, batch, chunk).orderBy("batch").collect()
    rows = [r for r in rows if r["f0"] is not None and r["f1"] is not None]
    if not rows:
        return FitResult(float("nan"), float("nan"), 0, 0, False)
    w0, w1 = rows[0]["f0"], rows[0]["f1"]
    n_iters, converged = 1, False
    for r in rows[1:]:
        if max_iter is not None and n_iters >= max_iter:
            break
        new_w0 = ema_step(w0, r["f0"], alpha)
        new_w1 = ema_step(w1, r["f1"], alpha)
        n_iters += 1
        if max(abs(new_w0 - w0), abs(new_w1 - w1)) < eps:
            w0, w1 = new_w0, new_w1
            converged = True
            break
        w0, w1 = new_w0, new_w1
    return FitResult(w0, w1, n_iters, len(rows), converged)


def iterative_fit_loop(
    df: DataFrame,
    x: str,
    y: str,
    batch: Column,
    chunk: Column,
    alpha: float = DEFAULT_ALPHA,
    eps: float = 1e-6,
    max_iter: int = 100,
    checkpoint_every: int = 10,
) -> FitResult:
    """Reference-faithful driver loop: one Spark job per batch (R11).

    Kept for workloads where iteration t+1 genuinely depends on the
    model from iteration t (unlike the reference, whose weight
    rebroadcast is dead code — SURVEY.md §1.2.2). Caches the chunked
    input once; `localCheckpoint` would cut lineage for long loops
    (not needed here since each batch fit reads the same cached df).
    """
    with owned():
        tagged = persist(
            df.select(batch.alias("batch"), chunk.alias("chunk"), F.col(x), F.col(y))
        )
        # O(#batches) keys, ordered here as Spark's ascending sort
        # would (NULL first, NaN last) with no range-partitioning job
        batches = sorted(
            (r["batch"] for r in tagged.select("batch").distinct().collect()),
            key=lambda b: (b is not None, b != b, b),
        )
        w0 = w1 = None
        n_iters, converged = 0, False
        for b in batches:
            if n_iters >= max_iter:
                break
            fit = (
                tagged.filter(F.col("batch").eqNullSafe(b))
                .groupBy("chunk")
                .agg(
                    F.regr_intercept(F.col(y), F.col(x)).alias("w0"),
                    F.regr_slope(F.col(y), F.col(x)).alias("w1"),
                )
                .coalesce(1)
                .agg(F.avg("w0").alias("f0"), F.avg("w1").alias("f1"))
                .collect()[0]
            )
            if fit["f0"] is None or fit["f1"] is None:
                continue
            n_iters += 1
            if w0 is None:
                w0, w1 = fit["f0"], fit["f1"]
                continue
            new_w0, new_w1 = ema_step(w0, fit["f0"], alpha), ema_step(w1, fit["f1"], alpha)
            if max(abs(new_w0 - w0), abs(new_w1 - w1)) < eps:
                w0, w1 = new_w0, new_w1
                converged = True
                break
            w0, w1 = new_w0, new_w1
        return FitResult(
            w0 if w0 is not None else float("nan"),
            w1 if w1 is not None else float("nan"),
            n_iters,
            len(batches),
            converged,
        )


# ---------------------------------------------------------------------------
# Flagship entry (driver smoke check, t1)
# ---------------------------------------------------------------------------

FLAGSHIP_SF_DIR = "/root/testdata/sf0.001"


def flagship(spark: SparkSession, sf_dir: str = FLAGSHIP_SF_DIR) -> DataFrame:
    """End-to-end meta-iterative regression of l_extendedprice on
    l_quantity: batches = l_shipdate months, chunks = l_orderkey % 8,
    EMA α=0.2, ε-convergence. Exercises scan → deterministic chunking →
    fused sufficient-stats agg → two-level reduce → driver iteration
    (R1-R15 of SURVEY.md §2.1 in one query)."""
    li = load_table(spark, sf_dir, "lineitem")
    # integer month key (y*100+m): same ordering as 'yyyy-MM' strings,
    # but no per-row date formatting and a 4-byte shuffle key
    res = iterative_ema_fit(
        li,
        "l_quantity",
        "l_extendedprice",
        batch=F.year("l_shipdate") * 100 + F.month("l_shipdate"),
        chunk=F.col("l_orderkey") % 8,
    )
    return spark.createDataFrame(
        [(res.w0, res.w1, res.n_iters, res.n_batches, res.converged)],
        "w0 double, w1 double, n_iters int, n_batches int, converged boolean",
    )


# ---------------------------------------------------------------------------
# Registered queries (SURVEY.md §2.2 K)
# ---------------------------------------------------------------------------

_X, _Y = "l_quantity", "l_extendedprice"


@register(
    "q_regression_exact",
    oracle="""
    SELECT ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS w0,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS w1,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_rows
    FROM lineitem
    """,
)
def q_regression_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot exact distributed OLS (merged sufficient statistics)."""
    li = load_table(spark, sf_dir, "lineitem")
    return fit_exact(li, _X, _Y).select(
        F.round("w0", 4).alias("w0"),
        F.round("w1", 4).alias("w1"),
        F.col("n_rows"),
    )


@register(
    "q_regression_chunk_averaged",
    oracle="""
    WITH per_chunk AS (
        SELECT l_orderkey % 8 AS chunk,
               regr_intercept(l_extendedprice, l_quantity) AS w0,
               regr_slope(l_extendedprice, l_quantity) AS w1
        FROM lineitem GROUP BY 1
    )
    SELECT ROUND(AVG(w0), 4) AS w0, ROUND(AVG(w1), 4) AS w1, COUNT(*) AS n_chunks
    FROM per_chunk
    """,
)
def q_regression_chunk_averaged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful secondary level: per-chunk OLS, uniform average
    (kernel.cu:42-63 + 148-157), deterministic chunks l_orderkey % 8."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        chunked_fit(li, _X, _Y, F.col("l_orderkey") % 8)
        .agg(
            F.round(F.avg("w0"), 4).alias("w0"),
            F.round(F.avg("w1"), 4).alias("w1"),
            F.count(F.lit(1)).alias("n_chunks"),
        )
    )


@register(
    "q_regression_meta_averaged",
    oracle="""
    WITH per_chunk AS (
        SELECT l_orderkey % 2 AS super_chunk, l_orderkey % 8 AS chunk,
               regr_intercept(l_extendedprice, l_quantity) AS w0,
               regr_slope(l_extendedprice, l_quantity) AS w1
        FROM lineitem GROUP BY 1, 2
    ), per_super AS (
        SELECT super_chunk, AVG(w0) AS w0, AVG(w1) AS w1 FROM per_chunk GROUP BY 1
    )
    SELECT ROUND(AVG(w0), 4) AS w0, ROUND(AVG(w1), 4) AS w1 FROM per_super
    """,
)
def q_regression_meta_averaged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level meta reduce: chunk → super-chunk → global average
    (kernel.cu:148-157 then 165-166/173-174)."""
    li = load_table(spark, sf_dir, "lineitem")
    return meta_fit(
        li, _X, _Y, chunk=F.col("l_orderkey") % 8, super_chunk=F.col("l_orderkey") % 2
    ).select(F.round("w0", 4).alias("w0"), F.round("w1", 4).alias("w1"))


@register(
    "q_regression_iterative_ema",
    oracle="""
    WITH per_chunk AS (
        SELECT year(l_shipdate) * 100 + month(l_shipdate) AS batch,
               l_orderkey % 8 AS chunk,
               regr_intercept(l_extendedprice, l_quantity) AS w0,
               regr_slope(l_extendedprice, l_quantity) AS w1
        FROM lineitem GROUP BY 1, 2
    ), per_batch AS (
        SELECT batch, AVG(w0) AS f0, AVG(w1) AS f1 FROM per_chunk GROUP BY 1
    ), ranked AS (
        SELECT f0, f1,
               ROW_NUMBER() OVER (ORDER BY batch) AS rn,
               COUNT(*) OVER () AS t_total
        FROM per_batch
    )
    SELECT ROUND(SUM(POWER(0.2, t_total - rn)
                     * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.8 END) * f0), 4) AS w0,
           ROUND(SUM(POWER(0.2, t_total - rn)
                     * (CASE WHEN rn = 1 THEN 1.0 ELSE 0.8 END) * f1), 4) AS w1,
           MAX(t_total) AS n_batches
    FROM ranked
    """,
)
def q_regression_iterative_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative loop as ONE declarative plan: per-month averaged
    fits + EMA α=0.2 across ordered batches (kernel.cu:135-217), using
    the closed-form geometric expansion of the EMA recursion
    w_T = α^(T−1)·f_1 + (1−α)·Σ_{t≥2} α^(T−t)·f_t."""
    li = load_table(spark, sf_dir, "lineitem")
    per_batch = batch_fits(
        li,
        _X,
        _Y,
        batch=F.year("l_shipdate") * 100 + F.month("l_shipdate"),
        chunk=F.col("l_orderkey") % 8,
    )
    # The window is over O(#months) rows, already in batch_fits' one
    # partition: it plans no exchange.
    w = W.orderBy("batch")
    ranked = per_batch.select(
        "f0",
        "f1",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("t_total"),
    )
    weight = F.pow(F.lit(0.2), F.col("t_total") - F.col("rn")) * F.when(
        F.col("rn") == 1, F.lit(1.0)
    ).otherwise(F.lit(0.8))
    return ranked.agg(
        F.round(F.sum(weight * F.col("f0")), 4).alias("w0"),
        F.round(F.sum(weight * F.col("f1")), 4).alias("w1"),
        F.max("t_total").alias("n_batches"),
    )


# ---------------------------------------------------------------------------
# RDD-layer meta reduce (SURVEY.md §4.2: treeAggregate depth=2)
# ---------------------------------------------------------------------------


def tree_aggregate_fit(df: DataFrame, x: str, y: str, depth: int = 2) -> tuple:
    """Exact OLS via RDD `treeAggregate(depth=2)` — the reference's
    two-level reduce tree (GPU blocks → process → root,
    kernel.cu:148-166) expressed literally: partition-local sufficient
    statistics, then a multi-level merge so no single reducer receives
    all partition results (at 10k partitions the depth-2 tree keeps
    fan-in ~100).

    This is the one deliberate RDD drop-down in the engine (per-
    partition imperative merge); the DataFrame path (`fit_exact`)
    compiles to the same partial/final shape and is preferred.
    Returns (w0, w1, n).
    """

    def seq(acc, row):
        xv, yv = row[0], row[1]
        return (
            acc[0] + 1,
            acc[1] + xv,
            acc[2] + yv,
            acc[3] + xv * xv,
            acc[4] + xv * yv,
        )

    def comb(a, b):
        return tuple(ai + bi for ai, bi in zip(a, b))

    n, sx, sy, sxx, sxy = (
        df.select(x, y)
        .rdd.map(tuple)
        .treeAggregate((0, 0.0, 0.0, 0.0, 0.0), seq, comb, depth=depth)
    )
    denom = n * sxx - sx * sx
    w1 = (n * sxy - sx * sy) / denom
    w0 = (sy - w1 * sx) / n
    return (w0, w1, n)


@register(
    "q_regression_kfold",
    oracle="""
    WITH folds AS (
        SELECT l_orderkey % 5 AS fold, l_quantity AS x, l_extendedprice AS y
        FROM lineitem
    ), per_fold AS (
        SELECT fold, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM folds GROUP BY fold
    ), loo AS (
        SELECT fold,
               SUM(n) OVER () - n AS n_train,
               SUM(sx) OVER () - sx AS lsx,
               SUM(sy) OVER () - sy AS lsy,
               SUM(sxx) OVER () - sxx AS lsxx,
               SUM(sxy) OVER () - sxy AS lsxy
        FROM per_fold
    ), models AS (
        SELECT fold, CAST(n_train AS BIGINT) AS n_train,
               (n_train * lsxy - lsx * lsy)
                   / (n_train * lsxx - lsx * lsx) AS w1,
               (lsy - (n_train * lsxy - lsx * lsy)
                   / (n_train * lsxx - lsx * lsx) * lsx) / n_train AS w0
        FROM loo
    ), scored AS (
        SELECT m.fold, m.w0, m.w1, m.n_train,
               (v.y - (m.w0 + m.w1 * v.x))
                   * (v.y - (m.w0 + m.w1 * v.x)) AS se
        FROM models m JOIN folds v ON v.fold = m.fold
    )
    SELECT fold,
           CAST(FLOOR(w0 * 10000 + 0.5) AS BIGINT) AS w0_e4,
           CAST(FLOOR(w1 * 10000 + 0.5) AS BIGINT) AS w1_e4,
           n_train,
           CAST(COUNT(*) AS BIGINT) AS n_valid,
           CAST(FLOOR(SQRT(AVG(se)) * 10000 + 0.5) AS BIGINT) AS rmse_e4
    FROM scored GROUP BY fold, w0, w1, n_train
    """,
)
def q_regression_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated OLS (k=5, deterministic l_orderkey % 5
    folds): each fold's model trains on the OTHER four folds and
    scores out-of-fold RMSE on its own. All five train fits come from
    ONE pass of per-fold sufficient statistics — leave-one-fold-out
    stats are (total − fold) by mergeability, the same algebra the
    flagship's exact fit uses (kernel.cu:56-62), so k-fold costs one
    aggregate + one tiny join, not k scans. Out-of-fold scoring is a
    broadcast of 5 models onto the validation rows. RMSE, w0 and w1
    all cross multi-row double sums, so all three land as floor-scaled
    e4 integers (q_ts_interpolate's determinism note), and the DuckDB
    oracle fits from the SAME explicit power-sum algebra rather than
    regr_slope/regr_intercept so both engines do identical math."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("fold"),
        F.col(_X).cast("double").alias("x"),
        F.col(_Y).cast("double").alias("y"),
    )
    per_fold = li.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = per_fold.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    loo = per_fold.crossJoin(F.broadcast(tot)).select(
        "fold",
        (F.col("tn") - F.col("n")).alias("n_train"),
        (F.col("tsx") - F.col("sx")).alias("sx"),
        (F.col("tsy") - F.col("sy")).alias("sy"),
        (F.col("tsxx") - F.col("sxx")).alias("sxx"),
        (F.col("tsxy") - F.col("sxy")).alias("sxy"),
    )
    n = F.col("n_train").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    models = loo.select(
        "fold",
        "n_train",
        ((F.col("sy") - slope * F.col("sx")) / n).alias("w0"),
        slope.alias("w1"),
    )
    scored = li.join(F.broadcast(models), "fold")
    resid = F.col("y") - (F.col("w0") + F.col("w1") * F.col("x"))
    return scored.groupBy("fold", "w0", "w1", "n_train").agg(
        F.count(F.lit(1)).alias("n_valid"),
        F.floor(F.sqrt(F.avg(resid * resid)) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("rmse_e4"),
    ).select(
        "fold",
        F.floor(F.col("w0") * 10000 + F.lit(0.5)).cast("long").alias("w0_e4"),
        F.floor(F.col("w1") * 10000 + F.lit(0.5)).cast("long").alias("w1_e4"),
        "n_train",
        "n_valid",
        "rmse_e4",
    )


@register(
    "q_regression_logistic",
    oracle="""
    WITH d AS (
        SELECT l_quantity / 50.0 AS x,
               CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
        FROM lineitem
    ), g1 AS (
        SELECT AVG(1.0 / (1.0 + EXP(-(0.0 + 0.0 * x))) - y) AS g0,
               AVG((1.0 / (1.0 + EXP(-(0.0 + 0.0 * x))) - y) * x) AS g1
        FROM d
    ), w1 AS (
        SELECT 0.0 - 1.0 * g0 AS w0, 0.0 - 1.0 * g1 AS w1 FROM g1
    ), g2 AS (
        SELECT AVG(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x))) - y) AS g0,
               AVG((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x))) - y) * x) AS g1
        FROM d, w1 w
    ), w2 AS (
        SELECT w.w0 - 1.0 * g2.g0 AS w0, w.w1 - 1.0 * g2.g1 AS w1
        FROM w1 w, g2
    ), g3 AS (
        SELECT AVG(1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x))) - y) AS g0,
               AVG((1.0 / (1.0 + EXP(-(w.w0 + w.w1 * x))) - y) * x) AS g1
        FROM d, w2 w
    ), w3 AS (
        SELECT w.w0 - 1.0 * g3.g0 AS w0, w.w1 - 1.0 * g3.g1 AS w1
        FROM w2 w, g3
    )
    SELECT 3 AS n_iters,
           (SELECT COUNT(*) FROM d) AS n,
           CAST(FLOOR(w0 * 10000 + 0.5) AS BIGINT) AS w0_e4,
           CAST(FLOOR(w1 * 10000 + 0.5) AS BIGINT) AS w1_e4
    FROM w3
    """,
)
def q_regression_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative LOGISTIC regression by full-batch gradient descent —
    the classifier twin of the reference's iterative linear loop
    (kernel.cu:135-217 refines weights over repeated passes; here the
    model is sigmoid(w0 + w1·x) on return-flag labels, 3 fixed
    iterations, lr=1). Each iteration is ONE distributed aggregate
    (two mean-gradient sums, map-side combined) with O(1) driver
    traffic — the shape that scales to 100 TB: no per-row driver
    work, no cached intermediate, each pass a fresh scan Catalyst can
    prune to two columns. Hash-certified: DuckDB replays the same 3
    unrolled iterations through chained CTEs, and both engines'
    weights are floor-scaled to 1e-4 ints."""
    from meta_iterative_mapreduce_spark.io import load_table

    d = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") / 50.0).alias("x"),
        F.when(F.col("l_returnflag") == "R", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    w0, w1 = 0.0, 0.0
    n_iters = 3
    for _ in range(n_iters):
        z = F.lit(w0) + F.lit(w1) * F.col("x")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        r = d.agg(
            F.avg(p - F.col("y")).alias("g0"),
            F.avg((p - F.col("y")) * F.col("x")).alias("g1"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        w0 -= 1.0 * r["g0"]
        w1 -= 1.0 * r["g1"]
        n = r["n"]
    return spark.createDataFrame(
        [
            (
                n_iters,
                int(n),
                int(__import__("math").floor(w0 * 10000 + 0.5)),
                int(__import__("math").floor(w1 * 10000 + 0.5)),
            )
        ],
        "n_iters int, n bigint, w0_e4 bigint, w1_e4 bigint",
    )
