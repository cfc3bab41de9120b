"""Embedding similarity search (SURVEY.md §2.2 L).

Three tiers:
- brute-force cosine top-k against a probe vector — the exactness
  baseline; one scan, JVM-side higher-order functions (zip_with /
  aggregate), TakeOrderedAndProject top-k (no global sort);
- sign-LSH (random-hyperplane) bucketed ANN — the scale path: the
  probe only scans its own bucket, so a 1000-executor cluster probes
  1/2^n_planes of the data; bucket assignment is scan-local;
- k-NN join between label centroids — bounded N² on the (tiny)
  aggregated side, never on the raw vectors.

The probe vector and hyperplanes are fixed literal constants embedded
identically in the Spark plans and the oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import owned, persist
from meta_iterative_mapreduce_spark.functions.vectors import (
    dot_const,
    dot_pair,
    l2_norm,
    sign_lsh_bucket,
)
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.registry import register

_DIM = 64

# Fixed probe: 1/8 in every dimension (unit L2 norm at dim 64).
_PROBE = [0.125] * _DIM

# Deterministic "random" hyperplanes for sign-LSH, from a fixed seed.
_N_PLANES = 6
_rng = random.Random(42)
_PLANES = [
    [_rng.gauss(0.0, 1.0) for _ in range(_DIM)] for _ in range(_N_PLANES)
]


def _dot_sql(vec_expr: str, const: list[float]) -> str:
    """DuckDB SQL for dot(vec, const) in double precision, sequential
    left-to-right fold (list_sum over per-element products)."""
    arr = "[" + ", ".join(repr(c) for c in const) + "]"
    return (
        f"list_sum(list_transform(list_zip({vec_expr}, {arr}), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2]))"
    )


_NORM_SQL = (
    "sqrt(list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


@register(
    "q_sim_cosine_topk",
    oracle=f"""
    SELECT vec_id,
           ROUND({_dot_sql('embedding', _PROBE)} / {_NORM_SQL}, 4) AS cos_sim
    FROM embeddings
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the fixed probe vector.
    orderBy(...).limit(k) plans as TakeOrderedAndProject: per-partition
    heaps, no global sort — the right baseline at any scale."""
    e = load_table(spark, sf_dir, "embeddings")
    cos = F.round(dot_const(F.col("embedding"), _PROBE) / l2_norm(F.col("embedding")), 4)
    return (
        e.select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def _bucket_sql() -> str:
    terms = [
        f"(CASE WHEN {_dot_sql('embedding', p)} > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(_PLANES)
    ]
    return " + ".join(terms)


def _probe_bucket() -> int:
    bucket = 0
    for j, p in enumerate(_PLANES):
        if sum(a * b for a, b in zip(_PROBE, p)) > 0:
            bucket |= 1 << j
    return bucket


def _lsh_bucketed(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, bucket, nrm), persisted in the caller's
    block: the plane dot products run once, not once per join side."""
    return persist(
        e.select(
            "vec_id",
            "embedding",
            sign_lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"),
            l2_norm(F.col("embedding")).alias("nrm"),
        )
    )


@register(
    "q_sim_ann_lsh",
    oracle=f"""
    SELECT vec_id, bucket,
           ROUND(dot_p / {_NORM_SQL.replace('embedding', 'embedding')}, 4) AS cos_sim
    FROM (
        SELECT vec_id, embedding,
               ({_bucket_sql()}) AS bucket,
               {_dot_sql('embedding', _PROBE)} AS dot_p
        FROM embeddings
    )
    WHERE bucket = {_probe_bucket()}
    ORDER BY cos_sim DESC, vec_id
    LIMIT 5
    """,
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via sign-LSH: score only the
    probe's hyperplane-sign bucket (~1/2^6 of the data), then exact
    cosine top-5 within it. Bucket assignment is scan-local; at scale
    the table is written bucketed/partitioned by this id so the probe
    prunes partitions."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id",
        "embedding",
        sign_lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"),
        dot_const(F.col("embedding"), _PROBE).alias("dot_p"),
    )
    return (
        bucketed.filter(F.col("bucket") == _probe_bucket())
        .select(
            "vec_id",
            "bucket",
            F.round(F.col("dot_p") / l2_norm(F.col("embedding")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
    )


@register(
    "q_sim_knn_join",
    oracle="""
    WITH dims AS (
        SELECT label, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ), cent AS (
        SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS c FROM dims GROUP BY label, dim
    ), dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(a.c * b.c) AS dot,
               SQRT(SUM(a.c * a.c)) AS na, SQRT(SUM(b.c * b.c)) AS nb
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
        GROUP BY a.label, b.label
    ), scored AS (
        SELECT label_a, label_b, ROUND(dot / (na * nb), 4) AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY label_a
                   ORDER BY ROUND(dot / (na * nb), 4) DESC, label_b) AS rn
        FROM dots
    )
    SELECT label_a, label_b, cos_sim FROM scored WHERE rn <= 3
    """,
)
def q_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN join over label centroids: aggregate 64-dim centroids per
    label (explode to (label, dim) — one shuffle on a tiny key space),
    then pairwise cosine on the 10×10 centroid pairs and top-3 per
    label. The N² stage only ever touches the aggregated centroids.

    Summation over the dim-join is ordered identically in both engines?
    No — but each (label_a, label_b) dot sums exactly 64 products of
    averaged values; ROUND(...,4) absorbs association differences.
    """
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    cent = dims.groupBy("label", "dim").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.sum(F.col("a.c") * F.col("b.c")).alias("dot"),
            F.sqrt(F.sum(F.col("a.c") * F.col("a.c"))).alias("na"),
            F.sqrt(F.sum(F.col("b.c") * F.col("b.c"))).alias("nb"),
        )
    )
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4)
    w = W.partitionBy("label_a").orderBy(cos.desc(), "label_b")
    return (
        dots.select("label_a", "label_b", cos.alias("cos_sim"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("label_a").orderBy(F.col("cos_sim").desc(), "label_b")
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("label_a", "label_b", "cos_sim")
    )


@register(
    "q_sim_near_dup_pairs",
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               ({_bucket_sql()}) AS bucket,
               {_NORM_SQL} AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (a.nrm * b.nrm), 4) AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (a.nrm * b.nrm) >= 0.4
    """,
)
def q_sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the scale path: sign-LSH
    bucket join (same-bucket candidates only — never the n² cross
    product), exact cosine verification within buckets, threshold 0.4."""
    e = load_table(spark, sf_dir, "embeddings")
    with owned():
        bucketed = _lsh_bucketed(e)
        a, b = bucketed.alias("a"), bucketed.alias("b")
        cos = dot_pair(F.col("a.embedding"), F.col("b.embedding")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
        return (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("id_a"),
                F.col("b.vec_id").alias("id_b"),
                cos.alias("cos_raw"),
            )
            .filter(F.col("cos_raw") >= 0.4)
            .select("id_a", "id_b", F.round("cos_raw", 4).alias("cos_sim"))
            .localCheckpoint(eager=True)
        )


@register(
    "q_embed_quantize",
    oracle="""
    WITH scaled AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings
    )
    SELECT vec_id, label, scale,
           array_to_string(
               CASE WHEN scale = 0
                    THEN list_transform(embedding, x -> CAST(0 AS INT))
                    ELSE list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5)
                                   AS INT))
               END, ',') AS q_str
    FROM scaled
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = max(|x|), q_i = round_half_up(x_i / scale * 127). A pure
    map-side plan (no shuffle, no Python): array_max/transform are JVM
    higher-order functions, so at 100 TB this is a single pass that
    shrinks ANN working sets ~4x. Rounding is floor(x + 0.5) — not
    ROUND() — because IEEE floor is bit-identical across engines while
    half-even ties are not; max(|x|) needs no ROUND hygiene since max
    is order-independent (unlike sums). The int8 vector is projected
    as a comma-joined string only for the oracle hash (the checker
    cannot sort raw array cells); downstream ANN keeps the array."""
    e = load_table(spark, sf_dir, "embeddings")
    scale = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scaled = e.select("vec_id", "label", "embedding", scale.alias("scale"))
    q = F.when(
        F.col("scale") == 0,
        F.transform("embedding", lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") / F.col("scale") * 127 + 0.5).cast(
                "int"
            ),
        )
    )
    return scaled.select(
        "vec_id", "label", "scale", F.array_join(q, ",").alias("q_str")
    )


@register(
    "q_embed_gram",
    oracle="""
    SELECT i, j,
           ROUND(SUM(CAST(list_extract(embedding, i) AS DOUBLE)
                     * CAST(list_extract(embedding, j) AS DOUBLE)), 4)
               AS gram
    FROM read_parquet_embeddings, range(1, 65) a(i), range(1, 65) b(j)
    WHERE j >= i
    GROUP BY i, j
    """.replace("read_parquet_embeddings", "embeddings"),
)
def q_embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X over the embedding column — the
    d-dimensional generalization of the reference's OLS sufficient
    statistics (kernel.cu:56-62 accumulates sum_x/sum_y/sum_xy/sum_xx;
    the Gram matrix is exactly those sums for every feature pair), and
    the one distributed pass behind normal-equation regression and
    covariance/PCA.

    Registered plan (optimization r14): the BLAS path —
    gram_matrix_blas hands whole Arrow batches to numpy `X.T @ X`
    (guide §4.2: dense matrix products are the one workload JVM
    codegen cannot match; measured 93.8 s declarative vs 9.8 s BLAS
    at 2M x 64 in tools/scale_smoke.py, and 2.5 s -> 0.5 s at sf0.1),
    emitting one d x d partial per batch so the only exchange is
    O(tasks x d^2), independent of row count. The declarative
    outer-product-explode twin (embed_gram_declarative) remains the
    oracle-shaped semantic contract; pytest pins both paths
    cell-for-cell on the fixtures and the DuckDB hash oracle checks
    the registered output at every SF (ROUND(...,4) on both sides
    absorbs the summation-order difference, verified at
    sf0.001/0.01/0.1)."""
    e = load_table(spark, sf_dir, "embeddings")
    return gram_matrix_blas(e).select(
        "i", "j", F.round("gram", 4).alias("gram")
    )


def embed_gram_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM declarative form of q_embed_gram: each row expands to
    its upper-triangle outer product inside the scan stage (higher-
    order functions, no Python); partial aggregation collapses the
    2080 (i, j) cells per task before the single tiny exchange. Kept
    as the semantic contract the BLAS plan is pinned against
    (tests/test_clustering.py::test_gram_blas_matches_declarative)."""
    e = load_table(spark, sf_dir, "embeddings")
    cells = e.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(embedding) - 1), i -> "
                "transform(sequence(i, size(embedding) - 1), j -> "
                "struct(CAST(i + 1 AS BIGINT) AS i, CAST(j + 1 AS BIGINT) AS j, "
                "CAST(embedding[i] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)"
                " AS p))))"
            )
        ).alias("c")
    )
    return (
        cells.select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.round(F.sum("p"), 4).alias("gram"))
    )


def _gram_matrix(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Collect the d x d Gram matrix (O(d^2) driver scalars — the same
    budget as k-means centroids; the data-sized work stays
    distributed in the q_embed_gram plan)."""
    rows = q_embed_gram(spark, sf_dir).collect()
    d = max(r["j"] for r in rows)
    g = [[0.0] * d for _ in range(d)]
    for r in rows:
        i, j = r["i"] - 1, r["j"] - 1
        g[i][j] = g[j][i] = float(r["gram"])
    return g


def pca_power_fit(
    spark: SparkSession, sf_dir: str, n_iter: int = 50
) -> tuple[float, list[float], float, float]:
    """Power iteration over the distributed Gram matrix → (eigval,
    unit loading vector with sign pinned positive on its largest
    component, relative residual ||Gv - λv||/λ, trace(G))."""
    g = _gram_matrix(spark, sf_dir)
    d = len(g)
    v = [1.0] * d
    for _ in range(n_iter):
        w = [sum(g[i][k] * v[k] for k in range(d)) for i in range(d)]
        norm = sum(x * x for x in w) ** 0.5
        v = [x / norm for x in w]
    w = [sum(g[i][k] * v[k] for k in range(d)) for i in range(d)]
    eigval = sum(v[i] * w[i] for i in range(d))
    resid = (
        sum((w[i] - eigval * v[i]) ** 2 for i in range(d)) ** 0.5 / eigval
    )
    pivot = max(range(d), key=lambda i: abs(v[i]))
    if v[pivot] < 0:
        v = [-x for x in v]
    trace = sum(g[i][i] for i in range(d))
    return eigval, v, resid, trace


@register(
    "q_embed_pca_power",
    oracle="""
    SELECT CAST(MAX(len(embedding)) AS INT) AS d,
           50 AS n_iter,
           TRUE AS unit_norm,
           TRUE AS residual_lt_5pct,
           TRUE AS eigval_ge_mean_eig,
           TRUE AS eigval_le_trace
    FROM embeddings
    """,
)
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud by POWER
    ITERATION over the distributed Gram matrix — the engine's fifth
    workload in the reference's iterative shape (kernel.cu:135-217:
    distributed pass producing a small state, tiny driver-side update,
    repeat): ONE distributed O(n*d^2) pass builds X^T X, then the
    iteration v <- normalize(G v) runs on the driver over O(d^2)
    scalars — no per-iteration cluster round-trips, unlike a naive
    matvec-per-iteration design whose 50 iterations would mean 50
    scans. Deterministic: fixed all-ones start, fixed 50 iterations,
    sign pinned by the largest component.

    Certification follows the sketch-family contract (exact inputs +
    within-error-bound flags; VERDICT r7 item 8): the distributed
    input IS hash-checked as q_embed_gram, and this query's oracle
    pins the mathematical invariants DuckDB can assert independently:
    the result is a UNIT vector, the eigenvalue-residual
    ||Gv - λv||/λ is under 5% (measured 0.5-0.9% at sf0.001/0.01/0.1
    — random embeddings have a narrow spectral gap, so 50 iterations
    land ~1e-2; the bound carries 5x margin), and the Rayleigh
    quotient sits inside the PSD bracket trace/d <= λ <= trace. A
    broken Gram pass, a normalization slip, or a non-converging
    iteration each flip a flag and fail the hash."""
    eigval, v, resid, trace = pca_power_fit(spark, sf_dir)
    d = len(v)
    vnorm = sum(x * x for x in v) ** 0.5
    return spark.createDataFrame(
        [
            (
                d,
                50,
                bool(abs(vnorm - 1.0) < 1e-9),
                bool(resid < 0.05),
                bool(eigval >= trace / d),
                bool(eigval <= trace * (1 + 1e-12)),
            )
        ],
        "d int, n_iter int, unit_norm boolean, residual_lt_5pct "
        "boolean, eigval_ge_mean_eig boolean, eigval_le_trace boolean",
    )


def gram_matrix_blas(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Scale path for X^T X: per-batch numpy `X.T @ X` inside
    mapInPandas (Arrow-vectorized, BLAS-backed), emitting one d x d
    partial per batch; a final tiny agg merges them. Dense matrix
    products are the one workload where JVM codegen cannot compete
    with BLAS — measured 93.8 s (declarative outer-product explode) vs
    9.8 s (this path) for 2M x 64 vectors, tools/scale_smoke.py — so,
    like MLlib, the engine drops to native linear algebra here while
    keeping the declarative q_embed_gram as the oracle-checked
    semantic contract (tests pin both paths equal on the fixtures).
    Output: upper-triangle (i, j, gram), 1-based, un-rounded."""
    import pandas as pd

    def partials(batches):
        import numpy as np

        acc = None
        for pdf in batches:
            x = np.stack(pdf[col].to_numpy()).astype("float64")
            g = x.T @ x
            acc = g if acc is None else acc + g
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = [], []
        for i in range(d):
            for j in range(i, d):
                iu.append(i + 1)
                ju.append(j + 1)
        yield pd.DataFrame(
            {"i": iu, "j": ju, "p": [acc[i - 1][j - 1] for i, j in zip(iu, ju)]}
        )

    cells = df.select(col).mapInPandas(partials, "i long, j long, p double")
    return cells.groupBy("i", "j").agg(F.sum("p").alias("gram"))


@register(
    "q_sim_recall_at_k",
    oracle=f"""
    WITH exact AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   ROUND({_dot_sql('embedding', _PROBE)} / {_NORM_SQL}, 4)
                       AS cos_sim
            FROM embeddings
            ORDER BY cos_sim DESC, vec_id LIMIT 10)
    ), ann AS (
        SELECT vec_id FROM (
            SELECT vec_id,
                   ROUND(dot_p / {_NORM_SQL}, 4) AS cos_sim
            FROM (SELECT vec_id, embedding,
                         ({_bucket_sql()}) AS bucket,
                         {_dot_sql('embedding', _PROBE)} AS dot_p
                  FROM embeddings)
            WHERE bucket = {_probe_bucket()}
            ORDER BY cos_sim DESC, vec_id LIMIT 10)
    )
    SELECT 10 AS k, CAST(COUNT(*) AS BIGINT) AS n_hits,
           ROUND(COUNT(*) / 10.0, 4) AS recall
    FROM exact WHERE vec_id IN (SELECT vec_id FROM ann)
    """,
)
def q_sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of the sign-LSH bucket search
    against the exact brute-force cosine top-10 for the fixed probe —
    the measurement loop that tunes n_planes/nProbe instead of
    guessing. Both arms are TakeOrderedAndProject top-10s over one
    scan each; the overlap is a 10-row broadcast semi-join and a
    single-row count — nothing here grows with corpus size except the
    two scans."""
    e = load_table(spark, sf_dir, "embeddings")
    cos = F.round(
        dot_const(F.col("embedding"), _PROBE) / l2_norm(F.col("embedding")), 4
    )
    exact = (
        e.select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    ann = (
        e.select(
            "vec_id",
            cos.alias("cos_sim"),
            sign_lsh_bucket(F.col("embedding"), _PLANES).alias("bucket"),
        )
        .filter(F.col("bucket") == _probe_bucket())
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return exact.join(F.broadcast(ann), "vec_id", "left_semi").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)) / 10.0, 4).alias("recall"),
    )


_SEMANTIC_THRESHOLD = 0.4


@register(
    "q_dedup_semantic",
    oracle=f"""
    WITH RECURSIVE bucketed AS (
        SELECT vec_id, embedding,
               ({_bucket_sql()}) AS bucket,
               {_NORM_SQL} AS nrm
        FROM embeddings
    ),
    sedges AS (
        SELECT a.vec_id AS u, b.vec_id AS v
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (a.nrm * b.nrm) >= {_SEMANTIC_THRESHOLD}
    ),
    undir AS (
        SELECT u, v FROM sedges UNION SELECT v AS u, u AS v FROM sedges
    ),
    reach(node, r) AS (
        SELECT u AS node, v AS r FROM undir
        UNION
        SELECT undir.u AS node, reach.r
        FROM undir JOIN reach ON undir.v = reach.node
    ),
    comp AS (
        SELECT node, MIN(r) AS m FROM reach GROUP BY node
    )
    SELECT e.vec_id,
           COALESCE(LEAST(c.m, e.vec_id), e.vec_id) AS canonical_id,
           COALESCE(LEAST(c.m, e.vec_id), e.vec_id) = e.vec_id AS keep
    FROM embeddings e LEFT JOIN comp c ON c.node = e.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-cosine) deduplication, SemDeDup-style:
    sign-LSH bucketed cosine pairs at >= 0.4 form the near-duplicate
    graph, connected components (large-star/small-star) cluster it,
    and each vector is labeled with its cluster's min vec_id as the
    canonical copy (keep = is-canonical). Completes the dedup family:
    exact -> minhash/simhash/jaccard (lexical) -> this (semantic).

    100 TB posture: candidate pairs come only from LSH buckets (never
    n²), the component loop shuffles a shrinking edge set, and the
    final label join is id-keyed. The oracle rebuilds the identical
    pair graph brute-force within buckets and closes it with a
    recursive CTE."""
    from meta_iterative_mapreduce_spark.operators.components import (
        connected_components,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # the labels read only the CC loop's last checkpoint: free the cache
    with owned():
        bucketed = _lsh_bucketed(e)
        a, b = bucketed.alias("a"), bucketed.alias("b")
        cos = dot_pair(F.col("a.embedding"), F.col("b.embedding")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
        edges = (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .filter(cos >= _SEMANTIC_THRESHOLD)
            .select(F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v"))
        )
        labels = connected_components(edges)
    return e.select("vec_id").join(
        labels, F.col("vec_id") == F.col("node"), "left"
    ).select(
        "vec_id",
        F.coalesce("component_id", "vec_id").alias("canonical_id"),
        (F.coalesce("component_id", "vec_id") == F.col("vec_id")).alias("keep"),
    )


# Deterministic 10-class linear scorer: exact binary fractions
# (x/8 with x in [-6, 6]) so Spark and DuckDB hold bit-identical
# weight doubles; scores are sequential double folds in both engines.
_N_CLASSES = 10
_CLASS_WEIGHTS = [
    [(((c * 17 + j * 7) % 13) - 6) / 8.0 for j in range(_DIM)]
    for c in range(_N_CLASSES)
]


def _score_sql(c: int) -> str:
    return _dot_sql("embedding", _CLASS_WEIGHTS[c])


@register(
    "q_embed_score_multiclass",
    oracle=f"""
    WITH scored AS (
        SELECT vec_id, label,
               [{", ".join(_score_sql(c) for c in range(_N_CLASSES))}]
                   AS scores
        FROM embeddings
    ),
    pred AS (
        SELECT label,
               CAST(list_position(scores, list_max(scores)) - 1 AS INT)
                   AS predicted,
               list_max(scores) AS best
        FROM scored
    )
    SELECT label,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN predicted = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CAST(FLOOR(best * 10000 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_best_e4
    FROM pred GROUP BY label
    """,
)
def q_embed_score_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ML INFERENCE, fully declarative — the apply side of the
    engine's model story (regression/k-means/PQ fit models; this
    SCORES one): a fixed 10-class linear model (64-dim weight rows as
    literal constants = a broadcast model; exact binary fractions so
    both engines hold identical doubles) scores every embedding with
    ten JVM-side sequential double folds, argmax picks the class
    (first-max tie rule identical in both engines), and the output is
    the per-label evaluation a training pipeline logs: support,
    correct-prediction count, and the rounded sum of winning scores.
    One scan, one 10-group aggregate, zero Python, zero shuffle
    beyond the final tiny agg — at 100 TB this is embarrassingly
    parallel model application, the plan every feature-store scoring
    job should have."""
    e = load_table(spark, sf_dir, "embeddings")
    scores = F.array(
        *[dot_const(F.col("embedding"), w) for w in _CLASS_WEIGHTS]
    )
    scored = e.select(
        "label",
        scores.alias("scores"),
    ).select(
        "label",
        (F.array_position(F.col("scores"), F.array_max("scores")) - 1)
        .cast("int")
        .alias("predicted"),
        F.array_max("scores").alias("best"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("predicted") == F.col("label"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_correct"),
        # floor-scaled e4 integers, not ROUND: Spark rounds via exact
        # BigDecimal HALF_UP, DuckDB via scaled float multiply — a
        # value within an ulp of a .00005 boundary can round
        # differently; FLOOR of an identical IEEE double cannot
        F.sum(F.floor(F.col("best") * 10000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sum_best_e4"),
    )
