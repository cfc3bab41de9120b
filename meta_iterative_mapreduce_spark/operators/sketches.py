"""Count-Min Sketch over tokens — a mergeable sketch as pure
DataFrame composition.

CMS estimates per-item frequencies in O(depth × width) memory with a
one-sided error guarantee (estimate ≥ true count, overshoot ≤ εN with
probability 1−δ). Built here entirely from built-in expressions:
token → xxhash64 → depth seeded-hash rows (explode) → (d, bucket) counts — one
hash aggregate; the sketch "table" is itself a tiny DataFrame, and
merging sketches from different corpus shards is a UNION + SUM (the
mergeability that makes sketches the scale path for heavy-hitter
queries where exact counting would shuffle the raw corpus).

xxhash64-based hashing is engine-specific, so the per-token estimate
surface cannot be SQL-recomputed — q_sketch_count_min pins structural
conservation flags in a hash oracle, q_sketch_count_min_cert pins the
per-token one-sided theorem against DuckDB's exact counts, and the
overestimate guarantee is additionally property-tested in
tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import owned, persist
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.registry import register

_DEPTH = 4
_WIDTH = 256


def _bucket(h, d: int):
    # per-row seeded hash: xxhash64(h, d) gives _DEPTH independent
    # hash functions. (An affine family a_d*h+b_d with a_d, b_d linear
    # in d makes the rows a correlated arithmetic progression — the
    # same structural bug the 1M-doc minhash smoke exposed in
    # operators/dedup.py; CMS error bounds assume independent rows.)
    return F.pmod(F.xxhash64(h, F.lit(d)), F.lit(_WIDTH))


def cms_build(tokens: DataFrame, col: str = "token") -> DataFrame:
    """(d, bucket, cnt) sketch table from a token stream — one explode
    to depth rows + one hash aggregate with map-side combine."""
    h = F.xxhash64(F.col(col))
    rows = tokens.select(
        F.posexplode(
            F.array(*[_bucket(h, d) for d in range(_DEPTH)])
        ).alias("d", "bucket")
    )
    return rows.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(sketch: DataFrame, probes: DataFrame, col: str = "token") -> DataFrame:
    """Estimated count per probe token = min over depths of the probed
    bucket's count (broadcast the tiny sketch to the probes)."""
    h = F.xxhash64(F.col(col))
    probe_rows = probes.select(
        col,
        F.posexplode(
            F.array(*[_bucket(h, d) for d in range(_DEPTH)])
        ).alias("d", "bucket"),
    )
    joined = probe_rows.join(F.broadcast(sketch), ["d", "bucket"], "left").fillna(
        0, subset=["cnt"]
    )
    return joined.groupBy(col).agg(F.min("cnt").alias("est_count"))


@register(
    "q_sketch_count_min",
    oracle="""
    SELECT COUNT(*) AS n_tokens,
           COUNT(DISTINCT token) AS n_distinct,
           TRUE AS depths_conserve_total,
           TRUE AS buckets_within_width,
           TRUE AS est_sum_ge_exact_total
    FROM (SELECT unnest(string_split(text, ' ')) AS token
          FROM documents)
    """,
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimates: build a 4×256 sketch over all corpus
    tokens, then estimate every distinct token's frequency.

    PRODUCTION plan (VERDICT r13 item 1): sketch build + estimate
    probe only — no exact per-token recount (that lives in
    q_sketch_count_min_cert). The hash oracle pins the exact token
    totals (one count / one distinct-count, both cheap) plus three
    structural flags the sketch must satisfy without any exact
    per-token arm:
    - depths_conserve_total: every depth's bucket counts sum to N
      (each token lands in exactly one bucket per depth — a lost
      map-side combine or dropped depth breaks it);
    - buckets_within_width: no depth uses more than `width` buckets;
    - est_sum_ge_exact_total: Σ_distinct est(token) ≥ N — the
      aggregated form of the one-sided CMS theorem (each estimate ≥
      its exact count, which sum to N)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    n_total = toks.count()
    # tiny (≤ depth×width rows) but consumed twice: once for the
    # conservation audit, once broadcast into the estimate join
    with owned():
        sketch = persist(cms_build(toks))
        depth_stats = (
            sketch.groupBy("d")
            .agg(
                F.sum("cnt").alias("total"),
                F.count(F.lit(1)).alias("n_buckets"),
            )
            .collect()
        )
        est_row = (
            cms_estimate(sketch, toks.distinct())
            .agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum("est_count").alias("sum_est"),
            )
            .collect()[0]
        )
    depths_ok = len(depth_stats) == _DEPTH and all(
        r["total"] == n_total for r in depth_stats
    )
    width_ok = all(r["n_buckets"] <= _WIDTH for r in depth_stats)
    return spark.createDataFrame(
        [
            (
                n_total,
                int(est_row["n_distinct"]),
                bool(depths_ok),
                bool(width_ok),
                bool(est_row["sum_est"] >= n_total),
            )
        ],
        "n_tokens bigint, n_distinct bigint, "
        "depths_conserve_total boolean, buckets_within_width boolean, "
        "est_sum_ge_exact_total boolean",
    )


@register(
    "q_sketch_count_min_cert",
    oracle="""
    SELECT token,
           COUNT(*) AS n_exact,
           TRUE AS cms_ge_exact,
           TRUE AS cms_within_eps_n
    FROM (SELECT unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token ORDER BY token
    """,
)
def q_sketch_count_min_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certification twin of q_sketch_count_min (VERDICT r13 item 1:
    the exact per-token recount is its own registered query so the
    benched production plan stays sketch-only). DuckDB recomputes
    every token's EXACT count, and the query pins two flags per
    token — `cms_ge_exact`, the one-sided CMS THEOREM (a count-min
    estimate can only overcount: every depth's bucket contains the
    token's own occurrences), and `cms_within_eps_n`, the standard
    ε = e/width error bound (estimate ≤ exact + εN; deterministic
    here because the hashes are seeded xxhash64 — measured
    overestimate on the fixtures is 0 at all SFs, so the bound
    carries the full εN ≈ 0.011·N margin). A broken bucket hash, a
    dropped depth, or a lost map-side combine flips a flag and fails
    the hash."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    n_total = toks.count()
    eps_n = (2.718281828459045 / _WIDTH) * n_total
    sketch = cms_build(toks)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    est = cms_estimate(sketch, toks.distinct())
    return (
        exact.join(est, "token")
        .select(
            "token",
            "n_exact",
            (F.col("est_count") >= F.col("n_exact")).alias(
                "cms_ge_exact"
            ),
            (
                F.col("est_count") <= F.col("n_exact") + F.lit(eps_n)
            ).alias("cms_within_eps_n"),
        )
        .orderBy("token")
    )


@register(
    "q_sketch_hll",
    oracle="""
    SELECT event_type AS scope,
           COUNT(DISTINCT user_id) AS n_exact, TRUE AS est_ok
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL' AS scope,
           COUNT(DISTINCT user_id) AS n_exact, TRUE AS est_ok
    FROM events
    """,
)
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count sketches (Apache DataSketches via
    hll_sketch_agg): per-event-type user sketches, plus a global 'ALL'
    row whose sketch is hll_union_agg over the per-type PARTIALS — the
    merge path that lets 1000 executors (or 1000 daily partitions)
    combine distinct counts without rescanning, which exact
    countDistinct cannot do.

    Oracle-checkable despite the engine-specific sketch: the query
    outputs the EXACT distinct count plus an `est_ok` flag asserting
    the HLL estimate lands within 10% of it (lgConfigK=14 gives ~0.8%
    RSE, so the bound is >12 sigma — insensitive to fixture
    regeneration, not just to the current draw). HLL state depends
    only on the SET
    of hashed values — order- and partitioning-independent — so the
    flag is deterministic; the oracle computes the same exact counts
    and TRUE. A silent sketch regression flips est_ok and fails the
    hash gate."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    est_ok = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
        / F.col("n_exact")
        <= 0.10
    )
    per_out = per.select(
        F.col("event_type").alias("scope"), "n_exact", est_ok.alias("est_ok")
    )
    glob = per.agg(F.hll_union_agg("sk").alias("sk")).crossJoin(
        F.broadcast(ev.agg(F.countDistinct("user_id").alias("n_exact")))
    )
    glob_out = glob.select(
        F.lit("ALL").alias("scope"), "n_exact", est_ok.alias("est_ok")
    )
    return per_out.unionAll(glob_out)


# Fold of the KLL partials in array column `sks` into one sketch.
# kll_sketch_merge is binary, so the global sketch is an aggregate over
# the partial list; an empty list (empty input) gives a NULL sketch
# instead of failing on sks[0].
KLL_FOLD_SQL = (
    "CASE WHEN size(sks) > 0 THEN aggregate(slice(sks, 2, size(sks) - 1),"
    " sks[0], (a, x) -> kll_sketch_merge_double(a, x)) END"
)


def kll_rank_counts(v: F.Column) -> list[F.Column]:
    """Counts of values <, <= the sketch estimates e50 and e99 — 0, not
    NULL, over zero rows, so empty inputs certify TRUE."""
    return [
        F.coalesce(F.sum(F.when(cmp, 1).otherwise(0)), F.lit(0)).alias(name)
        for name, cmp in (
            ("lt50", v < F.col("e50")),
            ("le50", v <= F.col("e50")),
            ("lt99", v < F.col("e99")),
            ("le99", v <= F.col("e99")),
        )
    ]


def kll_rank_flags(n: str) -> list[F.Column]:
    """median_ok / p99_ok from kll_rank_counts against `n` rows: the
    median estimate's rank lies in [0.40n, 0.60n], the p99 estimate's
    rank is >= 0.97n and it is <= the maximum (vacuously TRUE at n=0)."""
    return [
        (
            (F.col("le50") * 5 >= F.col(n) * 2)
            & (F.col("lt50") * 5 <= F.col(n) * 3)
        ).alias("median_ok"),
        (
            (F.col("le99") * 100 >= F.col(n) * 97)
            & ((F.col("lt99") < F.col(n)) | (F.col(n) == 0))
        ).alias("p99_ok"),
    ]


@register(
    "q_sketch_kll",
    oracle="""
    SELECT 'ALL' AS scope, COUNT(*) AS n_rows,
           TRUE AS median_ok, TRUE AS p99_ok
    FROM lineitem
    """,
)
def q_sketch_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile sketches (Apache DataSketches): per-
    returnflag partials over l_extendedprice merged into one global
    sketch — the quantile analog of q_sketch_hll's union path, and the
    scale alternative to exact percentile (global sort) and
    percentile_approx (GK, merge degrades): KLL partials merge with
    bounded rank error, so 1000 executors' sketches combine without
    rescan.

    Oracle pattern as q_sketch_hll: emit exact row count plus flags
    asserting the sketch's median lands inside the exact rank window
    (0.40n, 0.60n) and its p99 at rank >= 0.97n and <= max — >=10x
    the sketch's ~1% rank error, so the flags are deterministically
    TRUE unless the sketch path regresses; the oracle emits the same
    exact count and TRUE.

    Bound pass shape (optimization r15, VERDICT r14 item 5): the old
    exact `percentile(array(0.40, 0.60, 0.97))` aggregate buffered and
    sorted EVERY value per partition (an ObjectHashAggregate holding
    the whole column — the query's dominant cost and a memory hazard
    at scale, guide §5). The same claims are now verified by COUNTING
    at the sketch's own estimates: broadcast the 1-row
    (est50, est99) to a second streaming aggregate that counts values
    <, <= each cut, then check the counts against exact integer rank
    bounds (le50·5 >= 2n ∧ lt50·5 <= 3n; le99·100 >= 97n ∧ lt99 < n,
    the last being est99 <= max). No sort, no value buffer, map-side
    partials, one job."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    per = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    # kll_sketch_merge_double is a BINARY merge (sketch × sketch), so
    # the global sketch is a fold over the per-group partials — the
    # partial list is group-count-sized (3 flags), never data-sized.
    glob = per.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(KLL_FOLD_SQL).alias("sk")
    )
    ests = glob.select(
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("e50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("e99"),
    )
    p = F.col("l_extendedprice")
    counts = li.crossJoin(F.broadcast(ests)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *kll_rank_counts(p),
    )
    return counts.select(
        F.lit("ALL").alias("scope"), "n_rows", *kll_rank_flags("n_rows")
    )


@register(
    "q_sketch_hll_intersect",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           (SELECT COUNT(*) FROM c JOIN p USING (user_id)) AS n_both,
           TRUE AS est_ok
    """,
)
def q_sketch_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection estimation from mergeable HLL sketches via
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    union estimate comes from hll_union of the two partials — no
    rescan, which is what distinct-set algebra across 1000 daily
    partitions needs (exact intersection requires a join of both full
    key sets). Oracle pattern as q_sketch_hll: exact counts plus an
    est_ok flag asserting the intersection estimate lands within 15%
    of exact (lgConfigK=14 keeps per-term RSE ~0.8%; inclusion-
    exclusion amplifies by (|A|+|B|)/|A∩B|, still far inside 15% on
    user-overlap-shaped sets); a regression in the sketch/union path
    flips the flag and fails the hash gate."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    a = clicks.agg(
        F.hll_sketch_agg("user_id", 14).alias("sk_a"),
        F.countDistinct("user_id").alias("n_click"),
    )
    b = purch.agg(
        F.hll_sketch_agg("user_id", 14).alias("sk_b"),
        F.countDistinct("user_id").alias("n_purchase"),
    )
    n_both = (
        clicks.distinct()
        .join(purch.distinct(), "user_id")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    est = (
        F.hll_sketch_estimate("sk_a")
        + F.hll_sketch_estimate("sk_b")
        - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(n_both))
        .select(
            "n_click",
            "n_purchase",
            "n_both",
            # zero-overlap guard (regenerated fixture): dividing by
            # n_both=0 would NULL the flag; bound the absolute error by
            # 5% of the summed set sizes instead (inclusion-exclusion
            # noise is per-term RSE-scaled, far inside that)
            F.when(
                F.col("n_both") == 0,
                F.abs(est) <= 0.05 * (F.col("n_click") + F.col("n_purchase")),
            )
            .otherwise(
                F.abs(est - F.col("n_both")) / F.col("n_both") <= 0.15
            )
            .alias("est_ok"),
        )
    )
