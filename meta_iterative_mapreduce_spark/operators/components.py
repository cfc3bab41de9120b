"""Connected components over the near-dup pair graph — the last stage
of a production dedup pipeline (pairs → components → keep one canonical
doc per component).

Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond"), the standard
shuffle-frugal CC for massive graphs: each round touches every edge
once (two groupBy-min shuffles), converges in O(log² n) rounds without
the long-chain blowup of naive label propagation, and never
materializes anything bigger than the (shrinking) edge set. This is
the engine's third iterative workload in the reference's loop shape
(kernel.cu:135-217: distributed phase per round + tiny driver-side
convergence scalar), alongside the meta-averaged regression and
k-means.

Per-round lineage is truncated with localCheckpoint — an iterative
DataFrame loop otherwise grows an unbounded plan tree — and each
superseded round's checkpoint is released as soon as the next exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark.cache import owned, persist, release
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators.dedup import (
    _JACCARD_PAIRS_CTE,
    jaccard_pairs,
)
from meta_iterative_mapreduce_spark.registry import register

# Edge threshold for the component graph: near-dup pairs with raw
# jaccard >= this are edges. The raw (unrounded) value is one IEEE
# division of exact integers — engine-deterministic, so Spark and the
# DuckDB oracle threshold identically.
_COMPONENT_JACCARD_THRESHOLD = 0.4

# Seconds connected_components waits for a round's observed signature
# before treating it as unknown (and proving the fixpoint exactly).
_SIGNATURE_WAIT_S = 60.0


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: for every node u, connect every LARGER
    neighbor v > u to m = min(Γ(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; for every node u,
    connect its smaller neighbors N(u) and u itself to m = min(N(u))."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # m < u
    members = oriented.select("u", "v").union(
        oriented.select("u", F.col("u").alias("v")).distinct()
    )
    return (
        members.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iter: int = 25, on_round=None
) -> DataFrame:
    """(node, component_id) for every node incident to an edge, where
    component_id = min node id in the connected component.

    `edges` must have two numeric columns (u, v); self-loops are
    ignored. Iterates large-star/small-star to fixpoint (edge set
    stable). Each round shuffles only the current edge set — which
    shrinks toward one star edge per non-root node — and the cheap
    per-round fixpoint test is a one-pass (count, xor-hash) signature;
    the exact subtract runs only when the signature matches, or when a
    signature was not posted within `_SIGNATURE_WAIT_S` (then both ways).

    `on_round(round_idx, n_edges, seconds)` is an optional profiling
    hook (tools/cc_profile.py) — instrumentation shares THIS loop
    instead of forking a copy that could drift. `n_edges` is None for
    a round whose signature is unknown.
    """
    import time as _time

    from pyspark.sql import Observation

    def _ckpt_with_sig(df: DataFrame) -> tuple[DataFrame, tuple[int, int] | None]:
        """Eagerly checkpoint the edge set and return its one-pass
        (count, xxhash64 xor-fold) signature, collected via observe()
        DURING the checkpoint job — no separate signature job per
        round (optimization r14; was one extra agg job per round). A
        differing signature PROVES non-convergence without the O(E)
        anti-join the exact test costs; only a matching signature
        escalates to the exact subtract (once, at the true fixpoint).
        The r7 50M-edge profile showed why the sig (not the count)
        gates the subtract: the edge COUNT goes flat after round 1
        while the content keeps changing for ~log(diameter) more
        rounds. XOR fold, not SUM: overflow-free under ANSI mode and
        order-independent; the edge set is distinct so nothing
        self-cancels. The signature is None (unknown) when it is not
        posted in time."""
        obs = Observation()
        d = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).localCheckpoint(eager=True)
        # obs.get blocks until the QueryExecutionListener posts the
        # checkpoint job's metrics; on a runtime where the checkpoint
        # action never fires the listener (e.g. Spark Connect), or a
        # driver too slow to post it, that wait would hang the CC loop.
        # Fetch on a daemon thread with a deadline; a miss leaves the
        # round's signature unknown and the loop proves its fixpoint
        # with the exact two-way set test instead.
        import threading

        holder: dict = {}

        def _fetch() -> None:
            try:
                holder["m"] = obs.get
            except BaseException as exc:  # noqa: BLE001 — re-raised below
                holder["err"] = exc

        t = threading.Thread(target=_fetch, daemon=True)
        t.start()
        t.join(_SIGNATURE_WAIT_S)
        if "err" in holder:
            raise holder["err"]  # the REAL failure, not a fake timeout
        if "m" not in holder:
            # the daemon fetch thread stays parked in obs.get
            return d, None
        m = holder["m"]
        return d, (m["n"] or 0, m["h"] or 0)

    e, prev_sig = _ckpt_with_sig(
        edges.select(F.col(edges.columns[0]).alias("u"), F.col(edges.columns[1]).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    for i in range(max_iter):
        if prev_sig is not None and prev_sig[0] == 0:
            break
        t0 = _time.time()
        e_new, new_sig = _ckpt_with_sig(_small_star(_large_star(e)))
        if new_sig is None or prev_sig is None:
            # a signature is unknown: set equality, both ways
            converged = e_new.subtract(e).isEmpty() and e.subtract(e_new).isEmpty()
        else:
            # signature match is necessary but not sufficient (xor-hash
            # collisions exist in principle), so the fixpoint is always
            # CONFIRMED by the exact set test — which runs only when the
            # signature says it can possibly pass (equal counts, so one
            # direction proves equality).
            converged = new_sig == prev_sig and e_new.subtract(e).isEmpty()
        if on_round is not None:
            n_edges = None if new_sig is None else new_sig[0]
            on_round(i + 1, n_edges, round(_time.time() - t0, 1))
        release(e)
        e, prev_sig = e_new, new_sig
        if converged:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # stars point members at roots (the root itself never appears on
    # the member side, so add root→root rows); groupBy-min is
    # belt-and-braces
    members = e.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component_id")
    )
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component_id"))
    )
    return members.unionByName(roots).groupBy("node").agg(
        F.min("component_id").alias("component_id")
    )


# Reusable oracle text: recursive closure over the thresholded pair
# graph, ending with comp(doc_id, m) = per-node min reachable id.
# Compose as: WITH RECURSIVE {_JACCARD_PAIRS_CTE}, {_COMPONENTS_CTE} ...
_COMPONENTS_CTE = f"""
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM jpairs
        WHERE j >= {_COMPONENT_JACCARD_THRESHOLD}
    ),
    undir AS (
        SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
    ),
    reach(node, r) AS (
        SELECT u AS node, v AS r FROM undir
        UNION
        SELECT undir.u AS node, reach.r
        FROM undir JOIN reach ON undir.v = reach.node
    ),
    comp AS (
        SELECT node AS doc_id, MIN(r) AS m FROM reach GROUP BY node
    )
"""


@register(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE}, {_COMPONENTS_CTE}
    SELECT d.doc_id,
           COALESCE(LEAST(c.m, d.doc_id), d.doc_id) AS component_id,
           COALESCE(LEAST(c.m, d.doc_id), d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters + canonical-doc pick: connected components
    (large-star/small-star to fixpoint) over the blocked-Jaccard pair
    graph at jaccard >= 0.4, every document labeled with its
    component's min doc_id, keep = "this is the canonical copy".
    The oracle is the same closure as a DuckDB recursive CTE."""
    # the labels read only the CC loop's last checkpoint: free the cache
    with owned():
        edges = jaccard_pairs(spark, sf_dir).where(
            F.col("jaccard") >= _COMPONENT_JACCARD_THRESHOLD
        ).select("doc_a", "doc_b")
        labels = connected_components(edges)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.join(labels, d.doc_id == labels.node, "left").select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
        (F.coalesce("component_id", "doc_id") == F.col("doc_id")).alias("keep"),
    )


@register(
    "q_graph_degree",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
        SELECT p, COUNT(*) AS degree
        FROM (SELECT pa AS p FROM edges
              UNION ALL SELECT pb AS p FROM edges)
        GROUP BY p
    )
    SELECT degree, COUNT(*) AS n_parts FROM deg GROUP BY degree
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph (parts are
    adjacent iff they appear in the same order). The pair generation
    is a same-key self-join on l_orderkey — bounded fanout (an order
    has at most a handful of lines, so <=C(13,2) pairs per key), never
    a global cross product; the distinct-edge aggregate is the only
    data-proportional shuffle, and the two degree/histogram aggregates
    collapse monotonically. All-integer output: no float hygiene
    needed.

    Both edge endpoints are emitted by ONE explode over the
    deduplicated edge set — NOT unionAll(edges.pa, edges.pb), which
    references the edges subtree twice and makes Spark recompute the
    whole scan→distinct→join→distinct pipeline per branch (the r6
    BENCH flagged exactly that shape drifting 1.7x with cache state:
    double-computed subtrees are twice as exposed to page-cache and
    scheduler noise, and at 100 TB the second compute is a real
    rescan).

    Tried and REJECTED in optimization r15 (measured): building the
    edges via the shared copurchase_edges combination-explode (halves
    the real exchange count to 3 and makes degree a row count per u).
    The bench showed 2.0 → 3.1 s with clean system evidence — at this
    scale the per-order collect_set ObjectHashAggregate plus the 2×
    symmetric explode cost more than the extra broadcast-sized
    exchanges they remove; the iterative consumers (pagerank, bfs,
    link_predict) keep the shared build because they amortize it over
    per-iteration co-partitioned joins, which degree has none of."""
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
    )
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))


# Shared oracle text: the part co-purchase graph (parts adjacent iff
# they ever appear in the same order), symmetrized, with out-degrees.
_COPURCHASE_GRAPH_CTE = """
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg)
"""

_PR_ITER_SQL = """
    pr{next} AS (
        SELECT e.v AS u,
               0.15 / (SELECT n FROM nn) + 0.85 * SUM(p.pr / d.d) AS pr
        FROM edges e JOIN pr{cur} p ON p.u = e.u JOIN deg d ON d.u = e.u
        GROUP BY e.v
    )"""


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (u, v) edge set of the part co-purchase graph.

    Pairs are generated by grouping each order's part set and emitting
    its C(k, 2) combinations INLINE with higher-order functions — one
    hash agg on l_orderkey plus the pair-distinct, versus the naive
    items-self-join's three shuffles and a join (sf0.1 bench:
    triangles 7.1 s -> 5.3 s; degree/pagerank within run-to-run
    noise — the win is the removed join + shuffle, which is what
    matters at 100 TB). Per-order fanout is
    C(#lines, 2) either way — bounded by order size, never global —
    and the collect_set array is one order's parts, small by the same
    bound (a hub "order" at 100 TB would need the join form plus
    salting; order-shaped keys don't hub).

    Dedup + partitioning (optimization r15, VERDICT r14 item 6): both
    orientations are emitted INLINE from the sorted set and the edge
    table is deduplicated under ONE exchange keyed by u —
    repartition("u") followed by dropDuplicates([u, v]), whose
    aggregate reuses the u-partitioning (hash partitioning on a
    subset of the grouping keys satisfies the clustered-distribution
    requirement). The old shape paid a (u, v)-keyed distinct exchange
    AND a second repartition("u") in every iterative consumer; now the
    returned edges are ALREADY hash-partitioned by u, so pagerank/bfs
    persist them as-is and the per-iteration joins are co-partitioned
    for free, and link_predict's groupBy("u") neighbor aggregate needs
    no exchange at all. (Within-order combinations are unique, so the
    old distinct's map-side partial dedup bought almost nothing — the
    cross-order duplicates it caught still need the exchange either
    way.)"""
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .filter(F.size("ps") >= 2)
    )
    sym = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "flatten(transform(slice(ps, i + 2, size(ps) - i - 1), "
                "y -> array(struct(x AS u, y AS v), "
                "struct(y AS u, x AS v))))))"
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return sym.repartition("u").dropDuplicates(["u", "v"])


def pagerank(edges_sym: DataFrame, n_iter: int = 3, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank over a symmetric edge list — the
    engine's fourth workload in the reference's iterative map-reduce
    shape (kernel.cu:135-217: per-round distributed pass + tiny global
    state), after meta-averaged regression, k-means, and connected
    components. With a FIXED iteration count the whole computation is
    one declarative unrolled plan Catalyst can see end-to-end (and the
    DuckDB oracle can express as chained CTEs); an open-ended
    convergence loop would instead localCheckpoint per round like
    connected_components. Per iteration: ranks (node-sized) join deg
    on u, join edges on u, one contribution shuffle on v — edge-linear
    work, no N² anywhere. `edges_sym` and its degree table are
    persisted in the caller's `owned()` block: each feeds every
    iteration, and Catalyst would otherwise re-inline the distinct
    self-join n_iter times.

    Returns (ranks, n): ranks is (u, pr) with SUM(pr) = 1 over nodes
    incident to an edge; n is the node count (an O(1) driver scalar —
    the same exact integer both engines derive, mirroring the rank-0
    convergence scalars of the reference loop).
    """
    # the cached edge table must be hash-partitioned by the join key
    # ONCE so the unrolled iterations stop re-exchanging the (large)
    # edge side — partition-once-iterate-co-partitioned, guide §2.4
    # (measured 12.5 → 4.8 s at sf0.1 in r14). copurchase_edges now
    # RETURNS u-partitioned edges (its dedup rides the same exchange),
    # so no repartition here: a caller passing unpartitioned edges
    # still gets correct results, just per-iteration exchanges.
    edges_sym = persist(edges_sym)
    deg = persist(edges_sym.groupBy("u").agg(F.count(F.lit(1)).alias("d")))
    n = deg.count()
    ranks = deg.select("u", F.lit(1.0 / n).alias("pr"))
    for _ in range(n_iter):
        contribs = (
            ranks.join(deg, "u")
            .join(edges_sym, "u")
            .select(F.col("v").alias("u"), (F.col("pr") / F.col("d")).alias("c"))
        )
        ranks = contribs.groupBy("u").agg(
            (F.lit(0.15) / n + F.lit(damping) * F.sum("c")).alias("pr")
        )
    return ranks, n


@register(
    "q_graph_pagerank",
    oracle=f"""
    WITH {_COPURCHASE_GRAPH_CTE},
    pr0 AS (SELECT u, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
    {_PR_ITER_SQL.format(next=1, cur=0)},
    {_PR_ITER_SQL.format(next=2, cur=1)},
    {_PR_ITER_SQL.format(next=3, cur=2)}
    SELECT u AS part,
           ROUND(pr * (SELECT n FROM nn), 4) AS pr_scaled
    FROM pr3
    """,
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the part co-purchase
    graph; scores are scaled by N (mean 1.0) before ROUND so the
    4-decimal hygiene keeps real signal — raw pr ~ 1/N would round to
    zero. The symmetric graph has no dangling nodes by construction,
    so the (1-d)/N teleport plus in-neighbor sum is the complete
    update. Oracle: the identical three iterations as chained CTEs."""
    with owned():
        ranks, n = pagerank(copurchase_edges(spark, sf_dir), n_iter=3)
        return ranks.select(
            F.col("u").alias("part"),
            F.round(F.col("pr") * n, 4).alias("pr_scaled"),
        ).localCheckpoint(eager=True)


# ~5M (s, t) long pairs ≈ 80 MB hashed — comfortably broadcastable on
# any executor profile; beyond this the shuffle closure plan takes over.
_BCAST_EDGE_LIMIT = 5_000_000


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH {_COPURCHASE_GRAPH_CTE},
    oriented AS MATERIALIZED (
        SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN p.u ELSE p.v END AS s,
               CASE WHEN du.d < dv.d OR (du.d = dv.d AND p.u < p.v)
                    THEN p.v ELSE p.u END AS t
        FROM pairs p
        JOIN deg du ON du.u = p.u
        JOIN deg dv ON dv.u = p.v
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e2.s = e1.t
        JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
    ),
    wedges AS (
        SELECT CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges FROM deg
    )
    SELECT n_triangles, n_wedges,
           ROUND(3.0 * n_triangles / n_wedges, 4) AS clustering_coeff
    FROM tri, wedges
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph, with DEGREE-ORIENTED edges: each undirected
    edge points from its lower-(degree, id) endpoint to the higher
    one, so every directed out-neighborhood has O(sqrt(|E|)) size and
    the wedge join never explodes on a hub node — the classic
    MapReduce triangle-counting fix, vs the naive u<v orientation
    whose highest-degree node produces a quadratic wedge set. Each
    triangle has exactly one vertex with two out-edges under this
    acyclic orientation, so COUNT is exact with no deduplication.
    `oriented` is checkpointed because it feeds both the adjacency
    aggregate and the edge-stream probe (Catalyst would re-inline the
    orientation pipeline per leg); the count then reads only that
    checkpoint, so the edge cache is released before return.

    EDGE-ITERATOR closure (r14): each oriented edge (s, t) contributes
    |N⁺(s) ∩ N⁺(t)| triangles, so the count is one join of the EDGE
    stream (|E| rows) against the sorted out-adjacency arrays on each
    endpoint plus an array_intersect — the wedge stream (Σ d_out²
    rows, 49M at sf0.1 vs 1.2M edges) is never materialized or
    joined. Intersect work totals Σ(d_out(s)+d_out(t)) = O(E^1.5),
    the same bound as the classic wedge shuffle, but it streams
    inside one stage. Below _BCAST_EDGE_LIMIT edges the adjacency
    table is broadcast (O(E) longs) and the closure is shuffle-free;
    past it the same joins run as shuffles — still the correct
    MapReduce triangle shape at 100 TB."""
    with owned():
        pairs = persist(
            copurchase_edges(spark, sf_dir).filter(F.col("u") < F.col("v"))
        )
        return triangle_stats(pairs)


def triangle_stats(pairs: DataFrame, force_shuffle: bool = False) -> DataFrame:
    """Degree-oriented triangle count over a persisted (u, v) u<v edge
    DataFrame — the core of q_graph_triangles, reusable on any edge
    set (tools/scale_smoke.py drives the >=5M-edge shuffle fallback
    against a planted-triangle graph). force_shuffle pins the
    wedge-shuffle plan even under the broadcast threshold."""
    deg = (
        pairs.select(F.col("u").alias("x"))
        .unionAll(pairs.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        pairs.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # materialize `oriented` DETERMINISTICALLY before the join legs
    # fan out: otherwise the broadcast builds and the probe leg race to
    # compute it concurrently across all cores — sometimes 3x the
    # orientation work, and the reason q_graph_triangles topped
    # BENCH_DELTA's noise list three rounds running (3.9→7.2→5.8 s on
    # unchanged code; VERDICT r8 item 7)
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=True)
    n_wedges = (
        deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).alias("w2"))
        .collect()[0]["w2"]
        // 2
    )
    n_edges = pairs.count()  # cached — no recompute
    # EDGE-ITERATOR closure (optimization r14, guide §2.3/§2.4):
    # each oriented edge (s, t) contributes |N⁺(s) ∩ N⁺(t)| triangles,
    # so the count is one join of the EDGE stream (|E| rows) against
    # the out-adjacency table on each endpoint plus an array_intersect
    # — the wedge stream (Σ d_out² rows, 49M at sf0.1 vs 1.2M edges)
    # is never materialized or joined. Same acyclic-orientation
    # argument: adjacency arrays are O(√|E|) long, intersect work
    # totals Σ(d_out(s)+d_out(t)) = O(E^1.5), identical to the wedge
    # bound, but it streams inside one stage (measured 5.1 s → 2.6 s
    # at sf0.1; count bit-identical). Below the edge limit the
    # adjacency table is broadcast (O(E) longs); past it the same
    # joins run as shuffles — still the 100 TB MapReduce shape.
    adj = oriented.groupBy("s").agg(
        F.sort_array(F.collect_list("t")).alias("nbrs")
    )
    a_u = adj.withColumnRenamed("s", "u_key")
    a_v = adj.withColumnRenamed("s", "v_key").withColumnRenamed(
        "nbrs", "nbrs_v"
    )
    if n_edges <= _BCAST_EDGE_LIMIT and not force_shuffle:
        a_u, a_v = F.broadcast(a_u), F.broadcast(a_v)
    tri = (
        oriented.join(a_u, F.col("s") == F.col("u_key"))
        .join(a_v, F.col("t") == F.col("v_key"))
        .select(F.size(F.array_intersect("nbrs", "nbrs_v")).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles"))
    )
    return tri.select(
        "n_triangles",
        F.lit(n_wedges).cast("long").alias("n_wedges"),
        F.round(3.0 * F.col("n_triangles") / F.lit(float(n_wedges)), 4).alias(
            "clustering_coeff"
        ),
    )


_BFS_MAX_HOPS = 4


@register(
    "q_graph_bfs",
    oracle=f"""
    WITH RECURSIVE {_COPURCHASE_GRAPH_CTE},
    src AS (SELECT MIN(u) AS s FROM edges),
    walk(node, d) AS (
        SELECT s AS node, 0 AS d FROM src
        UNION
        SELECT e.v AS node, w.d + 1 AS d
        FROM walk w JOIN edges e ON e.u = w.node
        WHERE w.d < {_BFS_MAX_HOPS}
    ),
    dist AS (SELECT node, MIN(d) AS hops FROM walk GROUP BY node)
    SELECT hops, COUNT(*) AS n_nodes FROM dist GROUP BY hops
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS / shortest-hop distances from a deterministic source
    (the min part id) over the co-purchase graph: {max_hops} unrolled
    frontier-expansion rounds, each `frontier ⋈ edges → min-distance
    aggregate` — the reference's iterative map-reduce loop shape
    (kernel.cu:135-217) applied to graph traversal, declarative and
    cache-reusing like q_graph_pagerank. Output is the hop histogram
    (hops → node count), all-integer. The oracle runs the identical
    bounded walk as a recursive CTE.

    At 100 TB each round shuffles only the frontier (≤ reachable
    nodes), and the per-round min-agg partial-combines map-side — no
    path enumeration, no hub blowup."""
    # partitioned by the per-round join key before caching — same
    # partition-once-iterate-co-partitioned move as pagerank (5.2 →
    # 3.0 s warm at sf0.1; saves max_hops-1 edge shuffles at scale).
    # copurchase_edges already returns u-partitioned edges, so the
    # explicit repartition (one extra exchange of the full symmetric
    # edge set) is gone (optimization r15). The histogram reads only
    # the last round's checkpoint, so the edge cache is released here.
    with owned():
        edges = persist(copurchase_edges(spark, sf_dir))
        return bfs_hop_histogram(edges, _BFS_MAX_HOPS)


def bfs_hop_histogram(edges_sym: DataFrame, max_hops: int) -> DataFrame:
    """Bounded-BFS hop histogram from the min node of a symmetric
    (u, v) edge list — the reusable frontier loop behind q_graph_bfs
    (see its docstring for the 100 TB argument)."""
    src = edges_sym.agg(F.min("u").alias("s"))
    dist = src.select(F.col("s").alias("node"), F.lit(0).alias("d"))
    for _ in range(max_hops):
        nxt = (
            dist.join(edges_sym, dist.node == edges_sym.u)
            .select(F.col("v").alias("node"), (F.col("d") + 1).alias("d"))
        )
        # localCheckpoint per round (as in connected_components): the
        # distance table is ≤ |V| rows, and cutting lineage keeps round
        # k from replanning rounds 1..k-1's joins (10.6 s → ~3 s at
        # sf0.1 for the 4-round unroll); the superseded round is freed
        new = (
            dist.unionAll(nxt)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        release(dist)
        dist = new
    return (
        dist.groupBy(F.col("d").alias("hops"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# Link-prediction wedge cap: common-neighbor counting fans out
# C(deg(w), 2) per wedge center w, so hub centers (popular parts) are
# excluded the same way the inverted index df-caps stopword tokens —
# a center shared by >64 parts carries negligible similarity signal
# and would alone emit up to 64² candidate rows. Degrees for the
# Jaccard denominator still come from the FULL graph.
_LINKPRED_CENTER_CAP = 64


@register(
    "q_graph_link_predict",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    ok AS (SELECT u FROM deg WHERE d <= {_LINKPRED_CENTER_CAP}),
    wedge AS (
        SELECT a.v AS x, b.v AS y, COUNT(*) AS n_common
        FROM edges a JOIN edges b ON a.u = b.u AND a.v < b.v
        JOIN ok o ON o.u = a.u
        GROUP BY a.v, b.v HAVING COUNT(*) >= 2
    )
    SELECT w.x AS u, w.y AS v, w.n_common,
           w.n_common * 10000 // (du.d + dv.d - w.n_common) AS jaccard_bp
    FROM wedge w
    JOIN deg du ON du.u = w.x
    JOIN deg dv ON dv.u = w.y
    WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.u = w.x AND p.v = w.y)
    """,
)
def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph: for every
    NON-adjacent part pair sharing >= 2 neighbors (through non-hub
    wedge centers), emit the common-neighbor count and the
    neighborhood Jaccard in integer basis points —
    (c * 10000) div (|N(u)| + |N(v)| - c), pure integer math, zero
    float discretion. Plan shape: wedge self-join on the center
    (bounded C(cap,2) fan-out per center), one (x,y) count aggregate,
    two degree broadcasts, one anti-join against the edge set. At
    100 TB this is the standard people-you-may-know MapReduce shape;
    the center cap is what keeps it from exploding on hubs, exactly
    like the triangle counter's degree orientation."""
    return link_predict_pairs(copurchase_edges(spark, sf_dir))


def link_predict_pairs(
    edges: DataFrame, center_cap: int = _LINKPRED_CENTER_CAP
) -> DataFrame:
    """Common-neighbor Jaccard link prediction over a symmetric (u, v)
    edge list — see q_graph_link_predict. Returns non-adjacent pairs
    with >= 2 common neighbors through centers of degree <= center_cap,
    scored in integer basis points."""
    # edges feeds the neighbor aggregate AND the adjacency anti-join;
    # unpersisted, the whole upstream pair pipeline recomputes per leg
    # (same rationale as q_graph_triangles' persisted `pairs`).
    # Wedges through each non-hub center are emitted INLINE from the
    # center's sorted neighbor array (C(d, 2) combinations via
    # higher-order functions) instead of the edge-table self-join on u
    # — the same one-groupBy-plus-explode shape copurchase_edges uses
    # for pair generation (optimization r14, guide §2.4: the self-join
    # shuffled the capped edge list twice and joined; this shuffles it
    # once into the center groupBy). Fan-out per center is the same
    # C(d ≤ cap, 2) either way, and the degree table now falls out of
    # the SAME neighbor aggregate (size(vs)) instead of its own
    # count shuffle.
    with owned():
        edges = persist(edges)
        nbrs = persist(
            edges.groupBy("u").agg(F.sort_array(F.collect_list("v")).alias("vs"))
        )
        deg = nbrs.select("u", F.size("vs").alias("d"))
        per_center = nbrs.filter(F.size("vs") <= center_cap)
        wedge = (
            per_center.select(
                F.explode(
                    F.expr(
                        "flatten(transform(vs, (x, i) -> "
                        "transform(slice(vs, i + 2, size(vs) - i - 1), "
                        "y -> struct(x AS x, y AS y))))"
                    )
                ).alias("w")
            )
            .groupBy("w.x", "w.y")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .filter(F.col("n_common") >= 2)
        )
        # drop already-adjacent pairs (edges is symmetric; (x, y) has x < y)
        adj = edges.select(F.col("u").alias("x"), F.col("v").alias("y"))
        cand = wedge.join(adj, ["x", "y"], "left_anti")
        du = deg.select(F.col("u").alias("x"), F.col("d").alias("dx"))
        dv = deg.select(F.col("u").alias("y"), F.col("d").alias("dy"))
        return (
            cand.join(du, "x")
            .join(dv, "y")
            .select(
                F.col("x").alias("u"),
                F.col("y").alias("v"),
                "n_common",
                F.expr("n_common * 10000 div (dx + dy - n_common)").alias("jaccard_bp"),
            )
            .localCheckpoint(eager=True)
        )
