"""Physical-plan assertions — the scale-posture gate.

Correctness says the DataFrame returns the right rows; these tests pin
the *plan*: filters and projections reach the parquet scan, small dims
broadcast, global top-k avoids a total sort, and relational hot paths
contain no Python evaluation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from meta_iterative_mapreduce_spark import registry
from meta_iterative_mapreduce_spark.io import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_projection_and_filter_pushdown(spark, sf_dir):
    q = registry.queries()["q_scan_projection_pushdown"]
    plan = _plan(q(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the scan schema should carry only the 3 needed cols
    assert "l_extendedprice" not in plan


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(registry.queries()["q_join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_hinted_join_strategies(spark, sf_dir):
    assert "ShuffledHashJoin" in _plan(
        registry.queries()["q_join_shuffle_hash"](spark, sf_dir)
    )
    assert "SortMergeJoin" in _plan(
        registry.queries()["q_join_sort_merge"](spark, sf_dir)
    )


def test_sort_limit_is_top_k_not_global_sort(spark, sf_dir):
    plan = _plan(registry.queries()["q_sort_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_relational_plans_stay_jvm_side(spark, sf_dir):
    """Two registry-wide plan invariants in one sweep: (a) no Python
    evaluation in any relational/text/dedup plan — UDFs are
    quarantined to the q_udf_*/q_udaf_*/q_udtf_*/multimodal queries;
    (b) NO query anywhere builds an unpartitioned window
    (windowspecdefinition with no partition columns = the whole input
    through one task — the weak-plan class VERDICT r3 flagged,
    eradicated in r4 via operators/distrank.py and broadcast-stat
    joins)."""
    import re

    qs = registry.queries()
    offenders = []
    window_offenders = []
    python_ok = (
        "q_udf",
        "q_udaf",
        "q_udtf",
        "q_multimodal_decode",
        "q_multimodal_resize",  # numpy pool runs in mapInPandas by design
        "q_multimodal_frame_sample",  # frame slicing in mapInPandas
        "q_multimodal_audio",  # WAV codec runs in mapInPandas by design
        "q_multimodal_phash",  # pixel decode + aHash in mapInPandas
        "q_multimodal_mp4_index",  # ISO BMFF box walk in mapInPandas
        "q_text_pdf_extract",  # PDF object/stream walk in mapInPandas
        "q_text_warc_extract",  # WARC record walk in mapInPandas
        "q_text_docx_extract",  # OPC zip + XML walk in mapInPandas
        # two-pass distributed rank assigns offsets in a vectorized
        # mapInPandas (operators/distrank.py) — the price of removing
        # the unpartitioned-WindowExec serial sort; see
        # test_distrank.py for the plan pins
        "q_events_rfm",
        "q_window_ntile",
        # dense X^T X runs BLAS-side by design (optimization r14,
        # guide §4.2: matrix products are the one workload JVM codegen
        # cannot match — 93.8 s declarative vs 9.8 s BLAS at 2M x 64);
        # the declarative twin stays pinned equal in test_clustering
        "q_embed_gram",
    )
    for name, fn in qs.items():
        plan = _plan(fn(spark, sf_dir))
        # (b): a partitioned spec's first element is a column reference
        for m in re.finditer(r"windowspecdefinition\((.{0,40})", plan):
            if not re.match(r"\s*\w+#\d+", m.group(1)):
                window_offenders.append((name, m.group(1)))
        if name.startswith(python_ok):
            continue
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan:
            offenders.append(name)
    assert not offenders, f"Python in hot path: {offenders}"
    assert not window_offenders, f"unpartitioned windows: {window_offenders}"


def test_agg_uses_partial_aggregation(spark, sf_dir):
    """Grouped agg must show two-phase (partial + final) hash
    aggregation — the map-side combine of the reference's reduce tree."""
    plan = _plan(registry.queries()["q_agg_groupby"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_tpch_q18_broadcasts_big_order_keyset(spark, sf_dir):
    """Q18's aggregate-then-rejoin: the HAVING-filtered key set must
    come back to the fact as a BROADCAST hash join (the keyset is tiny
    at any scale — orders with >150 total qty), and lineitem must be
    scanned exactly twice (once to build the keyset, once as the
    rejoined fact) — a third scan would mean the keyset subtree was
    inlined into a downstream reference."""
    plan = _plan(registry.queries()["q_tpch_q18_shape"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 2
    # top-20 by totalprice must not globally sort the joined fact
    assert "TakeOrderedAndProject" in plan


def test_exact_dedup_shuffles_16_byte_keys(spark, sf_dir):
    """q_dedup_exact (VERDICT r12 item 4): the dedup exchange must
    partition on the md5 digest, never on the full document text —
    at 100 TB a text group key pushes the whole corpus through one
    shuffle; the digest key makes it O(n_docs × 16 B)."""
    import re

    plan = _plan(registry.queries()["q_dedup_exact"](spark, sf_dir))
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert exchanges, plan
    # Catalyst pulls the md5 into a pre-projection; the exchange key
    # is that projected digest (or the alias), never the raw text
    assert all(
        "__k" in e or "_groupingexpression" in e for e in exchanges
    ), exchanges
    assert not any(re.match(r"\s*text#", e) for e in exchanges), exchanges
    assert "md5(" in plan


def test_minhash_banding_single_data_exchange(spark, sf_dir):
    """The MinHash candidate pipeline (minhash_band_pairs over
    minhash_signatures — the data path inside q_dedup_near_minhash,
    whose registry form now WRAPS it in the exact-shingle containment
    certification): the signature build must shuffle document data
    exactly once (the doc_id hash-agg of the 32 MIN permutations).
    Every other exchange operates on the tiny signature/band side. The
    persist() means the self-join reads the cached signatures, so the
    documents parquet appears exactly once in the plan."""
    import re

    from meta_iterative_mapreduce_spark.cache import owned, persist
    from meta_iterative_mapreduce_spark.io import load_table
    from meta_iterative_mapreduce_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
    )

    # earlier tests may have materialized this query's persist(); a
    # stale cache entry adds a second InMemoryRelation to the printout
    spark.catalog.clearCache()
    d = load_table(spark, sf_dir, "documents")
    with owned():
        plan = _plan(minhash_band_pairs(persist(minhash_signatures(d))))
    # both self-join sides must read the persisted signatures (the
    # cached subtree's FileScan text reprints under each reference, so
    # count InMemoryTableScans, not parquet mentions)
    assert plan.count("InMemoryTableScan") == 2
    # exactly ONE distinct data-proportional exchange (the doc_id
    # hash-agg building signatures); identical plan_ids are reprints
    doc_exchanges = {
        m.group(1)
        for m in re.finditer(
            r"Exchange hashpartitioning\(doc_id[^\n]*\[plan_id=(\d+)\]", plan
        )
    }
    assert len(doc_exchanges) == 1, plan
    # the band-bucket self-join broadcasts the tiny signature side
    assert "BroadcastExchange" in plan


def test_training_data_ops_shuffle_posture(spark, sf_dir):
    """Chunking and hash-sampling are pure per-row mappers (ZERO
    exchanges — they pipeline inside the scan stage at any scale);
    sequence packing shuffles exactly once, on the window's source key
    (the (source, bin) rollup reuses that partitioning because source
    functionally covers it)."""
    qs = registry.queries()
    for name in ("q_text_chunk", "q_sample_hash"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "Exchange" not in plan, name
    pack_plan = _plan(qs["q_text_pack"](spark, sf_dir))
    import re

    exchanges = re.findall(r"Exchange (\w+)\(([^,)]+)", pack_plan)
    assert len(exchanges) == 1, pack_plan
    assert exchanges[0][0] == "hashpartitioning"
    assert exchanges[0][1].startswith("source")


def test_events_ts_normalized(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # TIMESTAMP_NTZ is the engine's event-time house type: naive walls
    # match the DuckDB oracle under any session tz (functions/time.py)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    # sanity: values are 2024-era, not 1970 (unit bug guard)
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert row["lo"].year == 2024 and row["hi"].year == 2024


def test_quantize_is_map_only(spark, sf_dir):
    """int8 quantization must compile to a shuffle-free single scan."""
    plan = _plan(registry.queries()["q_embed_quantize"](spark, sf_dir))
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_incremental_merge_reuses_partial_partitioning(spark, sf_dir):
    """Base and delta partials each shuffle once on the key; the merge
    aggregate must ride their hash partitioning, adding NO third
    data exchange."""
    plan = _plan(registry.queries()["q_agg_incremental"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2


def test_cdc_diff_is_single_full_outer_join(spark, sf_dir):
    plan = _plan(registry.queries()["q_cdc_snapshot_diff"](spark, sf_dir))
    assert plan.count("FullOuter") == 1
    assert plan.count("Exchange hashpartitioning") == 2


def test_timeseries_single_exchange(spark, sf_dir):
    """Sessionize, OHLC downsample, and rolling anomaly each colocate a
    user's series ONCE: lag/running-sum/row_number windows and the
    final per-key aggregate must all ride one hash partitioning."""
    for q in ("q_events_sessionize", "q_ts_downsample", "q_ts_anomaly"):
        plan = _plan(registry.queries()[q](spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1, q


def test_events_analytics_shuffle_posture(spark, sf_dir):
    """Transition matrix: one data-sized exchange (user_id window);
    the bigram count and row-normalizing window exchanges move only
    the |types|^2 count table. Attribution: user_id window + a
    |channels|-row rollup — exactly two exchanges, no purchase-vs-
    history self-join anywhere."""
    import re

    qs = registry.queries()
    tr = _plan(qs["q_events_transition"](spark, sf_dir))
    ex = re.findall(r"Exchange hashpartitioning\((\w+)", tr)
    assert len(ex) == 3, ex
    assert ex.count("user_id") == 1  # the only data-sized one
    at = _plan(qs["q_events_attribution"](spark, sf_dir))
    assert at.count("Exchange hashpartitioning") == 2
    assert "user_id" in at and "Join" not in at


def test_mode_and_distribution_single_key_exchange(spark, sf_dir):
    """Mode: data-sized hash agg then a groups-sized window — two
    exchanges, both keyed on the group column. Distribution windows:
    percent_rank and cume_dist ride ONE exchange + one sort."""
    import re

    qs = registry.queries()
    mode = _plan(qs["q_agg_mode"](spark, sf_dir))
    ex = re.findall(r"Exchange hashpartitioning\((\w+)", mode)
    assert ex == ["c_nationkey", "c_nationkey"], ex
    dist = _plan(qs["q_window_distribution"](spark, sf_dir))
    assert dist.count("Exchange hashpartitioning") == 1
    assert dist.count("Sort ") <= 2  # the window sort (+AQE variance)


def test_graph_iteratives_reuse_cached_subtrees(spark, sf_dir):
    """PageRank and triangle counting re-read their edge subtree many
    times (3 iterations x 3 joins; 3 join legs): every re-read must be
    a scan of the persisted edge/degree tables or of the checkpointed
    orientation, never a re-inlined lineitem self-join, and the whole
    pipeline stays JVM-side. (The registered queries return eager
    checkpoints, so the plans are taken from the operators.)"""
    from meta_iterative_mapreduce_spark.cache import owned, persist
    from meta_iterative_mapreduce_spark.operators.components import (
        copurchase_edges,
        pagerank,
        triangle_stats,
    )

    with owned():
        edges = copurchase_edges(spark, sf_dir)
        ranks, _ = pagerank(edges, n_iter=3)
        tri = triangle_stats(persist(edges.filter(F.col("u") < F.col("v"))))
        for name, plan, scan, min_scans in (
            ("pagerank", _plan(ranks), "InMemoryTableScan", 6),
            ("triangles", _plan(tri), "Scan ExistingRDD", 3),
        ):
            assert plan.count(scan) >= min_scans, name
            # no Python evaluation outside cached-plan descriptions
            top = [
                line
                for line in plan.splitlines()
                if "InMemoryRelation" not in line
            ]
            assert not any("Python" in line for line in top), name
        assert "Scan parquet" not in _plan(tri)


def test_tpch_q1_single_exchange(spark, sf_dir):
    """Full-scan pricing summary: partial aggregation map-side, then
    exactly ONE exchange on the tiny group key space."""
    plan = _plan(registry.queries()["q_tpch_q1_shape"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Scan parquet") == 1


def test_tpch_q6_pure_scan(spark, sf_dir):
    """Filter-and-sum: predicates pushed to the reader, no keyed
    shuffle at all (global agg exchanges one partial row per task)."""
    plan = _plan(registry.queries()["q_tpch_q6_shape"](spark, sf_dir))
    # the PushedFilters list prints truncated, so pin an early entry
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan
    # 4-column pruned scan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double" in plan
    assert plan.count("Exchange hashpartitioning") == 0


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark gram set (~1% of docs) must broadcast — the
    training-side scan joins it without a data-proportional shuffle."""
    plan = _plan(registry.queries()["q_text_decontaminate"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_zorder_is_codegen_arithmetic(spark, sf_dir):
    """Morton interleave must stay in whole-stage codegen: no Python
    eval, and the only keyed exchange is the zone-map aggregation."""
    plan = _plan(registry.queries()["q_zorder_layout"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_corpus_mix_single_window_shuffle(spark, sf_dir):
    """Rank-within-source then per-source agg: the aggregation must
    reuse the window's hash partitioning on source (one exchange)."""
    plan = _plan(registry.queries()["q_corpus_mix"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1


def test_gram_matrix_partial_agg_no_python(spark, sf_dir):
    """Outer-product cells must collapse map-side (two-phase hash agg)
    with no Python eval; the only exchange carries O(tasks*d^2) partials."""
    plan = _plan(registry.queries()["q_embed_gram"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_bm25_scan_local_scoring_topk(spark, sf_dir):
    """BM25: corpus stats reduce to ONE single-partition row broadcast
    back (no per-token shuffle anywhere — no explode in the plan), and
    the top-10 is TakeOrderedAndProject, not a global sort."""
    plan = _plan(registry.queries()["q_text_bm25"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "Explode" not in plan and "Generate" not in plan
    assert plan.count("Exchange SinglePartition") == 1


def test_recall_at_k_broadcasts_ann_arm(spark, sf_dir):
    """recall@10: both arms are TakeOrderedAndProject top-10s and the
    overlap is a broadcast (10-row) join — nothing data-proportional
    past the two scans."""
    plan = _plan(registry.queries()["q_sim_recall_at_k"](spark, sf_dir))
    assert plan.count("TakeOrderedAndProject") == 2
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_sketch_queries_shuffle_posture(spark, sf_dir):
    """Mergeable-sketch plans: KLL's sketch arm moves ONE
    data-proportional exchange (per-flag partials; the audit bounds
    reduce to SinglePartition rows). HLL's sketch arm is likewise one
    exchange — the other three belong to the two exact-countDistinct
    AUDIT arms (each a distinct expansion), which a production run
    would drop along with the flags. Fold/union stages run over
    group-count-sized lists, pinned JVM-side by
    test_relational_plans_stay_jvm_side."""
    kll = _plan(registry.queries()["q_sketch_kll"](spark, sf_dir))
    assert kll.count("Exchange hashpartitioning") == 1
    hll = _plan(registry.queries()["q_sketch_hll"](spark, sf_dir))
    assert hll.count("Exchange hashpartitioning") <= 4


def test_funnel_k_is_pure_aggregate_chain(spark, sf_dir):
    """q_events_funnel_k's chain path must stay min-agg + equi-join:
    no collect_list (ObjectHashAggregate) and no cartesian product —
    the properties that make it skew-proof at 100 TB."""
    plan = _plan(registry.queries()["q_events_funnel_k"](spark, sf_dir))
    assert "ObjectHashAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_pairs_from_bucket_equijoin(spark, sf_dir):
    """q_dedup_semantic: the label join is an equi-join on vec_id over
    the checkpointed component output (the LSH-bucketed pair join and
    the cached bucketed projection live inside the already-executed
    component loop — its lineage is cut by localCheckpoint, hence the
    ExistingRDD scan), and nothing in the final plan is a cartesian
    product."""
    plan = _plan(registry.queries()["q_dedup_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed CC fixpoint output


def test_png_roundtrip_two_arrow_stages_pruned_scan(spark, sf_dir):
    """q_multimodal_decode_png: exactly two Arrow-batched Python stages
    (encode, decode) and a scan pruned to doc_id+text."""
    plan = _plan(registry.queries()["q_multimodal_decode_png"](spark, sf_dir))
    assert plan.count("MapInPandas") == 2
    assert "lang" not in plan and "source" not in plan  # column pruning


def test_hll_intersect_single_row_joins_only(spark, sf_dir):
    """q_sketch_hll_intersect's cross joins carry 1-row aggregates
    (broadcast), and the data-proportional work is partial-agg
    reductions — no cartesian product of data-sized inputs."""
    plan = _plan(registry.queries()["q_sketch_hll_intersect"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stat joins


def test_weighted_sample_is_top_k(spark, sf_dir):
    """q_sample_weighted must be a bounded-heap top-k, never a global
    sort — the property that makes the weighted draw one cheap pass."""
    plan = _plan(registry.queries()["q_sample_weighted"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_ts_rollup_hier_single_expand_agg(spark, sf_dir):
    """q_ts_rollup_hier: one Expand + partial-aggregated exchange
    produces every granularity — not one scan per rollup level."""
    plan = _plan(registry.queries()["q_ts_rollup_hier"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Expand") >= 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_wav_roundtrip_two_arrow_stages(spark, sf_dir):
    plan = _plan(registry.queries()["q_multimodal_audio_wav"](spark, sf_dir))
    assert plan.count("MapInPandas") == 2


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning: with a selective dim
    filter and a shuffle join, the optimizer must inject a
    bloom_filter_might_contain predicate on the FACT side — rows that
    can't join are dropped before the shuffle. This is the
    engine-native runtime semi-join filter an engine needs at 100 TB
    (scan 6B lineitems, keep only the ~1/5 whose order is URGENT
    before exchanging them); result correctness is untouched because
    bloom false-positives still pass through the exact join."""
    conf = spark.conf
    keys = (
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtimeFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    saved = {k: conf.get(k, None) for k in keys}
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtimeFilter.creationSideThreshold", "50MB")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan, plan
        # and the filter sits on the lineitem (application) side scan
        assert plan.lower().count("bloom") >= 1
        # correctness unchanged vs the un-filtered plan
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        plain = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert j.collect() == plain.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: a directory-partitioned fact joined
    to a filtered dim must carry a dynamicpruning subquery in its
    PartitionFilters — at 100 TB the fact scan reads only the
    partitions the dim filter selects, decided at RUNTIME from the
    dim's build side (static pruning can't see through the join).
    Correctness pinned against the unpartitioned plan."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "region", (F.col("user_id") % 5).cast("int")
    )
    ev.write.partitionBy("region").parquet(str(tmp_path / "fact"))
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [(i, "keep" if i == 2 else "drop") for i in range(5)],
        "r int, tag string",
    )
    j = fact.join(
        dim.filter(F.col("tag") == "keep"), fact.region == dim.r
    ).agg(F.count("*").alias("n"))
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan
    expected = ev.filter(F.col("region") == 2).count()
    assert j.collect()[0]["n"] == expected


def test_no_cartesian_product_anywhere(spark, sf_dir):
    """Registry-wide invariant (r7): NO query plans a CartesianProduct
    — the O(n*m) both-sides-big join that is always an accident at
    100 TB. Deliberate unequal joins (q_join_cross, q_join_theta_nl,
    scalar-bound crossJoins) must all resolve to
    BroadcastNestedLoopJoin with a provably tiny build side; today
    the count is ZERO and a new query that introduces one should have
    to argue for itself here."""
    offenders = []
    for name, fn in registry.queries().items():
        plan = _plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, f"CartesianProduct in: {offenders}"
