"""The cache owner module: every persist/checkpoint belongs to an open
`owned()` block, which releases it on exit."""

from __future__ import annotations

import pytest

from meta_iterative_mapreduce_spark.cache import checkpoint, owned, persist, release


def _n_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_persist_outside_a_block_raises(spark):
    df = spark.range(10).selectExpr("id * 7 AS x")
    with pytest.raises(RuntimeError, match="owned"):
        persist(df)
    with pytest.raises(RuntimeError, match="owned"):
        checkpoint(df)
    assert not df.is_cached


def test_callers_cache_survives_the_block(spark):
    spark.catalog.clearCache()
    mine = spark.range(10).selectExpr("id * 11 AS x").cache()
    try:
        with owned():
            same = persist(mine)
            release(same)
            assert same.count() == 10
        assert mine.is_cached and not _cache_empty(spark)
    finally:
        mine.unpersist()
    assert _cache_empty(spark)


def test_exception_inside_the_block_releases_everything(spark):
    spark.catalog.clearCache()
    before = _n_rdds(spark)
    with pytest.raises(ValueError):
        with owned():
            a = persist(spark.range(20).selectExpr("id * 13 AS x"))
            assert a.count() == 20
            with owned():
                c = checkpoint(spark.range(20).selectExpr("id * 17 AS x"))
                persist(c.selectExpr("x + 1 AS y")).count()
                raise ValueError("boom")
    assert _cache_empty(spark)
    assert _n_rdds(spark) <= before


def test_release_frees_a_checkpoint_now(spark):
    with owned():
        c = checkpoint(spark.range(30).selectExpr("id * 19 AS x"))
        held = _n_rdds(spark)
        release(c)
        assert _n_rdds(spark) < held
