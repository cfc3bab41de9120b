"""Every registered query vs its DuckDB oracle at sf0.001 — the same
comparison the driver's t2 gate runs (at sf0.01); tools/check.py is
the standalone form. Each query must also leave nothing cached."""

from __future__ import annotations

import pytest

from meta_iterative_mapreduce_spark import registry
from tools.check import compare, duck_con

from conftest import SF_DIR

_QUERIES = sorted(registry.queries())
_ORACLES = registry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", _QUERIES)
def test_query_matches_oracle(name, spark, sf_dir, con):
    # leftovers of other tests must not count against this query
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    n_rdds = jsc.getPersistentRDDs().size()
    sdf = registry.queries()[name](spark, sf_dir).toPandas()
    # no cache survives the query, and at most one persistent RDD: the
    # returned frame's own checkpoint
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
    assert jsc.getPersistentRDDs().size() - n_rdds <= 1, name
    if name not in _ORACLES:
        assert len(sdf) >= 0  # rows-only contract: runs and has a schema
        assert len(sdf.columns) > 0
        return
    ddf = con.execute(_ORACLES[name]).fetchdf()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"
