"""Triangle-count (wedge-shuffle path) scaling profile beyond the 5M
smoke: the degree-oriented O(E^1.5) plan with force_shuffle=True, on
scale_smoke.py's planted family (N-edge path = triangle-free wedge
mass + 1,000 disjoint planted triangles + a 100k-leaf star whose hub
contributes ZERO directed wedges under degree orientation — the
hub-skew case). Expected triangle count is exactly the planted 1,000
at every scale, and the wedge count is checkable (path interior
vertices contribute one wedge each).

Usage: python tools/tri_profile.py [n_path_edges ...] (default 10M, 20M)
Run with MIMR_DRIVER_MEM=48g at 20M (single local JVM).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from meta_iterative_mapreduce_spark.cache import owned, persist  # noqa: E402
from meta_iterative_mapreduce_spark.operators import components as C  # noqa: E402
from meta_iterative_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    scales = (
        [int(s) for s in sys.argv[1:]]
        if len(sys.argv) > 1
        else [10_000_000, 20_000_000]
    )
    spark = get_spark(
        "mimr-tri-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    n_tri, n_star = 1_000, 100_000
    for n_path in scales:
        path = spark.range(n_path).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
        t_base = n_path + 10
        trip = F.col("id") - F.col("id") % 3
        tri_edges = spark.range(3 * n_tri).select(
            (t_base + trip + F.col("id") % 3).alias("u"),
            (t_base + trip + (F.col("id") % 3 + 1) % 3).alias("v"),
        ).select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        s_base = t_base + 3 * n_tri + 10
        star = spark.range(n_star).select(
            F.lit(s_base).alias("u"), (s_base + 1 + F.col("id")).alias("v")
        )
        with owned():
            edges = persist(path.unionAll(tri_edges).unionAll(star))
            n_edges = n_path + 3 * n_tri + n_star
            t0 = time.time()
            row = C.triangle_stats(edges, force_shuffle=True).collect()[0]
            wall = time.time() - t0
            ok = "OK" if row["n_triangles"] == n_tri else "MISMATCH"
            print(
                f"edges={n_edges:>12,} wall={wall:7.1f}s "
                f"triangles={row['n_triangles']:,} (expected {n_tri:,}) "
                f"wedges={row['n_wedges']:,} {ok}"
            )
            assert row["n_triangles"] == n_tri, row
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
