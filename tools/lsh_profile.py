"""MinHash-LSH recall/candidate profile beyond the 1M-doc smoke.

Same planted-pair scheme as tools/scale_smoke.py (pairs (2i, 2i+1)
share 30 tokens except a mutated token 15 → shingle Jaccard ≈ 0.806;
banding 8×4 predicts ≈98.6% recall; cross-pair docs share no
shingles, so with 64-bit shingle hashes + seeded permutations the
correct candidate count is EXACTLY the found planted pairs — zero
spurious). The profile proves the two properties that carry to a
100 TB dedup: recall tracks the banding formula (not degrading with
n), and the candidate set stays O(planted), not O(n²) — the
all-pairs blowup LSH exists to avoid.

Usage: python tools/lsh_profile.py [n_docs ...]  (default 2M, 4M)
Run with MIMR_DRIVER_MEM=48g at 4M docs, 64g at 8M (single local
JVM; same ~1 GB heap per 1M-row working-set rule as cc_profile).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from meta_iterative_mapreduce_spark.cache import owned, persist  # noqa: E402
from meta_iterative_mapreduce_spark.operators.dedup import (  # noqa: E402
    minhash_band_pairs,
    minhash_signatures,
)
from meta_iterative_mapreduce_spark.session import get_spark  # noqa: E402


def main() -> None:
    scales = (
        [int(s) for s in sys.argv[1:]]
        if len(sys.argv) > 1
        else [2_000_000, 4_000_000]
    )
    spark = get_spark(
        "mimr-lsh-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    for n_docs in scales:
        n_docs = n_docs // 2 * 2
        docs = spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.expr(
                "concat_ws(' ', transform(sequence(0, 29), j -> "
                "concat('t', pmod(xxhash64(id DIV 2, j), 1000000000), "
                "CASE WHEN j = 15 AND id % 2 = 1 THEN 'v' ELSE '' END)))"
            ).alias("text"),
        )
        with owned():
            t0 = time.time()
            sigs = persist(minhash_signatures(docs))
            cand = persist(minhash_band_pairs(sigs))
            n_cand = cand.count()
            is_planted = (F.col("doc_b") == F.col("doc_a") + 1) & (
                F.col("doc_a") % 2 == 0
            )
            n_found = cand.filter(is_planted).count()
            wall = time.time() - t0
            n_planted = n_docs // 2
            print(
                f"docs={n_docs:>10,} wall={wall:7.1f}s "
                f"recall={100.0 * n_found / n_planted:6.2f}% "
                f"({n_found:,}/{n_planted:,}) "
                f"spurious={n_cand - n_found}"
            )
            assert n_found >= int(0.95 * n_planted)
            assert n_cand == n_found, n_cand - n_found
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
