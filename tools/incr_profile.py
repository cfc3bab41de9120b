"""Incremental-dedup cost profile: per-batch cost vs corpus size.

The claim behind q_dedup_incremental (operators/dedup.py): once a
corpus's MinHash band table lives in the versioned log, deduping a
NEW batch costs the batch's signature pass + one bucket join against
the persisted bands — the raw corpus text is never re-read, never
re-shingled, never re-hashed. This profile measures exactly that
split with lsh_profile's planted-pair scheme:

- FULL  = signatures over (corpus + batch) + all-pairs banding — what
  a non-incremental pipeline pays on every ingest;
- INCR  = signatures over the batch only + incremental_band_pairs
  against the persisted band table (parquet, 8 rows/doc — at 100 TB
  of raw text the band log is ~2-3 orders of magnitude smaller, and
  columnar).

Planted pairs (2i, 2i+1) are split so the even doc lands in the
corpus and the odd one in the batch — every planted pair is a
corpus×batch pair the incremental join must find; found-pair equality
vs FULL's cross set is asserted, so the speedup is measured on a
verified-identical answer.

Usage: python tools/incr_profile.py [corpus_docs ...]
       (default 500k, 1M, 2M; batch fixed at 50k docs)
Timed profile: run ALONE (no concurrent pytest/bench on the box).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from meta_iterative_mapreduce_spark.cache import owned, persist  # noqa: E402
from meta_iterative_mapreduce_spark.operators.dedup import (  # noqa: E402
    band_rows,
    incremental_band_pairs,
    minhash_band_pairs,
    minhash_signatures,
)
from meta_iterative_mapreduce_spark.session import get_spark  # noqa: E402
from meta_iterative_mapreduce_spark.sources import versioned  # noqa: E402

_BATCH = 50_000  # docs per ingest batch = 50k planted corpus x batch pairs


def _docs(spark, lo: int, hi: int):
    """Planted-pair docs with ids in [lo, hi) — lsh_profile's scheme:
    (2i, 2i+1) share 30 tokens except a mutated token 15."""
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 29), j -> "
            "concat('t', pmod(xxhash64(id DIV 2, j), 1000000000), "
            "CASE WHEN j = 15 AND id % 2 = 1 THEN 'v' ELSE '' END)))"
        ).alias("text"),
    )


def main() -> None:
    scales = (
        [int(s) for s in sys.argv[1:]]
        if len(sys.argv) > 1
        else [500_000, 1_000_000, 2_000_000]
    )
    spark = get_spark(
        "mimr-incr-profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    for n_corpus in scales:
        n_corpus = n_corpus // 2 * 2
        # corpus = EVEN ids below n_corpus + all ids in a head segment,
        # batch = the ODD partners of the last _BATCH planted pairs:
        # split each tail pair across corpus/batch so every planted
        # tail pair is a corpus x batch pair.
        tail_lo = n_corpus - 2 * _BATCH
        corpus = _docs(spark, 0, tail_lo).unionByName(
            _docs(spark, tail_lo, n_corpus).filter(F.col("doc_id") % 2 == 0)
        )
        batch = _docs(spark, tail_lo, n_corpus).filter(
            F.col("doc_id") % 2 == 1
        )

        # one-time build: persist the corpus band table (not timed as
        # batch cost — it is the corpus's own dedup pass, paid once)
        table = os.path.join(
            tempfile.gettempdir(), "mimr_incr_profile", uuid.uuid4().hex
        )
        t0 = time.time()
        versioned.write_version(
            band_rows(minhash_signatures(corpus)), table
        )
        t_build = time.time() - t0

        with owned():
            # INCR: batch signatures + join vs the persisted band log
            t0 = time.time()
            bands = versioned.read_version(spark, table)
            new_bands = persist(band_rows(minhash_signatures(batch)))
            incr = persist(incremental_band_pairs(new_bands, bands))
            n_incr = incr.count()
            t_incr = time.time() - t0

            # FULL: what a non-incremental pipeline pays on this ingest
            t0 = time.time()
            sigs = persist(minhash_signatures(corpus.unionByName(batch)))
            full = persist(minhash_band_pairs(sigs))
            n_full_cross = full.filter(
                (F.col("doc_a") >= tail_lo) | (F.col("doc_b") >= tail_lo)
            ).count()
            t_full = time.time() - t0

            planted_found = incr.filter(
                (F.col("doc_b") == F.col("doc_a") + 1)
                & (F.col("doc_a") % 2 == 0)
                & (F.col("doc_a") >= tail_lo)
            ).count()
            print(
                f"corpus={n_corpus:>9,} batch={_BATCH:,}  "
                f"build={t_build:6.1f}s  incr={t_incr:6.1f}s  "
                f"full={t_full:6.1f}s  speedup={t_full / t_incr:4.1f}x  "
                f"incr_pairs={n_incr:,} (planted found {planted_found:,}"
                f"/{_BATCH:,})  full_cross={n_full_cross:,}",
                flush=True,
            )
            assert n_incr >= n_full_cross, "incremental missed full's pairs"
    spark.stop()


if __name__ == "__main__":
    main()
