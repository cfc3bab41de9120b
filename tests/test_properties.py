"""Hypothesis property tests for driver-side algebra and dedup laws.

These pin the math that the Spark plans encode, independent of any
fixture: the EMA fold/closed-form identity (the algebra behind
q_regression_iterative_ema and q_stream_ema), uniform-average
collapse, and dedup idempotence (SURVEY.md §5.2.4).
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from meta_iterative_mapreduce_spark.operators.regression import ema_step

_values = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
    min_size=1,
    max_size=50,
)
_alpha = st.floats(min_value=0.01, max_value=0.99)


@given(vals=_values, alpha=_alpha)
@settings(max_examples=200, deadline=None)
def test_ema_fold_equals_closed_form(vals, alpha):
    """Sequential EMA fold == geometric expansion
    w_T = α^(T−1)·v_1 + (1−α)·Σ_{t≥2} α^(T−t)·v_t — the identity the
    SQL oracles rely on."""
    w = vals[0]
    for v in vals[1:]:
        w = ema_step(w, v, alpha)
    T = len(vals)
    closed = (alpha ** (T - 1)) * vals[0] + sum(
        (1 - alpha) * (alpha ** (T - t)) * vals[t - 1] for t in range(2, T + 1)
    )
    assert math.isclose(w, closed, rel_tol=1e-9, abs_tol=1e-6)


@given(vals=_values)
@settings(max_examples=100, deadline=None)
def test_ema_alpha_one_keeps_first_alpha_zero_tracks_last(vals):
    w1 = vals[0]
    w0 = vals[0]
    for v in vals[1:]:
        w1 = ema_step(w1, v, alpha=1.0)
        w0 = ema_step(w0, v, alpha=0.0)
    assert w1 == vals[0]
    assert w0 == vals[-1]


@given(
    xs=st.lists(
        st.tuples(st.text(max_size=8), st.integers(0, 1_000_000)),
        min_size=0,
        max_size=100,
    )
)
@settings(max_examples=100, deadline=None)
def test_exact_dedup_idempotent_and_minimal(xs):
    """dedup(dedup(x)) == dedup(x), and the keeper is the min id per
    key — the keep-policy q_dedup_exact encodes (python model of the
    groupBy(text).min(doc_id) plan)."""

    def dedup(pairs):
        best: dict[str, int] = {}
        for k, i in pairs:
            if k not in best or i < best[k]:
                best[k] = i
        return sorted(best.items())

    once = dedup(xs)
    assert dedup(once) == once
    keys = {k for k, _ in xs}
    assert {k for k, _ in once} == keys
    for k, i in once:
        assert i == min(j for kk, j in xs if kk == k)


def test_embed_quantize_error_bound(spark, sf_dir):
    """int8 dequantization error is bounded by scale/254 per element
    (half a quantization step), and q stays within [-127, 127]."""
    from meta_iterative_mapreduce_spark.operators.similarity import q_embed_quantize
    from meta_iterative_mapreduce_spark.io import load_table
    import pyspark.sql.functions as F

    out = q_embed_quantize(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    j = out.join(emb, "vec_id").select(
        "scale",
        F.split("q_str", ",").cast("array<int>").alias("q"),
        "embedding",
    )
    checked = j.select(
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("q_max"),
        F.array_max(
            F.zip_with(
                "q",
                "embedding",
                lambda qi, xi: F.abs(
                    qi.cast("double") * F.col("scale") / 127.0 - xi.cast("double")
                ),
            )
        ).alias("max_err"),
        "scale",
    )
    bad = checked.filter(
        (F.col("q_max") > 127)
        | (F.col("max_err") > F.col("scale") / 254.0 + 1e-12)
    )
    assert bad.count() == 0


def test_interval_overlap_join_equals_brute_force(spark):
    """Bin-blocked interval self-join == brute-force O(n²) overlap
    pairs on synthetic intervals that stress the blocking: spans
    crossing many bins, touching endpoints (s == e boundary must NOT
    match under strict inequality), nested and disjoint spans, and
    bin-boundary-aligned starts."""
    import random

    from meta_iterative_mapreduce_spark.plans.joins import (
        interval_overlap_pairs,
    )

    rng = random.Random(11)
    W = 1000  # small bin width so spans cross up to ~20 bins
    rows = []
    eid = 0
    for user in range(6):
        base = 1_700_000_000_000 + user  # large epoch-like magnitudes
        for _ in range(40):
            s = base + rng.randrange(0, 20 * W)
            if rng.random() < 0.2:
                s = (s // W) * W  # exactly on a bin boundary
            dur = rng.choice([0, 1, W // 2, W, 3 * W, 17 * W])
            rows.append((eid, user, s, s + dur))
            eid += 1
    # planted touching pair: a.e == b.s exactly (must not match)
    rows.append((eid, 0, 10 * W, 11 * W))
    rows.append((eid + 1, 0, 11 * W, 12 * W))
    expect = {
        (ia, ib, min(ea, eb) - max(sa, sb))
        for (ia, ua, sa, ea) in rows
        for (ib, ub, sb, eb) in rows
        if ua == ub and ia < ib and sa < eb and sb < ea
    }
    iv = spark.createDataFrame(
        rows, "event_id long, user_id long, s long, e long"
    )
    got = {
        (r.ev_a, r.ev_b, r.overlap_us)
        for r in interval_overlap_pairs(iv, bin_us=W).collect()
    }
    assert got == expect and len(expect) > 100


def _brute_bpe(word_freqs: dict[str, int], n_rounds: int) -> list[tuple]:
    """Pure-Python reference BPE: greedy left-to-right merge, argmax
    pair by (freq desc, pair asc) per round."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for r in range(1, n_rounds + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((r, left, right, left + right, pf))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def test_bpe_learn_equals_reference_implementation(spark, sf_dir):
    """bpe_learn == the pure-Python reference BPE on the corpus's own
    word-frequency table (merge order, pairs, and frequencies all
    exact) — including merges-of-merges in later rounds."""
    from pyspark.sql import functions as F

    from meta_iterative_mapreduce_spark.io import load_table
    from meta_iterative_mapreduce_spark.operators.text import bpe_learn

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    wf = {r["word"]: r["freq"] for r in words.collect()}
    expect = _brute_bpe(wf, 10)
    got = bpe_learn(words, 10)
    assert got == expect and len(got) == 10
    # later rounds must be able to consume earlier merged symbols
    merged_syms = {m[3] for m in got}
    assert any(m[1] in merged_syms or m[2] in merged_syms for m in got)


@given(
    data=st.binary(min_size=0, max_size=2000),
    mcs=st.sampled_from([2, 4, 8]),
)
@settings(max_examples=150, deadline=None)
def test_gif_lzw_round_trip_property(data, mcs):
    """LZW(GIF variant) decode∘encode == identity for ANY byte string
    whose symbols fit the root table — hypothesis hunts the
    boundary cases (width growth points, KwKwK runs, table reset)
    that example tests enumerate by hand."""
    from meta_iterative_mapreduce_spark.operators.codecs import (
        lzw_decode,
        lzw_encode,
    )

    if mcs < 8:
        data = bytes(b % (1 << mcs) for b in data)
    gif = {"msb": False, "early_change": False}
    enc = lzw_encode(data, mcs, **gif)
    assert lzw_decode(enc, mcs, **gif, n_expected=len(data)) == data


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None)
def test_gif_container_round_trip_property(w, h, seed):
    import numpy as np

    from meta_iterative_mapreduce_spark.operators.gif import (
        decode_gif_gray8,
        encode_gif_gray8,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
    variant = seed % 4
    f = decode_gif_gray8(
        encode_gif_gray8(
            w,
            h,
            px,
            local_palette=variant in (1, 3),
            interlace=variant in (2, 3),
        )
    )
    assert (f["width"], f["height"]) == (w, h)
    assert f["pixels"].tobytes() == px


def _brute_bpe_encode(word: str, merges: list[tuple]) -> list[str]:
    """Pure-Python reference ENCODER: fold each learned merge, in rank
    order, as a greedy left-to-right adjacent-pair merge — the same
    discipline the trainer's fold applies."""
    syms = list(word)
    for _rank, left, right, merged, _pf in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = merged
            else:
                out.append(s)
        syms = out
    return syms


def test_bpe_encode_equals_reference_on_every_fixture_doc(spark, sf_dir):
    """bpe_encode_vocab == the pure-Python reference encoder on EVERY
    distinct word of the corpus (token sequences byte-exact, counts
    exact) — the learn→apply round trip VERDICT r9 item 6 demands."""
    from pyspark.sql import functions as F

    from meta_iterative_mapreduce_spark.io import load_table
    from meta_iterative_mapreduce_spark.operators.text import (
        bpe_encode_vocab,
        bpe_learn,
    )

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges = bpe_learn(words, 8)
    got = {
        r["word"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_encode_vocab(words, merges).collect()
    }
    assert len(got) == words.count()
    n_multi = 0
    for word, (tokens, n_tokens) in got.items():
        expect = _brute_bpe_encode(word, merges)
        assert tokens == expect, (word, tokens, expect)
        assert n_tokens == len(expect)
        assert "".join(tokens) == word  # lossless segmentation
        n_multi += any(len(t) > 1 for t in tokens)
    assert n_multi > 0  # the merges actually fired somewhere


_EVOLVED_LEGS = {
    # leg: (stored parquet type, declared stream type)
    "double_as_long": ("float64", "long"),
    "int_as_string": ("int64", "string"),
    "double_as_string": ("float64", "string"),
    "string_as_long": ("string", "long"),
}


@given(
    leg=st.sampled_from(sorted(_EVOLVED_LEGS)),
    ints=st.lists(
        st.one_of(st.none(), st.integers(-10_000, 10_000)),
        min_size=1,
        max_size=25,
    ),
    half=st.booleans(),
)
@settings(max_examples=80, deadline=None)
def test_stream_source_batch_paths_match_row_path_on_evolved_files(
    leg, ints, half
):
    """Schema-evolved files (a column stored as one type, declared as
    another) through every Arrow batch path of the versioned-table
    source — the plain read, the CDC insert leg and the CDC diff leg
    — must give exactly what the row path gives once Spark converts
    its tuples to the declared schema, or both must raise. The row
    path is forced by emptying the Arrow type map that gates every
    batch path."""
    import os
    import tempfile
    from unittest import mock

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

    from meta_iterative_mapreduce_spark.streaming import table_source
    from meta_iterative_mapreduce_spark.streaming.table_source import (
        _read_cdc_spec,
        _read_spec,
    )

    stored, declared = _EVOLVED_LEGS[leg]

    def stored_vals(shift):
        out = []
        for x in ints:
            if x is None:
                out.append(None)
            elif stored == "float64":
                out.append(x + shift + (0.5 if half else 0.0))
            elif stored == "string":
                out.append(str(x + shift))
            else:
                out.append(x + shift)
        return out

    def write(path, shift):
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(range(len(ints)), pa.int64()),
                    "v": pa.array(stored_vals(shift), type=stored),
                }
            ),
            path,
        )

    spark_t = {"long": LongType(), "string": StringType()}
    fields = [("k", "k", "long"), ("v", "v", declared)]
    read_schema = StructType(
        [StructField("k", LongType()), StructField("v", spark_t[declared])]
    )
    cdc_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("op", StringType()),
            StructField("old_v", spark_t[declared]),
            StructField("new_v", spark_t[declared]),
        ]
    )

    def outcome(gen, schema):
        """What Spark receives: batches pass through, tuples are
        converted per value by the data source worker's own code."""
        try:
            rows = []
            for b in records_to_arrow_batches(iter(gen), 10_000, schema, None):
                rows.extend(tuple(r.values()) for r in b.to_pylist())
        except Exception as exc:  # noqa: BLE001
            return ("raises", type(exc).__name__)
        return ("ok", sorted(rows, key=repr))

    with tempfile.TemporaryDirectory() as d:
        write(os.path.join(d, "old.parquet"), 0)
        write(os.path.join(d, "new.parquet"), 1)
        specs = [
            (_read_spec, read_schema,
             {"path": os.path.join(d, "old.parquet"), "fields": fields,
              "part_vals": {}}),
            (_read_cdc_spec, cdc_schema,
             {"kind": "insert", "path": os.path.join(d, "old.parquet"),
              "fields": fields, "key": "k", "part_vals": {}}),
            (_read_cdc_spec, cdc_schema,
             {"kind": "diff", "table": d, "fields": fields, "key": "k",
              "removed": ["old.parquet"], "added": ["new.parquet"],
              "removed_vals": {"old.parquet": {}},
              "added_vals": {"new.parquet": {}},
              "dv_before": [], "dv_after": [], "dv_delta": [],
              "carried": []}),
        ]
        for fn, schema, spec in specs:
            batch = outcome(fn(spec), schema)
            with mock.patch.dict(table_source._PA_OF_TYPE, clear=True):
                row = outcome(fn(spec), schema)
            assert batch == row, (leg, spec.get("kind", "read"))
