"""Seeded input generator for the three benchmark workloads.

Every size below is fixed; the seed changes only values. The program
under test receives nothing but the files written here, and the
correctness checks read the ground truth returned beside them (planted
weights, planted near-duplicate families, the mutation script).

    python3 graftbench/gen.py --workload llm_dedup --seed 7 --out /tmp/x
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ema_rounds: the reference's interactive loop (kernel.cu:190-196) fed a
# new batch of (x, y) pairs each round.
EMA_ROUNDS = 4
EMA_ROWS = 2_000
EMA_NOISE = 1.0

# llm_dedup: corpus with planted near-duplicate families, embeddings
# with planted clusters.
N_DOCS = 1_200
N_FAMILIES = 150  # each: one base doc + two copies
VOCAB = 3_000
WORD_LEN = 6  # fixed word length: substitutions keep the char length,
# which the blocked-Jaccard pair builder uses as its blocking key
SUB_FRAC = 0.15
LANGS = ("en", "de", "es", "fr")
N_VECS = 1_200
DIM = 64
N_CLUSTERS = 12
CLUSTER_NOISE = 0.35

# table_mutations: base table plus a fixed script of small commits.
TABLE_ROWS = 4_000
TABLE_FILES = 8
APPEND_ROWS = 200
MERGE_UPDATES, MERGE_INSERTS, MERGE_DELETES = 60, 30, 10
RANGE = 400  # width of every DML / read key range


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def gen_ema(rng: np.random.Generator, out: str) -> dict:
    w0, w1 = float(rng.uniform(1.0, 5.0)), float(rng.uniform(0.5, 3.0))
    bdir = os.path.join(out, "batches.parquet")
    os.makedirs(bdir, exist_ok=True)
    files = []
    for r in range(EMA_ROUNDS):
        key = np.arange(r * EMA_ROWS, (r + 1) * EMA_ROWS, dtype=np.int64)
        x = rng.uniform(0.0, 50.0, EMA_ROWS)
        y = w0 + w1 * x + rng.normal(0.0, EMA_NOISE, EMA_ROWS)
        name = f"batch_{r:03d}"
        _write(pa.table({"key": key, "x": x, "y": y}), os.path.join(bdir, f"{name}.parquet"))
        files.append(name)
    return {"w0": w0, "w1": w1, "batches": files}


def _vocab(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct lowercase words of WORD_LEN letters: base-26
    digits of a seeded sample of distinct integers."""
    ids = rng.choice(26**WORD_LEN, size=VOCAB, replace=False)
    digits = (ids[:, None] // 26 ** np.arange(WORD_LEN)[None, :]) % 26
    letters = (digits + ord("a")).astype(np.uint8)
    return np.array([bytes(row).decode() for row in letters])


def gen_dedup(rng: np.random.Generator, out: str) -> dict:
    vocab = _vocab(rng)
    n_base = N_DOCS - 2 * N_FAMILIES
    n_words = rng.integers(20, 41, n_base)
    word_ids = [rng.integers(0, VOCAB, n) for n in n_words]
    langs = rng.integers(0, len(LANGS), n_base)
    texts, lang_of, origin = [], [], []
    for i in range(n_base):
        texts.append(" ".join(vocab[word_ids[i]]))
        lang_of.append(LANGS[langs[i]])
        origin.append(i)
    # family f = base doc f plus one exact copy (odd f) or a second
    # near-copy (even f), plus one near-copy with SUB_FRAC of its words
    # replaced by other same-length words
    for f in range(N_FAMILIES):
        for copy in range(2):
            ids = word_ids[f].copy()
            if copy == 0 or f % 2 == 0:
                k = max(1, int(round(SUB_FRAC * len(ids))))
                pos = rng.choice(len(ids), size=k, replace=False)
                ids[pos] = rng.integers(0, VOCAB, k)
            texts.append(" ".join(vocab[ids]))
            lang_of.append(lang_of[f])
            origin.append(f)
    doc_id = rng.permutation(N_DOCS).astype(np.int64)
    families = [[] for _ in range(N_FAMILIES)]
    for row, o in enumerate(origin):
        if o < N_FAMILIES:
            families[o].append(int(doc_id[row]))
    docs = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": lang_of,
            "source": [f"src{int(d) % 4}" for d in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    _write(docs, os.path.join(out, "documents.parquet"))

    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    label = rng.integers(0, N_CLUSTERS, N_VECS).astype(np.int32)
    emb = (centers[label] + CLUSTER_NOISE * rng.normal(0.0, 1.0, (N_VECS, DIM))).astype(
        np.float32
    )
    vecs = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel(), pa.float32()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": label,
        }
    )
    _write(vecs, os.path.join(out, "embeddings.parquet"))
    return {"families": families}


def gen_mutations(rng: np.random.Generator, out: str) -> dict:
    """Base rows k = 0..TABLE_ROWS-1 and a fixed mutation script whose
    key ranges and values come from the seed."""

    def rows(keys: np.ndarray) -> pa.Table:
        return pa.table(
            {
                "k": keys.astype(np.int64),
                "grp": (keys % 16).astype(np.int64),
                "v": rng.integers(0, 1_000_000, len(keys)).astype(np.int64),
                "amt": np.round(rng.uniform(0.0, 1000.0, len(keys)), 2),
            }
        )

    _write(rows(np.arange(TABLE_ROWS)), os.path.join(out, "base.parquet"))
    nxt = TABLE_ROWS

    def lo() -> int:
        return int(rng.integers(0, TABLE_ROWS - RANGE))

    _write(rows(np.arange(nxt, nxt + APPEND_ROWS)), os.path.join(out, "append_a.parquet"))
    nxt += APPEND_ROWS
    upd = rng.choice(TABLE_ROWS, MERGE_UPDATES + MERGE_DELETES, replace=False)
    merge_keys = np.concatenate([upd, np.arange(nxt, nxt + MERGE_INSERTS)])
    nxt += MERGE_INSERTS
    merge = rows(merge_keys).append_column(
        "op",
        pa.array(
            ["u"] * MERGE_UPDATES + ["d"] * MERGE_DELETES + ["i"] * MERGE_INSERTS
        ),
    )
    _write(merge, os.path.join(out, "merge.parquet"))

    def rng_pred(mod: int) -> tuple[str, list]:
        a = lo()
        r = int(rng.integers(0, mod))
        return (
            f"k >= {a} AND k < {a + RANGE} AND k % {mod} = {r}",
            [["k", ">=", a], ["k", "<", a + RANGE]],
        )

    def read_where() -> list:
        a = lo()
        return [["k", ">=", a], ["k", "<", a + RANGE]]

    def dml(kind: str, mode: str) -> dict:
        pred, prune = rng_pred(3)
        step = {"op": f"{kind}_where", "mode": mode, "predicate": pred, "prune": prune}
        if kind == "update":
            step["set"] = {"v": f"v + {int(rng.integers(1, 100))}"}
        return step

    script = [
        {"op": "write_version", "file": "base.parquet"},
        {"op": "append_version", "file": "append_a.parquet"},
        dml("update", "cow"),
        dml("delete", "dv"),
        {"op": "read_version", "where": read_where()},
        dml("update", "dv"),
        dml("delete", "cow"),
        {"op": "read_changes"},  # change feed of the latest commit
        {"op": "merge_version", "file": "merge.parquet", "delete_predicate": "op = 'd'"},
        {"op": "compact_version", "sort_col": "k", "target_files": 4},
        {"op": "stream_cdc"},
    ]
    return {"script": script}


GENERATORS = {"ema_rounds": gen_ema, "llm_dedup": gen_dedup, "table_mutations": gen_mutations}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the workload's inputs under `out`; return its ground truth."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    truth = GENERATORS[workload](rng, out)
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
