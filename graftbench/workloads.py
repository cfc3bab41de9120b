"""The three workloads: each a fixed operation script (one pass) over
generated inputs, plus the independent checks of its outputs.

An operation is one call into a public function of the package,
together with the collect that materializes its result. `Pass.call`
times it, counts it, and (in a traced run) wraps it in a span named
`<layer>.<function>`, where the layer is the package module.

A workload's `min_passes` is the fewest timed passes a run makes,
however short `--seconds` is: as many as the whole benchmark's run
budget affords for that workload's pass length (see the README).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from meta_iterative_mapreduce_spark import registry
from meta_iterative_mapreduce_spark.io import load_table
from meta_iterative_mapreduce_spark.operators import regression as R
from meta_iterative_mapreduce_spark.sources import versioned as V
from meta_iterative_mapreduce_spark.streaming.table_source import stream_cdc


class Pass:
    """Timing and failure bookkeeping for one pass of a script."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.op_s: list[float] = []
        self.op_names: list[str] = []
        self.attempted = 0
        self.failed = 0

    def call(self, layer: str, name: str, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{layer}.{name}", op=True):
                out = fn()
        except Exception:  # counted, reported, and the script goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.op_s.append(time.perf_counter() - t0)
        self.op_names.append(name)
        return out


def _norm(x):
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return None
    if isinstance(x, (bool, np.bool_)):
        return bool(x)
    if isinstance(x, (int, float, np.integer, np.floating)):
        return float(x)
    return x


def rows_of(pdf: pd.DataFrame, cols: list[str]) -> Counter:
    """Order-insensitive multiset of rows over `cols`, NULL/NaN and
    int/float width normalized."""
    return Counter(tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False))


def same_frame(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    cols = sorted(a.columns)
    return cols == sorted(b.columns) and rows_of(a, cols) == rows_of(b, cols)


# ---------------------------------------------------------------------------
# ema_rounds
# ---------------------------------------------------------------------------


def _ols(x: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    mx, my = x.mean(), y.mean()
    w1 = ((x - mx) * (y - my)).sum() / ((x - mx) ** 2).sum()
    return my - w1 * mx, w1


class EmaRounds:
    """The reference loop played from outside: a new batch file per
    round, `meta_fit` (chunk -> super-chunk -> global average), EMA;
    then the two in-library loop forms over the same batches."""

    name = "ema_rounds"
    min_passes = 2

    def __init__(self, spark, inp: str, truth: dict, work: str, tracer) -> None:
        self.spark, self.inp, self.truth, self.tracer = spark, inp, truth, tracer
        self.bdir = os.path.join(inp, "batches.parquet")
        self.key = F.col("key")
        self.batch = F.expr(f"key div {gen.EMA_ROWS}")

    def run_pass(self, p: Pass) -> dict:
        out: dict = {"fits": [], "ema": []}
        w = None
        for name in self.truth["batches"]:

            def one_round(name=name):
                df = load_table(self.spark, self.bdir, name)
                r = R.meta_fit(df, "x", "y", self.key % 8, self.key % 2).collect()[0]
                f = (r["w0"], r["w1"])
                nw = f if w is None else (R.ema_step(w[0], f[0]), R.ema_step(w[1], f[1]))
                return f, nw

            res = p.call("regression", "meta_fit", one_round)
            if res is not None:
                out["fits"].append(res[0])
                out["ema"].append(res[1])
                w = res[1]
        all_rows = load_table(self.spark, self.inp, "batches")
        for fn in (R.iterative_ema_fit, R.iterative_fit_loop):
            t0 = time.perf_counter()
            res = p.call("regression", fn.__name__, lambda fn=fn: fn(all_rows, "x", "y", self.batch, self.key % 8))
            if res is not None:
                out[fn.__name__] = (res.w0, res.w1, res.n_iters, res.n_batches)
                out[fn.__name__ + "_s"] = time.perf_counter() - t0
        return out

    def check(self, outs: list[dict]) -> list[str]:
        """numpy replay of per-chunk OLS, uniform averages and the EMA
        recursion (kernel.cu:42-63, 148-166, 214-215)."""
        problems: list[str] = []
        fits, batch_avgs = [], []
        for name in self.truth["batches"]:
            t = pq.read_table(os.path.join(self.bdir, f"{name}.parquet")).to_pandas()
            chunk = {c: _ols(g.x.to_numpy(), g.y.to_numpy()) for c, g in t.groupby(t.key % 8)}
            supers = [np.mean([chunk[c] for c in chunk if c % 2 == s], axis=0) for s in (0, 1)]
            fits.append(tuple(np.mean(supers, axis=0)))
            batch_avgs.append(tuple(np.mean(list(chunk.values()), axis=0)))

        def ema(seq):
            w, hist = seq[0], [seq[0]]
            for f in seq[1:]:
                w = (R.DEFAULT_ALPHA * w[0] + (1 - R.DEFAULT_ALPHA) * f[0],
                     R.DEFAULT_ALPHA * w[1] + (1 - R.DEFAULT_ALPHA) * f[1])
                hist.append(w)
            return hist

        want_ema, want_loop = ema(fits), ema(batch_avgs)[-1]
        close = lambda a, b: np.allclose(a, b, rtol=1e-9, atol=1e-9)  # noqa: E731
        n = len(fits)
        for i, o in enumerate(outs):
            if not (close(o["fits"], fits) and close(o["ema"], want_ema)):
                problems.append(f"pass {i}: meta_fit/EMA rounds differ from the numpy replay")
            for fn in ("iterative_ema_fit", "iterative_fit_loop"):
                got = o.get(fn)
                if got is None or not close(got[:2], want_loop) or tuple(got[2:]) != (n, n):
                    problems.append(f"pass {i}: {fn} = {got}, replay = {want_loop} over {n} batches")
        w0, w1 = want_ema[-1]
        if abs(w0 - self.truth["w0"]) > 0.5 or abs(w1 - self.truth["w1"]) > 0.05:
            problems.append(f"final weights {w0, w1} far from planted {self.truth['w0'], self.truth['w1']}")
        return problems


# ---------------------------------------------------------------------------
# llm_dedup
# ---------------------------------------------------------------------------

DEDUP_QUERIES = (
    "q_dedup_exact",
    "q_dedup_components",
    "q_sim_cosine_topk",
    "q_text_tfidf",
    "q_cluster_kmeans",
)


def layer_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[1]


class LlmDedup:
    """Registered dedup / similarity / text / clustering queries on a
    generated corpus with planted near-duplicate families and planted
    embedding clusters."""

    name = "llm_dedup"
    min_passes = 2

    def __init__(self, spark, inp: str, truth: dict, work: str, tracer) -> None:
        self.spark, self.inp, self.truth, self.tracer = spark, inp, truth, tracer
        self.fns = {q: registry.queries()[q] for q in DEDUP_QUERIES}

    def run_pass(self, p: Pass) -> dict:
        out = {}
        for q, fn in self.fns.items():
            layer = layer_of(fn)

            def op(fn=fn, layer=layer):
                with self.tracer.span(f"{layer}.build"):
                    df = fn(self.spark, self.inp)
                with self.tracer.span(f"{layer}.run"):
                    return df.toPandas()

            out[q] = p.call(layer, q, op)
        return out

    def check(self, outs: list[dict]) -> list[str]:
        problems: list[str] = []
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.inp}/{t}.parquet')")
        oracles = registry.oracle_sql()
        first = outs[0]
        for q in DEDUP_QUERIES:
            got = first.get(q)
            if got is None:
                continue  # failed operation, counted in `failed`
            want = con.execute(oracles[q]).fetchdf()
            if not same_frame(got, want):
                problems.append(f"{q}: differs from its DuckDB oracle ({len(got)} vs {len(want)} rows)")
            for i, o in enumerate(outs[1:], 1):
                if o.get(q) is not None and not same_frame(o[q], got):
                    problems.append(f"{q}: pass {i} output differs from pass 0")
        comp = first.get("q_dedup_components")
        if comp is not None:
            # union-find over the planted pairs: each family is one
            # planted component; all its members must share one label
            # and exactly one of them must be kept
            label = dict(zip(comp.doc_id, comp.component_id))
            keep = dict(zip(comp.doc_id, comp.keep))
            for fam in self.truth["families"]:
                if len({label[d] for d in fam}) != 1 or sum(bool(keep[d]) for d in fam) != 1:
                    problems.append(f"planted family {fam} did not collapse to one kept document")
                    break
        return problems


# ---------------------------------------------------------------------------
# table_mutations
# ---------------------------------------------------------------------------

TABLE_COLS = ["k", "grp", "v", "amt"]
CHANGE_COLS = ["k", "op"] + [f"{s}_{c}" for s in ("old", "new") for c in TABLE_COLS[1:]]


def _where_sql(where: list) -> str:
    return " AND ".join(f"{c} {op} {lit}" for c, op, lit in where)


class TableMutations:
    """A fixed script of small commits on a fresh versioned table,
    interleaved with pruned reads and change-feed reads, ending with a
    compaction and one availableNow drain of the CDC stream."""

    name = "table_mutations"
    min_passes = 1

    def __init__(self, spark, inp: str, truth: dict, work: str, tracer) -> None:
        self.spark, self.inp, self.truth, self.tracer = spark, inp, truth, tracer
        self.work = work
        self.n_pass = 0

    def _src(self, step: dict):
        return self.spark.read.parquet(os.path.join(self.inp, step["file"]))

    def run_pass(self, p: Pass) -> dict:
        d = os.path.join(self.work, f"tm{self.n_pass}")
        shutil.rmtree(os.path.join(self.work, f"tm{self.n_pass - 1}"), ignore_errors=True)
        self.n_pass += 1
        table, spark = os.path.join(d, "t"), self.spark
        out: dict = {"commits": [], "reads": [], "changes": [], "stream": None, "table": table}
        cur = prev = None
        for step in self.truth["script"]:
            op = step["op"]
            where = [tuple(c) for c in step.get("where", [])]
            prune = [tuple(c) for c in step.get("prune", [])]
            if op == "write_version":
                fn = lambda s=step: V.write_version(  # noqa: E731
                    self._src(s).repartitionByRange(gen.TABLE_FILES, "k"), table
                )
            elif op == "append_version":
                fn = lambda s=step: V.append_version(self._src(s), table)  # noqa: E731
            elif op == "update_where":
                fn = lambda s=step, pr=prune: V.update_where(  # noqa: E731
                    spark, table, s["set"], s["predicate"], prune=pr, mode=s["mode"]
                )
            elif op == "delete_where":
                fn = lambda s=step, pr=prune: V.delete_where(  # noqa: E731
                    spark, table, s["predicate"], mode=s["mode"], prune=pr
                )
            elif op == "merge_version":
                fn = lambda s=step: V.merge_version(  # noqa: E731
                    spark, table, self._src(s), "k", delete_predicate=s["delete_predicate"]
                )
            elif op == "compact_version":
                fn = lambda s=step: V.compact_version(  # noqa: E731
                    spark, table, sort_col=s["sort_col"], target_files=s["target_files"]
                )
            elif op == "read_version":
                got = p.call("versioned", op, lambda w=where: V.read_version(spark, table, where=w).toPandas())
                if self.tracer.enabled:
                    kept, total = V.plan_files(table, cur, where)
                    out["reads"].append((cur, where, got, len(kept) / total))
                else:
                    out["reads"].append((cur, where, got, None))
                continue
            elif op == "read_changes":
                got = p.call("versioned", op, lambda a=prev, b=cur: V.read_changes(spark, table, a, b, "k").toPandas())
                out["changes"].append((prev, cur, got))
                continue
            elif op == "stream_cdc":
                out["stream"] = p.call("streaming", op, lambda: self._drain(table, os.path.join(d, "ckpt")))
                continue
            else:
                raise ValueError(f"unknown script op {op}")
            v = p.call("versioned", op, fn)
            if v is not None:
                prev, cur = cur, v
                out["commits"].append((op, v))
                if self.tracer.enabled:
                    out.setdefault("added_files", []).append(len(V.manifest_info(table, v).get("added", [])))
        return out

    def _drain(self, table: str, ckpt: str) -> dict:
        got: dict = {"frames": [], "batch_end": []}

        def sink(bdf, bid):
            got.setdefault("first", time.perf_counter())
            got["frames"].append(bdf.toPandas())
            got["batch_end"].append(time.perf_counter())

        t0 = time.perf_counter()
        q = (
            stream_cdc(self.spark, table, "k")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        sp = self.tracer.current()
        if sp is not None:  # the stream runs its jobs under its own group
            sp["extra_groups"].append(str(q.runId))
        done = q.awaitTermination(120)
        t_end = time.perf_counter()
        if not done or q.exception() is not None:
            q.stop()
            raise RuntimeError(f"stream_cdc drain did not finish: {q.exception()}")
        got.update(start=t0, end=t_end)
        return got

    def check(self, outs: list[dict]) -> list[str]:
        """Replay the script in DuckDB; compare every checked version,
        every change feed and the streamed change rows."""
        problems: list[str] = []
        con = duckdb.connect()
        snaps: dict[int, pd.DataFrame] = {}
        o = outs[0]
        commits = iter(o["commits"])
        for step in self.truth["script"]:
            op = step["op"]
            f = os.path.join(self.inp, step.get("file", ""))
            if op == "write_version":
                con.execute(f"CREATE TABLE t AS SELECT {', '.join(TABLE_COLS)} FROM read_parquet('{f}')")
            elif op == "append_version":
                con.execute(f"INSERT INTO t SELECT {', '.join(TABLE_COLS)} FROM read_parquet('{f}')")
            elif op == "update_where":
                sets = ", ".join(f"{c} = {e}" for c, e in step["set"].items())
                con.execute(f"UPDATE t SET {sets} WHERE {step['predicate']}")
            elif op == "delete_where":
                con.execute(f"DELETE FROM t WHERE {step['predicate']}")
            elif op == "merge_version":
                # WHEN MATCHED AND op='d' DELETE / WHEN MATCHED UPDATE /
                # WHEN NOT MATCHED (and not a delete row) INSERT
                con.execute(f"CREATE OR REPLACE TEMP TABLE m AS SELECT * FROM read_parquet('{f}')")
                con.execute("DELETE FROM t WHERE k IN (SELECT k FROM m)")
                con.execute(f"INSERT INTO t SELECT {', '.join(TABLE_COLS)} FROM m WHERE NOT ({step['delete_predicate']})")
            elif op != "compact_version":
                continue
            name, v = next(commits, (None, None))
            if name != op:
                problems.append(f"commit log {name} does not follow the script at {op}")
                return problems
            snaps[v] = con.execute("SELECT * FROM t").fetchdf()
        for i, o in enumerate(outs):
            for v, where, got, _ in o["reads"]:
                want = snaps[v].query(_where_sql(where).replace("AND", "and"))
                if got is None or rows_of(got, TABLE_COLS) != rows_of(want, TABLE_COLS):
                    problems.append(f"pass {i}: read_version({v}, {where}) differs from the replay")
            for a, b, got in o["changes"]:
                if got is None or rows_of(got, CHANGE_COLS) != diff(snaps[a], snaps[b]):
                    problems.append(f"pass {i}: read_changes({a}, {b}) differs from the replay")
            if o["stream"] is not None:
                streamed = sum((rows_of(f, CHANGE_COLS) for f in o["stream"]["frames"]), Counter())
                vs = sorted(snaps)
                want = diff(snaps[vs[0]].iloc[0:0], snaps[vs[0]])
                for a, b in zip(vs, vs[1:]):
                    want += diff(snaps[a], snaps[b])
                if streamed != want:
                    problems.append(f"pass {i}: streamed change rows are not every per-version change exactly once")
        final = V.read_version(self.spark, outs[-1]["table"]).toPandas()
        if rows_of(final, TABLE_COLS) != rows_of(snaps[max(snaps)], TABLE_COLS):
            problems.append("latest version differs from the replay")
        return problems


def diff(old: pd.DataFrame, new: pd.DataFrame) -> Counter:
    """Change rows (k, op, old_*, new_*) between two snapshots: I / D
    for keys on one side only, U where any column changed."""
    j = old.merge(new, on="k", how="outer", suffixes=("_o", "_n"), indicator=True)
    out = Counter()
    vals = TABLE_COLS[1:]
    for r in j.to_dict("records"):
        olds = [r[f"{c}_o"] for c in vals]
        news = [r[f"{c}_n"] for c in vals]
        if r["_merge"] == "right_only":
            op, olds = "I", [None] * len(vals)
        elif r["_merge"] == "left_only":
            op, news = "D", [None] * len(vals)
        elif [_norm(x) for x in olds] != [_norm(x) for x in news]:
            op = "U"
        else:
            continue
        out[tuple(_norm(x) for x in (r["k"], op, *olds, *news))] += 1
    return out


WORKLOADS = {w.name: w for w in (EmaRounds, LlmDedup, TableMutations)}
