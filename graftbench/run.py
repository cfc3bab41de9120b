"""Benchmark entry point: one run of one workload.

    python3 graftbench/run.py --workload ema_rounds --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. A run generates its inputs
from the seed, starts a fixed local[N] session, plays the workload's
operation script once untimed (warm-up), then plays it again in whole
passes until `--seconds` have gone by and at least the workload's
`min_passes` are done, checks every output against a computation made
apart from the package, and prints one JSON object as the last stdout
line. With `--trace 0` it reports the end-to-end
metrics; with `--trace 1` timed passes alternate untraced and traced
(at least three: untraced, traced, untraced), and it reports the
per-layer metrics and writes the spans to
graftbench/out/trace-<workload>-<seed>.json.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "meta_iterative_mapreduce_spark"


def local_cores() -> int:
    """local[N]: leave one core for the driver JVM and this process."""
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description="one benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(spec_path):
        print(f"error: no {PACKAGE}/ source tree or BENCHMARK.json under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"error: unknown workload {a.workload}", file=sys.stderr)
        return 2

    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(HERE, "out", run_id)
    inp = os.path.join(work, "input")
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the run writes stays inside the checkout
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")]),
        # a JVM writes /tmp/hsperfdata_<user>/<pid> whatever its tmpdir
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    # the package's default driver memory (16g) is more than a small
    # machine has; every run uses the same 2g
    os.environ["MIMR_DRIVER_MEM"] = "2g"
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(a, spec, run_id, work, inp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, spec: dict, run_id: str, work: str, inp: str) -> int:
    import gen
    import spans as tr
    import workloads as W
    from meta_iterative_mapreduce_spark.session import get_spark

    truth = gen.generate(a.workload, a.seed, inp)
    t = time.perf_counter()
    spark = get_spark(
        f"graftbench-{a.workload}",
        cpus=local_cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            f" -Dderby.system.home={os.path.join(work, 'tmp')}",
        },
    )
    session_s = time.perf_counter() - t
    sampler = tr.RssSampler()
    try:
        return measure(a, spec, run_id, spark, session_s, sampler, truth, work, inp, tr, W)
    finally:
        sampler.close()
        stop_spark(spark)


def measure(a, spec, run_id, spark, session_s, sampler, truth, work, inp, tr, W) -> int:
    off = tr.Tracer(spark, run_id, enabled=False)
    tracer = tr.Tracer(spark, run_id, enabled=a.trace == 1)
    wl = W.WORKLOADS[a.workload](spark, inp, truth, work, off)
    if a.trace:
        install_layer_spans(wl)

    warm = W.Pass(off)
    outs = [wl.run_pass(warm)]
    spark.catalog.clearCache()
    log_ops("warm-up", warm)
    attempted, failed = warm.attempted, warm.failed
    setup_s = time.perf_counter() - T0

    passes = []
    jiffies0 = tr.cpu_jiffies()
    sampler.active.set()
    t_start = time.perf_counter()
    # a traced run brackets each traced pass by untraced ones, so the
    # tracing overhead is not confounded with passes speeding up as the
    # session warms
    min_passes = max(wl.min_passes, 3) if a.trace else wl.min_passes
    while len(passes) < min_passes or time.perf_counter() - t_start < a.seconds:
        traced = bool(a.trace) and len(passes) % 2 == 1
        tracer.pass_no = len(passes)
        wl.tracer = tracer if traced else off
        p = W.Pass(wl.tracer)
        c0, t = tr.tree_cpu_s(), time.perf_counter()
        outs.append(wl.run_pass(p))
        passes.append(
            {"s": time.perf_counter() - t, "cpu_s": tr.tree_cpu_s() - c0, "op_s": p.op_s, "traced": traced}
        )
        attempted, failed = attempted + p.attempted, failed + p.failed
        log_ops(f"pass {len(passes) - 1}", p)
        if traced:
            tracer.harvest()
        spark.catalog.clearCache()
    sampler.active.clear()
    jiffies1 = tr.cpu_jiffies()
    steal = (jiffies1[1] - jiffies0[1]) / max(1, jiffies1[0] - jiffies0[0])

    t_check = time.perf_counter()
    problems = wl.check(outs)
    check_s = time.perf_counter() - t_check
    for msg in problems:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    plain = [p for p in passes if not p["traced"]]
    if a.trace:
        tracer.finish()
        values = layer_metrics(tracer, passes, outs[1:], session_s, tr)
        trace_path = os.path.join(os.path.dirname(work), f"trace-{a.workload}-{a.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"run_id": run_id, "workload": a.workload, "seed": a.seed, "passes": passes,
                       "spans": tracer.spans, "metrics": values}, fh)
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": med(p["s"] for p in plain),
            "op_p50_s": med(s for p in plain for s in p["op_s"]),
            "peak_rss_mb": sampler.peak / 1e6,
        }
        wanted = spec["end_to_end"]
    n_ops = sum(len(p["op_s"]) for p in passes)
    print(
        f"# workload={a.workload} seed={a.seed} cores={local_cores()} passes={len(passes)}"
        f" timed_ops={n_ops} steal_frac={steal:.4f} session_s={session_s:.3f} check_s={check_s:.3f}"
        f" pass_s={[round(p['s'], 3) for p in passes]}"
    )
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


def log_ops(label: str, p) -> None:
    ops = " ".join(f"{n}={s:.3f}" for n, s in zip(p.op_names, p.op_s))
    print(f"# {label} {sum(p.op_s):.3f}s: {ops}", file=sys.stderr)


def install_layer_spans(wl) -> None:
    """Spans inside the query functions, from outside: wrap the CC
    driver and k-means, which the registered queries look up as module
    attributes at call time. A CC round starts when the loop calls
    `_large_star` and ends at the public `on_round` hook; both are
    timestamped here."""
    from meta_iterative_mapreduce_spark.operators import clustering, components

    cc, km, large_star = components.connected_components, clustering.kmeans, components._large_star
    open_cc: list[dict] = []

    def timed_large_star(e):
        if open_cc:
            open_cc[-1]["round_starts"].append(time.perf_counter())
        return large_star(e)

    def traced_cc(edges, max_iter=25, on_round=None):
        with wl.tracer.span("components.connected_components") as sp:
            def hook(i, n_edges, seconds):
                if sp is not None:
                    sp["round_ends"].append(time.perf_counter())
                if on_round is not None:
                    on_round(i, n_edges, seconds)

            if sp is not None:
                sp.update(round_starts=[], round_ends=[])
                open_cc.append(sp)
            try:
                return cc(edges, max_iter=max_iter, on_round=hook)
            finally:
                if sp is not None:
                    open_cc.pop()

    def traced_kmeans(*args, **kw):
        with wl.tracer.span("clustering.kmeans") as sp:
            res = km(*args, **kw)
            if sp is not None:
                sp["n_iters"] = res.n_iters
            return res

    components.connected_components = traced_cc
    components._large_star = timed_large_star
    clustering.kmeans = traced_kmeans


def layer_metrics(tracer, passes: list[dict], outs: list[dict], session_s: float, tr) -> dict:
    """Per-layer numbers from the traced passes (medians over passes
    or over spans). A layer the workload never calls reads 0."""
    traced = [i for i, p in enumerate(passes) if p["traced"]]
    spans = [s for s in tracer.spans if s["pass"] in traced]
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    wall = lambda s: s["end"] - s["start"]  # noqa: E731
    m: dict[str, float] = {"session.start_s": session_s}

    rounds = named("regression.meta_fit")
    m["regression.round_s"] = med(map(wall, rounds))
    m["regression.round_driver_s"] = med(map(tracer.driver_s, rounds))
    m["regression.round_jobs"] = med(len(tracer.subtree_jobs(s)) for s in rounds)
    m["regression.loop_iter_s"] = med(
        outs[i]["iterative_fit_loop_s"] / outs[i]["iterative_fit_loop"][2]
        for i in traced if "iterative_fit_loop" in outs[i]
    )
    m["regression.ema_fit_s"] = med(map(wall, named("regression.iterative_ema_fit")))

    km = named("clustering.kmeans")
    m["clustering.kmeans_iter_s"] = med(wall(s) / s["n_iters"] for s in km)
    m["clustering.kmeans_driver_s"] = med(map(tracer.driver_s, km))

    cc = named("components.connected_components")
    m["components.cc_rounds"] = med(len(s["round_ends"]) for s in cc)
    m["components.cc_round_s"] = med(b - a for s in cc for a, b in zip(s["round_starts"], s["round_ends"]))
    m["components.cc_jobs"] = med(len(tracer.subtree_jobs(s)) for s in cc)

    ops = [s for s in spans if s.get("op")]
    for layer in ("dedup", "similarity", "text"):
        per_pass = {k: [] for k in ("build_s", "run_s", "executor_cpu_s", "shuffle_write_mb")}
        for i in traced:
            mine = [s for s in ops if s["pass"] == i and s["name"].startswith(layer + ".")]
            kids = [s for s in spans if s["parent"] in {o["id"] for o in mine}]
            tot = tr.stage_totals([j for o in mine for j in tracer.subtree_jobs(o)])
            per_pass["build_s"].append(sum(wall(s) for s in kids if s["name"] == f"{layer}.build"))
            per_pass["run_s"].append(sum(wall(s) for s in kids if s["name"] == f"{layer}.run"))
            per_pass["executor_cpu_s"].append(tot["cpu_s"])
            per_pass["shuffle_write_mb"].append(tot["shuffle_write_mb"])
        for k, xs in per_pass.items():
            m[f"{layer}.{k}"] = med(xs)

    commits = [s for s in ops if s["name"].split(".")[1] in
               ("write_version", "append_version", "update_where", "delete_where", "merge_version")]
    m["versioned.commit_s"] = med(map(wall, commits))
    m["versioned.commit_p90_s"] = quantile([wall(s) for s in commits], 0.9)
    m["versioned.read_s"] = med(map(wall, named("versioned.read_version")))
    m["versioned.changes_s"] = med(map(wall, named("versioned.read_changes")))
    m["versioned.compact_s"] = med(map(wall, named("versioned.compact_version")))
    m["versioned.files_per_commit"] = med(n for i in traced for n in outs[i].get("added_files", []))
    fracs = [r[3] for i in traced for r in outs[i].get("reads", [])]
    m["versioned.files_read_frac"] = sum(fracs) / len(fracs) if fracs else 0.0

    streams = [outs[i]["stream"] for i in traced if outs[i].get("stream")]
    m["streaming.first_batch_s"] = med(s["first"] - s["start"] for s in streams if "first" in s)
    m["streaming.stop_s"] = med(s["end"] - s["batch_end"][-1] for s in streams if s["batch_end"])
    m["streaming.drain_s"] = med(s["end"] - s["start"] for s in streams)
    m["streaming.batches"] = med(len(s["frames"]) for s in streams)

    engine = {k: [] for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "driver_s")}
    for i in traced:
        top = [s for s in spans if s["pass"] == i and s["parent"] is None]
        tot = tr.stage_totals([j for s in top for j in tracer.subtree_jobs(s)])
        tot["driver_s"] = sum(map(tracer.driver_s, top))
        for k in engine:
            engine[k].append(tot[k])
    for k, name in (("run_s", "executor_run_s"), ("cpu_s", "executor_cpu_s")):
        engine[name] = engine.pop(k)
    for k, xs in engine.items():
        m[f"spark.{k}"] = med(xs)
    m["proc.cpu_s"] = med(passes[i]["cpu_s"] for i in traced)
    m["op_p90_s"] = quantile([s for i in traced for s in passes[i]["op_s"]], 0.9)
    m["trace.overhead_s"] = med(passes[i]["s"] for i in traced) - med(p["s"] for p in passes if not p["traced"])
    return m


def stop_spark(spark) -> None:
    """Stop the session, shut the gateway JVM down and wait until every
    process this run started (the JVM, its Python workers) has ended."""
    from pyspark import SparkContext

    import spans as tr

    started = [p for p in tr._tree_pids(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while True:
        left = [p for p in started if tr.alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
