"""Spans, Spark status-store counters and process-tree sampling.

A span wraps one call into a layer of the package. While a span is
open, Spark jobs started from this thread run under a job group named
after it, so after each pass the jobs, their stages and the stage
counters (run and CPU time, GC, shuffle, spill) can be read back from
the status store and attributed to the span that caused them.
Tracing is off for the end-to-end runs; `Tracer(enabled=False)` makes
every span a no-op.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_NULL = contextmanager(lambda: (yield None))


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.pass_no = -1

    def span(self, name: str, **attrs):
        """Context manager yielding the span dict (None when disabled)."""
        return self._span(name, attrs) if self.enabled else _NULL()

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def _span(self, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "pass": self.pass_no,
            "group": f"gb-{self.run_id}-{len(self.spans)}",
            "extra_groups": [],
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def harvest(self) -> None:
        """Attach jobs and stage counters to every span not yet read.

        The status store is filled from Spark's asynchronous listener
        bus, so the bus is drained first: otherwise the last jobs of a
        pass could still lack their end time or task metrics. Job times
        come from the status store in epoch ms; they are mapped onto
        the perf_counter clock the spans use."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        offset = time.time() - time.perf_counter()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        for sp in self.spans:
            if "jobs" in sp:
                continue
            jobs = []
            for group in [sp["group"], *sp["extra_groups"]]:
                for jid in tracker.getJobIdsForGroup(group):
                    jd = store.job(jid)
                    sub, done = jd.submissionTime(), jd.completionTime()
                    stages = []
                    for sid in conv.asJava(jd.stageIds()):
                        try:
                            s = store.lastStageAttempt(sid)
                        except Exception:  # never submitted: no entry
                            continue
                        if str(s.status()) == "SKIPPED":
                            continue
                        stages.append(
                            {
                                "id": sid,
                                "tasks": s.numTasks(),
                                "run_s": s.executorRunTime() / 1e3,
                                "cpu_s": s.executorCpuTime() / 1e9,
                                "gc_s": s.jvmGcTime() / 1e3,
                                "shuffle_read_mb": s.shuffleReadBytes() / 1e6,
                                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6,
                            }
                        )
                    jobs.append(
                        {
                            "id": jid,
                            "start": sub.get().getTime() / 1e3 - offset if sub.isDefined() else None,
                            "end": done.get().getTime() / 1e3 - offset if done.isDefined() else None,
                            "stages": stages,
                        }
                    )
            sp["jobs"] = jobs

    def finish(self) -> None:
        """Self time per span: wall minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                kids.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            wall = sp["end"] - sp["start"]
            sp["wall_s"] = wall
            sp["self_s"] = wall - covered(
                [(c["start"], c["end"]) for c in kids.get(sp["id"], [])], sp["start"], sp["end"]
            )

    def subtree_jobs(self, sp: dict) -> list[dict]:
        """Jobs of a span and of every span below it, each once."""
        ids = {sp["id"]}
        out, seen = [], set()
        for s in self.spans:  # spans are appended parent-first
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                for j in s.get("jobs", []):
                    if j["id"] not in seen:
                        seen.add(j["id"])
                        out.append(j)
        return out

    def driver_s(self, sp: dict) -> float:
        """Span wall time during which none of its jobs was running."""
        iv = [(j["start"], j["end"]) for j in self.subtree_jobs(sp) if j["start"] and j["end"]]
        return (sp["end"] - sp["start"]) - covered(iv, sp["start"], sp["end"])


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def stage_totals(jobs: list[dict]) -> dict:
    keys = ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
    tot = {k: 0.0 for k in keys}
    seen = set()
    for j in jobs:
        for s in j["stages"]:
            if s["id"] in seen:
                continue
            seen.add(s["id"])
            for k in keys:
                tot[k] += s[k]
    tot["stages"] = len(seen)
    tot["jobs"] = len(jobs)
    return tot


# ---------------------------------------------------------------------------
# Process tree: resident memory and CPU time, read from /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(name)] = int(fields[1])
            except OSError:
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _cpu_s(pid: int) -> float:
    """CPU seconds of one process, reaped children included."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields after the command: state=0, utime=11, stime=12, cutime=13,
    # cstime=14
    return sum(int(x) for x in f[11:15]) / _TICK


def alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its descendants."""
    return sum(_cpu_s(p) for p in _tree_pids(os.getpid()))


def _pss(pid: int) -> int:
    """Proportional resident bytes of one process: each shared page is
    divided among the processes mapping it, so Python workers forked
    from one daemon are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory (PSS) of this process and all its
    descendants (the Spark driver JVM and its Python workers), sampled
    on a thread every 0.1 s while `active` is set."""

    INTERVAL_S = 0.1

    def __init__(self) -> None:
        self.peak = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            if self.active.is_set():
                rss = sum(_pss(p) for p in _tree_pids(me))
                self.peak = max(self.peak, rss)
            self._stop.wait(self.INTERVAL_S)

    def close(self) -> None:
        self._stop.set()
        self._t.join()


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0
