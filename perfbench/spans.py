"""Spans, Spark stage metrics and process memory, read from outside the
package.

A span tags every Spark job it starts with its own job group. When it
ends, it reads that group's stage rows from Spark's AppStatusStore (run
time, JVM CPU time, input/output/shuffle/spill bytes, task counts) and the
row counts of its SQL plan nodes from the SQL status store. Works with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

MB = 1 << 20


def _opt(o):
    return o.get() if o.isDefined() else None


class StageReader:
    """AppStatusStore stage rows and SQL node row counts by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def stages(self, desc: str) -> list[dict]:
        gw = self._gw
        # py4j fills in no Scala defaults: pass all five arguments
        rows = self._store.stageList(None, False, False,
                                     gw.new_array(gw.jvm.double, 0),
                                     gw.jvm.java.util.ArrayList())
        out = []
        for i in range(rows.size()):
            s = rows.apply(i)
            if _opt(s.description()) != desc:
                continue
            out.append({
                "stage": s.stageId(), "attempt": s.attemptId(),
                "status": s.status().toString(),
                "tasks": s.numTasks(), "failed_tasks": s.numFailedTasks(),
                "task_s": s.executorRunTime() / 1e3,
                "jvm_cpu_s": s.executorCpuTime() / 1e9,
                "input_mb": s.inputBytes() / MB,
                "output_mb": s.outputBytes() / MB,
                "shuffle_read_mb": s.shuffleReadBytes() / MB,
                "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                "spill_mb": (s.memoryBytesSpilled()
                             + s.diskBytesSpilled()) / MB,
            })
        return out

    def task_quantiles(self, stage: int, attempt: int) -> tuple[float, float]:
        """(median, max) task run time of one stage, in seconds."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        d = _opt(self._store.taskSummary(stage, attempt, q))
        if d is None:
            return 0.0, 0.0
        rt = d.executorRunTime()
        return rt.apply(0) / 1e3, rt.apply(1) / 1e3

    def node_rows(self, desc: str) -> list[tuple[str, int]]:
        """(node name, output rows) of every SQL plan node run in a group."""
        out = []
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.description() != desc:
                continue
            eid = e.executionId()
            vals = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                n = nodes.apply(k)
                ms = n.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() != "number of output rows":
                        continue
                    v = _opt(vals.get(m.accumulatorId()))
                    if v is not None:
                        out.append((n.name(), int(v.replace(",", ""))))
        return out


class Tracer:
    """Spans kept in memory; ``spans`` is written out when the run ends."""

    def __init__(self, spark):
        self.spark = spark
        self.reader = StageReader(spark)
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        desc = f"perfbench:{self._n}:{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(desc, desc, False)
        rec = {"name": name, "group": desc, "start": time.time()}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._collect(rec, desc)
            self.spans.append(rec)

    def _collect(self, rec: dict, desc: str) -> None:
        stages = self.reader.stages(desc)
        tot = {k: sum(s[k] for s in stages) for k in (
            "tasks", "failed_tasks", "task_s", "jvm_cpu_s", "input_mb",
            "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")}
        tot["python_s"] = tot["task_s"] - tot["jvm_cpu_s"]
        longest = max(stages, key=lambda s: s["task_s"], default=None)
        ratio = 0.0
        if longest is not None:
            med, mx = self.reader.task_quantiles(longest["stage"],
                                                 longest["attempt"])
            ratio = mx / med if med > 0 else 0.0
        tot["straggler_ratio"] = ratio
        # consistency: summed task run time cannot exceed wall x cores
        cores = self.spark.sparkContext.defaultParallelism
        tot["core_util"] = tot["task_s"] / max(rec["wall_s"] * cores, 1e-9)
        rec["spark"] = tot
        rec["stages"] = stages
        rec["nodes"] = self.reader.node_rows(desc)

    def best(self, name: str, fn, reps: int = 2):
        """Run ``fn`` in ``reps`` spans of one name and keep the fastest;
        returns ``(fn's last result, kept span)``."""
        first = len(self.spans)
        for _ in range(reps):
            with self.span(name):
                res = fn()
        runs = self.spans[first:]
        keep = min(runs, key=lambda s: s["wall_s"])
        keep["reps_wall_s"] = [s["wall_s"] for s in runs]
        del self.spans[first:]
        self.spans.append(keep)
        return res, keep

    def get(self, name: str) -> dict:
        return next(s for s in reversed(self.spans) if s["name"] == name)


# --------------------------------------------------------------------------
# resident memory of the JVM and its Python workers
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, parent pid, start time in ticks) of a process, or None
    when it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return rest[0], int(rest[1]), int(rest[19])
    except (OSError, IndexError, ValueError):
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            kids.setdefault(st[1], []).append(int(d))
    return kids


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, start time) of every descendant of ``root``."""
    kids, out = _children(), []
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        if (st := _stat(pid)) is not None:
            out.append((pid, st[2]))
        todo += kids.get(pid, [])
    return out


def _alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[2] == start and st[0] != "Z"


def wait_gone(procs: list[tuple[int, int]], timeout_s: float = 30.0) -> None:
    """Wait until every (pid, start time) has exited; after ``timeout_s``
    kill what is left and wait for that too. Works for processes that are
    not children of this one, e.g. Python workers orphaned by the JVM."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in procs if _alive(*p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(*p)]
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while left := [p for p in left if _alive(*p)]:
        time.sleep(0.05)


def tree_rss_mb(root: int) -> tuple[float, float]:
    """(RSS of ``root``, RSS of its descendants) in MB."""
    kids = _children()
    todo, own, rest = [root], 0, 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        if pid == root:
            own = rss
        else:
            rest += rss
        todo += kids.get(pid, [])
    return own / MB, rest / MB


class RssSampler:
    """Peak summed RSS of a process tree per run, sampled on a thread.

    ``mark()`` closes the current run and starts the next; ``runs`` holds
    each closed run's peak, and ``jvm``/``children`` the highest RSS of the
    root alone and of its descendants alone."""

    def __init__(self, root: int, every_s: float = 0.1):
        self.root, self.every_s = root, every_s
        self.runs: list[float] = []
        self.jvm = self.children = self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            own, rest = tree_rss_mb(self.root)
            with self._lock:
                self._peak = max(self._peak, own + rest)
                self.jvm = max(self.jvm, own)
                self.children = max(self.children, rest)
            self._stop.wait(self.every_s)

    def mark(self) -> None:
        with self._lock:
            self.runs.append(self._peak)
            self._peak = 0.0

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def _probe_work(n: int) -> float:
    import numpy as np
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i % 7
    a = np.arange(n, dtype=np.int64)
    for _ in range(20):
        a = np.sort((a * 48271 + 11) % 1_000_003)
    return time.perf_counter() - t0


class HostSpeed:
    """Times a fixed Python + numpy job on ``procs`` concurrent processes:
    how fast this host is right now. It uses no Spark and no package code.
    The processes are started once, so each ``sample()`` times only the
    job; leaving the context closes their stdin and waits for them."""

    def __init__(self, procs: int, n: int = 700_000):
        self.n = n
        self.samples: list[float] = []
        self._procs = [subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "probe"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for _ in range(procs)]

    def sample(self) -> None:
        for p in self._procs:
            p.stdin.write(f"{self.n}\n")
            p.stdin.flush()
        times = [float(p.stdout.readline()) for p in self._procs]
        self.samples.append(statistics.median(times))

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for p in self._procs:
            p.stdin.close()
        for p in self._procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()


def summarize(walls: list[float]) -> dict:
    """Median, plus the highest percentile with at least ten samples
    beyond it (none below 20 samples: then the max is given)."""
    n = len(walls)
    out = {"n": n, "median": statistics.median(walls), "max": max(walls),
           "runs": walls}
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        out[f"p{p}"] = statistics.quantiles(walls, n=100)[p - 1]
    return out


if __name__ == "__main__":
    # python3 perfbench/spans.py probe: one HostSpeed process; reads a job
    # size per line and answers with the job's seconds, until stdin closes
    if sys.argv[1:] != ["probe"]:
        raise SystemExit("usage: spans.py probe")
    for line in sys.stdin:
        print(_probe_work(int(line)), flush=True)
