#!/usr/bin/env python3
"""Closed-loop benchmark of the repo's user jobs.

    python3 perfbench/run.py --workload raster_extract --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. One driver process at local[nproc] runs the
named workload's job back to back (each run starts when the previous one
ends) for ``--seconds`` and at least ``MIN_RUNS`` times, checks every run's
output against an independent numpy/pandas oracle, and prints as its last
stdout line one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` a traced pass over the job's layers (see ``workloads.py``)
replaces the timed loop and the metrics are the per-layer ones. The line
before it is a JSON object with the host, the unscaled samples and, when
traced, the spans; the same is written to ``.perfbench_out/``.

Set-up (``setup_s``) is session start, JVM launch included, plus the first
(cold) run of the job; input generation is not part of it. It is measured
once per process: a second JVM launch and cold run do not fit the time a
run may take on a 4-core host, and restarting the SparkContext inside one
JVM leaves the package's module-level UDFs bound to the stopped context.

The times among the end-to-end metrics are scaled to a reference host
speed: after every run a fixed Python + numpy job (``spans.HostSpeed``)
times the host, and each time is multiplied by ``REF_PROBE_S`` over the
median probe. The speed of the shared host drifts by tens of percent within
minutes; unscaled, the spread between runs exceeds any usable bound.

Exit status: 0 when every run succeeded and matched the oracle, 1 when a
run failed or mismatched, 2 when the repository is not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_RUNS = 1
# host-speed probe time (spans.HostSpeed) that times are scaled to
REF_PROBE_S = 0.5


def host_env(work: str) -> dict:
    """Size the session from the machine through get_spark's overrides."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    return {"nproc": cpus, "mem_total_mb": mem_kb // 1024,
            "driver_heap_mb": heap_mb}


def get_session(name: str, cpus: int, tmp: str):
    """get_spark with the benchmark's temp dir and a fixed, pre-touched
    heap: the heap is then resident in full on every run, so peak RSS
    moves with off-heap and Python-worker memory rather than with the
    collector's resizing decisions. No perf-data file goes to /tmp."""
    from air_health_gis_tools_spark.session import get_spark
    heap = os.environ["SPARK_DRIVER_MEM"]
    return get_spark(f"perfbench-{name}", cpus=cpus, extra_conf={
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}"})


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it and the
    Python workers it forked have exited."""
    from pyspark import SparkContext

    from spans import descendants, wait_gone
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    # the workers outlive the JVM by a moment and are then no longer
    # its children: list them while they still are
    workers = descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_gone(workers)


def end_children() -> None:
    """Kill and wait for any process this one started that is still
    running; on a clean exit there is none."""
    from spans import descendants, wait_gone
    wait_gone(descendants(os.getpid()), timeout_s=0.0)


class Runner:
    def __init__(self, wl, work: str, seed: int):
        import numpy as np
        self.wl, self.work = wl, work
        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.checked = self.mismatched = 0
        self.notes: list[str] = []
        self._k = 0

    def out_dir(self) -> str:
        self._k += 1
        return os.path.join(self.work, "out", str(self._k))

    def once(self, spark) -> float | None:
        """One job run into a fresh output directory, then its oracle
        check; returns the run's wall seconds, None if it raised."""
        spark.catalog.clearCache()
        out = self.out_dir()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.wl.run(spark, out)
        except Exception as e:  # a failed run is counted, not fatal
            self.failed += 1
            self.notes.append(f"run {self.attempted}: {e!r}"[:500])
            return None
        wall = time.perf_counter() - t0
        self.verify(out)
        return wall

    def verify(self, out: str) -> None:
        checked, bad, notes = self.wl.check(out, self.rng)
        self.checked += checked
        self.mismatched += bad
        self.notes += notes
        shutil.rmtree(out, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "air_health_gis_tools_spark",
                                        "session.py"))
            and os.path.isdir(os.path.join(ROOT, "jobs"))):
        print(f"perfbench: no package or jobs/ under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    host = host_env(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        return bench(args, work, host)
    finally:
        end_children()
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str, host: dict) -> int:
    import pyspark

    from spans import HostSpeed, RssSampler, summarize
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = host["nproc"]
    wl = WORKLOADS[args.workload](work, args.seed, cpus)
    wl.make_inputs()
    r = Runner(wl, work, args.seed)

    # set-up: session start (JVM launch included) plus one cold run
    t0 = time.perf_counter()
    spark = get_session(args.workload, cpus, os.environ["TMPDIR"])
    session_s = time.perf_counter() - t0
    walls: list[float] = []
    try:
        with (RssSampler(spark.sparkContext._gateway.proc.pid) as rss,
              HostSpeed(cpus) as speed):
            warm = r.once(spark)
            rss.mark()
            speed.sample()
            deadline = time.perf_counter() + args.seconds
            # a traced run replaces the timed loop (see traced())
            while (warm is not None and not args.trace
                   and (time.perf_counter() < deadline
                        or len(walls) < MIN_RUNS)):
                wall = r.once(spark)
                rss.mark()
                speed.sample()
                if wall is None:
                    break
                walls.append(wall)

        metrics, spans = {}, None
        if warm is not None and args.trace:
            metrics, spans = traced(wl, spark, r, walls, session_s)
        elif walls:
            # times scaled to the reference host speed: the shared host's
            # speed drifts by tens of percent within minutes
            scale = REF_PROBE_S / statistics.median(speed.samples)
            med = statistics.median(walls)
            metrics = {
                "items_per_s": {"value": wl.n_items / (med * scale),
                                "unit": "1/s"},
                "wall_s": {"value": med * scale, "unit": "s"},
                "setup_s": {"value": (session_s + warm) * scale,
                            "unit": "s"},
                # the smaller per-run peak of the cold and the timed run:
                # now and then a run forks a burst of extra Python workers
                # (+2.5 GB), and one burst must not set the value
                "peak_rss_mb": {"value": min(rss.runs), "unit": "MB"},
            }
        info = {"workload": args.workload, "seed": args.seed,
                "n_items": wl.n_items,
                "host": dict(host, pyspark=pyspark.__version__),
                "session_s": session_s, "warmup_s": warm,
                "wall_s": summarize(walls) if walls else None,
                "host_speed_s": speed.samples,
                "peak_rss_mb": {"runs": rss.runs, "jvm": rss.jvm,
                                "python_workers": rss.children},
                "failed_frac": r.failed / max(r.attempted, 1),
                "mismatch_frac": r.mismatched / max(r.checked, 1),
                "notes": r.notes[:20], "spans": spans}
    finally:
        stop_jvm(spark)

    correct = bool(metrics) and r.failed == 0 and r.mismatched == 0
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, indent=1)
    print(json.dumps(info))
    if not metrics:
        print(f"perfbench: no successful run; {r.notes[:3]}", file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if args.trace
                                    else "end_to_end"]}
    if want != set(metrics):
        print(f"perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(want ^ set(metrics))}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": correct, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if correct else 1


# unit of each per-layer metric, by name suffix
_UNITS = (("_mb", "MB"), ("_s", "s"), ("_per_s", "1/s"), ("_ratio", "ratio"),
          ("_per_point", "count"), ("strategy", "code"), ("core_util", "ratio"))


def _unit(name: str) -> str:
    unit = "count"
    for suffix, u in _UNITS:
        if name.endswith(suffix):
            unit = u
    return unit


def traced(wl, spark, r: Runner, walls, session_s) -> tuple[dict, list]:
    """Per-layer metrics from one traced pass over the job's layers, then
    one untraced run of the job as the baseline for the tracing overhead;
    its wall time is appended to ``walls``."""
    from spans import Tracer
    from workloads import WORKLOADS

    spark.catalog.clearCache()
    tr = Tracer(spark)
    out = r.out_dir()
    layers = wl.traced(tr, out)
    r.attempted += 1
    r.verify(out)
    base = r.once(spark)
    if base is not None:
        walls.append(base)
    job = tr.get("job")
    values = {f"spark.{k}": v for k, v in job["spark"].items()}
    values["session.get_spark_s"] = session_s
    values["trace.overhead_s"] = job["wall_s"] - base if base else 0.0
    # every layer is reported on every workload: 0 where it is not called
    for other in WORKLOADS.values():
        for name in other.LAYER_METRICS:
            values.setdefault(name, 0.0)
    values.update(layers)
    metrics = {k: {"value": v, "unit": _unit(k)}
               for k, v in sorted(values.items())}
    return metrics, tr.spans


if __name__ == "__main__":
    sys.exit(main())
