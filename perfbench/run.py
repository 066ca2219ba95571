"""Closed-loop benchmark of the extraction engine.

    python3 perfbench/run.py --workload {extract_cold,tick_maintain}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One client (this process) runs one
cycle at a time on Spark ``local[k]``, k = min(4, cores). The last line of
standard output is one JSON object: ``correct``, ``attempted`` (timed
cycles), ``failed`` (cycles that raised or failed their output check) and
``metrics`` — every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``. Progress and warnings go to standard error.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the metric names and units, from the one place that lists them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

CORES = min(4, os.cpu_count() or 1)
# a run must end well inside 180 s: no new cycle starts after this
DEADLINE_S = 120.0


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f} s] {msg}", file=sys.stderr, flush=True)


def log_rss(peak: dict) -> dict:
    log("rss MB: " + ", ".join(f"{k} {v:.0f}" for k, v in peak.items()))
    return peak


def collect_garbage(sc) -> None:
    """Garbage from the last cycle is collected here, outside the timer,
    on both sides of the bridge, not during the next cycle."""
    gc.collect()
    sc._jvm.System.gc()


@contextmanager
def no_span(name):
    yield {}


def start_session(work: str):
    """The program's own session factory, with everything the run writes
    kept under ``work``: shuffle files, temp files and the warehouse."""
    from fscrawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # the package zip and the Python workers' temp files
    tempfile.tempdir = tmp
    return get_spark(
        app="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            # keep every job of a run in the status store for the counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    from pyspark import SparkContext

    from perfbench.probe import descendants, wait_ended

    pids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_ended(pids)


class Loop:
    """Runs timed cycles of one workload and keeps their outcomes."""

    def __init__(self, wl, sc, speed):
        self.wl = wl
        self.sc = sc
        self.speed = speed
        self.times: list[float] = []
        self.cpus: list[float] = []       # as measured
        self.norm_cpus: list[float] = []  # at the host's idle speed
        self.speeds: list[float] = []
        self.counts: list[tuple[int, int]] = []
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def one(self, timed: bool = True) -> None:
        """One cycle: untimed preparation, the timed cycle under its own
        job group, then the untimed output check (warm-up cycles, which
        count nowhere, skip it)."""
        from perfbench.probe import group_stats, tree_cpu_s

        self.n += 1
        group = f"cycle-{self.n}"
        try:
            self.wl.before_cycle()
            collect_garbage(self.sc)
            self.sc.setJobGroup(group, "cycle")
            c0, t0, m0 = tree_cpu_s(), time.perf_counter(), self.speed.mark()
            res = self.wl.cycle(no_span)
            dt = time.perf_counter() - t0
            c1, speed = tree_cpu_s(), self.speed.speed(m0)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if timed:
                self.wl.check(res)
        except Exception:  # a failed cycle is counted, and the run goes on
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            log(f"cycle {self.n} failed:\n{traceback.format_exc()}")
            if timed:
                self.attempted += 1
                self.failed += 1
            return
        py, jvm = c1[0] - c0[0], c1[1] - c0[1]
        if timed:
            self.attempted += 1
            self.times.append(dt)
            self.cpus.append(py + jvm)
            self.norm_cpus.append((py + jvm) * speed)
            self.speeds.append(speed)
            st = group_stats(self.sc, group)
            self.counts.append((st["jobs"], st["tasks"]))
        log(f"cycle {self.n}{'' if timed else ' (warm-up)'}: {dt:.3f} s, cpu {py:.2f} python + {jvm:.2f} jvm s, "
            f"host speed {speed:.3f}, normalized cpu {(py + jvm) * speed:.3f} s")

    def warm_up(self) -> None:
        for _ in range(self.wl.warmup_cycles):
            self.one(timed=False)

    def measure(self, seconds: float, min_cycles: int, t_process: float) -> None:
        t0 = time.perf_counter()
        while self.attempted < min_cycles or time.perf_counter() - t0 < seconds:
            if self.attempted and time.perf_counter() - t_process > DEADLINE_S:
                log("deadline reached; no further cycles")
                break
            self.one()

    def report_counts(self) -> None:
        """Job and task counts must repeat exactly from cycle to cycle;
        name the one that does not instead of averaging it away."""
        for i, name in enumerate(("cycle.jobs", "cycle.tasks")):
            seen = [c[i] for c in self.counts]
            if len(set(seen)) > 1:
                log(f"count not repeated: {name} {seen}")


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import probe
    from perfbench.workloads import WORKLOADS

    t_process = time.perf_counter()
    speed = probe.SpeedProbe()
    work = os.path.join(ROOT, ".perfbench", f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0, m0 = time.perf_counter(), speed.mark()
        spark = start_session(work)
        session_start = time.perf_counter() - t0
        wl = WORKLOADS[workload](spark, ROOT, work, seed)
        session_speed = speed.speed(m0)
        log(f"session started in {session_start:.3f} s")
        wl.prepare()  # seeded inputs: not part of setup_s
        log("inputs ready")
        rss = probe.RssSampler()
        t_setup, m_setup = time.perf_counter(), speed.mark()
        wl.bootstrap()
        loop = Loop(wl, spark.sparkContext, speed)
        loop.warm_up()
        setup_s = session_start + time.perf_counter() - t_setup
        # the session start and the rest of set-up, each at the host's idle speed
        norm_setup_s = session_start * session_speed + (setup_s - session_start) * speed.speed(m_setup)
        log(f"setup {setup_s:.3f} s (session start {session_start:.3f} s), normalized {norm_setup_s:.3f} s")

        # a traced run needs one untraced cycle, the baseline of its overhead
        loop.measure(seconds / 2 if trace else seconds, 1 if trace else wl.min_cycles, t_process)
        loop.report_counts()
        try:
            wl.final_check()
        except Exception:
            log(f"final check failed:\n{traceback.format_exc()}")
            loop.failed = min(loop.attempted, loop.failed + 1)
        if trace:
            metrics = traced(wl, spark, loop, workload, seed)
            peak = log_rss(rss.stop())
            metrics.update({
                "session.start_s": session_start,
                "setup.wall_s": setup_s,
                "session.rss_jvm_mb": peak["jvm"],
                "session.rss_pyworkers_mb": peak["pyworkers"],
                "session.heap_peak_mb": probe.heap_peak_mb(spark),
            })
        else:
            metrics = {
                # 0 only when no cycle passed, and then `correct` is false
                "cycle_cpu_s": statistics.median(loop.norm_cpus) if loop.cpus else 0.0,
                "setup_s": norm_setup_s,
                "peak_rss_mb": log_rss(rss.stop())["total"],
                "ok_ratio": (loop.attempted - loop.failed) / loop.attempted,
            }
    finally:
        if spark is not None:
            stop_session(spark)
        speed.stop()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def traced(wl, spark, loop: Loop, workload: str, seed: int) -> dict:
    """Per-layer probes plus one traced cycle, counted as an attempted
    cycle: if it or a probe raises or fails a check, the cycle fails and
    its layer metrics read 0. Layers the workload never calls report 0.
    The tracing overhead is the traced cycle (less its read-only probe
    spans) minus the median untraced cycle."""
    from perfbench import probe

    med = statistics.median
    metrics = dict.fromkeys(PER_LAYER, 0)
    if loop.times:
        metrics.update({
            "cycle.wall_s": med(loop.times),
            "cycle.cpu_s": med(loop.cpus),
            "host.speed": med(loop.speeds),
        })
    tracer = probe.Tracer(spark.sparkContext, "trace")
    loop.attempted += 1
    try:
        wl.before_cycle()
        collect_garbage(spark.sparkContext)
        wl.probe(tracer, "before")
        with tracer.span(f"{workload}.cycle") as root:
            res = wl.cycle(tracer.span, probes=True)
        wl.check(res)
        wl.probe(tracer, "after")
        spans = tracer.finish()
        by_name = {s["name"]: s for s in spans}
        metrics.update(wl.layer_metrics(by_name, res))
        if loop.times:
            probe_s = sum(s["duration_s"] for s in spans if s.get("probe"))
            metrics["trace.overhead_s"] = root["duration_s"] - probe_s - med(loop.times)
    except Exception:
        log(f"traced cycle failed:\n{traceback.format_exc()}")
        loop.failed += 1
        return metrics
    out = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-s{seed}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        # the same seed gives the same inputs, so every count must repeat
        with open(out) as f:
            before = json.load(f)["metrics"]
        for k, unit in PER_LAYER.items():
            if unit in ("count", "bytes") and before.get(k) != metrics[k]:
                log(f"count not repeated: {k} {before.get(k)} -> {metrics[k]}")
    with open(out, "w") as f:
        json.dump({"spans": spans, "metrics": metrics}, f, indent=1)
    for s in spans:
        log(f"span {s['name']}: self {s['self_s']:.3f} s, {s['jobs']} jobs, {s['tasks']} tasks, "
            f"shuffle {s['shuffle_bytes']} B, spill {s['spill_bytes']} B, exec {s['executor_s']:.3f} s")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract_cold", "tick_maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fscrawler_spark")):
        log(f"no fscrawler_spark package under {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
