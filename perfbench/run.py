#!/usr/bin/env python3
"""Crawl-loop benchmark: complete ``CrawlEngine.run`` crawls on seeded
workloads, at ``local[4]``, one crawl at a time in one process.

Run from the repository root:

    python3 perfbench/run.py --workload fixture_audit --seed 1 --seconds 30 --trace 0

``--trace 0`` sets up (``setup_s``: session start, the median of three
input set-ups and the checkpoint preparation), then times exactly one
cold crawl, which takes about ``--seconds`` on 4 vCPUs, and prints the
end-to-end metrics. ``--trace 1`` runs a traced crawl (see ``spans.py``)
and an untraced one and prints the per-layer metrics, each with the
end-to-end metric and workload it should move. Every crawl's output is
checked; a failed check counts as a failed operation. Metric units are
read from ``BENCHMARK.json``. The last line of stdout is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--scale tiny`` shrinks the workloads for ``selfcheck.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

from layers import MB, du

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench")
CPUS = 4                    # local[4]: the host has 4 vCPUs
DRIVER_MEM = "3g"           # fixed heap (-Xms = -Xmx): the JVM then holds ~4 GB of the 15 GB host
SHUFFLE_PARTITIONS = 8      # 2x cores, as the test session uses
CALIB_ROWS = 30_000_000
SETUP_REPEATS = 3           # setup_s takes the median input set-up of these
SCALING_START_BY = 100      # s into a traced run; later, the local[1] crawl would
                            # risk the run's 180 s limit, so it is skipped


def log(*a):
    print(*a, flush=True)


# ------------------------------------------------------------------ memory
class MemSampler(threading.Thread):
    """Peak resident memory of the JVM and the Python workers (every
    descendant of this process) and peak bytes under the run's
    spark.local.dir. Memory is summed as PSS, so pages the forked Python
    workers share with their daemon count once."""

    def __init__(self, local_dir: str, period: float = 0.5):
        super().__init__(daemon=True)
        self.local_dir, self.period = local_dir, period
        self.stop_ev = threading.Event()
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        with self.lock:
            self.peak_mem = self.peak_scratch = 0
            self.peak_parts = {}

    @staticmethod
    def descendants(root_pid):
        kids = {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            name = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append((int(p), name))
        out, todo = [], [root_pid]
        while todo:
            for pid, name in kids.get(todo.pop(), []):
                out.append((pid, name))
                todo.append(pid)
        return out

    def _mem(self):
        parts = {}
        for pid, name in self.descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    pss = next(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
            key = "jvm" if name == "java" else "python"
            parts[key] = parts.get(key, 0) + pss * 1024
        return parts

    def sample(self):
        parts, scratch = self._mem(), du(self.local_dir)
        with self.lock:
            if sum(parts.values()) > self.peak_mem:
                self.peak_mem, self.peak_parts = sum(parts.values()), parts
            self.peak_scratch = max(self.peak_scratch, scratch)
            return self.peak_mem, self.peak_scratch, dict(self.peak_parts)

    def run(self):
        while not self.stop_ev.wait(self.period):
            self.sample()

    def stop(self):
        self.stop_ev.set()
        self.join()


# ----------------------------------------------------------------- session
def start_session(cpus: int, local_dir: str):
    os.makedirs(local_dir, exist_ok=True)
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = local_dir
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # temp files of Python and of the launcher JVM stay in the run's
    # directory too (hsperfdata would go to /tmp)
    os.environ["TMPDIR"] = local_dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from librecrawl_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          # keep every job, stage and execution of a run
                          # in the status stores the tracer reads
                          "spark.ui.retainedJobs": "100000",
                          "spark.ui.retainedStages": "100000",
                          "spark.sql.ui.retainedExecutions": "100000",
                          # shuffle files stay until the session stops:
                          # their GC-timed cleanup moved the scratch peak
                          # by a third between equal runs. A run times one
                          # crawl, so scratch_peak_mb is everything that
                          # crawl wrote, an upper bound of the peak a
                          # session with the cleaner on would reach
                          "spark.cleaner.referenceTracking": "false",
                          # a fixed heap: G1 grows a smaller initial heap
                          # by GC-timing heuristics, so peak memory would
                          # vary by hundreds of MB between equal runs; JVM
                          # temp files stay in the run's directory
                          "spark.driver.extraJavaOptions":
                              f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={local_dir}",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and its JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while MemSampler.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def cached_mb(spark, keep: set) -> float:
    """Storage held by RDDs cached since ``keep`` was taken."""
    total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() not in keep:
            total += info.memSize() + info.diskSize()
    return total / 2**20


def release(spark, keep: set) -> None:
    """Drop everything a crawl cached; the workload inputs in ``keep``
    are local checkpoints, which clearCache leaves alone."""
    spark.catalog.clearCache()
    for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid not in keep:
            rdd.unpersist(True)


def calibrate(spark, cpus: int) -> float:
    """Pure-JVM compute job (chained xxhash64 over spark.range, no
    shuffle, no Python, no IO): the best of two runs, in seconds."""
    from pyspark.sql import functions as F

    expr = F.col("id")
    for _ in range(12):
        expr = F.xxhash64(expr)
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, CALIB_ROWS, 1, cpus * 4).select(F.max(expr)).collect()
        best = min(best, time.perf_counter() - t0)
    return best


# ----------------------------------------------------------------- metrics
def metric_units() -> dict:
    """{metric: unit} for every metric BENCHMARK.json names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def e2e_metrics(out, setup_s) -> dict:
    return {
        "crawl_s": out.crawl_s,
        "pages_per_s": out.n_pages / out.crawl_s,
        "urls_per_s": out.seen_growth / out.crawl_s,
        "wave_p50_s": statistics.median(out.wave_walls),
        "wave_max_s": max(out.wave_walls),
        "peak_rss_mb": out.peak_mem / MB,
        "scratch_peak_mb": out.peak_scratch / MB,
        "setup_s": setup_s,
    }


def run_crawl(wl, clock=time.perf_counter, mem=None, around=contextlib.nullcontext,
              report=None):
    """One complete crawl plus its checks; returns (outcome, errors).
    The crawl, and ``report(outcome)`` where given, run inside
    ``around()``; the checks run after it. With ``mem``, the outcome
    carries the sampler's peaks up to the end of the crawl. ``report``
    returns issue rows, checked with the workload's ``check_report``."""
    if mem is not None:
        mem.reset()
    with around():
        out = wl.crawl(clock)
        if mem is not None:
            out.peak_mem, out.peak_scratch, out.mem_parts = mem.sample()
        rows = report(out) if report is not None else None
    try:
        errs = wl.check(out)
        out.fingerprint = wl.fingerprint(out)
        if rows is not None:
            errs += wl.check_report(out.result, rows)
    except Exception as e:  # a check that cannot run is a failed check
        traceback.print_exc()
        errs = [f"check raised {type(e).__name__}: {e}"]
        out.fingerprint = None
    return out, errs


class Tally:
    """The checked operations of one run. Every crawl of one seed must
    give the same output fingerprint."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.fps = set()

    def add(self, errs, label=None, out=None):
        if out is not None:
            self.fps.add(out.fingerprint)
            if len(self.fps) > 1:
                errs = errs + ["fingerprint differs between crawls of one seed"]
            label = (f"crawl {self.attempted + 1}: crawl_s={out.crawl_s:.2f} "
                     f"pages={out.n_pages} links={out.n_links} new_urls={out.seen_growth} "
                     f"waves={[round(w, 2) for w in out.wave_walls]} "
                     f"fingerprint={out.fingerprint}")
        self.attempted += 1
        self.failed += bool(errs)
        log(f"  {label} " + ("ok" if not errs else f"FAILED {errs[:3]}"))

    def result(self, metrics, units) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="about the length of the one crawl a timed run measures")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "librecrawl_spark", "plans", "crawl.py")):
        print("perfbench: librecrawl_spark/ is missing next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    units = metric_units()

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    rdir = os.path.join(RUN_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    local_dir = os.path.join(rdir, "spark-local")
    workdir = os.path.join(rdir, "work")
    mem = None
    try:
        t0 = time.perf_counter()
        spark = start_session(CPUS, local_dir)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[a.workload](a.seed, a.scale)
        # the traced run reports no setup_s, so it sets up once
        input_s = []
        for _ in range(1 if a.trace else SETUP_REPEATS):
            release(spark, set())
            shutil.rmtree(workdir, ignore_errors=True)
            t1 = time.perf_counter()
            wl.setup(spark, workdir)
            input_s.append(time.perf_counter() - t1)
        keep = persistent_rdds(spark)
        t1 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t1
        setup_s = session_s + statistics.median(input_s) + prepare_s
        log(f"perfbench {a.workload} seed={a.seed} cpus={CPUS} "
            f"sizes={json.dumps(wl.sizes())} setup_s={setup_s:.2f} (session {session_s:.2f}, "
            f"inputs {[round(x, 2) for x in input_s]}, prepare {prepare_s:.2f})")

        if a.trace:
            result = traced_run(spark, wl, keep, a, local_dir, workdir, units, t0)
        else:
            mem = MemSampler(local_dir)
            mem.start()
            result = timed_run(wl, a, setup_s, mem, units)
    finally:
        try:
            if mem is not None:
                mem.stop()
            stop_spark()
        finally:
            shutil.rmtree(rdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def timed_run(wl, a, setup_s, mem, units):
    """Exactly one crawl, checked. It runs cold, as a crawl job in a
    fresh process does, so JIT and code generation stay in its crawl_s
    (on 4 vCPUs a warm-up crawl would cost as much as the timed one), and
    it is the session's only crawl, so its memory and scratch peaks hold
    nothing another crawl left."""
    tally = Tally()
    out, errs = run_crawl(wl, mem=mem)
    tally.add(errs, out=out)
    metrics = e2e_metrics(out, setup_s)
    log("  peak memory by process: " + ", ".join(
        f"{k}={v / MB:.0f} MB" for k, v in sorted(out.mem_parts.items())))
    for k, v in metrics.items():
        log(f"{a.workload} {k} = {v:.4f} {units[k]}")
    log(f"{a.workload} error_rate = {tally.failed / tally.attempted:.4f} "
        f"({tally.failed}/{tally.attempted} checked crawls failed)")
    return tally.result(metrics, units)


def traced_run(spark, wl, keep, a, local_dir, workdir, units, started):
    """A traced crawl (plus the traced issue report where the workload
    has one), first and so cold like the timed crawls, then an untraced
    one, after which only the engine has cached anything since the
    inputs (``crawl.cached_mb_left``), and the workload's down-scaled
    oracle check. Where the workload measures scaling, the same crawl
    then runs at local[1] in a new Spark context of the same JVM, beside
    the JVM calibration job: efficiency from N to 4N is
    (t_1 / t_4) / 4, with t_1 and t_4 the wave of two warm, untraced
    crawls. The BASELINE.json gate (>= 0.8) is reported as measured, not
    enforced."""
    from layers import per_layer_metrics, print_layers
    from spans import Tracer

    tally = Tally()
    tracer = Tracer(spark)

    def issue_report(out):
        with tracer.span("issues.report") as s:
            rows = [r.asDict() for r in out.result.issues().collect()]
            s["rows"] = [len(rows)]
        return rows

    traced, errs = run_crawl(wl, time.time, around=tracer.patched,
                             report=issue_report if wl.with_report else None)
    tally.add(errs, out=traced)
    layers, waves = per_layer_metrics(tracer, traced, tracer.collect_spark(), wl)
    tracer.dump(os.path.join(ROOT, ".perfbench-out", f"{a.workload}-seed{a.seed}.spans.jsonl"),
                [{"wave_row": w} for w in waves])
    release(spark, keep)
    untraced, errs = run_crawl(wl)
    tally.add(errs, out=untraced)
    layers["crawl.cached_mb_left"] = cached_mb(spark, keep)
    release(spark, keep)
    log(f"  crawl_s traced={traced.crawl_s:.2f} (cold) untraced={untraced.crawl_s:.2f} "
        f"(warm); the tracer's own row counts took {layers['tracing_overhead_s']:.2f} s")
    t0 = time.perf_counter()
    errs = wl.oracle_check(os.path.join(workdir, "oracle"))
    tally.add(errs, f"down-scaled generator vs oracle ({time.perf_counter() - t0:.2f} s):")

    used = time.perf_counter() - started
    if wl.scaling and a.scale == "full" and used > SCALING_START_BY:
        log(f"  scaling skipped: {used:.0f} s used, more than {SCALING_START_BY} s")
    elif wl.scaling and a.scale == "full":
        calib_n = calibrate(spark, CPUS)
        spark.stop()
        spark1 = start_session(1, local_dir)
        wl1 = type(wl)(a.seed, a.scale)
        wl1.setup(spark1, workdir)  # the prepared checkpoint stays on disk
        one, errs = run_crawl(wl1)
        tally.add(errs, out=one)
        calib_1 = calibrate(spark1, 1)
        w1, w4 = one.wave_walls[0], untraced.wave_walls[0]
        layers["scaling_eff"] = w1 / (CPUS * w4)
        layers["calib_eff"] = calib_1 / (CPUS * calib_n)
        log(f"  scaling: wave local[1]={w1:.2f} s local[{CPUS}]={w4:.2f} s; calibration "
            f"{calib_1:.2f} s vs {calib_n:.2f} s; BASELINE.json gate (>= 0.8) "
            f"{'met' if layers['scaling_eff'] >= 0.8 else 'not met'} (the wave is "
            f"mostly per-job fixed cost at this size, which more cores do not shorten)")
    layers["error_rate"] = tally.failed / tally.attempted
    print_layers(a.workload, waves, layers, units)
    return tally.result(layers, units)


if __name__ == "__main__":
    sys.exit(main())
