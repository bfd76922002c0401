"""Run one workload: size Spark from the host, set up, drive a closed loop
of requests for a fixed time, check every answer, and report.

Closed loop: one request in flight; the next is sent when the previous
one has returned and been checked. Only request wall time is measured;
checking happens outside the timed interval.
"""

from __future__ import annotations

import datetime
import hashlib
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

from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_BASE = os.path.join(ROOT, ".perfbench_run")


# ---------------------------------------------------------------------------
# host sizing and provenance
# ---------------------------------------------------------------------------


def host() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024  # MiB
    nproc = len(os.sched_getaffinity(0))
    total = mem.get("MemTotal", 4096)
    avail = mem.get("MemAvailable", total)
    # an eighth of what is free, within [1 GiB, 8 GiB]: the JVM heap shares
    # the host with the Python workers and the benchmark's own process, and
    # the workloads' working sets are a few hundred MB
    driver_mb = max(1024, min(8192, min(total, avail) // 8))
    return {"nproc": nproc, "mem_total_mb": total, "mem_available_mb": avail, "driver_memory_mb": driver_mb}


def source_digest() -> str:
    """sha256 over the program's sources (the checkout may not be a git
    repository, so the tree itself identifies the code measured)."""
    h = hashlib.sha256()
    for sub in ("geomesa_spark", "perfbench"):
        base = os.path.join(ROOT, sub)
        for dp, dns, fns in os.walk(base):
            dns.sort()
            for fn in sorted(fns):
                if fn.endswith(".py"):
                    p = os.path.join(dp, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10, check=True
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def provenance(args, hw: dict, sizes: dict) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "argv": sys.argv,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": hw,
        "input_sizes": sizes,
        "versions": {
            "python": sys.version.split()[0],
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__,
        },
        "date_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    }


# ---------------------------------------------------------------------------
# Spark lifetime
# ---------------------------------------------------------------------------


def start_spark(run_dir: str, hw: dict):
    """A session sized from the host. The checkout is put on the Python
    workers' path before the JVM starts, so every worker (including the
    ones that generate inputs) can import geomesa_spark and perfbench."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from pyspark.sql import SparkSession

    n = hw["nproc"]
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{hw['driver_memory_mb']}m")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Workers already import the package from the checkout (PYTHONPATH
    # above). Mark the session as shipped so contract.ensure_py_files does
    # not also build its zip, which it writes outside the checkout.
    spark.sparkContext._geomesa_spark_pyfiles = True
    spark.range(1).count()  # the first job starts the executor backend
    return spark


def _children() -> dict[int, int]:
    """pid -> ppid for every process on the host."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root_pid: int) -> list[int]:
    parent = _children()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM, then wait until every process the run
    started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout / 2)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout / 2
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler(threading.Thread):
    """Peak of the summed resident set of this process and its descendants
    (driver Python, JVM, Python workers), sampled every ``period`` s. The
    per-process split at the peak goes into the result file."""

    def __init__(self, period: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self.peak_split: dict[str, int] = {}
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> tuple[int, dict[str, int]]:
        split: dict[str, int] = {}
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            split[comm] = split.get(comm, 0) + rss
        return sum(split.values()), split

    def run(self) -> None:
        while not self._stop_evt.is_set():
            total, split = self.sample()
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_split = total, split
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


@dataclass
class Sample:
    i: int
    group: str  # Spark job group and tracer request id
    op: str
    latency_s: float
    items: int
    ok: bool
    jobs: int
    traced: bool
    detail: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    run_dir: str
    hw: dict
    t0: float = 0.0  # perf_counter at the start of set-up
    tracer: object | None = None  # perfbench.trace.Tracer in traced runs
    span_dir: str = ""


def closed_loop(ctx: Ctx, name: str, wl, seconds: float, trace: str = "off") -> list[Sample]:
    """Requests back to back until ``seconds`` of wall time have passed.

    A workload with a request mix sets ``ROUND``, the length of one pass
    over the mix; a started round is always finished, so every run holds
    the same mix. It may set ``MIN_ROUNDS``, the rounds an untraced run
    measures at least. ``trace``: "off"; "alternate", where odd rounds are
    traced (at least two rounds, so the tracing overhead is the
    traced-minus-untraced difference under the same conditions); or "all"."""
    sc = ctx.spark.sparkContext
    tracker = sc.statusTracker()
    samples: list[Sample] = []
    size = getattr(wl, "ROUND", 1)
    min_rounds = {"off": getattr(wl, "MIN_ROUNDS", 1), "alternate": 2, "all": 1}[trace]
    deadline = time.monotonic() + seconds
    i = 0
    while i % size or i < min_rounds * size or time.monotonic() < deadline:
        traced = trace == "all" or (trace == "alternate" and (i // size) % 2 == 1)
        group = f"{name}-{i}"
        op = wl.op_for(i)
        sc.setJobGroup(group, op)
        detail: dict = {}
        if traced:
            ctx.tracer.request = group
        try:
            t0 = time.perf_counter()
            if traced:
                with ctx.tracer.span("request", op=op) as span:
                    answer = wl.request(i, op, span["id"], detail)
            else:
                answer = wl.request(i, op, None, detail)
            latency = time.perf_counter() - t0
            errors = wl.check(i, op, answer, detail)
        except Exception:  # a failed request is counted, and the loop goes on
            latency = time.perf_counter() - t0
            errors = ["raised:\n" + traceback.format_exc()]
        finally:
            if traced:
                ctx.tracer.request = None
        jobs = len(tracker.getJobIdsForGroup(group))
        if errors:
            print(f"request {i} ({op}) FAILED: {errors[:3]}", file=sys.stderr)
        samples.append(Sample(i, group, op, latency, wl.items_for(op), not errors, jobs, traced, detail))
        i += 1
    sc.setLocalProperty("spark.jobGroup.id", None)
    return samples


def end_to_end(samples: list[Sample], setup_s: float, peak_rss_mb: float) -> dict:
    lat = [s.latency_s for s in samples]
    return {
        "setup_s": setup_s,
        "items_per_s": sum(s.items for s in samples) / sum(lat),
        "p50_s": statistics.median(lat),
        "peak_rss_mb": peak_rss_mb,
    }


def drive(ctx: Ctx, name: str, seconds: float, trace: str, phases: dict):
    """Set up one workload, then run its closed loop (and, traced, derive
    its layer metrics). Returns (workload, samples, layer metrics, errors
    found outside the requests)."""
    from perfbench import workload_class

    wl = workload_class(name)(ctx)
    t = time.perf_counter()
    wl.prepare()
    phases[f"{name}.prepare_s"] = time.perf_counter() - t
    t = time.perf_counter()
    wl.warm_up()
    phases[f"{name}.warm_up_s"] = time.perf_counter() - t
    phases[f"{name}.setup_end_s"] = time.perf_counter() - ctx.t0
    # reference answers are the benchmark's own work, not set-up
    t = time.perf_counter()
    errors = wl.build_reference()
    phases[f"{name}.reference_s"] = time.perf_counter() - t
    samples = closed_loop(ctx, name, wl, seconds, trace)
    layer = wl.layer_metrics(samples) if trace != "off" else {}
    return wl, samples, layer, errors + wl.final_check()


def run(args) -> int:
    from perfbench import WORKLOAD_MODULES, workload_class
    from perfbench.layers import PER_LAYER, UNITS
    from perfbench.trace import Tracer

    workload_class(args.workload)  # fails fast where the program is missing
    hw = host()
    run_dir = os.path.join(RUN_BASE, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    rss = RssSampler()
    rss.start()
    t_setup = time.perf_counter()
    spark = start_spark(run_dir, hw)
    phases = {"spark_start_s": time.perf_counter() - t_setup}
    ctx = Ctx(spark=spark, seed=args.seed % 2**32, run_dir=run_dir, hw=hw, t0=t_setup)  # numpy seeds are non-negative
    if args.trace:
        ctx.tracer = Tracer()
        ctx.span_dir = os.path.join(run_dir, "spans")
        os.makedirs(ctx.span_dir, exist_ok=True)
    try:
        mode = "alternate" if args.trace else "off"
        wl, samples, layer, final_errors = drive(ctx, args.workload, args.seconds, mode, phases)
        setup_s = phases[f"{args.workload}.setup_end_s"]
        sizes = {args.workload: wl.sizes()}
        others = []
        if args.trace:
            # A traced run profiles every layer, so it also drives the other
            # workloads (one traced round each): a layer never reads 0
            # because the named workload bypasses it.
            for name in WORKLOAD_MODULES:
                if name != args.workload:
                    o_wl, o_samples, o_layer, o_errors = drive(ctx, name, 0, "all", phases)
                    layer.update(o_layer)
                    final_errors += o_errors
                    sizes[name] = o_wl.sizes()
                    others += o_samples
    finally:
        stop_spark(spark)
        peak_rss_mb = rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in final_errors:
        print(f"check FAILED: {e}", file=sys.stderr)
    untraced = [s for s in samples if not s.traced]
    traced = [s for s in samples if s.traced]
    e2e = end_to_end(untraced, setup_s, peak_rss_mb)
    failed = sum(not s.ok for s in samples + others)
    attempted = len(samples + others)
    named = wl.named_metrics(untraced)
    named["failed_frac"] = failed / attempted
    if args.trace:
        e2e_traced = end_to_end(traced, setup_s, peak_rss_mb) if traced else e2e
        for k in ("items_per_s", "p50_s"):
            layer[f"trace.overhead.{k}"] = e2e_traced[k] - e2e[k]
        reported = {name: float(layer.get(name, 0.0)) for name, _, _ in PER_LAYER}
    else:
        reported = e2e

    record = {
        "provenance": provenance(args, hw, sizes),
        "phases": phases,
        "peak_rss_mb_by_process": {k: v / 2**20 for k, v in rss.peak_split.items()},
        "end_to_end": e2e,
        "named_metrics": named,
        "per_layer": layer,
        "attempted": attempted,
        "failed": failed,
        "final_errors": final_errors,
        "samples": [s.__dict__ for s in samples + others],
    }
    res_dir = os.path.join(RUN_BASE, "results")
    os.makedirs(res_dir, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    res_path = os.path.join(res_dir, f"{stamp}-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(res_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    if ctx.tracer is not None:
        ctx.tracer.write(os.path.join(res_dir, f"{stamp}-{args.workload}-seed{args.seed}-spans.jsonl"))

    for k, v in named.items():
        print(f"# {args.workload} {k} = {v:.6g}")
    print(f"# {args.workload} requests = {attempted} (traced {len(traced)}), failed = {failed}")
    print(f"# result file: {os.path.relpath(res_path, ROOT)}")
    for k, v in reported.items():
        print(f"{k} {v:.6g} {UNITS[k]}")
    correct = failed == 0 and not final_errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in reported.items()},
            }
        )
    )
    return 0
