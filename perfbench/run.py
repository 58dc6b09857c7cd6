"""Benchmark of the validation engine and its query registry.

    python3 perfbench/run.py --workload csv_dirty --seed 1 --seconds 15 --trace 0

Run from the repository root.  One run opens Spark with one task thread
fewer than the machine has cores (``local[3]`` on four) and sends ops one
at a time from a single client (a closed loop):

1. Generate the workload's inputs from ``--seed`` (CSV workloads only).
2. Set up five times: start a SparkContext, import the package afresh,
   build the workload and run its warm-up ops.  ``setup_s`` is the median
   of the five; only the first also launches the JVM.
3. Untimed warm-up over every op: for registry workloads the verification
   pass that checks each entry's values, for CSV workloads two passes.
4. Timed passes over the workload's ops, in an order shuffled by the seed,
   until the ops have taken ``--seconds`` in total; passes the hypervisor
   disturbed are left out where others can take their place (see
   ``timed_passes``).  Every op's output is checked outside its timed
   span; an op that raises or is wrong counts as failed.
5. With ``--trace 1`` the session is restarted with the Spark event log on
   and the layer wrappers in place, and the timed passes run again; the
   per-layer metrics come from that second phase, and the difference to the
   first phase is the tracing overhead.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the full record (run conditions, every metric, per-op detail).  All files
a run writes live under ``perfbench/.work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_validator_spark"
SETUP_CYCLES = 5
TAIL_PERCENTILE = 90
STEAL_LIMIT = 0.02
STEAL_WAIT = 1.25


# ------------------------------------------------------------------- host


def cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(n_cores: int) -> int:
    """Spark's task threads: one core fewer than the machine has, so the
    driver's own threads (py4j, the scheduler, JIT and GC) do not compete
    with the tasks for the cores.  On a shared 4-core VM, ``local[4]``
    made a ``csv_dirty`` pass 10-20% slower than ``local[3]`` and lost
    more CPU time to the hypervisor."""
    return max(1, n_cores - 1)


class MemorySampler:
    """Peak memory of this process and all its descendants (the Spark JVM
    and its Python workers), sampled from ``/proc``.  Each process counts
    its proportional set size, so pages that forked Python workers share
    are counted once rather than once per worker."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.window_kb = 0  # peak since the last ``mark``
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss_kb(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
        return 0

    def _tree_kb(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue
        me = os.getpid()
        total = 0
        for pid in parent:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p == me:
                try:
                    total += self._pss_kb(pid)
                except OSError:
                    continue  # exited since the listing
        return total

    def _loop(self):
        while not self._stop.is_set():
            kb = self._tree_kb()
            self.peak_kb = max(self.peak_kb, kb)
            self.window_kb = max(self.window_kb, kb)
            self._stop.wait(self.interval)

    def mark(self) -> int:
        """Peak since the previous call, in kB; starts a new window."""
        kb, self.window_kb = self.window_kb, 0
        return kb

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot;
    a run's share tells a slow host from a slow program."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def bdv_entries(tmp_dir: str) -> set[str]:
    return {d for d in os.listdir(tmp_dir) if d.startswith("bdv_")}


def git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


# ---------------------------------------------------------------- session


def start_session(n_cores: int, work: dict, event_log: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", work["spark_local"])
        .config("spark.sql.warehouse.dir", os.path.join(work["root"], "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work['tmp']}")
    )
    if event_log:
        from tracing import EVENTLOG_CONF

        for k, v in EVENTLOG_CONF.items():
            b = b.config(k, v)
        b = b.config("spark.eventLog.dir", "file://" + work["eventlog"])
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit; ``spark.stop()``
    alone leaves the JVM process running until this process ends."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fresh_package_import() -> None:
    """Drop the package from ``sys.modules`` so the next import runs its
    module code again, as a new process would."""
    for m in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[m]


# ------------------------------------------------------------------ stats


def hd_quantile(sorted_vals: list[float], p: float, grid: int = 20_000) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: every order statistic
    weighted by the Beta((n+1)p, (n+1)(1-p)) mass over its rank interval.

    A run holds a few dozen ops of a fixed mix of sizes, so the plain sample
    quantile is one op's time and jumps with it; this estimate moves
    smoothly and varies less from run to run."""
    n = len(sorted_vals)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    weights = [0.0] * n
    for j in range(grid):
        t = (j + 0.5) / grid
        weights[int(t * n)] += math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
    return sum(w * x for w, x in zip(weights, sorted_vals)) / sum(weights)


def summarize(samples: list[tuple[str, float]], rows: int) -> dict:
    """End-to-end statistics of one phase.  ``op_p50_s`` and ``op_tail_s``
    are Harrell-Davis estimates of the 50th and 90th percentiles; with
    a few dozen ops per run no percentile has ten samples beyond it."""
    d = sorted(t for _, t in samples)
    total = sum(d)
    n = len(d)
    return {
        "op_p50_s": hd_quantile(d, 0.5),
        "op_tail_s": hd_quantile(d, TAIL_PERCENTILE / 100),
        "op_tail_percentile": TAIL_PERCENTILE,
        "ops": n,
        "ops_per_s": n / total,
        "rows_per_s": rows / total if rows else None,
        "measured_s": total,
    }


# -------------------------------------------------------------------- run


class Tally:
    """Ops attempted and failed, with the first problems seen."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, op_name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(f"{op_name}: {'; '.join(problems)}")

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def run_op(spark, op, tally: Tally, span, tracer=None, op_id=None):
    """Time one op; check it outside the timed span.  Returns its seconds,
    or None if it failed."""
    scope = tracer.op_scope(op_id, op.name) if tracer else contextlib.nullcontext()
    try:
        with scope:
            t0 = time.perf_counter()
            out = op.run(spark, span)
            dt = time.perf_counter() - t0
        problems = op.check(spark, out)
    except Exception as e:  # an op that raises is a failed op, not a crash
        tally.record(op.name, [f"raised {type(e).__name__}: {str(e)[:300]}"])
        return None
    tally.record(op.name, problems)
    return None if problems else dt


@dataclass
class Phase:
    """What the timed passes of one phase measured."""

    samples: list = field(default_factory=list)  # (op name, seconds)
    walls: dict = field(default_factory=dict)  # op id -> seconds
    names: dict = field(default_factory=dict)  # op id -> op name
    rows: int = 0
    passes: int = 0
    #: Steal share of each kept pass, and of each pass left out for steal.
    steal: list = field(default_factory=list)
    dropped: list = field(default_factory=list)
    #: Peak memory of the process tree during each kept pass, in kB.
    peaks_kb: list = field(default_factory=list)


def timed_passes(
    spark, wl, seconds, rng, tally, span, tracer=None, select=True, mem=None
) -> Phase:
    """Whole passes until the kept passes' ops have taken ``seconds``.

    On a shared host the hypervisor sometimes takes a share of the CPUs
    ("steal"), which slows every op of a pass alike.  With ``select``,
    passes run until those whose steal stayed within ``STEAL_LIMIT`` of
    the machine's CPU time cover ``seconds``, or until the phase has run
    for ``STEAL_WAIT`` times ``seconds``; then the least-disturbed passes
    are kept, lowest steal first, until they cover ``seconds``.  The ops
    of a pass left out still count as attempted and are still checked.
    The traced phase keeps every pass, so its spans and event log cover
    exactly the passes it reports."""
    ph = Phase()
    n_cpus = os.cpu_count()
    start = time.perf_counter()
    runs = []  # (steal share, index, [(op id, op, seconds)], peak kB)
    clean = total = 0.0
    if mem is not None:
        mem.mark()
    while clean < seconds:
        steal0, t0 = cpu_steal_s(), time.perf_counter()
        ops = []
        for op in _shuffled(wl.ops, rng):
            op_id = f"op{len(ph.names)}"
            ph.names[op_id] = op.name
            dt = run_op(spark, op, tally, span, tracer, op_id)
            if dt is not None:
                ops.append((op_id, op, dt))
        if not ops:
            raise RuntimeError(f"every op failed: {tally.problems[:3]}")
        share = (cpu_steal_s() - steal0) / ((time.perf_counter() - t0) * n_cpus)
        runs.append((share, len(runs), ops, mem.mark() if mem is not None else 0))
        took = sum(dt for _, _, dt in ops)
        total += took
        clean += took if share <= STEAL_LIMIT or not select else 0.0
        if total >= seconds and time.perf_counter() - start >= STEAL_WAIT * seconds:
            break
    measured = 0.0
    for share, _, ops, peak_kb in sorted(runs, key=lambda r: r[:2]) if select else runs:
        if measured >= seconds:
            ph.dropped.append(round(share, 4))
            continue
        for op_id, op, dt in ops:
            ph.samples.append((op.name, dt))
            ph.walls[op_id] = dt
            ph.rows += op.rows
            measured += dt
        ph.steal.append(round(share, 4))
        ph.peaks_kb.append(peak_kb)
        ph.passes += 1
    return ph


def _shuffled(ops, rng):
    order = list(ops)
    rng.shuffle(order)
    return order


def no_span(name):
    return contextlib.nullcontext()


def warm_passes(spark, wl, tally) -> None:
    """Untimed passes over every op, each op checked.  A registry workload
    runs its verification pass, which collects every entry and is slow
    enough to warm the JIT.  A CSV workload runs its ops twice: the JIT is
    still compiling through the first pass."""
    if wl.verify is not None:
        for name, problems in wl.verify(spark).items():
            tally.record(name, problems)
        return
    for _ in range(2):
        for op in wl.ops:
            run_op(spark, op, tally, no_span)


def setup(workload_name, inputs, n_cores, work, event_log, tally):
    """One set-up cycle: session, fresh package import, workload, warm-up."""
    import workloads

    t0 = time.perf_counter()
    spark = start_session(n_cores, work, event_log)
    fresh_package_import()
    wl = workloads.build(workload_name, inputs)
    for op in wl.warm:
        tally.record(op.name, op.check(spark, op.run(spark, no_span)))
    return spark, wl, time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    work = {
        "root": run_dir,
        "tmp": os.path.join(run_dir, "tmp"),
        "spark_local": os.path.join(run_dir, "spark-local"),
        "eventlog": os.path.join(run_dir, "eventlog"),
        "inputs": os.path.join(run_dir, "inputs"),
    }
    for d in work.values():
        os.makedirs(d, exist_ok=True)
    # Everything the package, Spark and its Python workers write to the
    # temp dir lands inside the run directory.
    os.environ["TMPDIR"] = work["tmp"]
    import tempfile

    tempfile.tempdir = work["tmp"]
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    cwd = os.getcwd()
    os.chdir(run_dir)
    # A terminated run still stops the JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        record, result = run(args, work, workloads)
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(HERE, ".work"))
    print(json.dumps({"perfbench_record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, work, workloads) -> tuple[dict, dict]:
    n_cores = task_slots(cores())
    rng = random.Random(args.seed)
    tally = Tally()
    before = bdv_entries(work["tmp"])
    steal0 = cpu_steal_s()
    inputs = workloads.make_inputs(args.workload, args.seed, work["inputs"])

    with MemorySampler() as mem:
        setups = []
        spark = None
        for _ in range(SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            spark, wl, dt = setup(args.workload, inputs, n_cores, work, False, tally)
            setups.append(dt)
        t0 = time.perf_counter()
        warm_passes(spark, wl, tally)
        warm_pass_s = time.perf_counter() - t0
        timed = timed_passes(spark, wl, args.seconds, rng, tally, no_span, mem=mem)
        e2e = summarize(timed.samples, timed.rows)
        spark.stop()
        traced = None
        if args.trace:
            traced = traced_phase(args, work, inputs, rng, tally, n_cores, e2e)
        stop_jvm()

    leaked = sorted(bdv_entries(work["tmp"]) - before)
    for d in leaked:
        shutil.rmtree(os.path.join(work["tmp"], d), ignore_errors=True)

    metrics_all = {
        "setup_s": statistics.median(setups),
        "op_p50_s": e2e["op_p50_s"],
        "op_tail_s": e2e["op_tail_s"],
        "ops_per_s": e2e["ops_per_s"],
        "rows_per_s": e2e["rows_per_s"],
        "fail_ratio": tally.fail_ratio,
        # The peak of each timed pass, median over the passes, so that one
        # pass's spike does not set the figure; the run's peak is recorded.
        "peak_rss_mb": statistics.median(timed.peaks_kb) / 1024,
        "run_peak_rss_mb": mem.peak_kb / 1024,
        "leaked_tmp_dirs": len(leaked),
        # Micro-batch durations need the streaming listener: traced runs only.
        "batch_p50_s": traced["layers"]["streaming.batch_p50_s"] if traced else None,
    }
    units = {
        "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
        "rows_per_s": "rows/s", "fail_ratio": "ratio", "peak_rss_mb": "MB",
        "run_peak_rss_mb": "MB",
        "leaked_tmp_dirs": "count", "batch_p50_s": "s",
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = traced["layers"] if args.trace else metrics_all
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in declared}

    import pyspark

    record = {
        "workload": args.workload,
        "conditions": {
            "nproc": os.cpu_count(),
            "cores": cores(),
            "master": f"local[{n_cores}]",
            "sf": workloads.SF if inputs is None else None,
            "seed": args.seed,
            "seconds": args.seconds,
            "passes": timed.passes,
            "passes_steal": timed.steal,
            "passes_dropped_steal": timed.dropped,
            "ops": e2e["ops"],
            "git_sha": git_sha(),
            "cpu_steal_s": round(cpu_steal_s() - steal0, 2),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics_all.items()},
        "setup_cycles_s": setups,
        "warm_pass_s": warm_pass_s,
        "op_tail": {
            "percentile": e2e["op_tail_percentile"],
            "samples": e2e["ops"],
            "estimator": "Harrell-Davis",
        },
        "samples": [[n, round(t, 4)] for n, t in timed.samples],
        "per_op_s": {
            name: statistics.median(t for n, t in timed.samples if n == name)
            for name in sorted({n for n, _ in timed.samples})
        },
        "workload_info": wl.info,
        "leaked_tmp_dirs": leaked[:20],
        "problems": tally.problems,
    }
    if traced:
        record["traced"] = traced
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }
    return record, result


def traced_phase(args, work, inputs, rng, tally, n_cores, untraced):
    """Restart with the event log on, wrap the layers, run the timed passes
    again and fold spans, the event log and streaming progress into
    per-layer metrics.  The tracing overhead is the traced minus the
    untraced mean time per op."""
    import tracing

    spark, wl, _ = setup(args.workload, inputs, n_cores, work, True, tally)
    warm_passes(spark, wl, tally)
    tracer = tracing.Tracer(spark.sparkContext)
    progress = tracing.StreamProgress()
    listener = progress.listener()
    spark.streams.addListener(listener)
    try:
        with tracing.layer_wrappers(tracer):
            ph = timed_passes(
                spark, wl, args.seconds, rng, tally, tracer.span, tracer, select=False
            )
        tracing.wait_for_listeners(spark.sparkContext)
    finally:
        spark.streams.removeListener(listener)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    groups = tracing.parse_event_log(
        tracing.find_event_log(work["eventlog"], app_id)
    )
    layers = tracing.layer_metrics(tracer, groups, ph.walls, ph.passes, n_cores)
    layers.update(progress.metrics(ph.passes))
    e2e = summarize(ph.samples, ph.rows)
    layers["trace.overhead_s"] = 1 / e2e["ops_per_s"] - 1 / untraced["ops_per_s"]
    return {
        "layers": layers,
        "e2e_traced": e2e,
        "e2e_untraced": untraced,
        "per_op": tracing.per_op_breakdown(groups, ph.walls, ph.names, n_cores),
        "passes": ph.passes,
    }


if __name__ == "__main__":
    sys.exit(main())
