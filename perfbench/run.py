"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload headline_batch --seed 1 --seconds 10 --trace 0

Workloads are defined in ``perfbench/workloads.py``.  A run

1. computes the DuckDB oracle hash of every unit (outside every timed
   interval, before the Spark session starts);
2. sets up: builds the session with ``session.get_spark`` as shipped
   (``SPARK_GRAFT_CPUS`` = the usable cores), stages inputs with
   ``scratch_dir`` and runs a fixed warm-up.  ``setup_s`` is the time
   from process start to here, minus the oracle time;
3. runs whole passes of the workload, one client in a closed loop,
   until ``--seconds`` have passed (at least one pass), checking every
   unit's result hash;
4. with ``--trace 1``, runs one untraced pass, the loop traced for
   ``--seconds`` and one more untraced pass, and reports per-layer
   metrics (means per operation of the traced loop) instead of the
   end-to-end ones; the traced loop's time per operation against the
   untraced passes' is ``trace.overhead_share``.

The last line of standard output is the result object; the line before
it records the run shape and the details behind the metrics.  Scratch
files live under ``.perfbench/`` in the checkout and are removed at
exit; a traced run leaves its spans in ``.perfbench/trace-*.jsonl``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("headline_batch", "stream_microbatch", "corpus_clean")


def _prepare_env(workdir: str) -> None:
    """Keep every file the run writes inside ``workdir`` and pin the
    process shape before any Spark or package import."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"  # collect() renders timestamps in the OS zone
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the summed resident memory of ``pids`` until stopped."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        super().__init__(daemon=True)
        self.pids, self.interval = pids, interval
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=5)
        return self.peak_kb / 1024


@dataclass
class Loop:
    latencies: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    busy: float = 0.0  # summed unit wall time, result checks excluded
    rows_in: int = 0
    unit_wall: dict[str, list[float]] = field(default_factory=dict)


def closed_loop(wl, ctx, seconds: float) -> Loop:
    """Whole passes, one unit at a time, until ``seconds`` have passed."""
    out = Loop()
    t0 = time.perf_counter()
    while True:
        for unit in wl.pass_order():
            try:
                r = wl.run(ctx, unit)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                if ctx.tracer is not None:
                    ctx.tracer.reset()
                out.attempted += 1
                out.failed += 1
                continue
            n = max(len(r.latencies), 1)
            out.attempted += n
            out.failed += 0 if r.ok and r.latencies else n
            out.latencies += r.latencies
            out.busy += r.wall
            out.unit_wall.setdefault(unit, []).append(r.wall)
            out.rows_in += r.rows_in
        if time.perf_counter() - t0 >= seconds:
            return out


def tail(latencies: list[float]) -> tuple[float, int, int]:
    """Highest whole percentile with at least ten samples above it, but
    never below the 90th: a run yields a few dozen samples, where the
    ten-above rule alone would pick a percentile below the median that
    moves with the sample count.  Interpolated between the samples
    around it, as one slow sample would otherwise set the value alone.
    Returns (value, percentile, samples above)."""
    n = len(latencies)
    pct = max(90, math.floor(100 * (n - 10) / n))
    if n < 2:
        return latencies[0], pct, 0
    value = statistics.quantiles(latencies, n=100, method="inclusive")[pct - 1]
    return value, pct, sum(x > value for x in latencies)


def end_to_end(loop: Loop, setup_s: float) -> dict:
    tail_s, _, _ = tail(loop.latencies)
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(loop.latencies), "s"),
        "latency_tail_s": (tail_s, "s"),
        "ops_per_s": (len(loop.latencies) / loop.busy, "1/s"),
        "rows_per_s": (loop.rows_in / loop.busy, "rows/s"),
    }


def run_shape(args, spark, wl) -> dict:
    import duckdb
    import pyarrow
    import pyarrow.parquet as pq
    import pyspark

    dirs = sorted({v for v in wl.inputs().values() if os.path.isdir(v)})
    row_groups = {
        d: {f: pq.ParquetFile(os.path.join(d, f)).metadata.num_row_groups
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}
        for d in dirs
    }
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale, "inputs": wl.inputs(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__, "parquet_row_groups": row_groups,
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, workdir: str) -> dict:
    from perfbench import layers, workloads

    wl = workloads.make(args.workload, args.scale, args.seed)
    wl.prepare(workdir)
    t = time.perf_counter()
    wl.compute_oracles()
    oracle_s = time.perf_counter() - t

    from powertrainstreaming_spark.session import get_spark
    from powertrainstreaming_spark.sources.loaders import events_ts_is_nanos

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    try:
        ctx = workloads.Context(spark, workdir)
        wl.start(ctx)
        session_s = time.perf_counter() - t
        wl.warm_up(ctx)
        setup_s = time.perf_counter() - _T0 - oracle_s
        warm_up_s = time.perf_counter() - t - session_s

        rss = PeakRss([os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()])
        rss.start()
        steal0, total0 = _cpu_jiffies()
        # A traced run reports no end-to-end metric; its untraced passes
        # only give the tracing overhead a baseline.
        plain = closed_loop(wl, ctx, 0 if args.trace else args.seconds)
        steal1, total1 = _cpu_jiffies()
        peak_rss_mb = rss.stop()
        loops = [plain]
        if args.trace:
            ctx.tracer = layers.Tracer()
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            probes = events_ts_is_nanos.cache_info()
            traced = closed_loop(wl, ctx, args.seconds)
            after = events_ts_is_nanos.cache_info()
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            ctx.tracer, tracer = None, ctx.tracer
            # Untraced again after the traced loop, so that warm-up drift
            # between the loops cancels out of the overhead.
            plain_after = closed_loop(wl, ctx, 0)
            loops += [traced, plain_after]
            hits, misses = after.hits - probes.hits, after.misses - probes.misses
            per_layer = tracer.layer_metrics(len(traced.latencies))
            per_layer["sources.footer_probe_hit_ratio"] = (
                hits / (hits + misses) if hits + misses else 0.0)
            untraced_op_s = (plain.busy + plain_after.busy) / (
                len(plain.latencies) + len(plain_after.latencies))
            per_layer["trace.overhead_share"] = (
                traced.busy / len(traced.latencies) / untraced_op_s - 1)
            tracer.write(os.path.join(
                ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"))
        wl.stop(ctx)
        shape = run_shape(args, spark, wl)
    finally:
        t = time.perf_counter()
        _stop_spark(spark)
        stop_s = time.perf_counter() - t

    attempted = sum(lp.attempted for lp in loops)
    failed = sum(lp.failed for lp in loops)
    _, pct, beyond = tail(plain.latencies)
    print(json.dumps({
        "run_shape": shape,
        "latency_tail": {"percentile": pct, "samples": len(plain.latencies),
                         "beyond": beyond},
        "error_rate": failed / attempted,
        "oracle_s": oracle_s,
        # CPU time the hypervisor gave to other guests while measuring:
        # a high share marks a run slowed by its neighbours.
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        # Spark JVM + this process, sampled from /proc while measuring.
        # Not an end-to-end metric: identical runs read 1.5-3.0 GB as
        # the JVM sizes its heap differently from run to run.
        "peak_rss_mb": peak_rss_mb,
        "setup": {"session_s": session_s, "warm_up_s": warm_up_s, "stop_s": stop_s},
        "unit_wall_s": plain.unit_wall,
    }))
    if args.trace:
        metrics = {k: (v, _per_layer_unit(k)) for k, v in per_layer.items()}
    else:
        metrics = end_to_end(plain, setup_s)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _per_layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s/op"
    if name.endswith("_mb"):
        return "MB/op"
    if name.endswith("_bytes"):
        return "bytes/op"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count/op"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                    help="smoke: the smallest fixture, for the benchmark's own test")
    args = ap.parse_args()

    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _prepare_env(workdir)
    try:
        result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
