"""The benchmark's workloads and the operations they run.

Each workload is a closed loop with one client.  A *unit* is one thing
the client does: one query build + ``collect()`` for the batch
workloads, one bounded streaming replay for ``stream_microbatch``.  A
unit yields one latency sample per operation: one for a batch query,
one per micro-batch trigger for a replay.  A *pass* runs every unit of
the workload once, in an order the seed permutes.

- ``headline_batch``: the eight ``bench._headline()`` shapes at sf0.1,
  short queries where Python plan build, Catalyst and result transfer
  are a visible share of wall time and every scan is a single task,
  plus ``udtf_map_in_pandas``, a short query that sends every sf0.1
  event through ``mapInPandas``: the workload's Python worker time.
  Warm-up is one pass over sf0.01 and one over sf0.1: after the sf0.01
  pass alone the first sf0.1 pass still runs ~25 % slow.
- ``stream_microbatch``: ``session_transform`` (complete mode) and
  ``dedup_transform`` (append mode, adjacent-batch duplicates) replayed
  through ``staged_events_stream`` + ``run_bounded`` over the first
  ~20,000 ts-ordered events of sf0.1, staged by ``stage_events_nway``
  in slices of ~10,000.  Each micro-batch pays state-store and WAL
  writes across every shuffle partition, a path no batch query takes.
- ``corpus_clean``: ``dedup_embedding_cluster`` at sf0.01, a
  many-stage shuffle plan with Python worker time in the GEMM
  ``mapInPandas``.  Warm-up is two runs of it.  ``BENCHMARK.json``
  does not list it: its runs do not fit the run budget next to the
  other two, so it is run by hand.

Every run is a fixed warm-up plus whole measured passes.  On a 4-core
host a warm pass of ``headline_batch`` or ``stream_microbatch`` takes
6.5-9.5 s, so a run at the benchmark's ``run_seconds`` measures three
passes of each.

Every unit's result is hashed with ``testing.canonical_hash`` and
compared with its registered DuckDB oracle, or for the rows-only
``dedup_embedding_cluster`` with the hash recorded in
``reference.json``.  Oracles are computed before the Spark session
starts, outside every timed interval.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import bench
from powertrainstreaming_spark import testing
from powertrainstreaming_spark.operators import streaming as ops_streaming
from powertrainstreaming_spark.plans.registry import all_defs
from powertrainstreaming_spark.sources.loaders import table_path
from powertrainstreaming_spark.streaming import harness

from perfbench import layers

DATA_ROOT = os.path.dirname(testing.DEFAULT_SF_DIRS[0])
HERE = os.path.dirname(os.path.abspath(__file__))

# bench._headline() runs the batch twins of two streaming shapes; their
# answers are those of the registered streaming queries.
_BATCH_TWIN_ORACLE = {
    ops_streaming.tumbling_batch: "stream_tumbling_agg",
    ops_streaming.sessionize_batch: "stream_session_window",
}

# unit → (registered query whose oracle checks it, transform, output
#  mode, slices staged, copies per slice).  Two slices carry session
#  state across a micro-batch boundary; one slice staged twice gives the
#  dedup stream its duplicates in the adjacent micro-batch.
_STREAM_UNITS = {
    "session_window": ("stream_session_window", ops_streaming.session_transform,
                       "complete", 2, 1),
    "dedup": ("stream_dedup", ops_streaming.dedup_transform, "append", 1, 2),
}

CORPUS_OPS = ("dedup_embedding_cluster",)

# None of the eight headline shapes runs Python on the workers; this
# registered query gives ``headline_batch`` its ``python`` layer.
HEADLINE_PYTHON_UNIT = "udtf_map_in_pandas"


@dataclass
class Scale:
    """Input sizes.  ``bench`` is the measured shape; ``smoke`` runs the
    same code on the smallest fixture for the benchmark's own test."""

    headline_sf: str
    headline_warm_sfs: tuple[str, ...]  # one warm-up pass over each
    corpus_sf: str
    stream_sf: str
    stream_events: int  # events replayed, before the seed's jitter


SCALES = {
    "bench": Scale("sf0.1", ("sf0.01", "sf0.1"), "sf0.01", "sf0.1", 20_000),
    "smoke": Scale("sf0.001", ("sf0.001",), "sf0.001", "sf0.001", 1_000),
}


@dataclass
class UnitResult:
    latencies: list[float]
    rows_in: int
    wall: float
    ok: bool


@dataclass
class Context:
    spark: object
    workdir: str
    tracer: layers.Tracer | None = None
    epoch_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())
    seq: int = 0

    def next_op(self, name: str) -> str:
        self.seq += 1
        return f"{name}#{self.seq}"


def _hash_rows(rows, columns) -> str:
    return testing.canonical_hash([tuple(r) for r in rows], list(columns))


def _oracle_hashes(sf_dir: str, queries: dict[str, str]) -> dict[str, str]:
    """DuckDB oracle hash per unit; ``queries`` maps unit → registered
    query name."""
    defs = all_defs()
    with open(os.path.join(HERE, "reference.json")) as f:
        reference = json.load(f).get(os.path.basename(sf_dir), {})
    con = testing.oracle_connection(sf_dir)
    try:
        out = {}
        for unit, qname in queries.items():
            sql = defs[qname].oracle
            if sql is None:
                out[unit] = reference[qname]
                continue
            cur = con.execute(sql)
            out[unit] = testing.canonical_hash(cur.fetchall(), [d[0] for d in cur.description])
        return out
    finally:
        con.close()


def _table_rows(sf_dir: str, name: str) -> int:
    return pq.ParquetFile(table_path(sf_dir, name)).metadata.num_rows


class BatchWorkload:
    """A workload whose unit is one registered query: build + collect."""

    def __init__(self, name, units, sf_dir, warm_sf_dirs, seed):
        self.name = name
        self.units = units  # unit name → (query fn, registered name for the oracle)
        self.sf_dir = sf_dir
        self.warm_sf_dirs = warm_sf_dirs  # one warm-up pass over each
        self.rng = random.Random(seed)
        self.expected: dict[str, str] = {}
        self.rows_in: dict[str, int] = {}

    def inputs(self) -> dict[str, str]:
        return {"data": self.sf_dir, "warm_up": ",".join(self.warm_sf_dirs)}

    def compute_oracles(self) -> None:
        self.expected = _oracle_hashes(
            self.sf_dir, {u: q for u, (_, q) in self.units.items()})

    def prepare(self, workdir: str) -> None:
        pass

    def start(self, ctx: Context) -> None:
        pass

    def stop(self, ctx: Context) -> None:
        pass

    def pass_order(self) -> list[str]:
        order = list(self.units)
        self.rng.shuffle(order)
        return order

    def warm_up(self, ctx: Context) -> None:
        """Fixed warm-up passes, which also record which tables each
        unit loads, to count its input rows."""
        from powertrainstreaming_spark.sources.loaders import load

        for warm_sf_dir in self.warm_sf_dirs:
            for unit in self.pass_order():
                tables: set[str] = set()

                def recording_load(spark, sf_dir, name, _tables=tables):
                    _tables.add(name)
                    return load(spark, sf_dir, name)

                with layers.Patched([(load, recording_load)]):
                    self.units[unit][0](ctx.spark, warm_sf_dir).collect()
                self.rows_in[unit] = sum(_table_rows(self.sf_dir, t) for t in tables)

    def run(self, ctx: Context, unit: str) -> UnitResult:
        fn, _ = self.units[unit]
        tr = ctx.tracer
        if tr is None:
            t0 = time.perf_counter()
            df = fn(ctx.spark, self.sf_dir)
            rows = df.collect()
            wall = time.perf_counter() - t0
        else:
            rows, df, wall = self._traced(ctx, unit, fn)
        ok = _hash_rows(rows, df.columns) == self.expected[unit]
        return UnitResult([wall], self.rows_in.get(unit, 0), wall, ok)

    def _traced(self, ctx: Context, unit: str, fn):
        tr, spark = ctx.tracer, ctx.spark
        sc = spark.sparkContext
        tr.op = ctx.next_op(unit)
        sc.setJobGroup(tr.op, unit)
        with layers.package_wrappers(tr):
            t0 = time.perf_counter()
            root = tr.open("op")
            build = tr.open("operators.build")
            df = fn(spark, self.sf_dir)
            tr.close(build)
            # Jobs a query function runs eagerly (checkpoints, collected
            # codebooks) execute inside its build span.
            tr.add("operators.build_jobs", len(sc.statusTracker().getJobIdsForGroup(tr.op)))
            coll = tr.open("collect")
            rows = df.collect()
            tr.close(coll)
            tr.close(root)
            wall = time.perf_counter() - t0
        # Accounting below runs after the operation's timed interval.
        replanned = layers.catalyst_phases(df, tr, ctx.epoch_offset)
        for key, value in layers.job_counts(sc, tr.op).items():
            tr.add(key, value)
        for key, value in layers.plan_metrics(df).items():
            tr.add(key, value)
        # Execution without result transfer: the same plan into the
        # ``noop`` sink; collect's own time is what remains.
        sc.setJobGroup(tr.op + ":noop", unit)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = max(time.perf_counter() - t1 - replanned, 0.0)
        tr.span("exec", max(coll.end - exec_s, coll.start), coll.end, coll.id)
        tr.add("collect.rows", len(rows))
        for key, value in layers.udf_profile(spark, ctx.workdir).items():
            tr.add(key, value)
        return rows, df, wall


class StreamWorkload:
    """Bounded replays of the streaming transforms through
    ``staged_events_stream`` + ``run_bounded``; one operation is one
    micro-batch trigger."""

    name = "stream_microbatch"

    def __init__(self, scale: Scale, seed: int):
        self.rng = random.Random(seed)
        self.source_sf = os.path.join(DATA_ROOT, scale.stream_sf)
        total = _table_rows(self.source_sf, "events")
        base = min(scale.stream_events, total)
        # The seed jitters how many leading (ts-ordered) events are
        # replayed, which moves every slice boundary.
        self.n_events = base - self.rng.randint(0, base // 20)
        self.units = list(_STREAM_UNITS)
        self.expected: dict[str, str] = {}
        self.stages: dict[str, str] = {}
        self.sf_dir = ""
        self.listener = None

    def inputs(self) -> dict[str, str]:
        return {"data": self.source_sf, "events": str(self.n_events)}

    def prepare(self, workdir: str) -> None:
        """Write the replayed event prefix as an events fixture of its
        own, so the registered oracles run over exactly those rows."""
        self.sf_dir = os.path.join(workdir, "stream_events")
        os.makedirs(self.sf_dir, exist_ok=True)
        table = pq.read_table(table_path(self.source_sf, "events"))
        pq.write_table(table.slice(0, self.n_events), table_path(self.sf_dir, "events"))

    def compute_oracles(self) -> None:
        self.expected = _oracle_hashes(
            self.sf_dir, {u: q for u, (q, *_) in _STREAM_UNITS.items()})

    def start(self, ctx: Context) -> None:
        for unit, (_, _, _, slices, copies) in _STREAM_UNITS.items():
            self.stages[unit] = harness.stage_events_nway(self.sf_dir, slices, copies)
        self.listener = _progress_listener()
        ctx.spark.streams.addListener(self.listener)

    def stop(self, ctx: Context) -> None:
        ctx.spark.streams.removeListener(self.listener)

    def pass_order(self) -> list[str]:
        order = list(self.units)
        self.rng.shuffle(order)
        return order

    def warm_up(self, ctx: Context) -> None:
        for unit in self.pass_order():
            self.run(ctx, unit)

    def run(self, ctx: Context, unit: str) -> UnitResult:
        _, transform, mode, _, _ = _STREAM_UNITS[unit]
        spark, tr = ctx.spark, ctx.tracer
        stage = self.stages[unit]
        if tr is None:
            t0 = time.perf_counter()
            sink = harness.run_bounded(
                transform(harness.staged_events_stream(spark, stage)), mode)
            wall = time.perf_counter() - t0
        else:
            tr.op = ctx.next_op(unit)
            with layers.package_wrappers(tr):
                t0 = time.perf_counter()
                root = tr.open("op")
                build = tr.open("operators.build")
                sdf = transform(harness.staged_events_stream(spark, stage))
                tr.close(build)
                replay = tr.open("streaming.harness")
                sink = harness.run_bounded(sdf, mode)
                tr.close(replay)
                tr.close(root)
                wall = time.perf_counter() - t0
        run_id, progress = self.listener.finished()
        rows = sink.collect()
        ok = _hash_rows(rows, sink.columns) == self.expected[unit]
        # The memory sink keeps its rows as a temp view; drop it so the
        # rows of earlier replays do not pile up in the JVM heap.
        for table in spark.catalog.listTables():
            if table.isTemporary:
                spark.catalog.dropTempView(table.name)
        if tr is not None:
            for p in progress:
                layers.book_trigger(tr, p, replay.id, ctx.epoch_offset)
            counts = layers.job_counts(spark.sparkContext, run_id)
            for key, value in counts.items():
                tr.add(key, value)
            tr.add("streaming.tasks_per_batch", counts["exec.tasks"])
        latencies = [p.durationMs.get("triggerExecution", 0) / 1000 for p in progress]
        rows_in = sum(p.numInputRows for p in progress)
        return UnitResult(latencies, rows_in, wall, ok)


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects the progress of each query run until it terminates.
        Listener events arrive asynchronously, so ``finished`` waits
        for the termination event of the newest run."""

        def __init__(self):
            self.lock = threading.Condition()
            self.runs: list[str] = []
            self.progress: dict[str, list] = {}
            self.done: set[str] = set()
            self.consumed = 0

        def onQueryStarted(self, event):
            with self.lock:
                self.runs.append(str(event.runId))
                self.lock.notify_all()

        def onQueryProgress(self, event):
            with self.lock:
                self.progress.setdefault(str(event.progress.runId), []).append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.done.add(str(event.runId))
                self.lock.notify_all()

        def finished(self, timeout: float = 60.0):
            """(run id, progress list) of the next run to terminate."""
            with self.lock:
                ended = self.lock.wait_for(
                    lambda: len(self.runs) > self.consumed
                    and self.runs[self.consumed] in self.done, timeout)
                if not ended:
                    raise TimeoutError("no termination event for the streaming run")
                run = self.runs[self.consumed]
                self.consumed += 1
                return run, self.progress.pop(run, [])

    return Progress()


def make(name: str, scale_name: str, seed: int):
    scale = SCALES[scale_name]
    if name == "headline_batch":
        defs = all_defs()
        by_fn = {qd.fn: qname for qname, qd in defs.items()}
        by_fn.update(_BATCH_TWIN_ORACLE)
        units = {u: (fn, by_fn[fn]) for u, fn in bench._headline().items()}
        units[HEADLINE_PYTHON_UNIT] = (defs[HEADLINE_PYTHON_UNIT].fn, HEADLINE_PYTHON_UNIT)
        warm = tuple(os.path.join(DATA_ROOT, sf) for sf in scale.headline_warm_sfs)
        return BatchWorkload(name, units, os.path.join(DATA_ROOT, scale.headline_sf),
                             warm, seed)
    if name == "corpus_clean":
        defs = all_defs()
        units = {q: (defs[q].fn, q) for q in CORPUS_OPS}
        sf = os.path.join(DATA_ROOT, scale.corpus_sf)
        # The first run of this plan is ~4x a warm one and the second
        # still ~25 % slow, so it is warmed up twice.
        return BatchWorkload(name, units, sf, (sf, sf), seed)
    if name == "stream_microbatch":
        return StreamWorkload(scale, seed)
    raise ValueError(f"unknown workload {name!r}")
