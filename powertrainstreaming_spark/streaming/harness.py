"""Bounded-replay streaming harness (SURVEY.md §2.10 oracle protocol).

The reference is a Spark Streaming application: an unbounded keyed
event stream driven through windowed/stateful operators.  To make
those operators *testable against a batch oracle*, every streaming
query here replays a bounded file source (the events fixture) with
``Trigger.AvailableNow`` and collects a memory sink — a full replay
emits exactly the batch answer, so tumbling/sliding/session windows
and dedup hash-check against plain SQL.

Every streaming query the package starts goes through ``start_stream``.
It sizes the query's state partitions to the cores that run them:
``min(spark.sql.shuffle.partitions, sparkContext.defaultParallelism)``.
Each state partition is one state-store task that writes and commits
its own delta file on every trigger, so partitions beyond the core
count add commit work without adding parallelism.  The rule is applied
only around ``start()``: Spark clones the session for the query there
and records the count in the checkpoint's offset log, so batch plans
on the session keep the configured value.  The DataFrames a
``foreachBatch`` function receives belong to the query's clone, so
their plans run at the lowered count too.  A query restarted from an
existing checkpoint keeps the count that checkpoint recorded, whatever
the session says.  The conf is swapped on the shared session for the
duration of ``start()``, so it is not safe while another thread runs
queries on the same session.

Scale note: the memory sink is the *test* sink only.  The production
path for 100 TB streams is ``writeStream.foreachBatch`` into
partitioned parquet (see ``stream_foreachbatch_sink``) — state stays
bounded via watermarks, and the same transformation graph is reused
unchanged because everything below the sink is a plain DataFrame
lineage.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from powertrainstreaming_spark.scratch import scratch_dir
from powertrainstreaming_spark.session import ensure_session_confs, scoped_confs
from powertrainstreaming_spark.sources.loaders import (
    events_ddl,
    shim_events_ts,
    table_path,
)

_MEMORY_SINK_COUNTER = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a *streaming* DataFrame (file source).

    Same schema assertion and footer-probed ts shim as the batch loader,
    so streaming and batch twins see identical rows.
    """
    ensure_session_confs(spark)
    path = table_path(sf_dir, "events")
    # The file stream source needs a *directory*; pathGlobFilter picks
    # out the events file from the shared fixture dir.
    sdf = (
        spark.readStream.schema(events_ddl(path))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return shim_events_ts(sdf, path)


def stage_events_nway(sf_dir: str, n_files: int, copies: int = 1) -> str:
    """Stage the events fixture as ``n_files`` row-slices in a scratch
    dir, for an N-micro-batch replay (``maxFilesPerTrigger=1``).

    Slices preserve fixture row order (the fixture is ts-sorted
    [MEASURED], so a row-order split models an in-order arrival stream
    and no row is ever behind the watermark).  The file stream source
    orders by (modification time, path); both are forced here — mtimes
    strictly increasing per slice, zero-padded names as tiebreak — so
    batch k is exactly slice k and the replay is deterministic.
    ``copies`` > 1 duplicates each slice in place: copy c of slice k
    arrives in the micro-batch immediately after copy c-1 of slice k
    (so a duplicate always lands one batch later, NOT a whole pass
    later) — the adjacent-batch duplicate stream for dedup tests.
    Staged dirs come from scratch_dir and are reaped at process exit.
    """
    import pyarrow.parquet as pq

    stage = scratch_dir(prefix=f"pts_nway{n_files}_")
    table = pq.read_table(table_path(sf_dir, "events"))
    base = 1_600_000_000  # any fixed epoch; only the ordering matters
    seq = 0
    for k in range(n_files):
        lo = k * table.num_rows // n_files
        hi = (k + 1) * table.num_rows // n_files
        for c in range(copies):
            path = f"{stage}/part-{k:04d}-copy{c}.parquet"
            pq.write_table(table.slice(lo, hi - lo), path)
            os.utime(path, (base + seq, base + seq))
            seq += 10
    return stage


def staged_events_stream(spark: SparkSession, stage_dir: str) -> DataFrame:
    """Streaming DF over a staged scratch dir, one file per micro-batch,
    with the same footer-probed schema + ts shim as events_stream."""
    ensure_session_confs(spark)
    sdf = (
        spark.readStream.schema(events_ddl(stage_dir))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
    return shim_events_ts(sdf, stage_dir)


def start_stream(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``'s query with its state partitions sized to the
    session's cores (the module docstring gives the rule).

    ``spark.sql.shuffle.partitions`` is lowered to the rule's value for
    the ``start()`` call only and restored afterwards, also when
    ``start()`` raises.
    """
    key = "spark.sql.shuffle.partitions"
    parts = min(int(spark.conf.get(key)), spark.sparkContext.defaultParallelism)
    with scoped_confs(spark, {key: str(parts)}):
        return writer.start()


def run_bounded(
    transformed: DataFrame,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming transformation to completion, return result.

    ``Trigger.AvailableNow`` processes everything currently in the
    source then stops; the memory sink table holds the final answer.
    Each run starts a new query on a fresh temporary checkpoint, so
    through ``start_stream`` it always runs at
    ``min(spark.sql.shuffle.partitions, defaultParallelism)`` state
    partitions; the session's conf is back to its old value on return.
    """
    spark = transformed.sparkSession
    name = f"pts_mem_{next(_MEMORY_SINK_COUNTER)}"
    start_stream(
        spark,
        transformed.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True),
    ).awaitTermination()
    return spark.table(name)
