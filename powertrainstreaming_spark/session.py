"""SparkSession construction and per-session config pinning.

The driver hands us an already-built SparkSession for ``entry()`` /
``queries()`` — it may lack the configs we depend on, so
``ensure_session_confs`` defensively (re)applies every *runtime-settable*
SQL conf the determinism contract needs (SURVEY.md §4 pinned configs,
§7.5 gotcha #1).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Runtime-settable SQL confs required for correctness + determinism.
_REQUIRED_SQL_CONFS = {
    # events.parquet is TIMESTAMP(NANOS); Spark 4.x rejects it outright
    # unless nanos are surfaced as raw int64 (SURVEY.md §7.5 #1).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Cross-engine timestamp determinism: DuckDB timestamps are naive;
    # pin Spark to UTC so date_trunc/collect agree.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
}


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-built session.

    Every conf here is runtime-settable in Spark 4.x; failures are
    verified rather than swallowed, because a silently-missing
    ``nanosAsLong`` surfaces later as a cryptic parquet read error far
    from the cause.
    """
    errors: list[str] = []
    for key, value in _REQUIRED_SQL_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # CANNOT_MODIFY_CONFIG / unknown conf
            errors.append(f"{key}={value}: {exc}")
    for key, value in _REQUIRED_SQL_CONFS.items():
        actual = spark.conf.get(key, None)
        if actual != value:
            raise RuntimeError(
                f"required Spark conf {key}={value!r} did not take effect "
                f"(got {actual!r}); set errors: {errors or 'none'}. "
                "events.parquet reads and timestamp determinism depend on it."
            )
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set runtime SQL confs, restore previous values on exit — a query
    function must never leak conf changes into the shared session."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "powertrainstreaming-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the session used by tests and bench.

    local[$SPARK_GRAFT_CPUS] mirrors the driver environment; on a real
    cluster the same code runs unchanged — partitioning decisions are
    expressed in the plans, not here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    parts = str(shuffle_partitions or os.environ.get("PTS_SHUFFLE_PARTITIONS", 32))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", parts)
        # Single-JVM local mode: driver heap IS the executor heap.  8g
        # suits tests/bench; heavy harnesses (the 10x scale probe's
        # adversarial dedup runs) raise it via SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.ui.enabled", "false")
        # Arrow for any pandas-UDF path (similarity / multimodal ops).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for key, value in _REQUIRED_SQL_CONFS.items():
        builder = builder.config(key, value)
    return ensure_session_confs(builder.getOrCreate())
