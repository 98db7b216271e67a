"""SparkSession construction and runtime tuning.

The reference hardcodes ``local[*]`` and a 5 s batch interval
(KafkaDirectStream.scala:39-41); here the session is parameterized and
tuned for the Spark-SQL engine: AQE on (runtime coalesce + skew-join),
Arrow for the Python boundary, UTC session timezone so timestamp maths
is engine-portable, and shuffle partitions sized to the machine rather
than the 200 default (which would produce hundreds of tiny partitions
at test scale and too few at 100 TB — at cluster scale this knob is
expected to be set per-deployment, or left to AQE's
``coalescePartitions`` with a high initial partition number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable (spark.conf.set) — applied defensively
# at query time too, because the verify driver may hand us a session it
# built itself (tune_session).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType
    # (session-tz) not TimestampNTZType: with UTC session tz the two are
    # value-identical and LTZ keeps epoch casts / window maths portable
    # with the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark 4 refuses parquet TIMESTAMP(NANOS) outright; read the raw
    # int64 nanos as LongType and convert in the loader (io.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming checkpoints (offset WAL, commit log, source/sink
    # metadata logs, state-store deltas) write a temp file and rename
    # it. Spark's default FileContext manager stats both ends of each
    # rename; without the native Hadoop library every such stat on the
    # local FS forks a `readlink` process — 3,485 forks in a 36-batch
    # ingest→dedup→commit run, ~97 per micro-batch across the state-store
    # tasks and the driver's offset, commit, source and sink-metadata
    # logs. This manager renames with FileSystem.rename (File.renameTo
    # locally, no fork): 5 forks per run. The one-writer-per-batch guard
    # is the same check under both: with overwrite off each tests that
    # the destination exists and throws before renaming.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _env_flag(name: str) -> bool:
    """Conventional boolean env flag: unset/''/'0'/'false'/'no'/'off'
    (any case) are OFF, anything else is ON. One parser for every flag
    env var here — 'off' MUST read as off (an operator exporting
    SPARK_GRAFT_SCALE=off to disable the scale path would otherwise
    silently get the 1024-partition/256 MB-broadcast confs applied)."""
    return os.environ.get(name, "").lower() not in ("", "0", "false", "no", "off")


def scale_flag_set() -> bool:
    """Whether the scale path is active (SPARK_GRAFT_SCALE env): when
    true, the registry wrapper applies each query's probe-passed
    ``scale_confs`` (SCALE.md / docs/TUNING.md knobs) before building
    its plan. Deliberately OFF by default — the sf0.1 bench and the
    correctness driver never set it, so small-scale plans and numbers
    are untouched; scripts/scale_probe.py `run` sets it, and a cluster
    job sets it in its submit environment."""
    return _env_flag("SPARK_GRAFT_SCALE")


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Safe to call repeatedly; used at the top of every registered query
    so correctness does not depend on who built the SparkSession.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic builds; never fail a
            # query over tuning.
            pass
    return spark


def get_session(
    app_name: str = "direct-kafka-stream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    # Post-shuffle parallelism: AQE coalesces downward anyway, so cap
    # the initial number at 16 for the local bench scales (BASELINE.md);
    # a cluster deployment overrides via env or argument.
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", min(cpus, 16))
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # UI off for bench/test noise; scale_probe turns it on to read
        # per-stage shuffle bytes from the REST status API
        .config("spark.ui.enabled", "true" if _env_flag("SPARK_GRAFT_UI") else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
