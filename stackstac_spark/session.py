"""SparkSession factory with the settings this engine assumes.

Session TZ is pinned to UTC (the reference converts all STAC datetimes to
tz-naive UTC, prepare.py:406-417 in /root/reference). AQE is on so skewed
shuffles re-plan at runtime; Arrow is on because every Python kernel in this
engine is an Arrow-batched pandas UDF, never a row-at-a-time Python UDF.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Size the local-mode driver heap from the machine, not a constant.

    In ``local[N]`` the driver JVM IS the executor: all N concurrent tasks'
    execution memory plus every cached/localCheckpoint-ed block live in one
    heap (guide §5). The previous fixed ``8g`` default left the unified
    region at ~4.6 GB; a full 376-query bench run accumulates checkpoint
    blocks faster than the GC-driven ContextCleaner reclaims them, so
    storage pressure evicted hot blocks mid-suite — measured r12: the
    same suite read 309 s at 8g vs 250 s at 48g, with the worst aged
    queries (copurchase_recs, entity_resolution) at 4x their isolated
    cost. Default: half of the box's RAM (cgroup-capped), clamped to
    [8g, 64g]; ``SPARK_DRIVER_MEMORY`` still overrides for clusters,
    where the executors carry the data plane and 8g drivers are fine.
    """
    total_b = None
    try:  # container limit first (cgroup v2, then v1)
        for p in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
            if os.path.exists(p):
                raw = open(p).read().strip()
                if raw.isdigit() and int(raw) < 1 << 48:
                    total_b = int(raw)
                break
    except OSError:
        pass
    if total_b is None:
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal"):
                        total_b = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    if total_b is None:
        return "8g"
    gb = total_b // (1 << 30)
    return f"{max(8, min(gb // 2, 64))}g"


def get_spark(
    app_name: str = "stackstac-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would leave it to AQE's coalescing (also enabled here) and
    size ``spark.sql.files.maxPartitionBytes`` for the input instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or os.cpu_count() or 32),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema):
    """Driver-side rows → DataFrame as a JVM LocalRelation, not a Python RDD.

    ``createDataFrame(list)`` builds a pickled-Python-RDD-backed frame:
    EVERY downstream action re-runs a Python worker stage just to
    deserialize a handful of metadata rows (~0.8 s/job of pure overhead),
    and Catalyst can't constant-fold into it. Routing through pandas+Arrow
    yields a LocalRelation: JVM-local bytes, zero Python round-trips, and
    broadcast-able without running a job. Falls back to the plain path for
    types the Arrow converter rejects. Zero rows become an empty
    LocalRelation built in the JVM: both Python routes give an RDD-backed
    frame for an empty list.
    """
    from pyspark.sql import DataFrame
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not rows:
        if isinstance(schema, str):
            schema = _parse_datatype_string(schema)
        jspark = spark._jsparkSession
        jdf = jspark.createDataFrame(
            spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json())
        )
        return DataFrame(jdf, spark)
    try:
        import pandas as pd

        names = (
            schema.fieldNames()
            if isinstance(schema, StructType)
            else [f.split()[0] for f in str(schema).split(",")]
        )
        pdf = pd.DataFrame(list(rows), columns=names)
        df = spark.createDataFrame(pdf, schema)
        # verify we actually got a LocalRelation (Arrow may silently
        # fall back); if not, the plain path is no worse
        if "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString():
            return df
    except Exception:
        pass
    return spark.createDataFrame(rows, schema)
