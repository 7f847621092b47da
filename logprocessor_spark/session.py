"""SparkSession construction with scale-appropriate defaults.

Design notes (100 TB / 1000-executor posture, tested on local[N]):

* AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
* ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster this is ``2-3 x total executor cores`` — AQE coalesces down.
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
* Arrow enabled for pandas UDF paths (the parse parity path).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import SparkSession

_T = TypeVar("_T")


def get_spark(
    app_name: str = "logprocessor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``shuffle_partitions`` defaults to the local core count — on a
    multi-executor cluster pass ~2x total cores and let AQE coalesce.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Split size is COMPRESSED bytes; html-heavy pages decompress ~5-6x,
        # so the 128MB default yields few, fat scan tasks (e.g. a 800MB
        # table -> 7 tasks -> wave imbalance kills scaling at low core
        # counts and bloats per-task memory). 32MB compressed ≈ 200MB
        # in-memory keeps ≥2-3 task waves per core at any parallelism.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # keep Hive partition values (dt, month, sink) as strings — ledger
        # keys and sink paths must round-trip byte-stable
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.ui.enabled", "false")
        # DataFrame-debugging call-site capture wraps every PySpark API
        # call in ~5 extra driver<->JVM round trips (active-session lookup,
        # conf read, origin set/clear): about 1,200 per pipeline call, close
        # to half of its py4j traffic. Pass it as extra_conf to get Python
        # call sites in DataFrame error messages while debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_memo(spark: SparkSession, key: Hashable, build: Callable[[], _T]) -> _T:
    """``build()``, run once per ``spark`` session and ``key``; later calls
    return the same object.

    For plan parts that are constant for a session (default dims, the
    compiled default routing rule, the parse projection): building them
    costs hundreds of driver<->JVM round trips, reusing them costs none.
    The memo lives on the session object itself, so a new or restarted
    session (``getOrCreate`` after ``stop``) builds fresh objects and the
    old ones go with the old session."""
    memo = spark.__dict__.setdefault("_logprocessor_memo", {})
    if key not in memo:
        memo[key] = build()
    return memo[key]
