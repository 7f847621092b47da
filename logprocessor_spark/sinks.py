"""Sink layer: routed fan-out writes with idempotent replay (S5-S7, X7).

The reference bulk-indexes into monthly ES indices with ``_id=message-id``
so re-runs upsert (es.clj:99-104) — at-least-once processing with an
idempotent sink. The Spark equivalent here:

* ONE dataset, Hive-partitioned by ``(sink, month, dt)``:
  - ``sink``  — routing target (the ES index-family analog),
  - ``month`` — the ``titan-YYYY.MM`` suffix (es.clj:104),
  - ``dt``    — the INPUT partition key (source day), which is what makes
    replay idempotent: with ``partitionOverwriteMode=dynamic``, re-running
    day X atomically replaces exactly day X's output directories in every
    sink, never touching other days. This is the Parquet stand-in for
    Iceberg's ``overwritePartitions()``; with Iceberg jars present, the
    writer swaps to ``writeTo(tbl).overwritePartitions()`` — same call
    shape, snapshot-atomic.
* within-batch ``dropDuplicates(message_id)`` per (sink,dt) — the ``_id``
  collapse (es.clj:102-103).

Scale: a single pass over the input — N sinks never cause N scans. The
write shuffles once on the partition columns (``repartition``) so each
output dir is written by one task (no small-file explosion at 1000
executors: file count = #(sink,month,dt) combos, not #combos x #tasks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

PARTITION_COLS = ["sink", "month", "dt"]


def write_fanout(
    routed: DataFrame,
    path: str,
    dedup_key: str = "message_id",
    cross_day_dedup: bool = True,
    batch_dts: list[str] | None = None,
    committed_scope: bool = False,
) -> None:
    """Fan-out write of routed rows (must carry sink/month/dt) with
    **(sink, month)**-scoped dedup — the reference's monthly-index
    ``_id``-upsert scope (es.clj:102-104): a duplicate id arriving under a
    different ingest day of the same month is collapsed, latest ``dt`` wins
    (upsert = last write wins). With ``committed_scope=True`` the collapse
    also runs against *previously committed* days of the batch's
    (sink, month) combos — full upsert semantics against everything
    already in the sink, the Parquet stand-in for Iceberg ``MERGE INTO``.

    Execution shape — wide rows move through exactly ONE exchange:

    1. the write repartitions on (sink, month, dt) so each output dir is
       written by one task (file count = #combos, not #combos x #tasks —
       no small-file explosion at 1000 executors), and a window over
       exactly the repartition keys collapses same-day duplicates inside
       that exchange (Catalyst adds only a sort, no second wide shuffle).
    2. the cross-day half runs AFTER the commit as a reconcile pass over
       the *written* table's pruned columns (see
       ``reconcile_cross_day_dupes``) — never a second pass over the
       parse pipeline. Callers that know the batch holds a single ingest
       day (cross-day dupes impossible) pass ``cross_day_dedup=False``
       and skip even that narrow scan.

    Null-key rows (parse failures -> quarantine) are all kept."""
    w = Window.partitionBy(*PARTITION_COLS).orderBy(F.col(dedup_key).asc_nulls_first())
    cleaned = (
        routed.repartition(*[F.col(c) for c in PARTITION_COLS])
        .withColumn("__prev", F.lag(dedup_key).over(w))
        .where(
            F.col(dedup_key).isNull()
            | F.col("__prev").isNull()
            | (F.col("__prev") != F.col(dedup_key))
        )
        .drop("__prev")
    )
    (
        cleaned.write.mode("overwrite")
        # self-contained: per-write override so replay only replaces the
        # partitions this batch produced even under a vanilla SparkSession
        # (session default `static` would wipe every other day's output)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )
    if cross_day_dedup:
        reconcile_cross_day_dupes(
            routed.sparkSession,
            path,
            dedup_key,
            dts=batch_dts,
            committed_scope=committed_scope,
            schema=cleaned.schema,
        )


def _month_roots(spark: SparkSession, path: str, dts: list[str] | None) -> list[str]:
    """``sink=*/month=*`` directories holding any day of ``dts`` (every
    day when None), from ONE Hadoop-FS ``globStatus`` over the Hive
    layout: the same call serves local and remote filesystems, runs no
    Spark job and reads no data pages. The matched paths come back as one
    newline-joined string: a JVM round trip per path would cost more than
    the glob itself once a batch spans dozens of partitions."""
    if dts is not None and not dts:
        return []
    days = "*" if dts is None else "{" + ",".join(dts) + "}"
    jvm = spark._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(f"{path}/sink=*/month=*/dt={days}")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    hits = fs.globStatus(pattern)
    if not hits:
        return []
    # genericWrapArray takes the Path[] as a plain Object (py4j does not
    # pass a Path[] where a Java API declares Object[])
    joined = jvm.scala.Predef.genericWrapArray(
        jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(hits)
    ).mkString("\n")
    return sorted({p.rsplit("/", 1)[0] for p in joined.split("\n")})


def reconcile_cross_day_dupes(
    spark: SparkSession,
    path: str,
    dedup_key: str = "message_id",
    dts: list[str] | None = None,
    committed_scope: bool = False,
    *,
    schema: StructType,
) -> int:
    """Collapse duplicate ids that landed under DIFFERENT ingest days of
    the same (sink, month) — the cross-day half of the monthly upsert.

    Scope:
    * batch (default): both copies must be inside ``dts`` — the detection
      scan partition-prunes to the batch's days.
    * committed (``committed_scope=True``): a batch copy also collapses
      against any PREVIOUSLY COMMITTED day of the batch's (sink, month)
      combos — the reference's ES upsert dedupes against everything
      already indexed (es.clj:102-104). The scan widens only to the
      affected months. Latest ``dt`` still wins, so a replayed id keeps
      the newer copy and the older committed day's partition is
      rewritten. Per-day ledger counts recorded by the earlier run become
      historical, not current — exactly an upsert's bookkeeping.

    The scan covers only the month roots that hold a batch day, found by
    one ``globStatus`` of ``sink=*/month=*/dt={dts}`` (``_month_roots``)
    and read with ``basePath`` so sink/month/dt stay partition columns.
    ``schema`` is the schema of the written rows, partition columns
    included, so the read infers nothing and the only Spark job of the
    common case is the detection scan itself.

    Works off the *written* table, so the detection scan reads only the
    pruned (sink, month, dt, key) columns — three of them partition values
    that cost no data pages — never re-running parse. The common case (no
    cross-day duplicates) is exactly that one narrow scan, one aggregation
    stage (``min(dt) != max(dt)``) plus the ``isEmpty`` job; when losers
    exist, only the affected day-partitions are rewritten via dynamic
    overwrite (localCheckpoint breaks the read-own-output cycle on a
    row set that is rare-case small). Returns #rows removed."""
    roots = _month_roots(spark, path, dts)
    if not roots:
        return 0
    # pin dt to string: a caller's dt may be typed DATE, which would break
    # the isin prune below and change the rewrite's dir names
    sunk = (
        spark.read.schema(schema)
        .option("basePath", path)
        .parquet(*roots)
        .withColumn("dt", F.col("dt").cast("string"))
    )
    if dts is not None and not committed_scope:
        sunk = sunk.where(F.col("dt").isin(dts))
    narrow = sunk.select("sink", "month", "dt", dedup_key)
    # an id sits under more than one day iff its min and max dt differ
    # (both ignore a null dt, as a distinct count does); min/max aggregate
    # in one exchange, where a distinct count needs two
    losers = (
        narrow.where(F.col(dedup_key).isNotNull())
        .groupBy("sink", "month", dedup_key)
        .agg(F.min("dt").alias("__min_dt"), F.max("dt").alias("__keep_dt"))
        .where(F.col("__min_dt") != F.col("__keep_dt"))
        .drop("__min_dt")
        .persist()
    )
    # common case — no cross-day duplicates — exits after exactly one
    # narrow scan; the join back (a second scan) is rare-path only
    if losers.isEmpty():
        losers.unpersist()
        return 0
    affected = [
        (r.sink, r.month, r.dt)
        for r in narrow.join(losers, on=["sink", "month", dedup_key])
        .where(F.col("dt") != F.col("__keep_dt"))
        .select("sink", "month", "dt")
        .distinct()
        .collect()
    ]
    if not affected:
        losers.unpersist()
        return 0
    part = F.struct("sink", "month", "dt")
    in_affected = part.isin([F.struct(*[F.lit(v) for v in a]) for a in affected])
    before = sunk.where(in_affected)
    keep = (
        before.join(losers, on=["sink", "month", dedup_key], how="left")
        .where(F.col("__keep_dt").isNull() | (F.col("dt") == F.col("__keep_dt")))
        .drop("__keep_dt")
        .localCheckpoint()  # materialize before overwriting what we read
    )
    removed = before.count() - keep.count()
    (
        keep.repartition(*[F.col(c) for c in PARTITION_COLS])
        .write.mode("overwrite")
        # per-write dynamic overwrite: without it a caller whose session
        # runs Spark's default static mode would have this rare-path
        # rewrite DELETE every partition of the table and keep only the
        # affected-partition survivors — silent data loss
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*PARTITION_COLS)
        .parquet(path)
    )
    # dynamic overwrite only rewrites partitions PRESENT in `keep`; a day
    # whose every row was a loser must have its directory removed outright
    kept_parts = {
        (r.sink, r.month, r.dt)
        for r in keep.select("sink", "month", "dt").distinct().collect()
    }
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for s, m, d in (a for a in affected if a not in kept_parts):
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/sink={s}/month={m}/dt={d}")
        p.getFileSystem(hconf).delete(p, True)
    losers.unpersist()
    return removed


def read_sink(spark: SparkSession, path: str, sink: str | None = None) -> DataFrame:
    """Read back routed output; `sink` filter prunes partitions at the scan."""
    df = spark.read.parquet(path)
    return df.where(F.col("sink") == sink) if sink else df


def to_ndjson(routed: DataFrame, drop: tuple[str, ...] = ("month",)) -> DataFrame:
    """Bulk-payload serialization (S7/F10, es.clj:106-117): one JSON line
    per document, routing-internal columns dropped pre-serialization the way
    the reference dissoc's ``:date`` (es.clj:113). Native ``to_json`` over a
    struct — codegen'd, no Python. Write with ``.write.text(path)`` to get
    NDJSON files for an external bulk indexer."""
    cols = [c for c in routed.columns if c not in drop]
    return routed.select(
        F.to_json(F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "true"}).alias("json")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 16,
    path: str | None = None,
) -> None:
    """Write a bucketed, bucket-sorted table: rows hash-distribute into
    ``buckets`` files by ``key``, each file sorted by it. Two tables
    bucketed the same way CO-LOCATE: a join on ``key`` runs with ZERO
    exchanges and zero sorts — at 100 TB this turns the nightly fact⋈fact
    join from the dominant shuffle into a map-side merge (plan-asserted in
    tests and tools/plan_audit.py). Spark's bucketing needs the session
    catalog (``saveAsTable``); with Iceberg this is the table's
    ``bucket(N, key)`` partition transform and works on plain paths."""
    w = df.write.mode("overwrite").bucketBy(buckets, key).sortBy(key)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two identically-bucketed tables on their bucket key. The plan
    must contain no Exchange (callers/tests assert it): both sides'
    bucketing satisfies the join's required distribution."""
    return spark.table(left_table).join(spark.table(right_table), on=key, how=how)
