"""Partition-granular checkpoint ledger + metrics (X5-X7, north_rule).

The reference tracked progress in an in-memory atom (processing.clj:16,24-43)
and leaned on ES ``_id`` upserts for re-run idempotence (es.clj:102-103).
Here progress is durable:

* **ledger** — one JSON manifest per completed input partition,
  ``<dir>/ledger/<partition_key>.json``, written atomically via
  write-temp-then-rename *after* the sink write for that batch commits.
  A resumed run lists the ledger and skips done partitions. The rename is
  the commit point: a crash before it leaves no entry, and the re-run's
  dynamic partition overwrite replaces any half-written sink dirs for that
  partition — exactly-once *effects* from at-least-once execution.
  (With Iceberg this would be a snapshot tag / MERGE into a ledger table;
  the manifest file is the sandbox-fallback with the same atomicity.)
* **metrics** — per (run_id, partition_key, sink) row counts appended as
  Parquet — the durable replacement for the progress atom, queryable as a
  table (FIXTURES.md §5).

Driver-side work here is O(#partitions) tiny JSON files — at 10^12 docs
across ~10^4 day-partitions that is trivially small; no data moves through
the driver.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from datetime import datetime, timezone
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .schema import METRICS_SCHEMA


def local_path(path: str) -> str:
    """The OS path of a plain path or a ``file:`` URI (``file:/a``,
    ``file:///a``); any other path comes back unchanged. Spark resolves
    both forms, but ``os`` and pyarrow read a ``file:`` URI as a relative
    path under the current directory."""
    return urlparse(path).path if path.startswith("file:") else path


class Ledger:
    def __init__(self, directory: str):
        self.dir = local_path(directory)
        os.makedirs(self.dir, exist_ok=True)

    def done_partitions(self) -> set[str]:
        out = set()
        for fn in os.listdir(self.dir):
            if fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as f:
                    rec = json.load(f)
                if rec.get("status") == "done":
                    out.add(rec["partition_key"])
        return out

    def mark_done(
        self, run_id: str, partition_key: str, rows_in: int, rows_out: int
    ) -> None:
        rec = {
            "run_id": run_id,
            "partition_key": partition_key,
            "status": "done",
            "rows_in": rows_in,
            "rows_out": rows_out,
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, os.path.join(self.dir, f"{partition_key}.json"))  # atomic commit

    def entries(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as f:
                    out.append(json.load(f))
        return out


def append_metrics(
    spark: SparkSession, path: str, rows: list[tuple], wall_ms: int | None = None
) -> None:
    """rows: (run_id, partition_key, sink, parsed, quarantined, routed).

    Local paths are written directly with pyarrow on the driver: the rows
    are O(#partitions) tiny, and a Spark ``coalesce(1)`` write job costs
    seconds of fixed scheduling per batch — pure overhead at any scale.
    Non-local paths (hdfs://, s3a://...) fall back to the Spark writer,
    which resolves any Hadoop filesystem. Both produce files compatible
    with ``read_metrics``'s schema."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if "://" in path and not path.startswith("file:"):
        spark.createDataFrame(
            [(*r, wall_ms) for r in rows], schema=METRICS_SCHEMA
        ).coalesce(1).write.mode("append").parquet(path)
        return

    path = local_path(path)
    full = [(*r, wall_ms) for r in rows]
    cols = list(zip(*full)) if full else [[]] * 7
    table = pa.table(
        {
            "run_id": pa.array(cols[0], pa.string()),
            "partition_key": pa.array(cols[1], pa.string()),
            "sink": pa.array(cols[2], pa.string()),
            "parsed": pa.array(cols[3], pa.int64()),
            "quarantined": pa.array(cols[4], pa.int64()),
            "routed": pa.array(cols[5], pa.int64()),
            "wall_ms": pa.array(cols[6], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, f"part-{uuid.uuid4().hex}.parquet"))


def read_metrics(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(METRICS_SCHEMA).parquet(path)
