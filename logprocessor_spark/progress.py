"""Live in-flight progress (X5, closing the VERDICT partial).

The reference streams per-chunk progress into a state atom that the HTTP
API exposes while the task runs (processing.clj:24-46); the durable
metrics table (checkpoint.append_metrics) replaced the atom's *history*
but not its *liveness*. Two Spark-native instruments close that gap:

* ``Observation`` counters fused into the batch action itself — row and
  quarantine tallies come out of the SAME job that writes the sink (zero
  extra scans, zero extra jobs; contrast a separate ``count()``), exposed
  per batch and appended as heartbeat rows next to the metrics table.
* a ``statusTracker`` poller thread — in-flight (stage, active tasks,
  completed tasks) snapshots while a multi-hour 100 TB batch runs, the
  moral equivalent of the reference's progress atom. Driver-side, a few
  RPC-free calls per tick; no listener jars needed from Python.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .checkpoint import local_path


@dataclass
class StageSnapshot:
    at: float
    stage_id: int
    num_tasks: int
    active_tasks: int
    completed_tasks: int


@dataclass
class ProgressTracker:
    spark: SparkSession
    run_id: str = "run-0"
    out_dir: str | None = None  # heartbeats land at <out_dir>/heartbeats
    poll_interval: float = 1.0
    _obs: dict[str, Observation] = field(default_factory=dict)
    _snapshots: list[StageSnapshot] = field(default_factory=list)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    # -- fused per-batch counters ------------------------------------------
    def observe_batch(self, df: DataFrame, batch_key: str) -> DataFrame:
        """Attach row/quarantine counters to the batch plan. The metrics
        materialize when the batch's action (the sink write) runs — no
        second pass over the data."""
        obs = Observation(f"batch-{batch_key}")
        self._obs[batch_key] = obs
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.count("error").alias("quarantined"),
        )

    def batch_metrics(self, batch_key: str) -> dict:
        """Blocking fetch of a batch's observed counters (available as soon
        as its action finished)."""
        return dict(self._obs[batch_key].get)

    def commit_heartbeat(self, batch_key: str, wall_ms: int) -> dict:
        """Durable liveness row: (run_id, batch_key, rows, quarantined,
        wall_ms, at) appended under <out_dir>/heartbeats — the queryable
        twin of the reference's progress atom."""
        m = self.batch_metrics(batch_key)
        row = {
            "run_id": self.run_id,
            "batch_key": batch_key,
            "rows": int(m["rows"]),
            "quarantined": int(m["quarantined"]),
            "wall_ms": wall_ms,
            "at": time.time(),
        }
        if self.out_dir:
            import os
            import uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            path = f"{local_path(self.out_dir)}/heartbeats"
            os.makedirs(path, exist_ok=True)
            pq.write_table(
                pa.table({k: [v] for k, v in row.items()}),
                os.path.join(path, f"hb-{uuid.uuid4().hex}.parquet"),
            )
        return row

    # -- in-flight stage poller --------------------------------------------
    def start(self) -> None:
        """Start the statusTracker poller (daemon; stop() to join)."""
        if self._thread is not None:
            return
        tracker = self.spark.sparkContext.statusTracker()

        def loop() -> None:
            while not self._stop.is_set():
                for sid in tracker.getActiveStageIds():
                    info = tracker.getStageInfo(sid)
                    if info is not None:
                        self._snapshots.append(
                            StageSnapshot(
                                at=time.time(),
                                stage_id=sid,
                                num_tasks=info.numTasks,
                                active_tasks=info.numActiveTasks,
                                completed_tasks=info.numCompletedTasks,
                            )
                        )
                self._stop.wait(self.poll_interval)

        self._thread = threading.Thread(target=loop, daemon=True, name="lp-progress")
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

    @property
    def snapshots(self) -> list[StageSnapshot]:
        return list(self._snapshots)


def read_heartbeats(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/heartbeats")
