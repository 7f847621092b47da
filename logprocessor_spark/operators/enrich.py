"""Dictionary enrichment via broadcast hash joins (SURVEY §2d J1-J2).

The reference enriches each parsed doc through an in-code dispatch-table
lookup (`details-mapping`, utils.clj:21-25) merged into the record
(utils.clj:47-53). The Spark-idiomatic equivalent is a **left broadcast
hash join** against small dimension tables: no shuffle of the fact side,
the dim ships once per executor, and Catalyst keeps the whole
parse→enrich→filter pipeline in one codegen stage.

Error gating (utils.clj:50-53 — details applied only when no errors) is
already enforced at parse time for the detail *columns*; here the agent-dim
attributes (detail_kind, is_request) are joined unconditionally, mirroring
the reference's header merge which always happens.

The default dims (``synth.gen_geo_dim``/``gen_agent_dim``) are driver-local
relations that plan as ``LocalTableScan``: their rows already sit in the
JVM, so building the broadcast runs no Python worker (it is still one
small JVM job per dim). ``job.run_pipeline`` builds them once per
SparkSession and passes the same DataFrames to every call.

At 100 TB: dims are a few MB (hosts dictionary, msg-type registry) — always
broadcast. If a dim ever outgrows the broadcast threshold, switch that one
join to a shuffled join keyed on the dim PK; the API here doesn't change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich(
    parsed: DataFrame,
    geo_dim: DataFrame | None = None,
    agent_dim: DataFrame | None = None,
) -> DataFrame:
    """Left-join parsed records against the geo and agent dictionaries.

    Misses yield nulls (dispatch-miss analog: OTA_Ping* and *RS types get no
    details in the reference, utils.clj:21-25).
    """
    out = parsed
    if geo_dim is not None:
        out = out.join(F.broadcast(geo_dim), on="host", how="left")
    if agent_dim is not None:
        out = out.join(F.broadcast(agent_dim), on="msg_type", how="left")
    return out
