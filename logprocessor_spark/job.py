"""End-to-end pipeline job: parse -> enrich -> route -> write -> aggregate.

The Spark reshaping of the reference's `PUT /tasks` lifecycle (SURVEY §3.1):
one declarative plan per batch of input partitions; Catalyst fuses
scan + parse + enrich + route into a single codegen stage, the only
shuffle is the fan-out write's repartition on (sink, month, dt), and the
per-sink aggregates run off the same parsed data.

Resume (X7): input day-partitions already marked done in the ledger are
skipped; re-processing a day is idempotent (dynamic partition overwrite +
message_id dedup). ``group_size`` bounds the checkpoint granularity:
smaller = finer resume, larger = fewer job rounds. Run it standalone via
``spark-submit --py-files logprocessor_spark.zip -m`` or import
``run_pipeline``.

Per-call fixed cost: the plan parts that do not change between calls
(default dims, the routing Column compiled from the default rules, the
parse projection) are built once per SparkSession, and the pages are read
with the declared schema, so planning a call runs no Spark job and few
driver<->JVM round trips.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .checkpoint import Ledger, append_metrics, local_path
from .functions.parse import parse_pages, parse_pages_pandas
from .operators.aggregate import sink_aggregates
from .operators.enrich import enrich
from .operators.route import compile_rules, route
from .schema import PAGES_SCHEMA
from .session import session_memo
from .sinks import write_fanout
from .synth import default_rules, gen_agent_dim, gen_geo_dim

# the pages as run_pipeline reads them: the declared columns plus the
# Hive partition key, typed string so ledger keys and routed partitions
# are stable whatever the session's partition-type inference says
PAGES_READ_SCHEMA = StructType(
    [*PAGES_SCHEMA.fields, StructField("dt", StringType(), True)]
)
# pages columns the parse reads (with_text=True extracts text from html)
_PARSE_INPUT_COLS = ("url", "lang", "html")


@dataclass
class PipelineResult:
    """Outcome of one ``run_pipeline`` call.

    Count semantics: ``rows_in``/``rows_out``/``sink_counts`` are
    **committed** counts — tallied from a partition-pruned read-back of the
    written sink, *after* in-exchange dedup — not pre-write input counts.
    Replayed ids are collapsed against previously committed days too
    (committed-scope upsert, latest ``dt`` wins — es.clj:102-104
    semantics), so counts reflect the post-upsert table. One residual
    corner: a (sink, month, dt) dir from an earlier run that a re-run no
    longer produces AT ALL (possible only if routing RULES changed between
    runs) survives dynamic partition overwrite; id-level duplicates never
    do."""

    run_id: str
    processed_partitions: list[str]
    skipped_partitions: list[str]
    rows_in: int = 0
    rows_out: int = 0
    quarantined: int = 0
    wall_ms: int = 0
    sink_counts: dict = field(default_factory=dict)


def _chunks(xs: list, k: int):
    for i in range(0, len(xs), k):
        yield xs[i : i + k]


_Stat = __import__("collections").namedtuple("_Stat", ["dt", "sink", "n"])


def _committed_counts(
    spark: SparkSession, path: str, batch: set, force_remote: bool = False
) -> list:
    """Per-(dt, sink) committed row counts for the written sink tree.

    Local filesystems: glob ``sink=*/month=*/dt=<d>`` for each batch day
    driver-side and sum parquet footer ``num_rows`` — zero Spark jobs,
    zero data pages, and no listing of days outside the batch (an Iceberg
    catalog would serve this from the partitions metadata table).
    Remote filesystems: fall back to a partition-pruned count job
    (``force_remote`` exists so tests exercise that branch on local paths)."""
    if force_remote or ("://" in path and not path.startswith("file:")):
        # Hive partition-type inference types dt as DATE; pin to string so
        # the isin prune matches and ledger/metrics keys stay StringType
        # (same reason PAGES_READ_SCHEMA declares dt a string).
        return (
            spark.read.parquet(path)
            .withColumn("dt", F.col("dt").cast("string"))
            .where(F.col("dt").isin(list(batch)))
            .groupBy("dt", "sink")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    import glob
    import os

    from .sources import _footer_row_count

    base = glob.escape(local_path(path))
    out: dict[tuple[str, str], int] = {}
    for dt in batch:
        day_dirs = os.path.join(base, "sink=*", "month=*", f"dt={glob.escape(dt)}")
        for full in glob.glob(day_dirs):
            sink = full.rsplit(os.sep, 3)[1][len("sink="):]
            out[(dt, sink)] = out.get((dt, sink), 0) + _footer_row_count(full)
    return [_Stat(dt, sink, n) for (dt, sink), n in sorted(out.items())]


def _discover_partitions(pages_path: str) -> list[str] | None:
    """Hive-layout partition discovery from the directory names — the
    catalog-metadata path (Iceberg: partitions table). Falls back to a
    column scan for non-local/non-Hive layouts."""
    import os

    try:
        names = os.listdir(local_path(pages_path))
    except OSError:
        return None
    dts = sorted(n.split("=", 1)[1] for n in names if n.startswith("dt="))
    return dts or None


@dataclass(frozen=True)
class _Defaults:
    geo_dim: DataFrame
    agent_dim: DataFrame
    routing: Column  # compile_rules(default_rules(spark))


def _session_defaults(spark: SparkSession) -> _Defaults:
    """The default dims and the routing Column compiled from the default
    rules, built once per session: they are constants (the reference's
    in-code dispatch and routing tables, utils.clj:21-25, es.clj:99-104),
    and rebuilding them cost a few hundred driver<->JVM round trips per
    call."""
    return session_memo(
        spark,
        "run_pipeline.defaults",
        lambda: _Defaults(
            gen_geo_dim(spark), gen_agent_dim(spark), compile_rules(default_rules(spark))
        ),
    )


def _check_pages_columns(spark: SparkSession, pages_path: str) -> None:
    """Raise ``ValueError`` unless a data file of ``pages_path`` holds every
    column the parse reads (and ``dt``, when it is not a directory key).

    The pages are read with ``PAGES_READ_SCHEMA``, which infers nothing:
    a missing column would read as nulls and quarantine every row instead
    of failing. This reads one file's footer through the Hadoop FS API
    (``listFiles``, then ``ParquetFileReader``): no Spark job, no data
    pages. Files and directories whose names start with ``_`` or ``.``
    are skipped, as Spark's own listing skips them."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(pages_path)
    fs = root.getFileSystem(conf)
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    files = fs.listFiles(root, True)
    while files.hasNext():
        status = files.next()
        rel = status.getPath().toString()[len(prefix):].split("/")
        if not any(p.startswith(("_", ".")) for p in rel):
            break
    else:
        raise ValueError(f"no data file under {pages_path}")
    need = list(_PARSE_INPUT_COLS)
    if not any(p.startswith("dt=") for p in rel[:-1]):
        need.append("dt")
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf)
    )
    try:
        schema = reader.getFileMetaData().getSchema()
        missing = [c for c in need if not schema.containsField(c)]
    finally:
        reader.close()
    if missing:
        raise ValueError(
            f"pages table {pages_path} lacks column(s) {missing} "
            f"(checked {'/'.join(rel)})"
        )


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_dir: str,
    run_id: str = "run-0",
    geo_dim: DataFrame | None = None,
    agent_dim: DataFrame | None = None,
    rules: DataFrame | None = None,
    group_size: int | None = None,
    use_pandas_parse: bool = False,
    partitions: list[str] | None = None,
    progress: "ProgressTracker | None" = None,
) -> PipelineResult:
    """Process all pending day-partitions of ``pages_path`` into
    ``out_dir/{routed,ledger,metrics}``. Deterministic, resumable.

    ``geo_dim``, ``agent_dim`` and ``rules`` default to the synthetic
    dims and rules (``synth``); the defaults, and the routing Column
    compiled from the default rules, are built once per SparkSession and
    reused by later calls. A ``rules`` table passed in is collected and
    compiled on every call. The pages are read with ``PAGES_READ_SCHEMA``
    (no schema-inference job); one footer check makes a table without a
    column the parse needs raise ``ValueError`` before anything is
    written."""
    t0 = time.time()
    defaults = _session_defaults(spark)
    geo_dim = geo_dim if geo_dim is not None else defaults.geo_dim
    agent_dim = agent_dim if agent_dim is not None else defaults.agent_dim
    routing = defaults.routing if rules is None else compile_rules(rules)

    pages = spark.read.schema(PAGES_READ_SCHEMA).parquet(pages_path)
    _check_pages_columns(spark, pages_path)
    ledger = Ledger(f"{out_dir}/ledger")
    done = ledger.done_partitions()
    available = _discover_partitions(pages_path) or sorted(
        r.dt for r in pages.select("dt").distinct().collect()
    )
    if partitions is not None:
        # P1 input-domain validation (core.clj:19-20,31-43 analog): reject
        # unknown partition args up front — a typo'd dt must fail loudly,
        # not silently scan nothing.
        bad = sorted(set(partitions) - set(available))
        if bad:
            raise ValueError(
                f"unknown partitions {bad}; available: {available[:5]}..."
                if len(available) > 5
                else f"unknown partitions {bad}; available: {available}"
            )
    if group_size is not None and group_size < 1:
        raise ValueError(f"group_size must be >= 1, got {group_size}")
    all_dts = partitions or available
    pending = [d for d in all_dts if d not in done]
    skipped = [d for d in all_dts if d in done]

    result = PipelineResult(run_id, pending, skipped)
    if not pending:
        result.wall_ms = int((time.time() - t0) * 1000)
        return result

    prior_commits = bool(done)
    for batch in _chunks(pending, group_size or len(pending)):
        t_batch = time.time()
        src = pages.where(F.col("dt").isin(batch))
        if use_pandas_parse:
            parsed = parse_pages_pandas(src, extra_cols=["dt"])
        else:
            parsed = parse_pages(src, extra_cols=["dt"])
        enriched = enrich(parsed, geo_dim, agent_dim)
        routed = route(enriched, routing).drop("html")

        batch_key = f"{batch[0]}..{batch[-1]}"
        if progress is not None:
            # X5: fuse row/quarantine counters into the write job itself
            routed = progress.observe_batch(routed, batch_key)

        # dedup scope: within a multi-day batch AND — once anything is
        # already committed (earlier batch or earlier run) — against the
        # committed days of this batch's (sink, month) combos: the monthly
        # ``_id``-upsert collapses replayed ids across runs (es.clj:102-104).
        # A first single-batch run skips even the reconcile scan: nothing
        # committed, no cross-day dupes possible outside the batch itself.
        write_fanout(
            routed,
            f"{out_dir}/routed",
            cross_day_dedup=len(batch) > 1 or prior_commits,
            batch_dts=batch,
            committed_scope=prior_commits,
        )
        prior_commits = True

        # count what was COMMITTED: parquet footer row counts per written
        # (sink, month, dt) directory — no data pages, and on a local FS no
        # Spark job at all (a count job costs ~2-4 s of pure scheduling per
        # batch; at 10^4 batches that is hours of fixed cost)
        stats = _committed_counts(spark, f"{out_dir}/routed", set(batch))
        # this batch's own wall: the metrics and heartbeat rows are per batch
        wall_ms = int((time.time() - t_batch) * 1000)
        per_dt_in: dict[str, int] = {}
        per_dt_out: dict[str, int] = {}
        metric_rows = []
        for r in stats:
            per_dt_in[r.dt] = per_dt_in.get(r.dt, 0) + r.n
            quarantined = r.n if r.sink == "quarantine" else 0
            routed_n = 0 if r.sink == "quarantine" else r.n
            per_dt_out[r.dt] = per_dt_out.get(r.dt, 0) + routed_n
            result.quarantined += quarantined
            result.sink_counts[r.sink] = result.sink_counts.get(r.sink, 0) + r.n
            metric_rows.append(
                (run_id, r.dt, r.sink, r.n, quarantined, routed_n)
            )
        append_metrics(spark, f"{out_dir}/metrics", metric_rows, wall_ms)
        if progress is not None:
            progress.commit_heartbeat(batch_key, wall_ms)
        for dt in batch:
            ledger.mark_done(run_id, dt, per_dt_in.get(dt, 0), per_dt_out.get(dt, 0))
        result.rows_in += sum(per_dt_in.values())
        result.rows_out += sum(per_dt_out.values())

    result.wall_ms = int((time.time() - t0) * 1000)
    return result


def pipeline_aggregates(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(sink, month) aggregate counts off the routed output — the
    north_rule per-sink aggregate-counts gate."""
    return sink_aggregates(spark.read.parquet(f"{out_dir}/routed"))


def main() -> None:  # pragma: no cover - exercised via spark-submit
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--group-size", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument("--pandas-parse", action="store_true")
    args = ap.parse_args()
    spark = get_spark(master=args.master)
    res = run_pipeline(
        spark,
        args.pages,
        args.out,
        run_id=args.run_id,
        group_size=args.group_size,
        use_pandas_parse=args.pandas_parse,
    )
    print(
        {
            "run_id": res.run_id,
            "rows_in": res.rows_in,
            "rows_out": res.rows_out,
            "quarantined": res.quarantined,
            "wall_ms": res.wall_ms,
            "sinks": res.sink_counts,
            "skipped": len(res.skipped_partitions),
        }
    )


if __name__ == "__main__":
    main()
