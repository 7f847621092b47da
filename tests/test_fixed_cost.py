"""Per-call fixed cost of ``run_pipeline``: the default dims and rules are
driver-local relations (no job to collect the rules, no Python worker to
broadcast the dims), and a single-day call on committed history runs a
bounded number of Spark jobs and driver<->JVM round trips.
Row identity of the defaults is pinned against their former
``spark.range`` / ``createDataFrame(list)`` constructions."""

import shutil
import threading

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from logprocessor_spark import synth
from logprocessor_spark.job import run_pipeline
from logprocessor_spark.schema import AGENT_DIM_SCHEMA, GEO_DIM_SCHEMA, RULES_SCHEMA
from logprocessor_spark.session import session_memo
from logprocessor_spark.sinks import _month_roots
from logprocessor_spark.synth import gen_pages, write_pages_partitioned

# a single-day call on committed history: the two dim broadcasts, the
# fused write (exchange map stage and write stage) and the reconcile's one
# detection scan (its aggregation stage and isEmpty); none for the pages
# schema, the rules, the sink listing or the sink schema
MAX_DAILY_JOBS = 6
# py4j round trips the calling thread makes in such a call once the
# session's constant plan parts exist (358 measured with pyspark 4.1,
# plus 25% headroom); releases sent by py4j's finalizer thread are not
# counted, their timing follows Python's garbage collector
MAX_DAILY_PY4J = 450


def _defaults(spark):
    return {
        "geo": synth.gen_geo_dim(spark),
        "agent": synth.gen_agent_dim(spark),
        "rules": synth.default_rules(spark),
    }


def _reference(spark):
    """The former constructions: a ``spark.range`` geo dim and
    Python-list relations for the agent dim and the rules."""
    df = spark.range(1000).where(F.pmod(F.xxhash64("id"), 10) < 9)
    country = F.element_at(
        F.array(*[F.lit(c) for c in synth.COUNTRIES]),
        (F.pmod(F.xxhash64("id", F.lit(1)), len(synth.COUNTRIES)) + 1).cast("int"),
    )
    region_map = F.create_map(*[F.lit(x) for kv in synth.REGIONS.items() for x in kv])
    geo = df.select(
        F.format_string("host%04d.example.com", F.col("id").cast("int")).alias("host"),
        country.alias("country"),
        region_map[country].alias("region"),
    ).to(GEO_DIM_SCHEMA)
    agent = spark.createDataFrame(
        [
            ("EndTransactionRQ", "ind", True),
            ("TravelItineraryReadRQ", "unique_id", True),
            ("OTA_PingRQ", None, True),
            ("EndTransactionRS", None, False),
            ("TravelItineraryReadRS", None, False),
            ("OTA_PingRS", None, False),
        ],
        AGENT_DIM_SCHEMA,
    )
    rules = spark.createDataFrame(
        [
            (1, "lang", "en", "sink_en"),
            (2, "lang", "de", "sink_eu"),
            (3, "lang", "fr", "sink_eu"),
            (4, "lang", "es", "sink_eu"),
            (5, "msg_type", "OTA_PingRQ", "sink_ping"),
            (6, "msg_type", "OTA_PingRS", "sink_ping"),
            (7, "*", "*", "sink_misc"),
        ],
        RULES_SCHEMA,
    )
    return {"geo": geo, "agent": agent, "rules": rules}


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_default_dims_and_rules_rows_unchanged(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        got, want = _defaults(spark), _reference(spark)
        for name in want:
            assert got[name].schema == want[name].schema, name
            rows = sorted(tuple(r) for r in got[name].collect())
            assert rows == sorted(tuple(r) for r in want[name].collect()), name
        assert got["geo"].count() == 903
    finally:
        spark.conf.set(key, before)


def test_default_dims_and_rules_are_local_table_scans(spark):
    for name, df in _defaults(spark).items():
        node = df._jdf.queryExecution().executedPlan().nodeName()
        assert node == "LocalTableScan", (name, node)


@pytest.fixture(scope="module")
def history(spark, tmp_path_factory):
    """Four days of pages, the first three committed under ``hist``."""
    base = tmp_path_factory.mktemp("history")
    # four days only: past 32 day dirs the pages listing itself becomes a
    # parallel listing job, which is not what these tests pin
    pages = gen_pages(spark, 3000, seed=13)
    four_days = F.to_timestamp(F.lit(synth.BASE_TS)) + F.expr("INTERVAL 4 DAYS")
    write_pages_partitioned(pages.where(F.col("warc_ts") < four_days), f"{base}/pages")
    dts = sorted(p.name.split("=", 1)[1] for p in (base / "pages").glob("dt=*"))
    assert len(dts) == 4
    run_pipeline(spark, f"{base}/pages", f"{base}/hist", run_id="hist", partitions=dts[:3])
    return base, dts


def _next_day(spark, history, out, run_id):
    """The fourth day on a fresh copy of the committed history."""
    base, dts = history
    shutil.copytree(f"{base}/hist", out)
    res = run_pipeline(spark, f"{base}/pages", out, run_id=run_id, partitions=[dts[3]])
    assert res.processed_partitions == [dts[3]] and res.rows_in > 0


def test_single_day_call_on_history_job_count(spark, history, tmp_path):
    sc = spark.sparkContext
    group = "fixed-cost-daily"
    sc.setJobGroup(group, group)
    try:
        _next_day(spark, history, str(tmp_path / "out"), "day")
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= MAX_DAILY_JOBS, sorted(jobs)


def test_single_day_call_on_history_py4j_round_trips(spark, history, tmp_path, monkeypatch):
    _next_day(spark, history, str(tmp_path / "warm"), "warm")
    caller = threading.get_ident()
    sent = []
    send = py4j.clientserver.JavaClient.send_command

    def counting(self, *args, **kwargs):
        if threading.get_ident() == caller:
            sent.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.JavaClient, "send_command", counting)
    _next_day(spark, history, str(tmp_path / "out"), "day")
    monkeypatch.undo()
    assert 0 < len(sent) <= MAX_DAILY_PY4J


def test_session_memo_builds_once_per_session(spark):
    built = []

    def build():
        built.append(object())
        return built[-1]

    first = session_memo(spark, "memo-test", build)
    assert session_memo(spark, "memo-test", build) is first
    other = spark.newSession()
    assert session_memo(other, "memo-test", build) is not first
    assert session_memo(spark, "memo-test-2", build) is not first
    assert len(built) == 3


def test_month_roots_lists_months_holding_a_batch_day(spark, tmp_path):
    for sink, month, dt in [
        ("sink_a", "2016.01", "2016-01-31"),
        ("sink_a", "2016.02", "2016-01-31"),
        ("sink_a", "2016.02", "2016-02-01"),
        ("sink_b", "2016.02", "2016-02-02"),
        ("quarantine", "unknown", "2016-02-01"),
    ]:
        (tmp_path / f"sink={sink}" / f"month={month}" / f"dt={dt}").mkdir(parents=True)

    def roots(dts):
        found = _month_roots(spark, str(tmp_path), dts)
        return [r[r.index("sink="):] for r in found]

    assert roots(["2016-01-31"]) == ["sink=sink_a/month=2016.01", "sink=sink_a/month=2016.02"]
    assert roots(["2016-02-01", "2016-02-02"]) == [
        "sink=quarantine/month=unknown",
        "sink=sink_a/month=2016.02",
        "sink=sink_b/month=2016.02",
    ]
    assert len(roots(None)) == 4
    assert roots(["2016-03-01"]) == []
    assert roots([]) == []
