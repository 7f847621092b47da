"""Sink upsert contract, run against the one sink implementation:
``sinks.write_fanout`` (dynamic partition overwrite + cross-day
reconcile) and ``sinks.read_sink``.

Reference semantics under test: monthly ES index ``_id`` upsert
(es.clj:99-104) — one survivor per (sink, month, message_id), latest
ingest day wins, quarantine rows (null key) never collapse.
"""

from logprocessor_spark.sinks import read_sink, write_fanout

SCHEMA = (
    "url string, message_id string, payload string, "
    "sink string, month string, dt string"
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _rowset(df):
    return {
        (r.sink, r.month, r.dt, r.message_id, r.url) for r in df.collect()
    }


BATCH1 = [
    ("u1", "m1", "x", "sink_en", "2015.11", "2015-11-01"),
    ("u2", "m2", "y", "sink_en", "2015.11", "2015-11-01"),
    ("u3", "m3", "z", "sink_eu", "2015.12", "2015-12-01"),
    ("u4", None, "q", "quarantine", "unknown", "2015-11-01"),
    ("u5", None, "q", "quarantine", "unknown", "2015-11-01"),
]


def test_roundtrip_and_sink_prune(spark, tmp_out):
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=["2015-11-01", "2015-12-01"])
    assert _rowset(read_sink(spark, tmp_out)) == {
        (r[3], r[4], r[5], r[1], r[0]) for r in BATCH1
    }
    assert {r.url for r in read_sink(spark, tmp_out, sink="sink_eu").collect()} == {"u3"}


def test_same_day_replay_is_idempotent(spark, tmp_out):
    dts = ["2015-11-01", "2015-12-01"]
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=dts)
    once = _rowset(read_sink(spark, tmp_out))
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=dts)  # replay
    assert _rowset(read_sink(spark, tmp_out)) == once


def test_monthly_upsert_latest_dt_wins_within_batch(spark, tmp_out):
    rows = BATCH1 + [("u1b", "m1", "x2", "sink_en", "2015.11", "2015-11-02")]
    write_fanout(
        _df(spark, rows), tmp_out, batch_dts=["2015-11-01", "2015-11-02", "2015-12-01"]
    )
    got = _rowset(read_sink(spark, tmp_out))
    assert ("sink_en", "2015.11", "2015-11-02", "m1", "u1b") in got
    assert not any(u == "u1" for (_, _, _, _, u) in got)  # earlier dt lost
    # other keys, other months, and both null-key rows untouched
    assert len(got) == len(BATCH1)


def test_committed_scope_upserts_across_runs(spark, tmp_out):
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=["2015-11-01", "2015-12-01"])
    run2 = [("u1c", "m1", "x3", "sink_en", "2015.11", "2015-11-03")]
    write_fanout(_df(spark, run2), tmp_out, batch_dts=["2015-11-03"], committed_scope=True)
    got = _rowset(read_sink(spark, tmp_out))
    survivors_m1 = [g for g in got if g[3] == "m1"]
    assert survivors_m1 == [("sink_en", "2015.11", "2015-11-03", "m1", "u1c")]
    assert len(got) == len(BATCH1)  # m1 replaced, everything else intact


def test_multi_run_scenario_final_rowset(spark, tmp_out):
    """Two runs with a replay, a cross-run upsert and null keys end in
    exactly the expected table."""
    run2 = [
        ("u1c", "m1", "x3", "sink_en", "2015.11", "2015-11-03"),  # upserts m1
        ("u6", "m6", "w", "sink_misc", "2015.11", "2015-11-03"),  # new key
        ("u7", None, "q", "quarantine", "unknown", "2015-11-03"),  # null key
    ]
    dts1 = ["2015-11-01", "2015-12-01"]
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=dts1)
    write_fanout(_df(spark, BATCH1), tmp_out, batch_dts=dts1)  # replay
    write_fanout(_df(spark, run2), tmp_out, batch_dts=["2015-11-03"], committed_scope=True)
    assert _rowset(read_sink(spark, tmp_out)) == {
        ("sink_en", "2015.11", "2015-11-03", "m1", "u1c"),
        ("sink_en", "2015.11", "2015-11-01", "m2", "u2"),
        ("sink_eu", "2015.12", "2015-12-01", "m3", "u3"),
        ("quarantine", "unknown", "2015-11-01", None, "u4"),
        ("quarantine", "unknown", "2015-11-01", None, "u5"),
        ("sink_misc", "2015.11", "2015-11-03", "m6", "u6"),
        ("quarantine", "unknown", "2015-11-03", None, "u7"),
    }
