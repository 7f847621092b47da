"""End-to-end pipeline tests: per-sink aggregate counts, exact routed-row
sets, quarantine, enrichment, and partition-granular resume (north_rule
correctness gates; X7 semantics es.clj:102-103)."""

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from logprocessor_spark.checkpoint import Ledger, read_metrics
from logprocessor_spark.job import pipeline_aggregates, run_pipeline
from logprocessor_spark.query import point_lookup, search
from logprocessor_spark.schema import RULES_SCHEMA
from logprocessor_spark.sinks import read_sink, to_ndjson
from logprocessor_spark.synth import gen_pages, write_pages_partitioned

N = 2000


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("pipe"))
    pages = gen_pages(spark, N, seed=42)
    write_pages_partitioned(pages, f"{base}/pages")
    res = run_pipeline(spark, f"{base}/pages", f"{base}/out", run_id="r1")
    return base, res


def test_counts_conserved(spark, pipe):
    base, res = pipe
    assert res.rows_in == N
    assert res.rows_in == res.rows_out + res.quarantined
    routed = read_sink(spark, f"{base}/out/routed")
    assert routed.count() == N  # quarantine rows are kept, not dropped


def test_sink_partitioning_and_no_unknown_months(spark, pipe):
    base, _ = pipe
    routed = read_sink(spark, f"{base}/out/routed")
    clean = routed.where("sink != 'quarantine'")
    months = {r.month for r in clean.select("month").distinct().collect()}
    assert months == {"2015.10", "2015.11", "2015.12"}
    # routing column agrees with lang/msg_type rules
    bad = clean.where(
        (F.col("lang") == "en") & (F.col("sink") != "sink_en")
        & ~F.col("msg_type").isin("OTA_PingRQ", "OTA_PingRS")
    ).count()
    assert bad == 0


def test_quarantine_contents(spark, pipe):
    base, res = pipe
    q = read_sink(spark, f"{base}/out/routed", "quarantine")
    assert q.count() == res.quarantined > 0
    kinds = {r.k for r in q.select(F.substring("error", 1, 9).alias("k")).distinct().collect()}
    assert kinds == {"parse err", "Incorrect"}


def test_per_sink_aggregates_match_oracle(spark, pipe):
    """Per-sink aggregate counts (north_rule gate): salted two-phase agg
    must equal a plain groupBy count."""
    base, _ = pipe
    routed = read_sink(spark, f"{base}/out/routed")
    got = {
        (r.sink, r.month): r.doc_count
        for r in pipeline_aggregates(spark, f"{base}/out").collect()
    }
    want = {
        (r.sink, r.month): r.c
        for r in routed.groupBy("sink", "month").agg(F.count("*").alias("c")).collect()
    }
    assert got == want


def test_exact_routed_row_sets_deterministic(spark, pipe, tmp_path):
    """Routed-row equality (north_rule gate): a fresh run over the same
    input yields the exact same (sink, message_id|url) sets."""
    base, _ = pipe
    out2 = str(tmp_path / "out2")
    run_pipeline(spark, f"{base}/pages", out2, run_id="again")
    a = read_sink(spark, f"{base}/out/routed").select("sink", "url").collect()
    b = read_sink(spark, out2 + "/routed").select("sink", "url").collect()
    assert set(a) == set(b) and len(a) == len(b)


def test_enrichment_columns(spark, pipe):
    base, _ = pipe
    routed = read_sink(spark, f"{base}/out/routed")
    assert {"country", "region", "detail_kind", "is_request"} <= set(routed.columns)
    # agent dim: every clean EndTransactionRQ row is a request with kind=ind
    et = routed.where("msg_type = 'EndTransactionRQ'").select("detail_kind", "is_request").distinct().collect()
    assert et and all(r.detail_kind == "ind" and r.is_request for r in et)
    # geo dim covers ~90% of hosts; both hit and miss must exist
    hits = routed.where(F.col("country").isNotNull()).count()
    misses = routed.where(F.col("country").isNull()).count()
    assert hits > 0 and misses > 0


def test_resume_skips_done_and_is_idempotent(spark, tmp_path):
    """FIXTURES §5 resume: mark k of n partitions done, re-run, remaining
    process exactly once and final state equals an uninterrupted run."""
    base = str(tmp_path)
    pages = gen_pages(spark, 600, seed=5)
    write_pages_partitioned(pages, f"{base}/pages")

    # uninterrupted reference run
    run_pipeline(spark, f"{base}/pages", f"{base}/ref", run_id="full")
    ref = read_sink(spark, f"{base}/ref/routed")
    ref_rows = set(ref.select("sink", "url").collect())

    # interrupted run: process only the first 10 partitions, then resume
    dts = sorted(r.dt for r in ref.select("dt").distinct().collect())
    first = run_pipeline(
        spark, f"{base}/pages", f"{base}/out", run_id="part1", partitions=dts[:10]
    )
    assert first.processed_partitions == dts[:10]
    resumed = run_pipeline(spark, f"{base}/pages", f"{base}/out", run_id="part2")
    assert set(resumed.skipped_partitions) == set(dts[:10])
    assert set(resumed.processed_partitions) == set(dts[10:])

    got = set(read_sink(spark, f"{base}/out/routed").select("sink", "url").collect())
    assert got == ref_rows

    # third run: nothing pending, nothing rewritten
    third = run_pipeline(spark, f"{base}/pages", f"{base}/out", run_id="part3")
    assert third.processed_partitions == []
    assert set(read_sink(spark, f"{base}/out/routed").select("sink", "url").collect()) == ref_rows


def test_ledger_and_metrics(spark, pipe):
    base, res = pipe
    ledger = Ledger(f"{base}/out/ledger")
    entries = ledger.entries()
    assert len(entries) == len(res.processed_partitions)
    assert all(e["status"] == "done" for e in entries)
    assert sum(e["rows_in"] for e in entries) == N
    m = read_metrics(spark, f"{base}/out/metrics")
    agg = m.groupBy().agg(F.sum("parsed").alias("p"), F.sum("quarantined").alias("q")).collect()[0]
    assert agg.p == N and agg.q == res.quarantined


def test_batch_wall_ms_is_the_batch_own_time(spark, tmp_path):
    """Metrics and heartbeat ``wall_ms`` time each batch on its own, not
    since the run started: over >=2 batches they sum to at most the run."""
    from logprocessor_spark.progress import ProgressTracker, read_heartbeats

    base = str(tmp_path)
    write_pages_partitioned(gen_pages(spark, 300, seed=9), f"{base}/pages")
    dts = sorted(p.name.split("=", 1)[1] for p in (tmp_path / "pages").glob("dt=*"))
    tracker = ProgressTracker(spark, run_id="walls", out_dir=f"{base}/out")
    res = run_pipeline(
        spark, f"{base}/pages", f"{base}/out", run_id="walls",
        partitions=dts[:3], group_size=1, progress=tracker,
    )
    per_batch = {
        r.partition_key: r.wall_ms
        for r in read_metrics(spark, f"{base}/out/metrics").collect()
    }
    assert len(per_batch) == 3
    assert sum(per_batch.values()) <= res.wall_ms
    hbs = read_heartbeats(spark, f"{base}/out").collect()
    assert len(hbs) == 3
    assert sum(h.wall_ms for h in hbs) <= res.wall_ms


def test_read_path(spark, pipe):
    base, _ = pipe
    routed = read_sink(spark, f"{base}/out/routed")
    row = routed.where("sink = 'sink_en'").select("message_id").first()
    assert point_lookup(routed, row.message_id).count() == 1
    res = search(routed, "booking", limit=50)
    assert 0 < res.count() <= 50
    assert "text" not in res.columns  # raw excluded (db.cljs:21 analog)


def test_ndjson_serialization(spark, pipe):
    """S7/F10: bulk-payload NDJSON — internal routing column dropped, one
    valid JSON object per row, ids round-trip."""
    import json

    base, _ = pipe
    routed = read_sink(spark, f"{base}/out/routed", sink="sink_en")
    lines = to_ndjson(routed).limit(50).collect()
    assert lines
    for r in lines:
        doc = json.loads(r.json)
        assert "month" not in doc
        assert doc["message_id"].startswith("msg-")


def test_fanout_dedup_scope_is_sink_month(spark, tmp_out):
    """ES monthly-index _id-upsert scope (es.clj:102-104): a duplicate
    message_id arriving under a different ingest dt of the SAME month is
    collapsed (latest dt wins); other months are untouched; null-key
    quarantine rows are all kept."""
    from logprocessor_spark.sinks import write_fanout

    rows = [
        ("u1", "m1", "x", "sink_en", "2015.11", "2015-11-01"),
        ("u2", "m1", "y", "sink_en", "2015.11", "2015-11-02"),  # dup, later dt
        ("u3", "m1", "z", "sink_en", "2015.12", "2015-12-01"),  # other month
        ("u4", None, "q", "quarantine", "unknown", "2015-11-01"),
        ("u5", None, "q", "quarantine", "unknown", "2015-11-01"),
    ]
    df = spark.createDataFrame(
        rows, "url string, message_id string, payload string, sink string, month string, dt string"
    )
    write_fanout(df, tmp_out)
    got = {
        (r.message_id, r.month, r.dt, r.url)
        for r in spark.read.parquet(tmp_out).collect()
    }
    assert ("m1", "2015.11", "2015-11-02", "u2") in got  # latest dt won
    assert not any(u == "u1" for (_, _, _, u) in got)  # earlier copy collapsed
    assert ("m1", "2015.12", "2015-12-01", "u3") in got  # other month kept
    assert {u for (m, _, _, u) in got if m is None} == {"u4", "u5"}  # nulls kept
    assert len(got) == 4


def test_unknown_partition_arg_rejected(spark, tmp_path):
    """P1 input-domain validation (core.clj:19-20 analog): a typo'd
    partition fails loudly instead of silently scanning nothing."""
    base = str(tmp_path)
    write_pages_partitioned(gen_pages(spark, 100, seed=7), f"{base}/pages")
    with pytest.raises(ValueError, match="unknown partitions"):
        run_pipeline(
            spark, f"{base}/pages", f"{base}/out", partitions=["2099-01-01"]
        )
    with pytest.raises(ValueError, match="group_size"):
        run_pipeline(spark, f"{base}/pages", f"{base}/out", group_size=0)


def test_pages_without_html_raise_before_writing(spark, tmp_path):
    """Bad input fails loudly: a pages table that lacks a column the parse
    reads must raise, not return with every row quarantined."""
    base = str(tmp_path)
    write_pages_partitioned(gen_pages(spark, 100, seed=7).drop("html"), f"{base}/pages")
    with pytest.raises((AnalysisException, ValueError), match="html"):
        run_pipeline(spark, f"{base}/pages", f"{base}/out")
    assert not os.path.exists(f"{base}/out/routed")


def test_caller_rules_apply_per_call(spark, tmp_path):
    """Rules passed in are compiled on every call, never reused from an
    earlier call or mixed up with the session's default rules."""
    base = str(tmp_path)
    write_pages_partitioned(gen_pages(spark, 200, seed=5), f"{base}/pages")

    def sinks(out, rules):
        run_pipeline(spark, f"{base}/pages", f"{base}/{out}", run_id=out, rules=rules)
        routed = read_sink(spark, f"{base}/{out}/routed")
        return {r.sink for r in routed.select("sink").distinct().collect()}

    def every_row_to(sink):
        return spark.createDataFrame([(1, "*", "*", sink)], RULES_SCHEMA)

    assert sinks("a", every_row_to("sink_a")) == {"sink_a", "quarantine"}
    assert sinks("b", every_row_to("sink_b")) == {"sink_b", "quarantine"}
    defaults = {"sink_en", "sink_eu", "sink_ping", "sink_misc", "quarantine"}
    assert sinks("default", None) <= defaults
    assert sinks("c", every_row_to("sink_c")) == {"sink_c", "quarantine"}


def test_pandas_parse_path_matches_native(spark, tmp_path):
    """The mapInPandas parity path carries dt through the Arrow batch (no
    join-back) and lands the identical routed rows."""
    base = str(tmp_path)
    write_pages_partitioned(gen_pages(spark, 300, seed=11), f"{base}/pages")
    run_pipeline(spark, f"{base}/pages", f"{base}/nat", run_id="nat")
    run_pipeline(
        spark, f"{base}/pages", f"{base}/pd", run_id="pd", use_pandas_parse=True
    )
    nat = set(
        read_sink(spark, f"{base}/nat/routed").select("sink", "url", "dt").collect()
    )
    pd_ = set(
        read_sink(spark, f"{base}/pd/routed").select("sink", "url", "dt").collect()
    )
    assert nat == pd_ and nat


def test_live_progress_observations_and_heartbeats(spark, tmp_path):
    """X5: row/quarantine counters fused into the write job (Observation —
    no extra scan), heartbeat rows durable, statusTracker poller runs."""
    from logprocessor_spark.progress import ProgressTracker, read_heartbeats

    base = str(tmp_path)
    write_pages_partitioned(gen_pages(spark, 500, seed=3), f"{base}/pages")
    tracker = ProgressTracker(spark, run_id="obs", out_dir=f"{base}/out",
                              poll_interval=0.05)
    tracker.start()
    res = run_pipeline(
        spark, f"{base}/pages", f"{base}/out", run_id="obs",
        group_size=20, progress=tracker,
    )
    tracker.stop()
    hbs = read_heartbeats(spark, f"{base}/out").collect()
    assert sum(h.rows for h in hbs) == res.rows_in == 500
    assert sum(h.quarantined for h in hbs) == res.quarantined
    assert len(hbs) >= 2  # one per batch (group_size splits the days)
    for key in list(tracker._obs):
        m = tracker.batch_metrics(key)
        assert m["rows"] > 0


def test_search_wildcard_terms(spark, pipe):
    """O3 wildcard: 'book*' must match tokens with the prefix; plain+wild
    conjunction narrows; non-matching wildcard yields nothing."""
    base, _ = pipe
    routed = read_sink(spark, f"{base}/out/routed")
    wild = search(routed, "book*", limit=200)
    assert wild.count() > 0
    plain = search(routed, "booking", limit=200).count()
    assert wild.count() >= plain
    assert search(routed, "zzzzqqq*", limit=10).count() == 0


def test_cross_day_replay_dedup_through_pipeline(spark, tmp_path):
    """Job-level monthly upsert: the same message_id ingested on two days
    of one month keeps only the later day's copy after a multi-day batch;
    a single-day batch leaves other days untouched."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    pages = gen_pages(spark, 400, seed=21)
    dts = sorted(
        r.dt
        for r in pages.select(F.date_format("warc_ts", "yyyy-MM-dd").alias("dt"))
        .distinct()
        .collect()
    )
    # clone day-1 pages into day-2 (same message ids, later ingest day)
    same_month = [d for d in dts if d[:7] == dts[0][:7]][:2]
    assert len(same_month) == 2
    d1 = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") == same_month[0])
    clone = d1.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY")
    )
    rest = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") != same_month[1])
    write_pages_partitioned(rest.unionByName(clone), f"{base}/pages")

    res = run_pipeline(spark, f"{base}/pages", f"{base}/out", run_id="replay")
    routed = read_sink(spark, f"{base}/out/routed").where("sink != 'quarantine'")
    dup = (
        routed.groupBy("sink", "month", "message_id")
        .count()
        .where("count > 1")
        .count()
    )
    assert dup == 0  # cross-day copies collapsed
    # the surviving copy of each duplicated id is the LATER ingest day
    survivors = {
        r.dt
        for r in routed.join(
            spark.createDataFrame([(m,) for m in [same_month[1]]], "dt string"),
            on="dt",
        ).select("dt").distinct().collect()
    }
    assert survivors == {same_month[1]}
    assert res.rows_in > 0


def test_committed_scope_upsert_across_runs(spark, tmp_path):
    """Full upsert semantics (es.clj:102-104): run A commits day 1; run B
    later processes day 2 carrying a day-1 message_id. The replayed id must
    end with exactly ONE survivor — the day-2 copy (latest dt wins) — even
    though day 1 was committed by a different run."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    pages = gen_pages(spark, 400, seed=33)
    dts = sorted(
        r.dt
        for r in pages.select(F.date_format("warc_ts", "yyyy-MM-dd").alias("dt"))
        .distinct()
        .collect()
    )
    same_month = [d for d in dts if d[:7] == dts[0][:7]][:2]
    assert len(same_month) == 2
    d1, d2 = same_month
    d1_pages = pages.where(F.date_format("warc_ts", "yyyy-MM-dd") == d1)
    # day-2 input = clone of day-1 (same message ids, one day later)
    clone = d1_pages.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    rest = pages.where(~F.date_format("warc_ts", "yyyy-MM-dd").isin(d1, d2))
    write_pages_partitioned(d1_pages.unionByName(rest), f"{base}/pages")

    res_a = run_pipeline(spark, f"{base}/pages", f"{base}/out", run_id="runA")
    assert d1 in res_a.processed_partitions

    # day 2 lands after run A committed
    write_pages_partitioned(
        d1_pages.unionByName(rest).unionByName(clone), f"{base}/pages"
    )
    res_b = run_pipeline(spark, f"{base}/pages", f"{base}/out", run_id="runB")
    assert res_b.processed_partitions == [d2]
    assert d1 in res_b.skipped_partitions  # ledger resume intact

    routed = read_sink(spark, f"{base}/out/routed").where("sink != 'quarantine'")
    dup = (
        routed.groupBy("sink", "month", "message_id").count().where("count > 1")
    )
    assert dup.count() == 0  # one survivor per replayed id
    # the survivor of every day-1-replayed id is the day-2 copy
    d1_ids = {
        r.message_id
        for r in routed.select("message_id", "dt").where(F.col("dt") == d1).collect()
    }
    d2_ids = {
        r.message_id
        for r in routed.where(F.col("dt") == d2).select("message_id").collect()
    }
    assert d1_ids.isdisjoint(d2_ids) and len(d2_ids) > 0


def test_committed_counts_remote_branch_pins_dt_to_string(spark, pipe):
    """The remote-FS fallback of _committed_counts must yield the same
    (dt, sink, n) stats as the footer-sum path, with dt as STRING — Hive
    partition-type inference types the read-back dt as DATE, which would
    miss every ledger key and break METRICS_SCHEMA's StringType column."""
    from logprocessor_spark.job import _committed_counts

    base, _ = pipe
    path = f"{base}/out/routed"
    batch = {
        d.split("=", 1)[1]
        for d in __import__("subprocess").run(
            ["find", path, "-maxdepth", "3", "-name", "dt=*"],
            capture_output=True, text=True,
        ).stdout.split()
        if "dt=" in d
    }
    batch = {p[p.index("dt=") + 3:] for p in batch}
    local = {(r.dt, r.sink): r.n for r in _committed_counts(spark, path, batch)}
    remote = {
        (r.dt, r.sink): r.n
        for r in _committed_counts(spark, path, batch, force_remote=True)
    }
    assert remote == local and len(remote) > 0
    assert all(isinstance(k[0], str) for k in remote)


def test_file_uri_paths_stay_under_out_dir(spark, tmp_path, monkeypatch):
    """``file://`` pages and out paths: the ledger, metrics and heartbeats
    land under the out dir (not in a ``file:`` directory under the current
    one), partition discovery reads the directory names, and a second call
    skips every day."""
    from logprocessor_spark.job import _discover_partitions
    from logprocessor_spark.progress import ProgressTracker, read_heartbeats

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    write_pages_partitioned(gen_pages(spark, 300, seed=11), str(tmp_path / "pages"))
    pages, out = f"file://{tmp_path}/pages", f"file://{tmp_path}/out"
    dts = sorted(d[3:] for d in os.listdir(tmp_path / "pages") if d.startswith("dt="))
    assert _discover_partitions(pages) == dts

    tracker = ProgressTracker(spark, run_id="uri", out_dir=out)
    res = run_pipeline(spark, pages, out, run_id="uri", progress=tracker)
    assert res.processed_partitions == dts and res.rows_in == 300
    assert sorted(os.listdir(tmp_path / "out" / "ledger")) == [f"{d}.json" for d in dts]
    assert read_metrics(spark, f"{out}/metrics").count() > 0
    assert sum(h.rows for h in read_heartbeats(spark, out).collect()) == 300
    again = run_pipeline(spark, pages, out, run_id="uri2")
    assert again.processed_partitions == [] and again.skipped_partitions == dts
    assert os.listdir(cwd) == []
