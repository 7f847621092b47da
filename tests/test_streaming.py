"""Streaming pipeline tests: the stream must produce the same routed rows
as the batch run over identical input (one logical plan, two modes)."""

import time

import pytest
from pyspark.sql import functions as F

from logprocessor_spark.job import run_pipeline
from logprocessor_spark.sinks import read_sink
from logprocessor_spark.streaming.pipeline import (
    sessionize,
    stream_pages,
    stream_pipeline,
    windowed_sink_counts,
)
from logprocessor_spark.synth import (
    default_rules,
    gen_agent_dim,
    gen_geo_dim,
    gen_pages,
    write_pages_partitioned,
)


def _await_input_drained(q, timeout_s=120):
    """Block until ``q`` has run a batch without input rows. Under
    availableNow that batch comes only after every input file has been
    processed; a query with processing-time state timeouts keeps running
    such no-data batches and never terminates by itself."""
    deadline = time.monotonic() + timeout_s
    while not any(p["numInputRows"] == 0 for p in q.recentProgress):
        assert q.isActive, q.exception()
        assert time.monotonic() < deadline, "stream did not drain its input"
        time.sleep(0.1)


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    pages = gen_pages(spark, 800, seed=3)
    write_pages_partitioned(pages, f"{base}/pages")
    run_pipeline(spark, f"{base}/pages", f"{base}/batch", run_id="b")
    return base


def test_stream_matches_batch(spark, setup):
    base = setup
    src = stream_pages(spark, f"{base}/pages")
    assert src.isStreaming
    q = stream_pipeline(
        src,
        f"{base}/stream_out",
        f"{base}/ckpt",
        gen_geo_dim(spark),
        gen_agent_dim(spark),
        default_rules(spark),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = set(
        spark.read.parquet(f"{base}/stream_out").select("sink", "url").collect()
    )
    want = set(read_sink(spark, f"{base}/batch/routed").select("sink", "url").collect())
    assert got == want


def test_windowed_counts(spark, setup):
    base = setup
    src = stream_pages(spark, f"{base}/pages")
    agg = windowed_sink_counts(
        src, gen_geo_dim(spark), gen_agent_dim(spark), default_rules(spark)
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM win_counts").collect()
    assert rows
    total = sum(r.doc_count for r in rows)
    batch_total = (
        read_sink(spark, f"{base}/batch/routed").where(F.col("ts").isNotNull()).count()
    )
    assert total == batch_total


def test_sessionize_stream(spark, tmp_path):
    # file-source stream over the events table sample
    src_dir = str(tmp_path / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(src_dir)
    )
    q = (
        sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert rows
    assert all(r.session_end > r.session_start and r.n_events >= 1 for r in rows)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming _id-upsert twin: duplicated message ids across files are
    collapsed to one row each."""
    from logprocessor_spark.streaming.pipeline import stream_dedup

    base = str(tmp_path)
    pages = gen_pages(spark, 200, seed=9)
    doubled = pages.unionByName(pages)  # every id twice
    write_pages_partitioned(doubled, f"{base}/pages")
    src = stream_pages(spark, f"{base}/pages")
    from logprocessor_spark.functions.parse import parse_pages

    parsed = parse_pages(src, extra_cols=["warc_ts"])
    deduped = stream_dedup(parsed, key="message_id", watermark_col="warc_ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    rows = spark.sql("SELECT message_id, count(*) c FROM dedup_t WHERE message_id IS NOT NULL GROUP BY 1 HAVING count(*) > 1").collect()
    assert rows == []
    total = spark.sql("SELECT count(DISTINCT message_id) c FROM dedup_t").collect()[0].c
    assert total > 0


def test_running_user_stats_stateful(spark, tmp_path):
    """applyInPandasWithState running totals equal the batch aggregate."""
    from logprocessor_spark.streaming.pipeline import running_user_stats

    base = str(tmp_path)
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)
    events.write.parquet(f"{base}/ev")
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(f"{base}/ev")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = running_user_stats(src)
    q = (
        out.writeStream.format("memory")
        .queryName("running_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_input_drained(q)
    finally:
        q.stop()
    # last update per user must equal the batch totals; the memory sink in
    # update mode appends updates, so keep the max n_events
    last = {}
    for r in spark.sql("SELECT * FROM running_t").collect():
        if r.user_id not in last or r.n_events > last[r.user_id][0]:
            last[r.user_id] = (r.n_events, r.total_value)
    want = {
        r.user_id: (r.n, round(r.v, 2))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert {u: t[0] for u, t in last.items()} == {u: t[0] for u, t in want.items()}


def test_stream_curate_matches_batch(spark, tmp_path):
    """The streaming curation gate must keep/redact exactly the rows the
    same expressions keep in batch mode (one logical plan, two modes)."""
    from logprocessor_spark.functions.redact import redact_pii
    from logprocessor_spark.functions.textstats import lang_id, quality_score
    from logprocessor_spark.streaming.pipeline import stream_curate

    src_dir = str(tmp_path / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.concat(F.col("text"), F.lit(" mail x@y.io")).alias("text")
    )
    docs.write.parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream_curate(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {(r.doc_id, r.text, r.pii.n_email) for r in spark.read.parquet(out_dir).collect()}
    t = F.concat(F.col("text"), F.lit(" mail x@y.io"))
    batch = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", t.alias("text"))
        .where((quality_score(F.col("text")) >= 0.5) & (lang_id(F.col("text")) == "en"))
        .select("doc_id", redact_pii(F.col("text")).alias("text"))
    )
    want = {(r.doc_id, r.text, 1) for r in batch.collect()}
    assert got == want
    assert len(got) > 0
    assert all(t.endswith("mail [EMAIL]") for _, t, _ in got)


def test_stream_dedup_against_index_accretes(spark, tmp_path):
    """The continuous-crawl loop: batch 1's survivors enter the index, so
    batch 2's copies of them are dropped; index-historical dups are
    dropped; novel docs survive."""
    from logprocessor_spark.operators.dedup import minhash_index_build
    from logprocessor_spark.streaming.pipeline import stream_dedup_against_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.limit(20).select("doc_id", "text")
    idx = str(tmp_path / "idx")
    minhash_index_build(corpus, idx)

    base = docs.orderBy("doc_id").limit(30).collect()
    # batch 1: one historical dup (doc 0's text) + one novel doc (25)
    b1 = spark.createDataFrame(
        [(1000, base[0]["text"]), (1001, base[25]["text"])],
        "doc_id long, text string",
    )
    # batch 2: a copy of batch 1's novel survivor + another novel doc (26)
    b2 = spark.createDataFrame(
        [(2000, base[25]["text"]), (2001, base[26]["text"])],
        "doc_id long, text string",
    )
    src = str(tmp_path / "in")
    b1.coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "out")

    def run():
        # SAME checkpoint across runs: run 2 must process ONLY the new
        # file — a fresh checkpoint would replay batch 1 alongside batch 2
        # in one micro-batch, and the in-batch dedup would drop 2000
        # without exercising accretion at all
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "10")
            .parquet(src)
        )
        q = stream_dedup_against_index(stream, idx, out, str(tmp_path / "ckpt"))
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    run()
    got1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert got1 == {1001}  # 1000 was a dup of the indexed corpus

    b2.coalesce(1).write.mode("append").parquet(src)
    run()
    got2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # 2000 duplicated 1001, which was accreted into the index after batch 1
    assert got2 == {1001, 2001}


def test_stream_dedup_canonical_url(spark, tmp_path):
    """Streaming crawl-side gate: messy URL spellings collapse to one row
    per canonical key; blocked hosts never emit."""
    from pyspark.sql import functions as F

    from logprocessor_spark.streaming.pipeline import stream_dedup_canonical_url

    base = str(tmp_path)
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    rows = [
        ("https://www.a.com/p?utm_source=x", t0, 1),
        ("https://A.COM/p/", t0, 2),           # same canonical as above
        ("https://a.com:443/p#f", t0, 3),      # same canonical
        ("https://b.com/q", t0, 4),
        ("https://WWW.BAD.COM/x", t0, 5),      # blocked (spelled messy)
        ("https://bad.com/y", t0, 6),          # blocked
    ]
    pages = spark.createDataFrame(rows, ["url", "warc_ts", "doc_id"])
    pages.write.parquet(f"{base}/pages")
    src = spark.readStream.schema(pages.schema).parquet(f"{base}/pages")
    bl = spark.createDataFrame([("bad.com",)], ["host"])
    out = stream_dedup_canonical_url(src, blocklist=bl)
    q = (
        out.writeStream.format("memory")
        .queryName("urldedup_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("SELECT url_canon, count(*) c FROM urldedup_t GROUP BY 1").collect()
    canon = {r["url_canon"]: r["c"] for r in got}
    assert canon == {"https://a.com/p": 1, "https://b.com/q": 1}


def test_stream_lm_gate_matches_batch(spark, tmp_path):
    """The streaming LM gate must keep exactly the documents the batch
    score + fixed-threshold bucket keeps, across multiple micro-batches
    (maxFilesPerTrigger=1 forces >1 batch, proving the gate is stateless
    per micro-batch as designed)."""
    from logprocessor_spark.operators.lm_score import (
        bucket_by_thresholds,
        score_documents,
    )
    from logprocessor_spark.operators.ngram_lm import kn_bigram_probs
    from logprocessor_spark.streaming.pipeline import stream_lm_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    lm = kn_bigram_probs(docs.where("doc_id % 2 = 0")).persist()
    batch_scored = score_documents(docs, lm)
    # cutoff = the median-ish score so the gate genuinely splits the corpus
    cutoff = int(
        batch_scored.approxQuantile("avg_nll_fx16", [0.5], 0.0)[0]
    )
    want = {
        (r.doc_id, r.n_bigrams, r.avg_nll_fx16)
        for r in bucket_by_thresholds(batch_scored, cutoff, cutoff)
        .where("ppl_bucket <= 1")
        .select("doc_id", "n_bigrams", "avg_nll_fx16")
        .collect()
    }
    assert 0 < len(want) < batch_scored.count()

    src_dir = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src_dir)  # 3 files -> 3 micro-batches
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_lm_gate(stream, lm, cutoff, out_dir, ckpt)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {
        (r.doc_id, r.n_bigrams, r.avg_nll_fx16)
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == want
    lm.unpersist()


def test_stream_bloom_gate_matches_batch(spark, tmp_path):
    """The streaming Bloom recrawl gate keeps exactly the rows the batch
    probe keeps, and the streaming plan carries no stateful operator
    (pure scan-side filter)."""
    from logprocessor_spark.operators.sketch import (
        bloom_build,
        bloom_pack,
        bloom_probe,
    )
    from logprocessor_spark.streaming.pipeline import stream_bloom_gate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        F.format_string(
            "https://host%03d.example.com/d/%d",
            (F.col("doc_id") % 200).cast("int"),
            F.col("doc_id"),
        ).alias("url"),
    )
    history = docs.where("doc_id % 3 = 0")
    words = bloom_pack(bloom_build(history, "url"))
    want = {
        r.doc_id
        for r in bloom_probe(docs, words, "url").where("NOT maybe_member").collect()
    }
    assert 0 < len(want) < docs.count()

    src_dir = str(tmp_path / "src")
    docs.repartition(2).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        stream_bloom_gate(stream, words)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == want
