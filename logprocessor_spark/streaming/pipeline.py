"""Streaming ingest: the batch plan re-bound to readStream (SURVEY §2f note —
the reference is purely batch; streaming is engine-completeness on our side).

Because parse/enrich/route are pure DataFrame transformations, the SAME
functions run in both modes — the only streaming-specific code is source/
sink binding, watermarking, and windowed aggregation. That symmetry is the
point: one logical pipeline, two execution modes.

* ``stream_pages``      — file-source readStream over a pages directory
  (new day-partitions appear as files land; ``maxFilesPerTrigger`` bounds
  micro-batch size at scale).
* ``stream_pipeline``   — parse -> enrich -> route -> partitioned parquet
  sink with checkpointing (exactly-once file sink semantics).
* ``windowed_sink_counts`` — tumbling-window per-sink counts with a
  watermark for late data (the streaming twin of sink_aggregates).
* ``sessionize``        — session_window aggregation over an event stream
  (stateful op; session gap closes after inactivity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import parse_pages
from ..operators.enrich import enrich
from ..operators.route import route
from ..schema import PAGES_SCHEMA


def stream_pages(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    # schema deliberately excludes the dt partition column: depending on
    # listing-cache state the file source may re-infer it from the dir
    # layout, and a user-supplied dt would then collide (COLUMN_ALREADY_EXISTS)
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_pipeline(
    pages_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    geo_dim: DataFrame,
    agent_dim: DataFrame,
    rules: DataFrame,
    available_now: bool = True,
):
    """Run the full pipeline as a stream into a partitioned parquet sink.
    Returns the StreamingQuery (caller awaits termination)."""
    parsed = parse_pages(pages_stream)
    routed = route(enrich(parsed, geo_dim, agent_dim), rules)
    writer = (
        routed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("sink", "month")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sink_counts(
    pages_stream: DataFrame,
    geo_dim: DataFrame,
    agent_dim: DataFrame,
    rules: DataFrame,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Tumbling-window per-sink counts with late-data watermark. In a live
    deployment the watermark bounds state: sinks x windows older than the
    watermark are finalized and evicted."""
    parsed = parse_pages(pages_stream)
    routed = route(enrich(parsed, geo_dim, agent_dim), rules)
    good = routed.where(F.col("ts").isNotNull())
    return (
        good.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .select(F.col("w.start").alias("window_start"), "sink", "doc_count")
    )


def stream_dedup(
    pages_stream: DataFrame,
    key: str = "message_id",
    watermark_col: str = "warc_ts",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming twin of the sink ``_id`` upsert (es.clj:102-103): drop
    duplicate keys arriving within the watermark horizon. State is one
    (key, firstSeen) pair per id, evicted once the watermark passes — the
    bounded-state formulation of exactly-once ids at 10^12-doc scale.
    Null-key rows (future quarantine) pass through untouched."""
    good = pages_stream.withWatermark(watermark_col, watermark)
    return good.dropDuplicatesWithinWatermark([key])


def running_user_stats(
    events_stream: DataFrame,
    watermark: str = "1 hour",
    state_timeout_ms: int = 2 * 3600 * 1000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    RUNNING totals emitted on every update — the reference's live
    processed-count atom (processing.clj:36-37) as a streaming operator.
    Arrow-batched (never per-row Python); state is two numbers per user,
    evicted by processing-time timeout (default 2 h = twice the default
    watermark) so memory stays bounded by *active* users, not all users
    ever seen — the property that matters at 10^9 distinct keys. The
    processing-time timeout makes every batch schedule a no-data batch, so
    under ``Trigger.availableNow`` the query never stops by itself (nor
    does ``processAllAvailable`` return): stop it once its input is done."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, v double"

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            # idle user: drop the running pair; a later event restarts at 0
            # (the durable totals live in the sink, not in stream state)
            state.remove()
            return
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "total_value": round(v, 2)}]
        )

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def sessionize(
    events_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows per user: groups events separated by < gap into one
    session (stateful streaming aggregation; state pruned by watermark)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            F.round("total_value", 2).alias("total_value"),
        )
    )


def stream_dedup_against_index(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    accrete: bool = True,
    available_now: bool = True,
):
    """Streaming fuzzy dedup against the persisted MinHash index — the
    continuous-crawl loop as a stream: each micro-batch (1) near-dup
    dedupes itself (LSH pairs -> connected components -> min-id survivor),
    (2) drops docs near-duplicating anything ALREADY ingested by probing
    ``operators.dedup``'s index, (3) appends survivors to the sink and,
    with ``accrete=True``, into the index so later batches dedupe against
    them too. ``foreachBatch`` is the right binding: the probe is a batch
    join against an external index table that the stream must also WRITE —
    not expressible as a stream-static join.

    Delivery caveat (standard foreachBatch): retries are at-least-once.
    Re-appended band rows never change dedup DECISIONS (candidates are
    deduped on id pairs before verification), but the sink append can
    double-write a replayed batch — production would make step 3 a
    batchId-keyed idempotent commit (Iceberg overwrite-by-filter or the
    batch pipeline's ledger), which this sandbox's plain-parquet sink
    does not model. Returns the StreamingQuery."""
    from ..operators.dedup import (
        dedup_against_index,
        minhash_index_append,
        near_dup_dedup,
    )

    # read the index's LSH params once, driver-side: the in-batch dedup
    # and the accretion append must run with the SAME banding the index
    # was built with (append validates against meta and would otherwise
    # kill the stream on the first micro-batch)
    spark = docs_stream.sparkSession
    meta = spark.read.parquet(f"{index_path}/meta").first()
    lsh = {
        "shingle_k": meta["shingle_k"],
        "num_hashes": meta["num_hashes"],
        "bands": meta["bands"],
    }

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        batch = batch_df.persist()
        kept = near_dup_dedup(
            batch, text_col=text_col, id_col=id_col, threshold=threshold, **lsh
        )
        dup_new = (
            dedup_against_index(
                kept, index_path, threshold=threshold,
                text_col=text_col, id_col=id_col,
            )
            .select(F.col("new_id").alias(id_col))
            .distinct()
        )
        survivors = kept.join(dup_new, on=id_col, how="left_anti").persist()
        survivors.write.mode("append").parquet(out_path)
        if accrete:
            minhash_index_append(
                survivors.select(id_col, text_col),
                index_path,
                text_col=text_col,
                id_col=id_col,
                **lsh,
            )
        survivors.unpersist()
        batch.unpersist()
        # the dedup internals persist their signature bases per call and
        # SQL caches are not garbage-collected — without an explicit
        # release, a long-running stream leaks cache entries every batch.
        # Clearing the session cache here is the bounded-memory choice;
        # batch jobs sharing the session should not rely on their own
        # caches surviving across this stream's micro-batches.
        batch_df.sparkSession.catalog.clearCache()

    writer = docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_curate(
    docs_stream: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Streaming curation gate: quality score + language-ID + PII
    redaction bound to a document stream — the same pure column
    expressions the batch chain uses (`curate_corpus_v2`), so the two
    modes stay one logical pipeline. All three are stateless projections/
    filters: they fuse into the micro-batch scan with zero streaming
    state (dedup against history is the batch reconcile's job — a
    streaming exact-dedup twin lives in ``stream_dedup``)."""
    from ..functions.redact import pii_counts, redact_pii
    from ..functions.textstats import lang_id, quality_score

    t = F.col(text_col)
    return (
        docs_stream.withColumn("qscore", quality_score(t))
        .withColumn("lang_pred", lang_id(t))
        .where((F.col("qscore") >= min_quality) & F.col("lang_pred").isin(*langs))
        .withColumn("pii", pii_counts(t))
        .withColumn(text_col, redact_pii(t))
    )


def stream_dedup_canonical_url(
    pages_stream: DataFrame,
    url_col: str = "url",
    watermark_col: str = "warc_ts",
    watermark: str = "2 days",
    blocklist: DataFrame | None = None,
) -> DataFrame:
    """Streaming twin of the crawl-side URL chain (curate_corpus_v4's
    first two stages): optional domain-blocklist gate, then canonical-URL
    dedup within the watermark horizon.

    The canonicalizer is the same pure column expression as batch
    (operators/urls.canonical_url) — stateless, fuses into the micro-batch
    scan. Dedup state is one (url_canon, firstSeen) pair per canonical
    key, evicted once the watermark passes — bounded by the crawl window,
    not crawl history. First-within-horizon wins (streaming semantics);
    the batch keep-LATEST reconcile stays the sink upsert's job, exactly
    as ``stream_dedup`` defers to the reconcile for message ids."""
    from ..operators.urls import canonical_url, filter_blocked_hosts

    s = pages_stream
    if blocklist is not None:
        s = filter_blocked_hosts(s, blocklist, url_col=url_col)
    s = s.withColumn("url_canon", canonical_url(F.col(url_col)))
    return s.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
        ["url_canon"]
    )


def stream_lm_gate(
    docs_stream: DataFrame,
    lm: DataFrame,
    max_avg_nll_fx16: int,
    out_path: str,
    checkpoint_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 2,
    floor_e9: int = 1,
    available_now: bool = True,
):
    """Streaming CCNet LM gate: score each micro-batch's documents
    against a STATIC pretrained LM relation (``kn_*_probs`` output or an
    ``import_arpa`` table) and keep those at or below a fixed cost
    cutoff — ``bucket_by_thresholds``' scan-side contract bound to a
    stream, i.e. exactly how CCNet deploys its filter (cutoffs are
    precomputed constants, the model never changes mid-run).

    ``foreachBatch`` is the binding because the score needs a
    groupBy(doc_id) over the exploded grams: as a direct streaming
    aggregation that would be update-mode stateful for no reason — every
    document lives entirely inside one micro-batch, so batch-scoring the
    micro-batch (same ``score_documents`` code as batch mode, one
    logical pipeline) is both simpler and state-free. The LM relation is
    re-used across batches; callers should ``.persist()`` it once.

    Emits (id_col, n_bigrams, avg_nll_fx16) parquet rows for survivors.
    At-least-once on retry (standard foreachBatch file-sink caveat, same
    as ``stream_dedup_against_index``). Returns the StreamingQuery."""
    from ..operators.lm_score import bucket_by_thresholds, score_documents

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        scored = score_documents(
            batch_df, lm, text_col=text_col, id_col=id_col,
            floor_e9=floor_e9, order=order,
        )
        kept = (
            bucket_by_thresholds(scored, max_avg_nll_fx16, max_avg_nll_fx16)
            .where(F.col("ppl_bucket") <= 1)
            .select(F.col("doc_id").alias(id_col), "n_bigrams", "avg_nll_fx16")
        )
        kept.write.mode("append").parquet(out_path)

    writer = docs_stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_bloom_gate(
    pages_stream: DataFrame,
    bloom_words: list[int],
    key_col: str = "url",
    k: int = 4,
    m_bits: int = 4096,
    keep_maybe_members: bool = False,
):
    """Streaming recrawl gate: probe each page's key against a PACKED
    Bloom filter of history (``sketch.bloom_pack`` output) and keep the
    unseen ones — the crawl-frontier filter, pure column expressions
    over one array literal, so it fuses into the micro-batch scan with
    ZERO streaming state and zero shuffle (contrast
    ``stream_dedup_canonical_url``, which carries watermark state for
    exact within-horizon dedup; the Bloom form trades a known false-
    positive rate — some unseen URLs skipped — for no state at all,
    which is the right trade for a billion-URL history).

    Returns a transformed stream (caller binds the sink), keeping rows
    whose key is NOT maybe-member (or the members, with
    ``keep_maybe_members=True`` — the "what did we recrawl" view)."""
    from ..operators.sketch import bloom_probe

    probed = bloom_probe(pages_stream, bloom_words, key_col, k, m_bits)
    want = F.col("maybe_member") if keep_maybe_members else ~F.col("maybe_member")
    return probed.where(want).drop("maybe_member")
