"""Deterministic synthetic `pages` table (FIXTURES.md §1) + dims + rules.

Generation is **Spark-native and pure in the row id**: every column derives
from ``id`` via hash expressions (``xxhash64``), never ``rand()`` or
wall-clock, so the same (n, seed) yields byte-identical rows regardless of
partitioning, core count, or re-runs — the property the resume/idempotence
tests (X7) and the byte-identical-text goldens rely on. Because it is pure
column expressions over ``spark.range(n)``, the same generator scales to
10^12 rows on a cluster (no driver-side data).

Fixture behaviors ported from the reference corpus
(/root/reference/dev-resources/test/*.xml — see FIXTURES.md §2):
bogus-Z PST timestamps on requests, plain UTC on responses, detail attrs
(Ind, id), error blocks that suppress details, an "Incorrect date" row,
and non-parseable junk rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import AGENT_DIM_SCHEMA, GEO_DIM_SCHEMA, RULES_SCHEMA

SERVICES = ["ReadSession", "EndTransaction", "Ping", "RetrieveItinerary", "BookSegment"]
MSG_TYPES = [
    "EndTransactionRQ",
    "TravelItineraryReadRQ",
    "OTA_PingRQ",
    "EndTransactionRS",
    "TravelItineraryReadRS",
    "OTA_PingRS",
]
LANGS = ["en", "de", "fr", "es", "ru", "zh"]
# each lang carries one non-ASCII token to pin unicode parity of extraction
LANG_WORDS = {
    "en": ["page", "search", "flight", "booking", "travel"],
    "de": ["straße", "seite", "suche", "flug", "reise"],
    "fr": ["été", "page", "recherche", "vol", "voyage"],
    "es": ["niño", "página", "buscar", "vuelo", "viaje"],
    "ru": ["привет", "поиск", "рейс", "бронь", "стр"],
    "zh": ["网页", "搜索", "航班", "预订", "旅行"],
}
ERROR_MSGS = [
    "PREVIOUS ENTRY IN PROGRESS, PLEASE WAIT",
    "INVALID PCC",
    "SESSION EXPIRED",
]
PCCS = ["AB12", "CD34", "EF56", "GH78"]
COUNTRIES = ["US", "DE", "FR", "ES", "RU", "CN", "BR", "IN"]
REGIONS = {"US": "AMER", "BR": "AMER", "DE": "EMEA", "FR": "EMEA", "ES": "EMEA", "RU": "EMEA", "CN": "APAC", "IN": "APAC"}

BASE_TS = "2015-10-15 00:00:00"  # spans the 2015-11-01 US DST fall-back
SPAN_SECONDS = 61 * 24 * 3600  # ~2 months -> >= 3 distinct sink months

ENTITY_HTML = "A &amp; B &lt;tag&gt;"
ENTITY_TEXT = "A & B <tag>"
JUNK_BODY = "adssad"  # reference broken.zip analog


def _h(salt: int, mod: int) -> F.Column:
    """Deterministic uniform int in [0, mod) derived from the row id."""
    return F.pmod(F.xxhash64(F.col("id"), F.lit(salt)), F.lit(mod))


def _pick(salt: int, values: list[str]) -> F.Column:
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (_h(salt, len(values)) + 1).cast("int"))


def _zipf_idx(salt: int, n: int) -> F.Column:
    """Log-uniform index in [0, n): heavy skew toward low indices — the
    Zipfian host/lang skew the salted-agg design is exercised against."""
    u = _h(salt, 1_000_000) / 1_000_000.0
    return F.least(
        F.floor(F.pow(F.lit(float(n)), u)) - 1, F.lit(n - 1)
    ).cast("int")


def gen_pages(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    n_hosts: int = 1000,
    num_partitions: int | None = None,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) — deterministic in (n, seed)."""
    df = spark.range(0, n, 1, num_partitions or spark.sparkContext.defaultParallelism)
    # fold the seed into the id stream once so different seeds decorrelate
    df = df.withColumn("id", F.xxhash64(F.col("id"), F.lit(seed)) % F.lit(2**40))

    host_idx = _zipf_idx(1, n_hosts)
    host = F.format_string("host%04d.example.com", host_idx)
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), F.conv(F.col("id").cast("string"), 10, 16))

    event_utc = F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(
        secs=(_h(2, SPAN_SECONDS)).cast("double")
    )
    msg_type = _pick(3, MSG_TYPES)
    is_rq = msg_type.endswith("RQ")
    service = _pick(4, SERVICES)
    lang_idx = _zipf_idx(5, len(LANGS))
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), lang_idx + 1)
    # a few null langs for routing-default coverage (FIXTURES §1)
    lang = F.when(_h(6, 211) == 0, F.lit(None).cast("string")).otherwise(lang)

    # F5 fixture rule: RQ -> LA wall clock + bogus Z; RS -> true UTC, no Z.
    la_wall = F.date_format(F.from_utc_timestamp(event_utc, "America/Los_Angeles"), "yyyy-MM-dd'T'HH:mm:ss")
    utc_wall = F.date_format(event_utc, "yyyy-MM-dd'T'HH:mm:ss")
    ts_raw = F.when(is_rq, F.concat(la_wall, F.lit("Z"))).otherwise(utc_wall)
    # "Incorrect date" rows (rq-invalid.xml analog)
    bad_date = _h(7, 97) == 0
    ts_raw = F.when(bad_date, F.lit("not-a-timestamp")).otherwise(ts_raw)

    session_id = F.concat(F.lit("sess-"), F.conv((_h(8, 2**31)).cast("string"), 10, 16))
    message_id = F.concat(F.lit("msg-"), F.col("id").cast("string"))
    refto = F.when(~is_rq, F.concat(F.lit("msg-"), (F.col("id") - 1).cast("string")))
    pcc = _pick(9, PCCS)

    # body: 6 lang words + optional entity trailer. A map lookup (not a
    # nested when-chain per word) keeps the codegen'd method under janino's
    # 64KB limit so whole-stage codegen survives.
    vocab_map = F.create_map(
        *[x for lg, vs in LANG_WORDS.items() for x in (F.lit(lg), F.array(*[F.lit(v) for v in vs]))]
    )
    vocab = F.coalesce(vocab_map[lang], vocab_map[F.lit("en")])
    words = [
        F.element_at(vocab, (_h(20 + i, len(LANG_WORDS["en"])) + 1).cast("int"))
        for i in range(6)
    ]
    body_text = F.concat_ws(" ", *words)
    with_entity = _h(10, 7) == 0
    body_html = F.when(with_entity, F.concat(body_text, F.lit(" " + ENTITY_HTML))).otherwise(body_text)
    body_expected = F.when(with_entity, F.concat(body_text, F.lit(" " + ENTITY_TEXT))).otherwise(body_text)

    # error block (rsp-error.xml analog): suppresses details downstream
    has_err = _h(11, 19) == 0
    err1 = _pick(12, ERROR_MSGS)
    err2 = _pick(13, ERROR_MSGS)
    two_errs = _h(14, 3) == 0
    err_html = F.when(
        has_err,
        F.concat(
            F.lit('<div class="errors"><span class="error-msg">'),
            err1,
            F.lit("</span>"),
            F.when(two_errs, F.concat(F.lit('<span class="error-msg">'), err2, F.lit("</span>"))).otherwise(F.lit("")),
            F.lit("</div>"),
        ),
    ).otherwise(F.lit(""))
    err_text = F.when(
        has_err,
        F.when(two_errs, F.concat(F.lit(" "), err1, F.lit(" "), err2)).otherwise(F.concat(F.lit(" "), err1)),
    ).otherwise(F.lit(""))

    # detail attrs (rq-et.xml / rq-retrieve.xml analogs)
    ind_val = F.when(_h(15, 2) == 0, F.lit("true")).otherwise(F.lit("false"))
    det_id = F.upper(F.conv((_h(16, 2**24)).cast("string"), 10, 36))
    detail_attr = (
        F.when(msg_type == "EndTransactionRQ", F.concat(F.lit(' data-ind="'), ind_val, F.lit('"')))
        .when(msg_type == "TravelItineraryReadRQ", F.concat(F.lit(' data-id="'), det_id, F.lit('"')))
        .otherwise(F.lit(""))
    )

    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>"),
        service,
        F.lit("</title>\n"),
        F.lit('<meta name="session-id" content="'), session_id, F.lit('"/>\n'),
        F.lit('<meta name="message-id" content="'), message_id, F.lit('"/>\n'),
        F.lit('<meta name="service" content="'), service, F.lit('"/>\n'),
        F.lit('<meta name="timestamp" content="'), ts_raw, F.lit('"/>\n'),
        F.coalesce(F.concat(F.lit('<meta name="refto" content="'), refto, F.lit('"/>\n')), F.lit("")),
        F.lit('<meta name="pcc" content="'), pcc, F.lit('"/>\n'),
        F.lit('<style>body{font:"x"}</style></head>\n<body class="'),
        msg_type,
        F.lit('"'),
        detail_attr,
        F.lit("><h1>"),
        service,
        F.lit("</h1>\n<p>"),
        body_html,
        F.lit("</p>"),
        err_html,
        F.lit("</body></html>"),
    )
    # expected extraction: title + h1 + body + error texts (textextract rules)
    text = F.concat(service, F.lit(" "), service, F.lit(" "), body_expected, err_text)

    # junk rows (broken.zip analog): unparseable, extraction still defined
    is_junk = _h(17, 131) == 0
    html = F.when(is_junk, F.lit(JUNK_BODY)).otherwise(html)
    text = F.when(is_junk, F.lit(JUNK_BODY)).otherwise(text)

    return df.select(
        url.alias("url"),
        event_utc.alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def write_pages_partitioned(pages: DataFrame, path: str) -> None:
    """Materialize pages Hive-partitioned by day (`dt`) — the partition
    pruning surface (S1/S2 analog: level/app/y/m/d prefixes,
    utils.clj:73-77). On a cluster this would be an Iceberg table with
    `days(warc_ts)` partitioning; Parquet dirs are the sandbox fallback."""
    (
        pages.withColumn("dt", F.date_format("warc_ts", "yyyy-MM-dd"))
        .repartition("dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


def _local_relation(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A driver-local relation built from a ``pyarrow.Table``: it plans as
    ``LocalTableScan``, so collecting it runs no Spark job and
    broadcasting it runs no Python worker (``createDataFrame(list)``
    builds a Python-RDD scan, which costs a Python task wave per use). A
    ``pyarrow.Table`` takes the Arrow path whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says."""
    import pyarrow as pa

    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}
    return spark.createDataFrame(pa.table(cols), schema)


def gen_geo_dim(spark: SparkSession, n_hosts: int = 1000, coverage: float = 0.9) -> DataFrame:
    """host -> (country, region); ~coverage of hosts present so left-join
    misses exercise the dispatch-miss analog (FIXTURES §3). The hash
    expressions run over a driver-local id relation, so Catalyst folds the
    whole dim into one ``LocalTableScan``."""
    ids = _local_relation(
        spark,
        [(i,) for i in range(n_hosts)],
        T.StructType([T.StructField("id", T.LongType(), False)]),
    )
    df = ids.where(F.pmod(F.xxhash64("id"), 10) < int(coverage * 10))
    country = F.element_at(
        F.array(*[F.lit(c) for c in COUNTRIES]),
        (F.pmod(F.xxhash64("id", F.lit(1)), len(COUNTRIES)) + 1).cast("int"),
    )
    region_map = F.create_map(*[F.lit(x) for kv in REGIONS.items() for x in kv])
    return df.select(
        F.format_string("host%04d.example.com", F.col("id").cast("int")).alias("host"),
        country.alias("country"),
        region_map[country].alias("region"),
    ).to(GEO_DIM_SCHEMA)


def gen_agent_dim(spark: SparkSession) -> DataFrame:
    """msg_type -> detail metadata; mirrors details-mapping (utils.clj:21-25):
    only two message types carry details, responses never do."""
    rows = [
        ("EndTransactionRQ", "ind", True),
        ("TravelItineraryReadRQ", "unique_id", True),
        ("OTA_PingRQ", None, True),
        ("EndTransactionRS", None, False),
        ("TravelItineraryReadRS", None, False),
        ("OTA_PingRS", None, False),
    ]
    return _local_relation(spark, rows, AGENT_DIM_SCHEMA)


def default_rules(spark: SparkSession) -> DataFrame:
    """Fan-out routing rules (FIXTURES §4): >=3 data sinks + quarantine is
    handled separately by the error column. First match wins."""
    rows = [
        (1, "lang", "en", "sink_en"),
        (2, "lang", "de", "sink_eu"),
        (3, "lang", "fr", "sink_eu"),
        (4, "lang", "es", "sink_eu"),
        (5, "msg_type", "OTA_PingRQ", "sink_ping"),
        (6, "msg_type", "OTA_PingRS", "sink_ping"),
        (7, "*", "*", "sink_misc"),
    ]
    return _local_relation(spark, rows, RULES_SCHEMA)
