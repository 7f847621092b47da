"""Vectorized field extraction from raw page markup (SURVEY §2c F1-F9).

The reference parses SOAP/ebXML per row with XPath (parsers.clj:34-43,
utils.clj:36-53). Our pages carry the same logical fields as embedded
markers in HTML (FIXTURES.md §1 grammar). Two implementations:

* ``parse_pages``        — native ``regexp_extract`` / ``regexp_extract_all``
  column expressions. JVM-side, whole-stage-codegen, zero Python. This is
  the production path at 100 TB: the scan, extraction, and downstream
  filter/route all fuse into one codegen stage.
* ``parse_pages_pandas`` — Arrow-batched ``mapInPandas`` (never per-row
  Python driver loops) producing the identical schema. Exists because the
  north-star calls for a pandas/Arrow parse stage and as an extension
  point for extraction logic regex can't express (real lxml, bs4...).
  Tested byte/value-identical to the native path.

Error containment (X4, utils.clj:60-65): a malformed row yields
``error != null`` and flows to the quarantine sink — one bad row never
fails a task. Missing timestamp mirrors "Incorrect date: %s"
(utils.clj:45-46); missing message-id mirrors the XML parse exception.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import PARSED_SCHEMA
from ..session import session_memo
from .textextract import extract_text_col, extract_text_py
from .timestamps import clean_ts_col, clean_ts_py

# Marker grammar (FIXTURES.md §1) — one pattern per header field (F4 analog:
# extract-mh-subtext over MessageHeader tags, parsers.clj:18-22).
#
# Section-scoped extraction (the parse stage's memory-bandwidth lever at
# high core counts): header fields are defined to live in <head> (the
# MessageHeader envelope analog — the reference's XPath also addresses the
# header element, not the whole document, parsers.clj:18-22), the dispatch
# class and detail attributes in the <body ...> tag itself, and error
# spans in the body. Each regex therefore scans a small slice instead of
# the full document — ~10 full-document regex passes collapse to
# (1 marker search + 1 body-tag regex + 1 error scan over the body). A
# document with no </head> marker degrades to whole-document search for
# every field, so malformed inputs lose nothing.
_META = r'<meta name="{name}" content="([^"]*)"'
HEAD_FIELD_PATTERNS: dict[str, str] = {
    "session_id": _META.format(name="session-id"),
    "message_id": _META.format(name="message-id"),
    "service": _META.format(name="service"),
    "ts_raw": _META.format(name="timestamp"),
    "refto": _META.format(name="refto"),
    "pcc": _META.format(name="pcc"),
}
BODY_TAG_PATTERN = r"<body\b[^>]*>"
BTAG_FIELD_PATTERNS: dict[str, str] = {
    # F2 parse-method-name: body tag class = message type (parsers.clj:8-11)
    "msg_type": r'<body class="([^"]*)"',
    # F8/F9 detail attrs (parsers.clj:51-63)
    "ind_raw": r'data-ind="([^"]*)"',
    "detail_id": r'data-id="([^"]*)"',
}
FIELD_PATTERNS: dict[str, str] = {**HEAD_FIELD_PATTERNS, **BTAG_FIELD_PATTERNS}
# F7 parse-error-info: all error message texts (parsers.clj:45-49)
ERRORS_PATTERN = r'<span class="error-msg">([^<]*)</span>'
HOST_PATTERN = r"^[a-z]+://([^/]+)"
_HEAD_END = "</head>"

ERR_NO_MESSAGE_ID = "parse error: no message-id marker"
ERR_INCORRECT_DATE = "Incorrect date: "  # + raw value (utils.clj:45-46)


def _nullify(c: Column) -> Column:
    """regexp_extract returns '' on miss; the reference yields nil."""
    return F.when(c == "", None).otherwise(c)


def parse_pages(
    pages: DataFrame, with_text: bool = True, extra_cols: list[str] | None = None
) -> DataFrame:
    """Native-expression parse: pages(url, warc_ts, html, text, lang) ->
    PARSED_SCHEMA columns (+ ``extra_cols`` passed through, e.g. the
    partition key ``dt``). One projection; Catalyst prunes unused inputs.

    The projection's column list is built once per session and
    ``(with_text, extra_cols)`` (``session.session_memo``): it is the same
    expression tree for every batch, and building it costs ~200
    driver<->JVM round trips.
    """
    extras = tuple(extra_cols or ())
    cols = session_memo(
        pages.sparkSession,
        ("parse_pages", with_text, extras),
        lambda: _parse_columns(with_text, extras),
    )
    return pages.select(*cols)


def _parse_columns(with_text: bool, extra_cols: tuple[str, ...]) -> tuple[Column, ...]:
    """``parse_pages``' output columns, in PARSED_SCHEMA order."""
    s = F.decode(F.col("html"), "UTF-8")
    # section scoping (see pattern-table comment): one marker search splits
    # the document; subexpression elimination evaluates head/body once even
    # though many output columns reference them
    head = F.substring_index(s, _HEAD_END, 1)
    has_head = F.length(head) != F.length(s)
    body = F.when(
        has_head,
        F.substring(s, F.length(head) + F.lit(len(_HEAD_END) + 1), F.length(s)),
    ).otherwise(s)
    btag = F.regexp_extract(body, BODY_TAG_PATTERN, 0)
    cols = {
        name: _nullify(F.regexp_extract(head, pat, 1))
        for name, pat in HEAD_FIELD_PATTERNS.items()
    }
    cols.update(
        {
            name: _nullify(F.regexp_extract(btag, pat, 1))
            for name, pat in BTAG_FIELD_PATTERNS.items()
        }
    )
    errors = F.regexp_extract_all(body, F.lit(ERRORS_PATTERN), F.lit(1))
    ts = clean_ts_col(cols["ts_raw"])

    error = (
        F.when(cols["message_id"].isNull(), F.lit(ERR_NO_MESSAGE_ID))
        .when(
            ts.isNull(),
            F.concat(F.lit(ERR_INCORRECT_DATE), F.coalesce(cols["ts_raw"], F.lit("null"))),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    # Details are suppressed when error texts are present (utils.clj:50-53).
    has_errors = F.size(errors) > 0
    ind = F.when(
        ~has_errors & (cols["msg_type"] == "EndTransactionRQ"),
        cols["ind_raw"] == "true",
    )
    detail_id = F.when(
        ~has_errors & (cols["msg_type"] == "TravelItineraryReadRQ"),
        cols["detail_id"],
    )

    return (
        F.col("url"),
        F.col("lang"),
        _nullify(F.regexp_extract("url", HOST_PATTERN, 1)).alias("host"),
        cols["session_id"].alias("session_id"),
        cols["message_id"].alias("message_id"),
        cols["service"].alias("service"),
        cols["msg_type"].alias("msg_type"),
        cols["ts_raw"].alias("ts_raw"),
        ts.alias("ts"),
        cols["refto"].alias("refto"),
        cols["pcc"].alias("pcc"),
        errors.alias("errors"),
        ind.alias("ind"),
        detail_id.alias("detail_id"),
        (extract_text_col(F.col("html")) if with_text else F.col("text")).alias("text"),
        error.alias("error"),
        *[F.col(c) for c in extra_cols],
    )


# --- Arrow-batched parity path -------------------------------------------

_PY_HEAD_FIELDS = {k: re.compile(v) for k, v in HEAD_FIELD_PATTERNS.items()}
_PY_BTAG_FIELDS = {k: re.compile(v) for k, v in BTAG_FIELD_PATTERNS.items()}
_PY_BTAG = re.compile(BODY_TAG_PATTERN)
_PY_ERRORS = re.compile(ERRORS_PATTERN)
_PY_HOST = re.compile(HOST_PATTERN)


def _first(pat: re.Pattern, s: str) -> str | None:
    m = pat.search(s)
    if m is None:
        return None
    return m.group(1) or None


def parse_batch_pandas(pdf):
    """One Arrow batch of pages -> one batch of parsed records (pandas)."""
    import pandas as pd

    rows = []
    for url, lang, html in zip(pdf["url"], pdf["lang"], pdf["html"]):
        s = (
            html.decode("utf-8", errors="replace")
            if isinstance(html, (bytes, bytearray))
            else (html or "")
        )
        # section scoping — byte-identical twin of the native expressions
        i = s.find(_HEAD_END)
        head, body = (s, s) if i == -1 else (s[:i], s[i + len(_HEAD_END):])
        m = _PY_BTAG.search(body)
        btag = m.group(0) if m else ""
        f = {k: _first(p, head) for k, p in _PY_HEAD_FIELDS.items()}
        f.update({k: _first(p, btag) for k, p in _PY_BTAG_FIELDS.items()})
        errors = _PY_ERRORS.findall(body)
        ts = clean_ts_py(f["ts_raw"])
        if f["message_id"] is None:
            error = ERR_NO_MESSAGE_ID
        elif ts is None:
            error = ERR_INCORRECT_DATE + (f["ts_raw"] or "null")
        else:
            error = None
        ind = detail_id = None
        if not errors:
            if f["msg_type"] == "EndTransactionRQ" and f["ind_raw"] is not None:
                ind = f["ind_raw"] == "true"
            if f["msg_type"] == "TravelItineraryReadRQ":
                detail_id = f["detail_id"]
        rows.append(
            {
                "url": url,
                "lang": lang,
                "host": _first(_PY_HOST, url or ""),
                "session_id": f["session_id"],
                "message_id": f["message_id"],
                "service": f["service"],
                "msg_type": f["msg_type"],
                "ts_raw": f["ts_raw"],
                "ts": ts,
                "refto": f["refto"],
                "pcc": f["pcc"],
                "errors": errors,
                "ind": ind,
                "detail_id": detail_id,
                "text": extract_text_py(s),
                "error": error,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in PARSED_SCHEMA.fields])


def parse_pages_pandas(
    pages: DataFrame, extra_cols: list[str] | None = None
) -> DataFrame:
    """mapInPandas parity parse — same output schema/values as parse_pages.

    ``extra_cols`` (e.g. the partition key ``dt``) ride through the Arrow
    batch positionally — no post-hoc join back to the source (a second scan
    plus a full-data shuffle) is ever needed."""
    from pyspark.sql.types import StructType

    extras = list(extra_cols or [])
    out_schema = StructType(
        list(PARSED_SCHEMA.fields) + [pages.schema[c] for c in extras]
    )

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            if len(pdf):
                parsed = parse_batch_pandas(pdf)
                for c in extras:  # rows are emitted in input order
                    parsed[c] = pdf[c].to_numpy()
                yield parsed

    return pages.select("url", "lang", "html", *extras).mapInPandas(
        gen, schema=out_schema
    )
