"""HTML -> text extraction, byte-identical across two implementations.

This is the analog of the reference's ES ``html_strip`` char filter +
``classic`` tokenizer analyzer (es.clj:17-23): the only place the raw markup
is turned into searchable text. BASELINE.json's per-row invariant is
*byte-identical extracted text per url*, so the semantics are pinned here
once and implemented two ways that must agree byte-for-byte:

1. ``extract_text_py``  — pure Python (golden oracle, synth generator, and
                          the per-row body of the mapInPandas parity path)
2. ``extract_text_col`` — native Catalyst expressions (JVM, codegen — the
                          production fast path; SURVEY §4 "vectorized
                          execution")

Rules (deliberately simple and locale-free so no library-version drift):
  a. one left-to-right pass replaces each <script>...</script> block,
     <style>...</style> block, or bare tag <...> with a single space
     (longest applicable alternative wins at each '<')
  b. decode the five XML entities + &nbsp; (to a plain space)
  c. collapse runs of ASCII whitespace [ \\t\\n\\r\\f] to one space; trim

Whitespace class is explicit ASCII because Java ``\\s`` and Python ``\\s``
disagree on Unicode whitespace.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java and Python regex dialects agree on all of these patterns.
# Script-block, style-block, and generic-tag stripping are ONE alternation
# applied in a single left-to-right pass: at each '<', the longest
# applicable alternative (script block > style block > bare tag) wins.
# A single pass is both the spec (pinned here, mirrored byte-identically in
# both implementations) and the fast path — every regexp_replace is a
# full-document rewrite, and markup stripping dominates parse-stage memory
# traffic at high core counts.
_RE_STRIP = r"(?is)<script\b[^>]*>.*?</script>|<style\b[^>]*>.*?</style>|<[^>]*>"
_RE_WS = r"[ \t\n\r\f]+"

_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last so "&amp;lt;" decodes to "&lt;" not "<"
]

_PY_STRIP = re.compile(_RE_STRIP)
_PY_WS = re.compile(_RE_WS)


def extract_text_py(html: bytes | str | None) -> str | None:
    """Reference implementation (pure Python). None-safe."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace") if isinstance(html, bytes) else html
    s = _PY_STRIP.sub(" ", s)
    if "&" in s:
        for ent, rep in _ENTITIES:
            s = s.replace(ent, rep)
    return _PY_WS.sub(" ", s).strip(" ")


def extract_text_col(html: Column) -> Column:
    """Native-expression implementation over a binary/string column.

    Whole-stage-codegen friendly: decode + chained regexp_replace, no
    Python in the loop. Must stay byte-identical to ``extract_text_py``
    (tests/test_parse_golden.py asserts it on every fixture).

    Bandwidth note: each regexp_replace is a full-document rewrite pass —
    the dominant memory traffic of the whole parse stage. The script/style
    and entity passes are therefore guarded with ``contains`` checks (a
    cheap scan vs. a regex pass + allocation): skipping a pass whose
    pattern cannot match is the identity, so byte parity with the
    unconditional Python implementation is preserved row by row.
    """
    s = F.decode(html, "UTF-8")
    s = F.regexp_replace(s, _RE_STRIP, " ")
    # entity decode only when an ampersand survives — skipping a pass whose
    # pattern cannot match is the identity, so byte parity holds
    ent_chain = s
    for ent, rep in _ENTITIES:
        # literal replace via regexp_replace with quoted pattern
        ent_chain = F.regexp_replace(ent_chain, re.escape(ent), rep.replace("$", r"\$"))
    s = F.when(F.contains(s, F.lit("&")), ent_chain).otherwise(s)
    s = F.regexp_replace(s, _RE_WS, " ")
    # after the collapse pass, any leading/trailing whitespace is exactly
    # one ASCII space — btrim(' ') removes it by scanning only the string
    # ENDS, where a regex `^ +| +$` pass walks the whole document (a full
    # rewrite's worth of memory traffic). F.trim strips unicode space too,
    # so btrim with an explicit ASCII-space trim set keeps byte parity
    # with extract_text_py's .strip(" ").
    s = F.btrim(s, F.lit(" "))
    return s

