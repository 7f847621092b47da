"""LM-based document scoring — the CONSUMING half of CCNet-style
quality filtering (the producing half, Kneser-Ney n-gram probability
tables, lives in operators/ngram_lm.py).

CCNet scores every page with a KenLM model and keeps the low-perplexity
head/middle of the per-language score distribution. The scoring step is
just: tokenize -> look each n-gram up in the probability table -> sum the
log-probabilities -> normalize by n-gram count -> bucket. On Spark that
is one narrow explode, one equi-join against the LM relation
(broadcastable while the model fits an executor — a pruned KenLM is
hundreds of MB, exactly broadcast-sized; shuffle-hash otherwise), and one
groupBy(doc_id) — no UDF anywhere.

Cross-engine exactness without ``ln()``: natural log of a double differs
between libm (DuckDB) and the JVM (Spark) in the last ulp, and a
sum-then-round of ~1e7-magnitude doubles lands within one ulp of a
rounding boundary often enough to break a hash gate. So the score never
touches floats: ``log2_fx16`` is an INTEGER 16.16 fixed-point log2
(bit-length for the integer part, one multiply-shift for a linear-
interpolated fraction — monotone, max error 0.0861 bits ~= 5643 fx16
units, identical BIGINT arithmetic in both engines). Per-gram costs and
their per-document sums/averages are therefore bit-exact everywhere; the
0.086-bit interpolation error is a property of the SCORE DEFINITION, not
an engine artifact (CCNet's keep thresholds are tuned constants anyway —
any fixed monotone-in-probability score works, reproducibility is what
matters).

Bucketing: ``perplexity_buckets`` ranks with a global ``ntile`` (exact,
deterministic ties on doc_id) — fine at correctness-gate SFs, a single-
partition sort at 100 TB. The scale path is ``bucket_by_thresholds``:
CCNet itself derives head/middle cutoffs ONCE per language (on a sample)
and then applies them scan-side; the thresholds function is a pure
narrow filter. A pytest proves the two agree when the thresholds are the
ntile boundary values.

Reference anchor: this is new LLM-pipeline surface (no logprocessor
counterpart); the chain shape follows Wenzek et al., "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data" (LREC 2020).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import split_words

# log2_fx16(10^9): the cost floor reference — p_e9 is a probability in
# integer 1e-9 units, so nll = log2_fx16(1e9) - log2_fx16(p_e9).
LOG2_1E9_FX16 = 1_957_078
FX_ONE = 65_536  # 16.16 fixed point


def log2_fx16(v: Column) -> Column:
    """Integer 16.16 fixed-point log2 of a positive BIGINT column.

    ``b = bit_length(v)`` gives the integer part (b-1); the fraction is
    linear interpolation between adjacent powers of two:
    ``(v << 16) div 2^(b-1) - 65536``. Strictly monotone in v (the
    (b, v/2^(b-1)) pair orders exactly like v), max error vs true log2
    is (1 - (1+ln ln 2)/ln 2) ~= 0.0861 bits. All-BIGINT: ``v * 65536``
    peaks at 6.6e13 for p_e9 inputs — no overflow. DuckDB twin::

        (length(bin(v)) - 2) * 65536
          + (v * 65536) // (1::BIGINT << (length(bin(v)) - 1))

    (Spark's ``bin()`` and DuckDB's both render positive BIGINTs without
    leading zeros, the same trick the HLL rho uses — sketch.py.)
    """
    b = F.length(F.bin(v))
    num = v * F.lit(FX_ONE).cast("long")
    den = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (b - F.lit(1)).cast("int")
    )
    return (b.cast("long") - F.lit(2)) * FX_ONE + F.call_function("div", num, den)


def nll_fx16(p_e9: Column) -> Column:
    """Per-gram cost: -log2(p) in 16.16 units for a probability given as
    integer 1e-9 units (p_e9 in [1, 1e9]). Non-negative by construction,
    so downstream sums/averages stay in the established positive-BIGINT
    HALF_UP division pattern (harness LM precedent)."""
    return F.lit(LOG2_1E9_FX16) - log2_fx16(p_e9)


def score_documents(
    docs: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prob_col: str = "p_kn_e9",
    floor_e9: int = 1,
    order: int = 2,
) -> DataFrame:
    """Per-document n-gram LM cost: (doc_id, n_bigrams, nll_sum_fx16,
    avg_nll_fx16). ``lm`` is any (w1..w{order}, <prob_col>) relation —
    ``kn_bigram_probs``/``kn_ngram_probs`` output (order=5 is the CCNet/
    KenLM-grade configuration), or an imported table (``import_arpa``):
    the scorer is the seam where a pretrained model plugs in. The
    ``n_bigrams`` column name is kept across orders (it counts scored
    gram positions) so downstream bucketing is order-agnostic.

    Grams absent from the model cost ``-log2(floor_e9 * 1e-9)`` — the
    unknown-gram floor (KenLM's <unk> backstop collapsed to a constant;
    floor_e9=1 -> ~29.9 bits). Documents with fewer than ``order`` tokens
    have no grams and are NOT emitted (callers gate short docs separately
    — quality_features has them covered).

    avg_nll_fx16 = HALF_UP(nll_sum / n_bigrams), exact integer division
    on non-negative operands. Perplexity = 2^(avg_nll_fx16 / 65536).

    Scale shape: the doc-side explode is narrow; the gram-key join
    broadcasts while the model fits (hint applied below a row-count
    guard is the caller's call — Catalyst/AQE picks correctly from
    stats); one groupBy(doc_id) ends the plan.
    """
    if floor_e9 < 1 or floor_e9 > 1_000_000_000:
        raise ValueError(f"floor_e9 must be in [1, 1e9], got {floor_e9}")
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    keys = [f"w{j}" for j in range(1, order + 1)]
    w = docs.select(
        F.col(id_col).alias("doc_id"), split_words(F.col(text_col)).alias("__w")
    ).where(F.size("__w") >= order)
    fields = lambda i: [  # noqa: E731
        F.try_element_at(F.col("__w"), (i + j).cast("int")).alias(f"w{j + 1}")
        for j in range(order)
    ]
    grams = w.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - (order - 1)),
                lambda i: F.struct(*fields(i)),
            )
        ).alias("bg"),
    ).select("doc_id", *[F.col(f"bg.{k}") for k in keys])
    joined = grams.join(
        lm.select(*keys, F.col(prob_col).alias("__p")), keys, "left"
    )
    # greatest(..., 1): a true probability below 5e-10 rounds to 0 in the
    # model's 1e-9 integer units (possible once c1*T > 1.5e9) — clamp to
    # the same floor as unseen grams so log2 never sees 0.
    cost = nll_fx16(
        F.greatest(
            F.coalesce(F.col("__p"), F.lit(floor_e9).cast("long")),
            F.lit(1).cast("long"),
        )
    )
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum(cost).cast("long").alias("nll_sum_fx16"),
    )
    from .ngram_lm import _half_up

    avg = _half_up(F.col("nll_sum_fx16"), F.col("n_bigrams")).cast("long")
    return agg.select(
        "doc_id", "n_bigrams", "nll_sum_fx16", avg.alias("avg_nll_fx16")
    )


_BUCKET_LABELS = ["head", "middle", "tail"]


def perplexity_buckets(scored: DataFrame, n_buckets: int = 3) -> DataFrame:
    """CCNet head/middle/tail assignment: ntile over ascending cost
    (deterministic ties on doc_id). Exact and engine-portable; the rank
    is a single-partition sort, so this is the correctness-gate form —
    at corpus scale derive cutoffs once and use ``bucket_by_thresholds``
    (scan-side, no sort), exactly as CCNet applies precomputed per-
    language cutoffs."""
    from pyspark.sql.window import Window

    if not 2 <= n_buckets <= len(_BUCKET_LABELS):
        raise ValueError(f"n_buckets must be 2 or 3, got {n_buckets}")
    win = Window.orderBy("avg_nll_fx16", "doc_id")
    b = F.ntile(n_buckets).over(win)
    label = F.element_at(
        F.lit(_BUCKET_LABELS[: n_buckets - 1] + ["tail"]), b
    )
    return scored.withColumn("ppl_bucket", b.cast("int")).withColumn(
        "ppl_label", label
    )


def bucket_by_thresholds(
    scored: DataFrame, head_max_fx16: int, middle_max_fx16: int
) -> DataFrame:
    """Scan-side bucket assignment from fixed cutoffs (inclusive upper
    bounds on avg_nll_fx16): the 100 TB path — a pure narrow projection,
    no sort, no shuffle. Cutoffs come from a one-off quantile job or a
    published model card, like CCNet's per-language percentile files."""
    if head_max_fx16 > middle_max_fx16:
        raise ValueError("head_max_fx16 must be <= middle_max_fx16")
    b = (
        F.when(F.col("avg_nll_fx16") <= head_max_fx16, 1)
        .when(F.col("avg_nll_fx16") <= middle_max_fx16, 2)
        .otherwise(3)
    )
    return scored.withColumn("ppl_bucket", b.cast("int")).withColumn(
        "ppl_label", F.element_at(F.lit(_BUCKET_LABELS), F.col("ppl_bucket"))
    )


def import_arpa(spark, path: str) -> DataFrame:
    """Parse the \\2-grams section of an ARPA-format LM file into the
    (w1, w2, p_kn_e9) relation ``score_documents`` consumes — the
    pretrained-model import seam (KenLM/SRILM both emit ARPA). Only the
    bigram section is read: the unigram and any higher-order sections
    are ignored, as are backoff weights and rows that are not a bigram.

    ARPA rows are ``log10(p)<TAB>w1 w2[<TAB>backoff]``. The relation has
    one row per (w1, w2): a key repeated in the section raises
    ``ValueError`` naming it, because ``score_documents`` joins on the key
    and a second row would count that bigram twice. The log10 value
    is converted on the DRIVER (the model file is a model, not data — at
    most a few GB, read once): p_e9 = round(10^log10p * 1e9), clamped to
    [1, 1e9]. Driver-side float use is fine here; determinism of the
    SCORING stays integer-exact because the table itself becomes the
    source of truth.
    """
    rows = []
    seen: set[tuple[str, str]] = set()
    in_2grams = False
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line == "\\2-grams:":
                in_2grams = True
                continue
            if line.startswith("\\") and in_2grams:
                break  # next section or \end\
            if not in_2grams or not line:
                continue
            parts = line.split("\t")
            if len(parts) < 2:
                continue
            lp = float(parts[0])
            toks = parts[1].split(" ")
            if len(toks) != 2:
                continue
            key = (toks[0], toks[1])
            if key in seen:
                raise ValueError(f"{path}: bigram {' '.join(key)!r} repeated in \\2-grams:")
            seen.add(key)
            p_e9 = round((10.0 ** lp) * 1e9)
            p_e9 = max(1, min(1_000_000_000, int(p_e9)))
            rows.append((toks[0], toks[1], p_e9))
    # explicit schema: a unigram-only ARPA (or one whose 2-gram rows are
    # all malformed) yields zero rows, and schema inference would raise
    # on the empty list — an empty LM relation is the correct result
    # (every gram then scores the floor), not a crash
    return spark.createDataFrame(rows, "w1 string, w2 string, p_kn_e9 long")
