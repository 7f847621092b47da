"""Count-based n-gram language-model statistics over a corpus — the
foundation of LM-based quality filtering (CCNet scores pages with a KenLM
5-gram model; the count/smoothing machinery below is that idea at bigram
order, built as pure aggregations).

``kn_bigram_probs`` produces interpolated Kneser-Ney bigram probabilities
with absolute discount d=0.75:

    P(w2|w1) = max(c(w1 w2) - d, 0)/c(w1·) + lam(w1) * Pcont(w2)
    lam(w1)  = d * N1+(w1 ·)/c(w1·)          (mass reserved for unseen)
    Pcont(w2)= N1+(· w2)/N1+(· ·)            (continuation probability)

With d = 3/4 every quantity is a ratio of integers:

    P = [max(4*c12 - 3, 0) * T + 3 * n1f * n1b] / (4 * c1 * T)

where c12 = bigram count, c1 = left-context count, n1f = distinct
continuations of w1, n1b = distinct left contexts of w2, T = distinct
bigram types. The emitted probability is that rational HALF_UP-rounded at
1e-9 with pure BIGINT arithmetic — bit-identical in any engine (the
round(double) cross-engine trap never enters).

Scale shape: one explode over token pairs, then partial-aggregatable
groupBys whose keys are the (hashable, short) gram strings; the three
stat relations join back on w1/w2 — broadcastable when the vocab is small,
sort-merge otherwise. T is collected driver-side (one scalar) to keep the
1-row relation out of the join tree (a broadcast 1-row cross join would
plan as a nested loop). BIGINT headroom: num ≈ 4*c12*T must stay under
2^63/1e9 ≈ 9.2e9 — fine at the correctness gate's SF; a 10^12-token run
emits the raw counts and defers the division to query time (or doubles),
as KenLM itself does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import split_words

DISCOUNT_NUM = 3  # d = 3/4: keeps all arithmetic integral
DISCOUNT_DEN = 4


def _half_up(num, den):
    """HALF_UP(num/den) on non-negative BIGINT columns, no headroom
    doubling (quotient + remainder test) — THE rounding primitive every
    staged KN emission and the LM scorer's average depend on; one
    definition so the pytest-asserted cross-implementation bit-identity
    cannot drift."""
    q = F.call_function("div", num, den)
    r = F.call_function("pmod", num, den)
    return (q + F.when(F.lit(2) * r >= den, 1).otherwise(0)).cast("bigint")


def _disc(c):
    """max(4*c - 3, 0): the d=3/4 absolute-discount numerator."""
    return F.greatest(
        F.lit(DISCOUNT_DEN) * c - F.lit(DISCOUNT_NUM),
        F.lit(0).cast("bigint"),
    )


def bigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w1, w2, c12) — corpus bigram counts (positional, multiset)."""
    w = df.select(split_words(F.col(text_col)).alias("__w")).where(
        F.size("__w") >= 2
    )
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - 1),
                lambda i: F.struct(
                    F.try_element_at(F.col("__w"), i.cast("int")).alias("w1"),
                    F.try_element_at(F.col("__w"), (i + 1).cast("int")).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    return pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )


def kn_bigram_probs(
    df: DataFrame, text_col: str = "text", cache_registry: list | None = None
) -> DataFrame:
    """(w1, w2, c12, p_kn_e9): interpolated Kneser-Ney bigram probability
    scaled to integer 1e-9 units (HALF_UP, exact integer arithmetic).

    The bigram-count relation is persisted (it feeds three aggregations);
    SQL caches are never garbage-collected, so long-lived sessions
    composing this outside the bench/stream clearCache paths should pass
    ``cache_registry`` (a list) and call ``.unpersist()`` on each handle
    once the result is materialized."""
    c12 = bigram_counts(df, text_col).persist()
    if cache_registry is not None:
        cache_registry.append(c12)
    left = c12.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1f"),
    )
    right = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    # T is a single scalar: collect it rather than cross-joining a 1-row
    # relation (which would plan as a nested loop)
    t_types = c12.count()
    j = c12.join(left, "w1").join(right, "w2")
    num = (
        F.greatest(
            F.lit(DISCOUNT_DEN) * F.col("c12") - F.lit(DISCOUNT_NUM),
            F.lit(0).cast("bigint"),
        )
        * F.lit(int(t_types))
        + F.lit(DISCOUNT_NUM) * F.col("n1f") * F.col("n1b")
    )
    den = F.lit(DISCOUNT_DEN) * F.col("c1") * F.lit(int(t_types))
    # HALF_UP at 1e-9 as quotient + remainder test (NOT (2*num*1e9+den) div
    # (2*den) — the doubled numerator would halve the BIGINT headroom)
    j2 = j.withColumn("__num", num.cast("bigint")).withColumn(
        "__den", den.cast("bigint")
    )
    q = F.expr("div(__num * 1000000000, __den)")
    r = F.expr("pmod(__num * 1000000000, __den)")
    p_e9 = (q + F.when(F.lit(2) * r >= F.col("__den"), 1).otherwise(0)).cast(
        "bigint"
    )
    return j2.select("w1", "w2", "c12", p_e9.alias("p_kn_e9"))


def trigram_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w1, w2, w3, c123) — corpus trigram counts (positional, multiset)."""
    w = df.select(split_words(F.col(text_col)).alias("__w")).where(
        F.size("__w") >= 3
    )
    triples = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - 2),
                lambda i: F.struct(
                    F.try_element_at(F.col("__w"), i.cast("int")).alias("w1"),
                    F.try_element_at(F.col("__w"), (i + 1).cast("int")).alias("w2"),
                    F.try_element_at(F.col("__w"), (i + 2).cast("int")).alias("w3"),
                ),
            )
        ).alias("tg")
    ).select("tg.w1", "tg.w2", "tg.w3")
    return triples.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("bigint").alias("c123")
    )


def kn_trigram_probs(
    df: DataFrame, text_col: str = "text", cache_registry: list | None = None
) -> DataFrame:
    """(w1, w2, w3, c123, p_kn_e9): interpolated Kneser-Ney TRIGRAM
    probability with backoff through the continuation-count bigram level —
    the order-3 step toward CCNet's KenLM 5-gram filter, kept integer-exact
    so two engines agree bit-for-bit.

    Standard interpolated KN with absolute discount d = 3/4 at each order:

        P3(w3|w1 w2) = max(c123 - d, 0)/c12 + d*N3f(w1,w2)/c12 * P2(w3|w2)
        P2(w3|w2)    = max(n123c - d, 0)/n12c + d*N2f(w2)/n12c * Pc(w3)
        Pc(w3)       = n1b(w3) / T

    where c12 = sum_w3 c123 (trigram-context total), N3f = distinct
    continuations of (w1,w2); the MIDDLE order uses continuation counts:
    n123c(w2,w3) = N1+(. w2 w3), n12c(w2) = sum_w3 n123c, N2f(w2) =
    distinct continuation types of w2; the lowest order is the bigram
    continuation distribution (n1b(w3) = N1+(. w3), T = bigram types).

    With d = 3/4 everything is a ratio of integers:

        num = max(4*c123-3, 0) * 4*n12c*T
            + 3*N3f * (max(4*n123c-3, 0)*T + 3*N2f*n1b)
        den = 16 * c12 * n12c * T
        P3  = num/den, emitted HALF_UP at 1e-9 in pure BIGINT arithmetic.

    BIGINT headroom: den*1e9 must stay under 2^63, i.e. 16*c12*n12c*T <
    ~9.2e9 — holds at the correctness-gate SFs; past it Spark's ANSI mode
    raises on the overflow (never silently wrong) and a 10^12-token run
    emits the raw count relations and defers the division to query time,
    as KenLM itself does (same contract as ``kn_bigram_probs``).

    Scale shape: two explodes (trigram + bigram positions), then
    partial-aggregatable groupBys over short string keys; the stat
    relations join back on their gram keys — broadcastable for small
    vocabs, sort-merge otherwise. T is one collected scalar."""
    c123 = trigram_counts(df, text_col).persist()
    bg = bigram_counts(df, text_col).persist()
    if cache_registry is not None:
        cache_registry.extend([c123, bg])
    # highest order: raw prefix totals + distinct-continuation counts
    ctx3 = c123.groupBy("w1", "w2").agg(
        F.sum("c123").cast("bigint").alias("c12"),
        F.count(F.lit(1)).cast("bigint").alias("n3f"),
    )
    # middle order: continuation counts N1+(. w2 w3) — c123 is already
    # distinct per (w1,w2,w3), so counting rows counts distinct w1
    n123c = c123.groupBy("w2", "w3").agg(
        F.count(F.lit(1)).cast("bigint").alias("n123c")
    )
    ctx2 = n123c.groupBy("w2").agg(
        F.sum("n123c").cast("bigint").alias("n12c"),
        F.count(F.lit(1)).cast("bigint").alias("n2f"),
    )
    # lowest order: bigram continuation distribution
    n1b = bg.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    t_types = bg.count()
    j = (
        c123.join(ctx3, ["w1", "w2"])
        .join(n123c, ["w2", "w3"])
        .join(ctx2, "w2")
        .join(n1b.withColumnRenamed("w2", "w3"), "w3")
    )
    t = F.lit(int(t_types))
    num = (
        F.greatest(
            F.lit(DISCOUNT_DEN) * F.col("c123") - F.lit(DISCOUNT_NUM),
            F.lit(0).cast("bigint"),
        )
        * F.lit(DISCOUNT_DEN)
        * F.col("n12c")
        * t
        + F.lit(DISCOUNT_NUM)
        * F.col("n3f")
        * (
            F.greatest(
                F.lit(DISCOUNT_DEN) * F.col("n123c") - F.lit(DISCOUNT_NUM),
                F.lit(0).cast("bigint"),
            )
            * t
            + F.lit(DISCOUNT_NUM) * F.col("n2f") * F.col("n1b")
        )
    )
    den = F.lit(16) * F.col("c12") * F.col("n12c") * t
    j2 = j.withColumn("__num", num.cast("bigint")).withColumn(
        "__den", den.cast("bigint")
    )
    q = F.expr("div(__num * 1000000000, __den)")
    r = F.expr("pmod(__num * 1000000000, __den)")
    p_e9 = (q + F.when(F.lit(2) * r >= F.col("__den"), 1).otherwise(0)).cast(
        "bigint"
    )
    return j2.select("w1", "w2", "w3", "c123", p_e9.alias("p_kn_e9"))


def ngram_counts(df: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """(w1..wk, c) — positional k-gram counts for any k >= 1."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = df.select(split_words(F.col(text_col)).alias("__w")).where(
        F.size("__w") >= k
    )
    fields = lambda i: [  # noqa: E731
        F.try_element_at(F.col("__w"), (i + j).cast("int")).alias(f"w{j + 1}")
        for j in range(k)
    ]
    grams = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__w") - (k - 1)),
                lambda i: F.struct(*fields(i)),
            )
        ).alias("g")
    ).select(*[F.col(f"g.w{j + 1}") for j in range(k)])
    return grams.groupBy(*[f"w{j + 1}" for j in range(k)]).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def kn_ngram_probs(
    df: DataFrame,
    order: int,
    text_col: str = "text",
    cache_registry: list | None = None,
) -> DataFrame:
    """(w1..w{order}, c, p_kn_e9): interpolated Kneser-Ney probabilities
    for ANY order >= 2 with staged per-level integer emission; order=4 is
    one order below CCNet's KenLM 5-gram, order=5 is the CCNet/KenLM-grade
    model (the recursion adds one continuation level per order; see
    ``kn_trigram_probs``).

    Level structure for model order n (Chen-Goodman convention, the one
    the exact-rational orders 2-3 use, d = 3/4 at every order): the top
    level reads raw n-gram counts; each level k in n-1..2 reads
    continuation counts N1+(. s) for the k-gram suffix s, derived from the
    RAW (k+1)-gram relation; the base is the bigram continuation
    distribution n1b/T. For order 4:

        P4  = max(4*c1234-3,0)/(4*c123) + 3*n4f/(4*c123) * P3c
        P3c = max(4*n234c-3,0)/(4*n23c) + 3*n3f/(4*n23c) * P2c
        P2c = max(4*n34c-3,0)/(4*n3c)  + 3*n2f/(4*n3c)  * Pc
        Pc  = n1b(w4) / T

        num = max(4*c1234-3,0) * 16*n23c*n3c*T
            + 3*n4f * ( max(4*n234c-3,0) * 4*n3c*T
                        + 3*n3f * ( max(4*n34c-3,0)*T + 3*n2f*n1b ) )
        den = 64 * c123 * n23c * n3c * T

    Emission uses STAGED per-level rounding (unlike the exact-rational
    orders 2-3): each backoff level's probability is HALF_UP rounded to
    integer 1e-9 units before the next level composes it — for order 4

        pc_e9  = R(n1b * 1e9, T)
        p2c_e9 = R(max(4*n34c-3,0)*1e9  + 3*n2f*pc_e9,  4*n3c)
        p3c_e9 = R(max(4*n234c-3,0)*1e9 + 3*n3f*p2c_e9, 4*n23c)
        p_e9   = R(max(4*c1234-3,0)*1e9 + 3*n4f*p3c_e9, 4*c123)

    where R = HALF_UP integer division. The single-rational form's
    common denominator 64*c123*n23c*n3c*T overflows BIGINT*1e9 already
    at modest corpora (measured at order 4: sf0.1 of the gate data);
    staging bounds every intermediate by ~4*count*1e9, i.e. any order is
    safe while no single count exceeds ~2.3e9 — multi-trillion-token
    territory. The cost is a deterministic definition difference vs the
    exact rational of < 2 units at 1e-9 (0.5/level, attenuated by the
    <=3/4 interpolation weight), identical in both engines, so the hash
    gate still verifies every count relation and the composition
    bit-for-bit. Past the 2.3e9 bound Spark's ANSI mode raises (never
    silently wrong) and a production run emits the raw count relations,
    KenLM's own layout.

    Parity contract: for orders 2-3 this differs from the exact-rational
    forms by < 2 units at 1e-9 (pytest-bounded). Use the exact forms when
    the emission must match their SQL oracles; use this for order >= 4.

    Scale shape: one explode per k in {2..n} (narrow), then
    partial-aggregatable groupBys over short string keys; 2(n-1) stat
    relations join back on gram-suffix keys — broadcast when small,
    sort-merge otherwise; T is one collected scalar.
    """
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    n = order
    raws: dict[int, DataFrame] = {
        k: ngram_counts(df, k, text_col).persist() for k in range(2, n + 1)
    }
    if cache_registry is not None:
        cache_registry.extend(raws.values())

    def suffix_cols(k: int) -> list[str]:
        """Model positions covered by the level-k suffix: w{n-k+1}..w{n}."""
        return [f"w{j}" for j in range(n - k + 1, n + 1)]

    # top level: raw context totals + distinct continuations
    top_key = [f"w{j}" for j in range(1, n)]
    ctx_top = raws[n].groupBy(*top_key).agg(
        F.sum("c").cast("bigint").alias("ctx_c_top"),
        F.count(F.lit(1)).cast("bigint").alias("nf_top"),
    )
    j = raws[n].join(ctx_top, top_key)
    # continuation levels k = n-1 .. 2: N1+(. suffix_k) from raw (k+1)-grams,
    # whose LAST k columns w2..w{k+1} are the suffix — rename into model
    # position space before joining
    for k in range(n - 1, 1, -1):
        raw_k1 = raws[k + 1]
        sfx = suffix_cols(k)
        renamed = raw_k1.select(
            *[F.col(f"w{j2 + 2}").alias(sfx[j2]) for j2 in range(k)]
        )
        cont = renamed.groupBy(*sfx).agg(
            F.count(F.lit(1)).cast("bigint").alias(f"n_{k}")
        )
        ctx = cont.groupBy(*sfx[:-1]).agg(
            F.sum(f"n_{k}").cast("bigint").alias(f"ctx_c_{k}"),
            F.count(F.lit(1)).cast("bigint").alias(f"nf_{k}"),
        )
        j = j.join(cont, sfx).join(ctx, sfx[:-1])
    # base: bigram continuation distribution on w{n}
    n1b = raws[2].groupBy(F.col("w2").alias(f"w{n}")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1b")
    )
    t_types = raws[2].count()
    j = j.join(n1b, f"w{n}")

    e9 = F.lit(1_000_000_000).cast("bigint")
    p = _half_up(F.col("n1b") * e9, F.lit(int(t_types)).cast("bigint"))
    for k in range(2, n):
        p = _half_up(
            _disc(F.col(f"n_{k}")) * e9 + F.lit(DISCOUNT_NUM) * F.col(f"nf_{k}") * p,
            F.lit(DISCOUNT_DEN) * F.col(f"ctx_c_{k}"),
        )
    p = _half_up(
        _disc(F.col("c")) * e9 + F.lit(DISCOUNT_NUM) * F.col("nf_top") * p,
        F.lit(DISCOUNT_DEN) * F.col("ctx_c_top"),
    )
    out_cols = [f"w{j2}" for j2 in range(1, n + 1)]
    return j.select(*out_cols, "c", p.alias("p_kn_e9"))
