"""Round-3 depth operators: as-of join, binned range join, PII redaction,
repetition stats, sequence packing. Each is verified against a naive
engine-independent reimplementation on small inline data (the registered
queries add the DuckDB oracle at sf-scale)."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _ts(sec: float) -> datetime:
    return T0 + timedelta(seconds=sec)


def test_asof_join_matches_naive(spark):
    from logprocessor_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, _ts(5)), (1, _ts(10)), (1, _ts(2)), (2, _ts(7)), (3, _ts(1))],
        "k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(3), 30.0), (1, _ts(10), 100.0), (2, _ts(6), 60.0), (2, _ts(8), 80.0)],
        "k long, ts timestamp, v double",
    )
    got = {
        (r.k, r.ts): (r.ts_asof, r.v_asof)
        for r in asof_join(left, right, key="k", right_cols=["v"]).collect()
    }
    # naive: per left row, the max right.ts <= left.ts
    rrows = [(1, _ts(3), 30.0), (1, _ts(10), 100.0), (2, _ts(6), 60.0), (2, _ts(8), 80.0)]
    for k, ts in [(1, _ts(5)), (1, _ts(10)), (1, _ts(2)), (2, _ts(7)), (3, _ts(1))]:
        cands = [(rts, v) for rk, rts, v in rrows if rk == k and rts <= ts]
        want = max(cands) if cands else (None, None)
        assert got[(k, ts)] == want, (k, ts)
    # equal timestamps match (inclusive as-of)
    assert got[(1, _ts(10))] == (_ts(10), 100.0)
    # no prior right row -> NULLs, row preserved
    assert got[(3, _ts(1))] == (None, None)
    assert len(got) == 5


def test_asof_join_plan_has_no_nested_loop(spark):
    """The union-and-window shape must never fall back to the O(n*m)
    BroadcastNestedLoopJoin a naive inequality join compiles to."""
    from logprocessor_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, _ts(5))], "k long, ts timestamp")
    right = spark.createDataFrame([(1, _ts(3), 1.0)], "k long, ts timestamp, v double")
    plan = (
        asof_join(left, right, key="k", right_cols=["v"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_binned_matches_naive(spark):
    from logprocessor_spark.operators.temporal import range_join_binned

    events = spark.createDataFrame(
        [(1, _ts(s)) for s in (0, 30, 59, 61, 600, 1205)]
        + [(2, _ts(100)), (3, _ts(100))],
        "k long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (1, _ts(0), _ts(61), "a"),       # inclusive both ends
            (1, _ts(1200), _ts(1300), "b"),  # crosses a 600s bin boundary
            (2, _ts(90), _ts(110), "c"),
            (4, _ts(0), _ts(10000), "d"),    # key with no events
        ],
        "k long, start timestamp, end timestamp, tag string",
    )
    got = sorted(
        (r.k, r.ts, r.tag)
        for r in range_join_binned(events, intervals, key="k", bin_seconds=600).collect()
    )
    want = sorted(
        [(1, _ts(0), "a"), (1, _ts(30), "a"), (1, _ts(59), "a"), (1, _ts(61), "a"),
         (1, _ts(1205), "b"), (2, _ts(100), "c")]
    )
    assert got == want


def test_redact_pii_goldens(spark):
    from logprocessor_spark.functions.redact import pii_counts, redact_pii

    rows = [
        ("write bob.smith+x@sub.example.co.uk now", "write [EMAIL] now", (1, 0, 0)),
        ("host 192.168.0.1 and 10.0.0.255 up", "host [IP] and [IP] up", (0, 2, 0)),
        ("call 555-0199 today", "call [PHONE] today", (0, 0, 1)),
        ("a@b.io at 1.2.3.4 call 555-1234", "[EMAIL] at [IP] call [PHONE]", (1, 1, 1)),
        ("no pii here 12.34", "no pii here 12.34", (0, 0, 0)),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "t string")
    out = df.select(
        redact_pii(F.col("t")).alias("r"), pii_counts(F.col("t")).alias("c")
    ).collect()
    for (t, want_r, want_c), row in zip(rows, out):
        assert row.r == want_r, t
        assert (row.c.n_email, row.c.n_ip, row.c.n_phone) == want_c, t


def test_repetition_stats_hand_computed(spark):
    from logprocessor_spark.operators.repetition import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # top word a:3/4; bigrams: [a a, a a, a b] -> 2/3
            (2, "x y x y x"),        # x:3/5; bigrams [x y, y x, x y, y x] -> 2/4
            (3, "solo"),             # 1 word, no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert (got[1].n_words, got[1].top_word_frac, got[1].top_bigram_frac) == (4, 0.75, round(2 / 3, 4))
    assert (got[2].n_words, got[2].top_word_frac, got[2].top_bigram_frac) == (5, 0.6, 0.5)
    assert (got[3].n_words, got[3].top_word_frac, got[3].top_bigram_frac) == (1, 1.0, 0.0)


def test_pack_sequences_invariants(spark):
    from logprocessor_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(i, "w " * ((i * 37) % 900 + 10)) for i in range(200)],
        "doc_id long, text string",
    )
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    rows = pack_sequences(df, n_tok, seq_len=512, buckets=8).collect()
    assert len(rows) == 200
    by_bucket: dict[int, list] = {}
    for r in rows:
        assert r.bucket == r.doc_id % 8
        by_bucket.setdefault(r.bucket, []).append(r)
    for b, rs in by_bucket.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            # each doc starts exactly where the previous one ended
            assert (r.seq_bin, r.bin_offset) == (cum // 512, cum % 512), (b, r.doc_id)
            cum += r.n_tokens


def test_range_join_left_preserves_unmatched(spark):
    """how='left' must keep events with no covering interval (NULL-extended)
    — the between-predicate lives in the join condition, not a post-filter."""
    from logprocessor_spark.operators.temporal import range_join_binned

    ev = spark.createDataFrame(
        [("k1", "2024-01-01 00:05:00"), ("k1", "2024-01-01 09:00:00"),
         ("k2", "2024-01-01 00:05:00")],
        "k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [("k1", "2024-01-01 00:00:00", "2024-01-01 01:00:00", "a")],
        "k string, start string, end string, tag string",
    ).withColumn("start", F.col("start").cast("timestamp")).withColumn(
        "end", F.col("end").cast("timestamp")
    )
    out = range_join_binned(ev, iv, key="k", how="left").collect()
    assert len(out) == 3
    got = {(r["k"], str(r["ts"]), r["tag"]) for r in out}
    assert ("k1", "2024-01-01 00:05:00", "a") in got
    # bin-matching but out-of-interval, and wrong-key events survive with NULLs
    assert ("k1", "2024-01-01 09:00:00", None) in got
    assert ("k2", "2024-01-01 00:05:00", None) in got
    # inner drops them
    inner = range_join_binned(ev, iv, key="k", how="inner").collect()
    assert len(inner) == 1


def test_asof_join_right_ts_in_right_cols_ok(spark):
    """Listing the right timestamp column in right_cols must not build a
    duplicate output column."""
    from logprocessor_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [("k", "2024-01-01 00:10:00")], "k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", 1.0)], "k string, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join(left, right, key="k", right_cols=["ts", "v"])
    assert out.columns.count("ts_asof") == 1
    r = out.first()
    assert r["v_asof"] == 1.0 and str(r["ts_asof"]).startswith("2024-01-01 00:00")


def test_range_join_rejects_right_and_full_outer(spark):
    from logprocessor_spark.operators.temporal import range_join_binned

    ev = spark.createDataFrame(
        [("k", "2024-01-01 00:05:00")], "k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [("k", "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "k string, start string, end string",
    ).withColumn("start", F.col("start").cast("timestamp")).withColumn(
        "end", F.col("end").cast("timestamp")
    )
    import pytest as _pt

    for how in ("right", "full_outer", "full"):
        with _pt.raises(ValueError, match="supports how"):
            range_join_binned(ev, iv, key="k", how=how)


def test_asof_join_carries_latest_row_atomically(spark):
    """A NULL attribute on the LATEST right row must come through as NULL
    — not be replaced by an older row's non-NULL value (the right
    attributes travel as one struct, like DuckDB ASOF JOIN semantics)."""
    from logprocessor_spark.operators.temporal import asof_join

    right = spark.createDataFrame(
        [("u", "2024-01-01 10:00:00", 5.0), ("u", "2024-01-01 11:00:00", None)],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    left = spark.createDataFrame(
        [("u", "2024-01-01 12:00:00")], "k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = asof_join(left, right, key="k", right_cols=["v"]).first()
    assert str(r["ts_asof"]).startswith("2024-01-01 11:00")
    assert r["v_asof"] is None


def test_kn_bigram_hand_computed(spark):
    """P(b|a) on a tiny corpus, against the interpolated-KN formula by
    hand: c(a b)=2, c(a .)=2, N1+(a .)=1, N1+(. b)=1, T=2, d=0.75 ->
    max(2-0.75,0)/2 + (0.75*1/2)*(1/2) = 0.8125."""
    from logprocessor_spark.operators.ngram_lm import kn_bigram_probs

    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "b a")], "doc_id long, text string"
    )
    rows = {(r["w1"], r["w2"]): r for r in kn_bigram_probs(docs).collect()}
    assert rows[("a", "b")]["c12"] == 2
    assert rows[("a", "b")]["p_kn_e9"] == 812_500_000
    assert rows[("b", "a")]["p_kn_e9"] == 812_500_000


def test_kn_trigram_hand_computed(spark):
    """P3(w3|w1 w2) on a tiny corpus against the interpolated-KN backoff
    chain by hand (d=0.75). Corpus "a b a b a" + "a b c":
    P3(a|a b) = max(2-.75,0)/3 + .75*2/3 * P2(a|b)
      with P2(a|b) = max(1-.75,0)/2 + .75*2/2 * (1/3) = 0.375
      -> 1.25/3 + 0.5*0.375 = 0.6041666..  (e9 HALF_UP 604166667)
    P3(c|a b) = 0.25/3 + 0.5*0.375 = 0.2708333.. (270833333)
    P3(b|b a) = 0.25/1 + 0.75*1 * P2(b|a)
      with P2(b|a) = 0.25/1 + 0.75*(1/3) = 0.5 -> 0.625 (625000000)."""
    from logprocessor_spark.operators.ngram_lm import kn_trigram_probs

    docs = spark.createDataFrame(
        [(0, "a b a b a"), (1, "a b c")], "doc_id long, text string"
    )
    rows = {
        (r["w1"], r["w2"], r["w3"]): r for r in kn_trigram_probs(docs).collect()
    }
    assert len(rows) == 3
    assert rows[("a", "b", "a")]["c123"] == 2
    assert rows[("a", "b", "a")]["p_kn_e9"] == 604_166_667
    assert rows[("a", "b", "c")]["p_kn_e9"] == 270_833_333
    assert rows[("b", "a", "b")]["p_kn_e9"] == 625_000_000


def test_kn_trigram_probs_sum_to_context_mass(spark):
    """Per observed context, sum of emitted P3 over observed w3 equals
    1 - (backoff mass not covered by observed trigrams): for context
    (a b) with all continuations observed, total probability of observed
    continuations + lambda * unseen P2 mass == 1. Weaker invariant that
    holds on any corpus: every p in (0, 1e9] and per-context sums <= 1e9
    plus rounding slack."""
    from logprocessor_spark.operators.ngram_lm import kn_trigram_probs

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown cat sleeps"),
         (2, "a quick brown fox runs over the hill")],
        "doc_id long, text string",
    )
    out = kn_trigram_probs(docs)
    rows = out.collect()
    assert rows, "no trigrams emitted"
    assert all(0 < r["p_kn_e9"] <= 10**9 for r in rows)
    from collections import defaultdict

    ctx = defaultdict(int)
    for r in rows:
        ctx[(r["w1"], r["w2"])] += r["p_kn_e9"]
    n_per_ctx = defaultdict(int)
    for r in rows:
        n_per_ctx[(r["w1"], r["w2"])] += 1
    for k, s in ctx.items():
        assert s <= 10**9 + n_per_ctx[k], (k, s)


def test_kn_fourgram_brute_force(spark):
    """kn_ngram_probs(order=4) against an independent pure-Python
    reimplementation of the staged-rounding KN backoff chain, computed
    from raw token lists (all five count relations re-derived with
    dict/Counter arithmetic) on a corpus with real 4-gram repeats."""
    from collections import Counter

    from logprocessor_spark.operators.ngram_lm import kn_ngram_probs

    texts = [
        "a b c d a b c d e",
        "b c d e f a b c",
        "a b c e d a b",
        "c d a b c d",
        "e f a b c d e f",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )

    toks = [t.split() for t in texts]
    c1234 = Counter(
        (w[i], w[i + 1], w[i + 2], w[i + 3])
        for w in toks for i in range(len(w) - 3)
    )
    c123r = Counter(
        (w[i], w[i + 1], w[i + 2]) for w in toks for i in range(len(w) - 2)
    )
    cbg = Counter((w[i], w[i + 1]) for w in toks for i in range(len(w) - 1))
    ctx4_c, ctx4_n = Counter(), Counter()
    for (w1, w2, w3, w4), c in c1234.items():
        ctx4_c[(w1, w2, w3)] += c
        ctx4_n[(w1, w2, w3)] += 1
    n234c = Counter()
    for (w1, w2, w3, w4) in c1234:
        n234c[(w2, w3, w4)] += 1
    ctx3_c, ctx3_n = Counter(), Counter()
    for (w2, w3, w4), c in n234c.items():
        ctx3_c[(w2, w3)] += c
        ctx3_n[(w2, w3)] += 1
    n34c = Counter()
    for (w1, w2, w3) in c123r:
        n34c[(w2, w3)] += 1
    ctx2_c, ctx2_n = Counter(), Counter()
    for (w3, w4), c in n34c.items():
        ctx2_c[w3] += c
        ctx2_n[w3] += 1
    n1b = Counter()
    for (w1, w2) in cbg:
        n1b[w2] += 1
    tt = len(cbg)

    def half_up(num, den):
        q, r = divmod(num, den)
        return q + (1 if 2 * r >= den else 0)

    def expected(w1, w2, w3, w4):
        pc = half_up(n1b[w4] * 10**9, tt)
        p2c = half_up(
            max(4 * n34c[(w3, w4)] - 3, 0) * 10**9 + 3 * ctx2_n[w3] * pc,
            4 * ctx2_c[w3],
        )
        p3c = half_up(
            max(4 * n234c[(w2, w3, w4)] - 3, 0) * 10**9
            + 3 * ctx3_n[(w2, w3)] * p2c,
            4 * ctx3_c[(w2, w3)],
        )
        return half_up(
            max(4 * c1234[(w1, w2, w3, w4)] - 3, 0) * 10**9
            + 3 * ctx4_n[(w1, w2, w3)] * p3c,
            4 * ctx4_c[(w1, w2, w3)],
        )

    rows = {
        (r["w1"], r["w2"], r["w3"], r["w4"]): r
        for r in kn_ngram_probs(docs, order=4).collect()
    }
    assert set(rows) == set(c1234)
    for g, r in rows.items():
        assert r["c"] == c1234[g], g
        assert r["p_kn_e9"] == expected(*g), g
    assert all(0 < r["p_kn_e9"] <= 10**9 for r in rows.values())
    # the repeated 4-gram (a b c d) must dominate its alternatives
    assert c1234[("a", "b", "c", "d")] >= 3
    assert rows[("a", "b", "c", "d")]["p_kn_e9"] > rows[("a", "b", "c", "e")]["p_kn_e9"]


def test_kn_ngram_generic_matches_specific_orders(spark):
    """The generic order-N builder against the exact-rational orders:
    orders 2-3 must sit within 2 units at 1e-9 of the exact-rational forms
    (staged rounding's documented bound: 0.5/level attenuated by <= 3/4).
    Order 4 is checked against a pure-Python reference in
    test_kn_fourgram_brute_force."""
    import pytest as _pt

    from logprocessor_spark.operators.ngram_lm import (
        kn_bigram_probs,
        kn_ngram_probs,
        kn_trigram_probs,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d a b c d e"), (1, "b c d e f a b c"),
         (2, "a b c e d a b"), (3, "c d a b c d"), (4, "e f a b c d e f")],
        "doc_id long, text string",
    )
    for order, exact_fn, cnt_col in (
        (2, kn_bigram_probs, "c12"),
        (3, kn_trigram_probs, "c123"),
    ):
        gen = {
            tuple(r[f"w{j}"] for j in range(1, order + 1)): r["p_kn_e9"]
            for r in kn_ngram_probs(docs, order=order).collect()
        }
        exact = {
            tuple(r[f"w{j}"] for j in range(1, order + 1)): r["p_kn_e9"]
            for r in exact_fn(docs).collect()
        }
        assert gen.keys() == exact.keys()
        deltas = [abs(gen[k] - exact[k]) for k in gen]
        assert max(deltas) <= 2, (order, max(deltas))
    with _pt.raises(ValueError, match="order"):
        kn_ngram_probs(docs, order=1)
