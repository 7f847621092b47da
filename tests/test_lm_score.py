"""LM document scoring (operators/lm_score.py): fixed-point log2
properties, hand-computed scoring, threshold/ntile bucket parity, the
ARPA import seam, and the classifier trained-weights seam."""

import math

import pytest
from pyspark.sql import functions as F

from logprocessor_spark.operators.lm_score import (
    FX_ONE,
    LOG2_1E9_FX16,
    bucket_by_thresholds,
    import_arpa,
    log2_fx16,
    perplexity_buckets,
    score_documents,
)
from logprocessor_spark.operators.ngram_lm import kn_bigram_probs

MAX_ERR_FX16 = 5643  # 0.0861 bits: linear-interpolation bound


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b a b c"),          # bigrams: ab ba ab bc
        (2, "a b"),                # one bigram, in-model
        (3, "z q z"),              # zq qz: unseen -> floor
        (4, "single"),             # <2 tokens: not scored
        (5, ""),                   # empty: not scored
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_log2_fx16_exactness_and_monotonicity(spark):
    vals = (
        [1, 2, 3, 4, 5, 7, 8, 9, 15, 16, 17, 255, 256, 257]
        + [10**k for k in range(1, 10)]
        + [2**k - 1 for k in range(2, 30)]
        + [2**k for k in range(1, 30)]
        + [999_999_999, 1_000_000_000]
    )
    vals = sorted(set(vals))
    df = spark.createDataFrame([(v,) for v in vals], ["v"]).select(
        "v", log2_fx16(F.col("v").cast("long")).alias("fx")
    )
    got = {r.v: r.fx for r in df.collect()}
    prev = None
    for v in vals:
        exact = math.log2(v) * FX_ONE
        assert 0 <= exact - got[v] <= MAX_ERR_FX16 + 1, (v, got[v], exact)
        if prev is not None:
            assert got[v] >= prev  # monotone
        prev = got[v]
    assert got[1] == 0
    assert got[1_000_000_000] == LOG2_1E9_FX16
    for k in range(1, 30):
        assert got[2**k] == k * FX_ONE  # exact at powers of two


def test_score_documents_hand_check(spark, docs):
    # model trained on doc 1 only: bigrams ab(x2) ba bc
    lm = kn_bigram_probs(docs.where("doc_id = 1"))
    probs = {(r.w1, r.w2): r.p_kn_e9 for r in lm.collect()}
    scored = {r.doc_id: r for r in score_documents(docs, lm).collect()}
    assert set(scored) == {1, 2, 3}  # 4 (short) and 5 (empty) not scored

    def nll(p_e9):
        b = p_e9.bit_length()
        fx = (b - 2) * FX_ONE + (p_e9 * FX_ONE) // (1 << (b - 1))
        return LOG2_1E9_FX16 - fx

    exp1 = 2 * nll(probs[("a", "b")]) + nll(probs[("b", "a")]) + nll(
        probs[("b", "c")]
    )
    assert scored[1].n_bigrams == 4
    assert scored[1].nll_sum_fx16 == exp1
    q, r = divmod(exp1, 4)
    assert scored[1].avg_nll_fx16 == q + (1 if 2 * r >= 4 else 0)
    # doc 3: both bigrams unseen -> 2 * floor cost; floor p=1 -> fx=0
    assert scored[3].nll_sum_fx16 == 2 * LOG2_1E9_FX16
    assert scored[3].avg_nll_fx16 == LOG2_1E9_FX16


def test_floor_e9_validation(spark, docs):
    lm = kn_bigram_probs(docs.where("doc_id = 1"))
    with pytest.raises(ValueError, match="floor_e9"):
        score_documents(docs, lm, floor_e9=0)


def test_threshold_buckets_match_ntile(spark):
    # 9 docs with distinct scores -> ntile(3) puts 3 in each bucket;
    # thresholds at the ntile boundaries must reproduce the assignment.
    rows = [(i, 10, 10 * s, s) for i, s in enumerate([5, 11, 2, 19, 7, 3, 17, 13, 23])]
    scored = spark.createDataFrame(
        rows, ["doc_id", "n_bigrams", "nll_sum_fx16", "avg_nll_fx16"]
    )
    nt = perplexity_buckets(scored).collect()
    by_bucket = {}
    for r in nt:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.avg_nll_fx16)
    head_max = max(by_bucket[1])
    middle_max = max(by_bucket[2])
    th = {r.doc_id: r for r in bucket_by_thresholds(scored, head_max, middle_max).collect()}
    for r in nt:
        assert th[r.doc_id].ppl_bucket == r.ppl_bucket
        assert th[r.doc_id].ppl_label == r.ppl_label
    with pytest.raises(ValueError, match="head_max"):
        bucket_by_thresholds(scored, 10, 5)


def test_import_arpa_scores_like_table(spark, docs, tmp_path):
    # a pretrained ARPA 2-gram section; scoring through the imported
    # table must equal scoring through an equivalent constructed table
    arpa = tmp_path / "tiny.arpa"
    arpa.write_text(
        "\\data\\\n"
        "ngram 1=3\n"
        "ngram 2=3\n"
        "\n\\1-grams:\n"
        "-0.5\ta\t-0.3\n"
        "-0.7\tb\n"
        "-0.9\tc\n"
        "\n\\2-grams:\n"
        "-0.301029995\ta b\n"        # p = 10^-0.30103 ~ 0.5
        "-1.0\tb a\n"                # p = 0.1
        "-2.0\tb c\n"                # p = 0.01
        "\n\\end\\\n",
        encoding="utf-8",
    )
    lm = import_arpa(spark, str(arpa))
    got = {(r.w1, r.w2): r.p_kn_e9 for r in lm.collect()}
    assert got[("a", "b")] == round(10 ** -0.301029995 * 1e9)
    assert got[("b", "a")] == 100_000_000
    assert got[("b", "c")] == 10_000_000
    twin = spark.createDataFrame(
        [(k[0], k[1], v) for k, v in got.items()], ["w1", "w2", "p_kn_e9"]
    )
    a = {r.doc_id: r for r in score_documents(docs, lm).collect()}
    b = {r.doc_id: r for r in score_documents(docs, twin).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k].nll_sum_fx16 == b[k].nll_sum_fx16


def test_classifier_trained_weights_seam(spark, docs):
    from logprocessor_spark.functions.classifier import (
        DEFAULT_DIM,
        formula_weight,
        hashed_linear_score,
        token_bucket,
    )

    # trained = formula weights materialized as a table: same labels
    buckets = spark.range(DEFAULT_DIM).select(
        formula_weight(F.col("id")).alias("w")
    )
    table = [r.w for r in buckets.collect()]
    base = {r.doc_id: r for r in hashed_linear_score(docs).collect()}
    same = {
        r.doc_id: r for r in hashed_linear_score(docs, weights=table).collect()
    }
    assert {k: v.feat_sum for k, v in base.items()} == {
        k: v.feat_sum for k, v in same.items()
    }
    # an all-negative trained model drops every non-empty doc
    neg = hashed_linear_score(docs, weights=[-1] * DEFAULT_DIM)
    for r in neg.collect():
        assert r.label == ("drop" if r.n_tokens > 0 else "keep")
        if r.n_tokens:
            assert r.feat_sum == -r.n_tokens
    # still shuffle-free with the literal table
    plan = neg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    with pytest.raises(ValueError, match="length dim"):
        hashed_linear_score(docs, weights=[1, 2, 3])


def test_score_documents_higher_order(spark, docs):
    """order=5 scoring against the order-5 model (CCNet configuration):
    training on the scored corpus itself means every gram is in-model,
    so the per-doc gram count must equal the positional 5-gram count and
    every per-gram cost is < the unseen floor; an order-2 unrelated
    model floors everything."""
    from logprocessor_spark.operators.ngram_lm import kn_ngram_probs

    texts = [(10, "v w x y z v w x y z v w"), (11, "p q r s t u p q r s")]
    corpus = spark.createDataFrame(texts, ["doc_id", "text"])
    lm5 = kn_ngram_probs(corpus, order=5)
    scored = {r.doc_id: r for r in score_documents(corpus, lm5, order=5).collect()}
    toks = {i: t.split() for i, t in texts}
    for i in (10, 11):
        n_pos = len(toks[i]) - 4
        assert scored[i].n_bigrams == n_pos
        # all grams in-model -> strictly cheaper than all-floor
        assert scored[i].nll_sum_fx16 < n_pos * LOG2_1E9_FX16
    with pytest.raises(ValueError, match="order"):
        score_documents(corpus, lm5, order=1)
    # an unrelated bigram model floors every gram
    other = spark.createDataFrame([("zz", "qq", 500_000_000)], ["w1", "w2", "p_kn_e9"])
    floored = {r.doc_id: r for r in score_documents(corpus, other, order=2).collect()}
    assert floored[10].nll_sum_fx16 == floored[10].n_bigrams * LOG2_1E9_FX16


def test_import_arpa_empty_and_malformed(spark, docs, tmp_path):
    """A unigram-only ARPA (no 2-grams section) imports as an EMPTY LM
    relation — every gram then scores the floor — rather than crashing
    on schema inference."""
    arpa = tmp_path / "uni.arpa"
    arpa.write_text(
        "\\data\\\nngram 1=2\n\n\\1-grams:\n-0.5\ta\n-0.7\tb\n\n\\end\\\n",
        encoding="utf-8",
    )
    lm = import_arpa(spark, str(arpa))
    assert lm.count() == 0
    assert lm.columns == ["w1", "w2", "p_kn_e9"]
    scored = {r.doc_id: r for r in score_documents(docs, lm).collect()}
    assert scored[1].nll_sum_fx16 == scored[1].n_bigrams * LOG2_1E9_FX16


def test_import_arpa_rejects_repeated_bigram(spark, tmp_path):
    """A repeated (w1, w2) key would fan out score_documents' join and
    count that bigram twice: the import names the key and raises."""
    arpa = tmp_path / "dup.arpa"
    arpa.write_text(
        "\\data\\\nngram 1=2\nngram 2=3\n"
        "\n\\1-grams:\n-0.5\ta\n-0.7\tb\n"
        "\n\\2-grams:\n-0.3\ta b\n-1.0\tb a\n-0.4\ta b\n"
        "\n\\end\\\n",
        encoding="utf-8",
    )
    with pytest.raises(ValueError, match="'a b'"):
        import_arpa(spark, str(arpa))


def test_bloom_filter_contract(spark):
    """Bloom: no false negatives ever; FP rate in the expected regime;
    merge = union+distinct equals build-of-union; NULL keys are neither
    members nor matchable."""
    from logprocessor_spark.operators.sketch import bloom_build, bloom_probe

    members = spark.range(0, 300).select(
        F.format_string("url-%d", F.col("id")).alias("u")
    )
    others = spark.range(300, 1300).select(
        F.format_string("url-%d", F.col("id")).alias("u")
    )
    bloom = bloom_build(members, "u")
    assert bloom.count() <= 4096
    probed_m = bloom_probe(members, bloom, "u")
    assert probed_m.where("NOT maybe_member").count() == 0  # no false negatives
    fp = bloom_probe(others, bloom, "u").where("maybe_member").count()
    # n=300, k=4, m=4096 -> (1-e^{-kn/m})^4 ~ 0.0042; give 5x slack
    assert fp <= 1000 * 0.021, fp
    # mergeability
    a = bloom_build(members, "u")
    b = bloom_build(others, "u")
    merged = a.union(b).distinct()
    direct = bloom_build(members.union(others), "u")
    assert {r.bit for r in merged.collect()} == {r.bit for r in direct.collect()}
    # NULL keys
    with_null = spark.createDataFrame([("url-1",), (None,)], ["u"])
    assert bloom_build(with_null, "u").count() == 4  # only the non-null key
    pr = {r.u: r.maybe_member for r in bloom_probe(with_null, bloom, "u").collect()}
    assert pr["url-1"] is True and pr[None] is False


def test_bm25_brute_force_and_ranking(spark):
    """bm25_topk against a pure-Python twin of the integer formula, plus
    the two Okapi behaviors the formula exists for: rare terms outweigh
    common ones, and equal-tf shorter docs outrank longer ones."""
    from logprocessor_spark.operators.textindex import bm25_topk

    texts = {
        1: "rare common common filler one",
        2: "common filler filler filler filler filler filler filler",
        3: "rare common filler",
        4: "common common common common",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r.doc_id: r for r in bm25_topk(docs, ["rare", "common"], k=10).collect()}

    toks = {i: t.split() for i, t in texts.items()}
    N = len(toks)
    TL = sum(len(w) for w in toks.values())
    df = {"rare": 2, "common": 4}

    def lg(v):
        b = v.bit_length()
        return (b - 2) * 65536 + (v * 65536) // (1 << (b - 1))

    def half_up(num, den):
        q, r = divmod(num, den)
        return q + (1 if 2 * r >= den else 0)

    def score(i):
        s = 0
        for t in ("rare", "common"):
            tf = toks[i].count(t)
            if not tf:
                continue
            idf = lg(2 * N + 2) - lg(2 * df[t] + 1)
            s += half_up(
                idf * 22 * tf * TL,
                10 * tf * TL + 3 * TL + 9 * len(toks[i]) * N,
            )
        return s

    for i in texts:
        assert got[i].bm25_fx16 == score(i), i
    # rare-term doc with shorter length ranks top; common-only longest ranks low
    order = sorted(got, key=lambda i: (-got[i].bm25_fx16, i))
    assert order[0] == 3          # rare + shortest
    assert got[3].bm25_fx16 > got[2].bm25_fx16
    # same rare tf (docs 1 and 3): shorter doc 3 scores higher
    assert got[3].bm25_fx16 > got[1].bm25_fx16
