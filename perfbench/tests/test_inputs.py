"""The benchmark's inputs are a pure function of the seed."""

import pytest

from perfbench import inputs


def test_documents_same_seed_same_table():
    a = inputs.gen_documents(7, 300)
    b = inputs.gen_documents(7, 300)
    assert a.equals(b)
    assert not a.equals(inputs.gen_documents(8, 300))


def test_documents_shape():
    t = inputs.gen_documents(1, 500).to_pydict()
    assert t["doc_id"] == list(range(500))
    assert all(10 <= len(x.split()) <= 101 for x in t["text"])
    assert all(n == len(x) for n, x in zip(t["n_chars"], t["text"]))
    assert any(x.endswith(" dup") for x in t["text"])
    assert set(t["lang"]) <= set(inputs.DOC_LANGS)


@pytest.fixture(scope="module")
def spark():
    from logprocessor_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_pages_same_seed_same_rows(spark):
    def rows(seed):
        df = inputs.gen_pages_df(spark, seed, 40, 5)
        return sorted(tuple(r) for r in df.collect())

    a = rows(3)
    assert a == rows(3)
    assert a != rows(4)


def test_pages_fixed_day_size(spark, tmp_path):
    dts = inputs.write_pages(spark, 5, 40, 3, str(tmp_path / "pages"))
    assert len(dts) == 3
    per_day = spark.read.parquet(str(tmp_path / "pages")).groupBy("dt").count().collect()
    assert sorted(r["count"] for r in per_day) == [40, 40, 40]
