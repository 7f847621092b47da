"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` and the sizes: the same
seed gives byte-identical pages and documents. Pages come from the
program's own generator (``synth.gen_pages``); the corpus table the
harness operators read is generated here with NumPy, in the shape of the
repository's synthetic ``documents`` table.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# vocabulary and shape of the synthetic `documents` table the harness
# queries are written against (30 plain words, 10-100 words a doc,
# 5 % near-duplicates tagged with a trailing "dup")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20


# synth.gen_pages spreads ids uniformly over this many days; drawing
# OVERSAMPLE times the pages needed leaves every day more than enough
GEN_DAYS = 61
OVERSAMPLE = 1.3


def gen_pages_df(spark, seed: int, per_day: int, days: int):
    """Exactly ``per_day`` pages on each of the first ``days`` days of
    ``synth.gen_pages(n, seed)``, the first ones by url. A fixed day size
    keeps the per-op work, and so docs/s, the same for every seed."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from logprocessor_spark.synth import BASE_TS, gen_pages

    n = math.ceil(per_day * GEN_DAYS * OVERSAMPLE)
    end = F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(days=F.lit(days))
    day = F.date_format("warc_ts", "yyyy-MM-dd")
    rank = F.row_number().over(Window.partitionBy(day).orderBy("url", "warc_ts"))
    return (
        gen_pages(spark, n, seed=seed)
        .where(F.col("warc_ts") < end)
        .withColumn("_rank", rank)
        .where(F.col("_rank") <= per_day)
        .drop("_rank")
    )


def write_pages(spark, seed: int, per_day: int, days: int, path: str) -> list[str]:
    """Materialise the pages Hive-partitioned by day; returns the dts."""
    from logprocessor_spark.synth import write_pages_partitioned

    write_pages_partitioned(gen_pages_df(spark, seed, per_day, days), path)
    dts = sorted(n.split("=", 1)[1] for n in os.listdir(path) if n.startswith("dt="))
    rows = pq.ParquetDataset(path).read(columns=["url"]).num_rows
    if len(dts) != days or rows != per_day * days:
        raise ValueError(f"expected {days} days of {per_day} pages, got {rows} rows over {dts}")
    return dts


def gen_documents(seed: int, n: int) -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars), deterministic in
    (seed, n)."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # near-duplicates: a copy of an earlier doc with a trailing marker
    dup = rng.random(n) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in np.flatnonzero(dup):
        if i > 0:
            texts[i] = texts[src[i]] + " dup"
    lang = rng.choice(len(DOC_LANGS), size=n, p=DOC_LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([DOC_LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(seed: int, n: int, sf_dir: str) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(gen_documents(seed, n), path)
    return path
