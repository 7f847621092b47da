"""Reproducible Iceberg-availability probe (r4 VERDICT #7): try to stand
up a real Iceberg catalog and CREATE TABLE ... USING iceberg in this
environment, and record the outcome so the Parquet-fallback claim in
``sinks.py`` is evidence, not assertion. Writes/refreshes
BENCH/ICEBERG_PROBE.md::

    python tools/iceberg_probe.py
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, ".")


def main() -> None:
    import pyspark
    from pyspark.sql import SparkSession

    jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    iceberg_jars = [
        os.path.basename(p)
        for p in glob.glob(os.path.join(jars_dir, "*"))
        if "iceberg" in os.path.basename(p).lower()
    ]
    outcome: str
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("iceberg-probe")
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", "/tmp/ice_probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.sql("CREATE TABLE ice.probe_t (id INT) USING iceberg")
        spark.sql("DROP TABLE ice.probe_t")
        outcome = "AVAILABLE — catalog plugin loaded and table round-tripped"
    except Exception as ex:  # noqa: BLE001 — the failure IS the record
        lines = str(ex).splitlines()
        # the Py4J wrapper line is generic; surface the JVM cause line
        cause = next(
            (ln.strip() for ln in lines if "SparkException" in ln or "ClassNot" in ln),
            lines[0],
        )
        outcome = f"UNAVAILABLE — {type(ex).__name__}: {cause[:220]}"
    finally:
        spark.stop()

    with open("BENCH/ICEBERG_PROBE.md", "w") as f:
        f.write(f"""# Iceberg availability probe

Command: `python tools/iceberg_probe.py` (re-run any time; this file is
its output). The probe configures `spark.sql.catalog.ice =
org.apache.iceberg.spark.SparkCatalog` (hadoop catalog, /tmp warehouse)
and attempts `CREATE TABLE ... USING iceberg`.

- Spark: {pyspark.__version__}
- `iceberg*` jars in `{jars_dir}`: {iceberg_jars or "NONE"}
  ({len(glob.glob(os.path.join(jars_dir, '*.jar')))} jars total)
- Network: none in this sandbox (no pip/maven fetch possible), so the
  runtime jar cannot be vendored in.
- Probe outcome: **{outcome}**

Consequence: every sink in this repo writes the Parquet fallback. The
Iceberg swap point is the writer call in `sinks.write_fanout`
(`logprocessor_spark/sinks.py`): dynamic partition overwrite today,
`writeTo(tbl).overwritePartitions()` on a cluster that ships
`iceberg-spark-runtime`. The upsert contract that call must keep (replay
idempotence, latest `dt` wins per monthly index, committed-scope upsert
across runs, null keys never collapsed) is pinned by
`tests/test_sinks_backend.py`. The real `MERGE INTO` path remains
unexercised here by environment, not by design.
""")
    print(outcome)


if __name__ == "__main__":
    main()
