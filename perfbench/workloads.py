"""The benchmark's workloads: set-up, one op, and the op's correctness check.

Each workload is a closed loop with one caller. ``op`` is the timed part
and consumes its whole result; ``check`` runs outside the timer and
returns False when the output is wrong. Reference values for the checks
are computed at set-up along a path that does not use the code under
test where possible (DuckDB over the same parquet, or the plain
parse -> enrich -> route plan without the write path).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import random
import shutil
import statistics
import time

import duckdb

from . import inputs

# pages: every workload keeps a prefix of synth.gen_pages' days, with
# PAGES_PER_DAY docs each. A pipeline call's cost
# at this size is mostly fixed per-call cost (planning, ~11 Spark jobs),
# so small days buy more timed ops per run.
PAGES_PER_DAY = 250

BACKFILL_DAYS = 4
DAILY_HISTORY_DAYS = 3
SINK_READS_DAYS = 4
LADDER_REPS = 3
AGG_EVERY = 8  # sink_reads: every k-th op is a sink_aggregates op
CORPUS_DOCS = 1000
CORPUS_SEED = 42
CORPUS_REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_reference.json")
CORPUS_QUERIES = [
    "cms_heavy_hitters",
    "kn_4gram_lm",
    "lm_doc_perplexity",
    "bloom_crawl_probe",
    "bm25_topk",
    "dedup_minhash_keep",
    "curate_corpus_v3",
]


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def count_files(path: str, dts: set[str] | None = None) -> int:
    n = 0
    for root, _, files in os.walk(path):
        if dts is not None and os.path.basename(root).split("=", 1)[-1] not in dts:
            continue
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def _routed_view(con, routed: str) -> None:
    con.execute(
        "CREATE OR REPLACE VIEW routed AS SELECT * FROM read_parquet("
        f"'{routed}/*/*/*/*.parquet', hive_partitioning = true, "
        "hive_types_autocast = false)"
    )


def _epoch_us(ts) -> int | None:
    if ts is None:
        return None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return round(ts.timestamp() * 1_000_000)


class Workload:
    name = ""
    # throughput metric: what ``check`` counts per op, per second of op wall
    throughput = "ops_per_s"
    # ops in a round (one of each kind); rounds are the unit of warm-up and
    # of the timed window
    round_len = 1
    # warm-up rounds, sized from the latency curves of fresh processes
    warmup_rounds = 2
    # the traced run also measures, in the same session and without a
    # warm-up of its own, the layers this workload does not exercise:
    # (workload, timed rounds)
    companion: tuple[str, int] = ("", 0)

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        # per-op facts the traced run reports, set by ``check``
        self.stats: dict = {}

    def setup(self) -> None:
        """Timed set-up: make the inputs and any state ops start from."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Untimed, once after set-up: reference values for ``check``."""

    def prepare(self, i: int) -> None:
        """Untimed work before op ``i`` (e.g. restoring a snapshot)."""

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> tuple[bool, int]:
        """(correct, items delivered) for the output of op ``i``."""
        raise NotImplementedError

    def kind(self, i: int) -> str:
        return self.name

    def span(self, name: str):
        """A span in the traced run, nothing otherwise."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def stored_bytes_per_doc(self) -> float | None:
        """Bytes of the sink the ops write or read, per document."""
        return None

    def trace_extra(self) -> dict:
        """Extra per-layer measurements made only in the traced run."""
        return {}

    def close(self) -> None:
        pass


class _PipelineWorkload(Workload):
    """Shared by backfill and daily: seeded pages, the reference counts,
    and the committed-state checks."""

    throughput = "docs_per_s"
    days = 0

    def _make_pages(self) -> None:
        self.pages = os.path.join(self.work, "pages")
        with self.span("synth.gen"):
            self.dts = inputs.write_pages(
                self.spark, self.seed, PAGES_PER_DAY, self.days, self.pages
            )

    def _plans(self) -> dict:
        """The pipeline's plan over the pages, step by step, without the
        write path: scan, + parse, + enrich/route."""
        from pyspark.sql import functions as F

        from logprocessor_spark.functions.parse import parse_pages
        from logprocessor_spark.operators.enrich import enrich
        from logprocessor_spark.operators.route import route
        from logprocessor_spark.synth import default_rules, gen_agent_dim, gen_geo_dim

        src = self.spark.read.parquet(self.pages).withColumn("dt", F.col("dt").cast("string"))
        parsed = parse_pages(src, extra_cols=["dt"])
        routed = route(
            enrich(parsed, gen_geo_dim(self.spark), gen_agent_dim(self.spark)),
            default_rules(self.spark),
        ).drop("html")
        return {"scan": src, "parse": parsed, "enrich_route": routed}

    def prepare_checks(self) -> None:
        ref = self._plans()["enrich_route"].select("sink", "month", "dt", "message_id")
        self.ref = duckdb.connect()
        self.ref.register("ref_rows", ref.toPandas())
        self.ref.execute("CREATE TABLE ref AS SELECT * FROM ref_rows")
        self.ref.unregister("ref_rows")

    def expected_counts(self, dts: list[str]) -> dict:
        """Committed rows per (sink, month) once ``dts`` are processed:
        one row per distinct id (the upsert scope), plus every null-id
        row (parse failures are all kept)."""
        lst = ", ".join(f"'{d}'" for d in dts)
        rows = self.ref.execute(
            "SELECT sink, month, count(DISTINCT message_id) "
            "+ count(*) FILTER (WHERE message_id IS NULL) FROM ref "
            f"WHERE dt IN ({lst}) GROUP BY 1, 2"
        ).fetchall()
        return {(s, m): n for s, m, n in rows}

    def check_out(self, out_dir: str, dts: list[str]) -> tuple[bool, int]:
        con = duckdb.connect()
        _routed_view(con, f"{out_dir}/routed")
        got = {
            (s, m): n
            for s, m, n in con.execute(
                "SELECT sink, month, count(*) FROM routed GROUP BY 1, 2"
            ).fetchall()
        }
        dupes = con.execute(
            "SELECT count(*) FROM (SELECT sink, month, message_id FROM routed "
            "WHERE message_id IS NOT NULL GROUP BY 1, 2, 3 HAVING count(*) > 1)"
        ).fetchone()[0]
        con.close()
        ledger = set()
        for fn in os.listdir(f"{out_dir}/ledger"):
            if fn.endswith(".json"):
                with open(os.path.join(out_dir, "ledger", fn)) as f:
                    rec = json.load(f)
                if rec.get("status") == "done":
                    ledger.add(rec["partition_key"])
        ok = got == self.expected_counts(dts) and dupes == 0 and set(dts) <= ledger
        committed = sum(got.values())
        self.last_bytes = (tree_bytes(f"{out_dir}/routed"), committed)
        return ok, committed

    def stored_bytes_per_doc(self) -> float:
        b, n = self.last_bytes
        return b / n


class Backfill(_PipelineWorkload):
    """One run_pipeline over every day-partition into an empty sink dir."""

    name = "backfill"
    days = BACKFILL_DAYS
    companion = ("corpus_ops", 1)

    def setup(self) -> None:
        self._make_pages()

    def op(self, i: int):
        from logprocessor_spark import job

        self.out = os.path.join(self.work, f"backfill-{i}")
        return job.run_pipeline(self.spark, self.pages, self.out, run_id=f"op{i}")

    def check(self, i: int, res) -> tuple[bool, int]:
        ok, committed = self.check_out(self.out, self.dts)
        self.stats = {
            "files_written": count_files(f"{self.out}/routed"),
            "quarantined": res.quarantined,
        }
        shutil.rmtree(self.out)
        return ok and res.rows_in == committed, res.rows_in

    def trace_extra(self) -> dict:
        """Noop-sink ladder over the same pages: scan, + parse,
        + enrich/route; the differences are each layer's busy time."""
        steps = self._plans()
        walls: dict[str, list[float]] = {k: [] for k in steps}
        for rep in range(LADDER_REPS):
            for k, df in steps.items():
                self.spark.sparkContext.setJobGroup(f"ladder-{k}-{rep}", k, False)
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls[k].append(time.perf_counter() - t0)
        return {"ladder": {k: statistics.median(v) for k, v in walls.items()}}


class Daily(_PipelineWorkload):
    """The next landed day on top of committed history. Every op plays
    the same day on the same history: the history is restored from a
    snapshot before each op, outside the timer."""

    name = "daily"
    days = DAILY_HISTORY_DAYS + 1
    # the history build in set-up is a pipeline call too
    warmup_rounds = 2
    companion = ("sink_reads", 2)

    def setup(self) -> None:
        from logprocessor_spark import job

        self._make_pages()
        self.hist = os.path.join(self.work, "history")
        job.run_pipeline(
            self.spark, self.pages, self.hist, run_id="history",
            partitions=self.dts[:DAILY_HISTORY_DAYS],
        )
        self.cur = os.path.join(self.work, "daily")

    def prepare(self, i: int) -> None:
        shutil.rmtree(self.cur, ignore_errors=True)
        shutil.copytree(self.hist, self.cur)

    def op(self, i: int):
        from logprocessor_spark import job

        return job.run_pipeline(
            self.spark, self.pages, self.cur, run_id=f"op{i}",
            partitions=[self.dts[DAILY_HISTORY_DAYS]],
        )

    def check(self, i: int, res) -> tuple[bool, int]:
        ok, _ = self.check_out(self.cur, self.dts)
        self.stats = {
            "files_written": count_files(f"{self.cur}/routed", {self.dts[-1]}),
            "quarantined": res.quarantined,
        }
        return ok and res.rows_in > 0, res.rows_in


# search vocabulary: words of synth.LANG_WORDS; each query has one
# non-ASCII word and one wildcard (prefix*) term of the same language
_SEARCH_LANGS = ["de", "fr", "es", "ru", "zh"]


class SinkReads(Workload):
    """Search, point lookup and per-sink aggregates over routed output."""

    name = "sink_reads"
    throughput = "queries_per_s"
    round_len = AGG_EVERY
    companion = ("backfill", 2)

    def setup(self) -> None:
        from logprocessor_spark import job

        self.pages = os.path.join(self.work, "pages")
        with self.span("synth.gen"):
            inputs.write_pages(self.spark, self.seed, PAGES_PER_DAY, SINK_READS_DAYS, self.pages)
        self.out = os.path.join(self.work, "store")
        job.run_pipeline(self.spark, self.pages, self.out, run_id="store")
        self.routed = f"{self.out}/routed"

    def prepare_checks(self) -> None:
        self.con = duckdb.connect()
        _routed_view(self.con, self.routed)
        ids = [
            r[0]
            for r in self.con.execute(
                "SELECT message_id FROM routed WHERE message_id IS NOT NULL ORDER BY 1"
            ).fetchall()
        ]
        rng = random.Random(self.seed)
        self.lookup_ids = rng.sample(ids, 64)
        self.queries = [self._search_query(rng) for _ in range(64)]

    @staticmethod
    def _search_query(rng: random.Random) -> str:
        from logprocessor_spark.synth import LANG_WORDS

        lang = rng.choice(_SEARCH_LANGS)
        words = LANG_WORDS[lang]
        non_ascii = [w for w in words if not w.isascii()]
        a = rng.choice(non_ascii)
        b = rng.choice([w for w in words if w != a])
        return f"{a} {b[: max(1, len(b) - 2)]}*"

    def kind(self, i: int) -> str:
        if i % AGG_EVERY == AGG_EVERY - 1:
            return "aggregates"
        return "search" if i % 2 == 0 else "lookup"

    def op(self, i: int):
        from logprocessor_spark import query
        from logprocessor_spark.operators import aggregate

        routed = self.spark.read.parquet(self.routed)
        k = self.kind(i)
        if k == "search":
            return query.search(routed, self.queries[i % 64]).collect()
        if k == "lookup":
            return query.point_lookup(routed, self.lookup_ids[i % 64]).collect()
        return aggregate.sink_aggregates(routed).collect()

    def check(self, i: int, rows) -> tuple[bool, int]:
        k = self.kind(i)
        if k == "search":
            ok = self._check_search(self.queries[i % 64], rows)
        elif k == "lookup":
            want = self.con.execute(
                "SELECT message_id, url, text FROM routed WHERE message_id = ?",
                [self.lookup_ids[i % 64]],
            ).fetchall()
            ok = sorted(tuple(r) for r in rows) == sorted(want) and len(want) == 1
        else:
            want = self.con.execute(
                "SELECT sink, month, count(*), epoch_us(min(ts)), epoch_us(max(ts)) "
                "FROM routed GROUP BY 1, 2 ORDER BY 1, 2"
            ).fetchall()
            got = [
                (r.sink, r.month, r.doc_count, _epoch_us(r.min_ts), _epoch_us(r.max_ts))
                for r in rows
            ]
            ok = got == [tuple(w) for w in want]
        self.stats = {"rows": len(rows)}
        return ok, 1

    def _check_search(self, q: str, rows) -> bool:
        from logprocessor_spark.query import SEARCH_LIMIT

        terms = [t.lower() for t in q.split()]
        plain = sorted({t for t in terms if "*" not in t})
        conds = ["list_has_all(toks, ?)"]
        params: list = [plain]
        for t in terms:
            if "*" in t:
                conds.append("len(list_filter(toks, x -> x LIKE ?)) > 0")
                params.append(t.replace("*", "%"))
        want = self.con.execute(
            "SELECT message_id, epoch_us(ts), service FROM ("
            "SELECT message_id, ts, service, "
            "list_distinct(string_split_regex(lower(text), '\\s+')) AS toks "
            f"FROM routed) WHERE {' AND '.join(conds)} "
            "ORDER BY 2 NULLS FIRST, 3 NULLS FIRST",
            params,
        ).fetchall()
        matched = {w[0] for w in want}
        got_keys = [(_epoch_us(r.ts), r.service) for r in rows]
        want_keys = [(w[1], w[2]) for w in want[:SEARCH_LIMIT]]
        return (
            len(rows) == min(SEARCH_LIMIT, len(want))
            and got_keys == want_keys
            and all(r.message_id in matched for r in rows)
        )

    def stored_bytes_per_doc(self) -> float:
        n = self.con.execute("SELECT count(*) FROM routed").fetchone()[0]
        return tree_bytes(self.routed) / n

    def close(self) -> None:
        self.con.close()


def canon_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: rows as sorted canonical lines,
    columns in name order, floats by shortest round-trip repr."""
    import hashlib
    import math

    def val(v) -> str:
        if hasattr(v, "item"):
            v = v.item()
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(val(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


class CorpusOps(Workload):
    """One harness corpus query per op, cache cleared first. The corpus is
    fixed (CORPUS_SEED) so its results can be checked against stored
    reference values; the run's seed sets the rotation order."""

    name = "corpus_ops"
    throughput = "queries_per_s"
    round_len = len(CORPUS_QUERIES)
    warmup_rounds = 1
    companion = ("daily", 2)

    def setup(self) -> None:
        self.sf_dir = os.path.join(self.work, "corpus")
        with self.span("synth.gen"):
            inputs.write_documents(CORPUS_SEED, CORPUS_DOCS, self.sf_dir)
        self.order = list(CORPUS_QUERIES)
        random.Random(self.seed).shuffle(self.order)

    def prepare_checks(self) -> None:
        with open(CORPUS_REFERENCE) as f:
            self.reference = json.load(f)["queries"]

    def kind(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def op(self, i: int):
        from logprocessor_spark import harness

        self.spark.catalog.clearCache()
        df = harness.QUERIES[self.kind(i)](self.spark, self.sf_dir)
        return df.columns, df.collect()

    def check(self, i: int, out) -> tuple[bool, int]:
        cols, rows = out
        want = self.reference[self.kind(i)]
        got = {"rows": len(rows), "hash": canon_hash(cols, [tuple(r) for r in rows])}
        return got == want, 1


def corpus_reference(sf_dir: str) -> dict:
    """Row count and hash of each corpus query's DuckDB oracle twin
    (``harness.ORACLES``) over ``sf_dir/documents.parquet``."""
    from logprocessor_spark import harness

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{sf_dir}/documents.parquet')"
    )
    out = {}
    for name in CORPUS_QUERIES:
        res = con.execute(harness.ORACLES[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"rows": len(rows), "hash": canon_hash(cols, rows)}
    con.close()
    return out


WORKLOADS = {w.name: w for w in (Backfill, Daily, SinkReads, CorpusOps)}
