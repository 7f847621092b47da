"""Benchmark driver (driver contract + BASELINE.md measurement protocol).

Default mode (what the per-round driver runs): executes the headline query
suite at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` plus one end-to-end pipeline run over a
deterministic synthetic pages table, and prints ONE JSON line::

    {"metric": "e2e_suite_wall", "value": <sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "pipeline": {"docs": N, "wall_sec": s, "docs_per_sec": r}}

Other modes (BASELINE.md §"Measurement protocol"):

* ``--mode pipeline --master local[N]`` — cold+steady pipeline runs in one
  JVM, JSON to stdout (the subprocess unit of the scaling experiment).
* ``--mode scaling-mp`` — N→4N scaling efficiency (>=0.8 required by
  BASELINE.json north_rule): ``--nproc`` concurrent pinned
  ``local[--base-cores]`` pipeline JVMs over disjoint dt-slices of one
  input against one such JVM over the whole input; appends its section
  to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PIPELINE_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "150000"))

# headline queries: one per operator family, run at the bench sf_dir
HEADLINE = [
    "log_parse_fields",     # vectorized parse (F1-F9)
    "log_route_counts",     # route + per-sink aggregate (north_rule gate)
    "log_enrich_geo",       # broadcast enrich (J1)
    "tpch_q1",              # wide aggregate
    "tpch_q3",              # fact x fact SortMergeJoin (shuffle-join regime)
    "join_enrich_region",   # multi-dim broadcast join
    "window_top3_orders",   # window function
    "events_hourly",        # tumbling-window agg
    "dedup_exact_keep",     # exact dedup
    "dedup_minhash_pairs",  # MinHash+LSH near-dup
    "dedup_minhash_keep",   # pairs -> connected components -> survivors
    "cosine_topk",          # brute-force ANN baseline
    "ann_lsh_topk",         # LSH ANN
    "near_dup_embeddings_lsh",  # banded-LSH embedding near-dup (scale path)
    "doc_search_topk",      # full-text top-k
    "curate_corpus",        # quality -> lang -> dedup chain (one plan)
    "host_cap",             # per-host cap (salted two-phase top-k)
    "boilerplate_removal",  # corpus-frequency line dedup
    "curate_corpus_v3",     # full curation chain: boilerplate -> cap -> gates -> dedup -> budget
    "dedup_paragraphs",     # CCNet paragraph-chunk corpus dedup (r4)
    "url_dedup",            # canonical-URL keep-latest dedup (r4)
    "inverted_search",      # postings-intersection AND search (r4)
    "quality_classifier",   # hashed linear classifier gate (r4)
    "curate_corpus_v4",     # crawl-side chain: blocklist -> url dedup -> para dedup -> classifier (r4)
    "pq_ann_topk",          # product-quantization ADC top-k (r4)
    "ivfpq_topk",           # IVF + residual-PQ probe search (r4)
    "cms_heavy_hitters",    # count-min sketch heavy hitters (r4)
    "lm_doc_perplexity",    # CCNet LM scoring: train + score + bucket (r5)
    "curate_corpus_v5",     # CCNet chain: para dedup -> lang -> LM filter (r5)
    "kn_4gram_lm",          # order-4 KN LM, staged integer emission (r5)
    "bloom_crawl_probe",    # packed-bitset recrawl gate, zero-shuffle probe (r5)
    "bm25_topk",            # integer-exact Okapi BM25 ranking (r5)
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _make_input(spark, n_docs: int, workdir: str) -> str:
    from logprocessor_spark.synth import gen_pages, write_pages_partitioned

    path = os.path.join(workdir, f"pages_{n_docs}")
    if not os.path.exists(path):
        write_pages_partitioned(gen_pages(spark, n_docs, seed=42), path)
    return path


def run_pipeline_once(
    master: str,
    n_docs: int,
    pages_path: str,
    out_dir: str,
    partitions: list[str] | None = None,
) -> dict:
    """End-to-end runs: scan -> parse -> enrich -> route -> fan-out write ->
    per-sink tallies -> ledger/metrics. Runs the pipeline TWICE in the same
    JVM (fresh sink dirs): the first wall includes JIT/codegen compilation
    (a fixed per-JVM cost that amortizes to zero on a long-running cluster),
    the second is steady-state. Both are reported; scaling efficiency is
    computed on steady-state."""
    from logprocessor_spark.job import run_pipeline
    from logprocessor_spark.session import get_spark

    cores = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else 32
    # local-mode driver heap must fit cores x maxPartitionBytes of in-flight
    # scan buffers (32 x 128MB) plus shuffle state; 8g thrashes GC at 32 threads.
    # Shuffle spill dirs on tmpfs: a single VM disk is a sandbox artifact —
    # on a real cluster shuffle I/O bandwidth scales with executors.
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    spark = get_spark(
        "bench-pipeline",
        master=master,
        # 2x cores: one shuffle partition per core makes the write stage a
        # single wave where one skewed (sink, month, dt) combo stalls the
        # whole stage; two waves let the scheduler pack around stragglers
        # (same reason clusters run 2-3x total-core shuffle partitions)
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={"spark.local.dir": f"/dev/shm/bench-sparktmp-{cores}-{os.getpid()}"},
    )
    pages_path = pages_path or _make_input(spark, n_docs, tempfile.mkdtemp(prefix="benchpages"))
    walls, rows = [], 0
    for i in range(2):
        d = f"{out_dir}_r{i}"
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        res = run_pipeline(
            spark, pages_path, d, run_id=f"bench-{cores}-{i}", partitions=partitions
        )
        walls.append(round(time.time() - t0, 2))
        rows = res.rows_in
        shutil.rmtree(d, ignore_errors=True)
    wall = walls[-1]
    return {
        "master": master,
        "docs": rows,
        "wall_sec": wall,
        "wall_cold_sec": walls[0],
        "docs_per_sec": round(rows / wall, 1),
        "quarantined": res.quarantined,
        "sinks": res.sink_counts,
    }


def mode_pipeline(args) -> None:
    out = run_pipeline_once(
        args.master,
        args.docs,
        args.pages,
        args.out or tempfile.mkdtemp(prefix="benchout"),
        partitions=args.partitions.split(",") if args.partitions else None,
    )
    print(json.dumps(out))


def _probe_slowdown(total_cores: int) -> float:
    """Per-worker slowdown of ``total_cores`` concurrent pinned
    single-thread sha256 canaries vs one solo canary (the quick form of
    tools/host_capacity_probe.py). 1.0 = host delivers every core at solo
    speed; 2.0 = each busy core runs at half speed (SMT siblings or
    hypervisor steal)."""
    import statistics

    canary = (
        "import time,hashlib;t0=time.time();x=b'x'*65536\n"
        "for i in range(1500): x=hashlib.sha256(x).digest()*2048\n"
        "print(round(time.time()-t0,4))"
    )

    def run(cores) -> list[float]:
        procs = [
            subprocess.Popen(
                ["taskset", "-c", str(c), sys.executable, "-c", canary],
                stdout=subprocess.PIPE, text=True,
            )
            for c in cores
        ]
        return [float(p.communicate()[0]) for p in procs]

    solo = min(run([0]) + run([0]))  # two solo shots, best (steal-robust)
    busy = run(range(total_cores))
    return round(statistics.mean(busy) / solo, 3)


def _wait_host_quiet(
    total_cores: int, max_slowdown: float = 1.25, attempts: int = 20
) -> float:
    """Block until the host actually delivers ``total_cores`` concurrent
    cores within ``max_slowdown`` of solo speed, or attempts run out.

    Why: this sandbox is a microVM with episodic multi-minute windows of
    heavy hypervisor steal (measured: the SAME pinned pipeline config
    drifting 62→76 s across reps, and probe effective-cores collapsing
    from ~26 to ~13 of 32). An N→4N efficiency measured while the host
    withholds the 4N measures the neighbor, not the engine — so each rep
    is gated on a ~10 s capacity probe and the measured slowdown is
    recorded alongside the result."""
    for i in range(attempts):
        s = _probe_slowdown(total_cores)
        if s <= max_slowdown:
            return s
        print(
            f"# host busy (probe slowdown {s} at {total_cores} cores), "
            f"waiting... [{i + 1}/{attempts}]",
            file=sys.stderr, flush=True,
        )
        time.sleep(45)
    return s


def mode_scaling_mp(args) -> None:
    """Engine-level N→4N scaling (VERDICT r3 item 3): the SAME pipeline
    binary run as ``nproc`` separate ``local[base]`` JVMs over disjoint
    dt-slices of one input vs ONE ``local[base]`` JVM over the full input. A real cluster runs N executors as separate JVMs with
    separate heaps and shuffle paths — exactly this regime — so this is
    the engine-level N→4N evidence on the high-core pair (8→32) where the
    single-JVM ``local[32]`` artifact was flagged (BENCH/BASELINE.md).

    Efficiency = speedup / nproc, speedup = wall(1 JVM, full input) /
    wall(nproc JVMs, 1/nproc input each, concurrent; wall = slowest JVM's
    steady run). Same total work in both configs; dt-slices are
    round-robin so slice skew shows up honestly in the straggler wall.

    Every JVM (single AND multi) is pinned to a disjoint ``base``-core
    cpuset via taskset. Without pinning the comparison is dishonest in
    both directions: a lone local[8] JVM on an idle 32-core host bursts
    past its 8 task threads (GC/JIT/IO pools size themselves to all 32
    cores — measured 7.8 s vs 22 s pinned on the same input), and four
    concurrent unpinned JVMs oversubscribe 4x during codegen/GC storms
    (measured up to 10x wall inflation). Pinning reproduces what a real
    cluster manager does with container cpusets, which is the regime the
    N->4N criterion describes.
    """
    from logprocessor_spark.session import get_spark

    workdir = args.workdir or tempfile.mkdtemp(prefix="benchmp")
    spark = get_spark("bench-gen", master=f"local[{DEFAULT_CPUS}]")
    pages = _make_input(spark, args.docs, workdir)
    spark.stop()

    dts = sorted(
        n.split("=", 1)[1] for n in os.listdir(pages) if n.startswith("dt=")
    )
    nproc, base = args.nproc, args.base_cores
    slices = [dts[i::nproc] for i in range(nproc)]

    # same heap per JVM in BOTH configs (12g is ample for 8 task threads;
    # nproc x 12g stays well inside the 128 GiB host)
    env = {**os.environ, "SPARK_DRIVER_MEM": "12g"}

    # sink output on tmpfs, like the shuffle dirs: 4 JVMs funneling their
    # routed writes (and the reconcile read-back) through the microVM's
    # ONE virtio disk measures that disk, not the engine — on a real
    # cluster, sink I/O bandwidth scales with executors (HDFS/S3 fan-out),
    # exactly as shuffle bandwidth does. Measured: concurrent quarter-slice
    # walls 31-72 s on /tmp (disk) vs 21.3 s for the same slice solo — the
    # gap is virtio write contention, not pipeline work.
    shm_out = tempfile.mkdtemp(prefix="benchmp_out_", dir="/dev/shm")

    def launch(parts: list[str], tag: str, slot: int = 0) -> subprocess.Popen:
        cmd = [
            "taskset", "-c", f"{slot * base}-{slot * base + base - 1}",
            sys.executable, os.path.abspath(__file__),
            "--mode", "pipeline", "--master", f"local[{base}]",
            "--docs", str(args.docs), "--pages", pages,
            "--out", os.path.join(shm_out, f"out_{tag}"),
            "--partitions", ",".join(parts),
        ]
        return subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, env=env,
        )

    def collect(p: subprocess.Popen) -> dict:
        out, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"pipeline subprocess failed rc={p.returncode}")
        return json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])

    singles: list[dict] = []
    multis: list[list[dict]] = []
    probes: list[float] = []
    for rep in range(args.repeats):
        probes.append(_wait_host_quiet(nproc * base))
        singles.append(collect(launch(dts, f"s{rep}")))
        print(
            f"# mp rep {rep}: single local[{base}] steady {singles[-1]['wall_sec']}s",
            file=sys.stderr,
        )
        procs = [launch(slices[i], f"m{rep}_{i}", slot=i) for i in range(nproc)]
        multis.append([collect(p) for p in procs])
        print(
            f"# mp rep {rep}: {nproc} x local[{base}] steady walls "
            f"{[o['wall_sec'] for o in multis[-1]]}s",
            file=sys.stderr,
        )

    t_single = min(s["wall_sec"] for s in singles)
    multi_walls = [max(o["wall_sec"] for o in outs) for outs in multis]
    t_multi = min(multi_walls)
    docs = singles[0]["docs"]
    speedup = round(t_single / t_multi, 3)
    eff = round(speedup / nproc, 3)
    summary = {
        "mode": "scaling-mp",
        "docs": docs,
        "nproc": nproc,
        "base_cores": base,
        "repeats": args.repeats,
        "single_wall": t_single,
        "single_all_walls": [s["wall_sec"] for s in singles],
        "multi_wall": t_multi,
        "multi_all_walls": multi_walls,
        "multi_per_proc_walls": [[o["wall_sec"] for o in outs] for outs in multis],
        "single_docs_per_sec": round(docs / t_single, 1),
        "multi_docs_per_sec": round(docs / t_multi, 1),
        "speedup": speedup,
        "scaling_efficiency": eff,
        "pass_0_8": eff >= 0.8,
        "capacity_probe_slowdown_per_rep": probes,
    }
    _append_mp_md(summary)
    shutil.rmtree(shm_out, ignore_errors=True)
    print(json.dumps(summary))


MP_MARKER = "## Multi-process engine scaling"


def _append_mp_md(s: dict) -> None:
    """Append (or replace) the multi-process section of BENCH/BASELINE.md
    without disturbing the rest of the file."""
    path = "BENCH/BASELINE.md"
    text = ""
    if os.path.exists(path):
        with open(path) as f:
            text = f.read()
        if MP_MARKER in text:
            text = text[: text.index(MP_MARKER)].rstrip() + "\n"
    per_rep = "\n".join(
        f"| rep {i} | {s['single_all_walls'][i]} s | {w} s |"
        for i, w in enumerate(s["multi_per_proc_walls"])
    )
    with open(path, "w") as f:
        f.write(text.rstrip() + f"""

{MP_MARKER} ({s['base_cores']} → {s['nproc']}×{s['base_cores']} cores)

Engine-level N→4N evidence with real multi-process execution (replaces
the CPU-probe inference): the same pipeline binary over the same
{s['docs']}-doc input, ONE local[{s['base_cores']}] JVM (full input) vs
{s['nproc']} CONCURRENT local[{s['base_cores']}] JVMs over disjoint
round-robin dt-slices — the separate-heap regime a real {s['nproc']}×
executor cluster runs in. Wall = slowest JVM's steady (2nd) run;
best-of-{s['repeats']} interleaved repeats; same 12g heap per JVM in
both configs; EVERY JVM (single and multi) taskset-pinned to its own
disjoint {s['base_cores']}-core cpuset, as a cluster manager's container
cpuset would be — unpinned, a lone local[{s['base_cores']}] JVM bursts
past its task threads on an idle 32-core host (GC/JIT/IO pools size to
the whole machine) and concurrent JVMs oversubscribe 4× during
codegen/GC storms, skewing the ratio in both directions. Sink output and
shuffle both sit on tmpfs: {s['nproc']} JVMs funneling writes through
the microVM's one virtio disk measures that disk, not the engine
(measured: concurrent quarter-slice walls 31-72 s on disk vs 21 s solo)
— on a real cluster sink/shuffle bandwidth scales with executors. Each
rep is admitted only when a ~10 s capacity probe shows the host actually
delivering the {s['nproc']}×{s['base_cores']} cores (per-worker canary
slowdown ≤ 1.25; measured per rep: {s.get('capacity_probe_slowdown_per_rep', [])}) —
this microVM has multi-minute windows of hypervisor steal plus an SMT
ceiling near 16 busy vCPUs (tools/host_capacity_probe.py), during which
an N→4N ratio measures the neighbor, not the engine.

| config | steady wall (best) | throughput | all walls |
|---|---|---|---|
| 1 × local[{s['base_cores']}], full input | {s['single_wall']} s | {s['single_docs_per_sec']} docs/sec | {s['single_all_walls']} |
| {s['nproc']} × local[{s['base_cores']}], 1/{s['nproc']} each | {s['multi_wall']} s | {s['multi_docs_per_sec']} docs/sec | {s['multi_all_walls']} |

Per-rep straggler walls (each row: single wall, then the {s['nproc']}
per-process walls of that rep's concurrent config):

| rep | single | per-process walls |
|---|---|---|
{per_rep}

**speedup {s['speedup']}× on {s['nproc']}× cores → scaling efficiency
{s['scaling_efficiency']}** (target ≥ 0.8: {'PASS' if s['pass_0_8'] else 'FAIL'}).
""")


def mode_suite(args) -> None:
    from logprocessor_spark import harness
    from logprocessor_spark.session import get_spark

    sf_dir = args.sf_dir
    spark = get_spark("bench", master=f"local[{args.cpus}]")
    # best-of-2 per query: this microVM host shows episodic noisy-neighbor
    # steal (BENCH/BASELINE.md all-walls spread — identical runs vary 3x),
    # and min-wall is the standard estimator on contended hosts. The first
    # run also pays per-plan codegen compile, a per-JVM fixed cost that is
    # zero on a long-running cluster; the min reflects steady state.
    # clearCache() before EVERY timed run: Spark's CacheManager substitutes
    # cached fragments into matching plans, so without it a repeat would
    # measure cache reuse, not the operator.
    # Protocol continuity (VERDICT r3 #2): r1/r2 published single-shot
    # walls, r3 published best-of-2 — emit BOTH series so every round pair
    # compares apples-to-apples: `queries` stays best-of-2 (r3-comparable),
    # `queries_cold` is the first-run wall (r1/r2-comparable, pays per-plan
    # codegen compile).
    # Capacity gating (VERDICT r4 #2): the r4 suite regressed ~1.23x
    # UNIFORMLY vs r3 — including queries whose code hadn't changed —
    # which is the signature of hypervisor steal, but r4 couldn't prove
    # it because suite mode recorded nothing about host state. Now the
    # two runs of each query happen in two temporally-separated PASSES,
    # each pass admitted by the same ~10 s capacity probe the mp bench
    # uses (bounded wait, then proceed), and every pass's measured
    # slowdown factor is recorded in the JSON — so a uniformly inflated
    # round is attributable (probe factor high) or a real regression
    # (probe factor ~1, walls up).
    gate_cores = min(int(args.cpus), os.cpu_count() or int(args.cpus))
    probe_factors: list[float] = []
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    n_rows: dict[str, int] = {}
    for pass_i in range(2):
        probe_factors.append(
            _wait_host_quiet(gate_cores, attempts=args.probe_attempts)
        )
        print(
            f"# pass {pass_i}: capacity probe slowdown {probe_factors[-1]} "
            f"({gate_cores} cores)",
            file=sys.stderr, flush=True,
        )
        for name in HEADLINE:
            fn = harness.QUERIES[name]
            spark.catalog.clearCache()
            t0 = time.time()
            df = fn(spark, sf_dir)
            n_rows[name] = df.count()
            runs[name].append(round(time.time() - t0, 3))
        print(
            f"# pass {pass_i} walls: "
            + " ".join(f"{k}={v[pass_i]}" for k, v in runs.items()),
            file=sys.stderr,
        )
    timings = {name: min(w) for name, w in runs.items()}
    cold = {name: w[0] for name, w in runs.items()}
    for name in HEADLINE:
        print(f"# {name}: {n_rows[name]} rows in {runs[name]}s", file=sys.stderr)

    workdir = tempfile.mkdtemp(prefix="benchpipe")
    pages = _make_input(spark, args.docs, workdir)
    from logprocessor_spark.job import run_pipeline

    probe_factors.append(
        _wait_host_quiet(gate_cores, attempts=args.probe_attempts)
    )
    pipe_walls = []
    for i in range(2):
        spark.catalog.clearCache()
        t0 = time.time()
        res = run_pipeline(
            spark, pages, os.path.join(workdir, f"out{i}"), run_id=f"bench{i}"
        )
        pipe_walls.append(round(time.time() - t0, 3))
    pipe_wall = min(pipe_walls)
    timings["pipeline_e2e"] = pipe_wall
    cold["pipeline_e2e"] = pipe_walls[0]
    print(f"# pipeline_e2e: {res.rows_in} docs in {pipe_walls}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "e2e_suite_wall",
        "value": total,
        "unit": "sec",
        "protocol": (
            "per-entry best-of-2 across two capacity-gated passes "
            "(steady-state min; r1/r2 were single-shot, r3/r4 back-to-back)"
        ),
        "queries": timings,
        "queries_cold": cold,
        "value_cold": round(sum(cold.values()), 3),
        "sf": _sf_of(sf_dir),
        "pipeline": {
            "docs": res.rows_in,
            "wall_sec": round(pipe_wall, 2),
            "docs_per_sec": round(res.rows_in / pipe_wall, 1),
        },
        "cpus": int(args.cpus),
        # host-capacity probe: per-worker canary slowdown at gate time for
        # [query pass 0, query pass 1, pipeline]; 1.0 = full capacity,
        # >1.25 = the host withheld cores despite the bounded wait, so
        # wall inflation this round is attributable to the host
        "capacity_probe_slowdown_per_pass": probe_factors,
        "capacity_gate_cores": gate_cores,
    }))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--mode",
        choices=["suite", "pipeline", "scaling-mp"],
        default="suite",
    )
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--cpus", default=DEFAULT_CPUS)
    ap.add_argument("--master", default=f"local[{DEFAULT_CPUS}]")
    ap.add_argument("--docs", type=int, default=None)
    ap.add_argument("--pages", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--partitions", default=None,
                    help="comma-separated dt values (pipeline mode)")
    ap.add_argument("--nproc", type=int, default=4)
    ap.add_argument("--base-cores", type=int, default=8)
    ap.add_argument(
        "--probe-attempts", type=int, default=6,
        help="suite mode: max capacity-probe retries per pass (45 s apart) "
        "before proceeding anyway with the factor recorded",
    )
    args = ap.parse_args()
    if args.docs is None:
        # scaling needs enough parallel work to dominate fixed costs
        args.docs = 4_000_000 if args.mode == "scaling-mp" else PIPELINE_DOCS
    {
        "suite": mode_suite,
        "pipeline": mode_pipeline,
        "scaling-mp": mode_scaling_mp,
    }[args.mode](args)


if __name__ == "__main__":
    main()
