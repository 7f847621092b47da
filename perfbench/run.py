"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload daily --seed 7 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run starts one
SparkSession on ``local[<nproc>]`` and sets the workload up once
(``setup_s`` is process start to the end of set-up), runs the workload's
fixed warm-up, then times a closed loop of ops with one caller for
``--seconds`` of op wall time, in whole rounds. Times are reported scaled
by a host-speed reference taken around every op (see REF_S), and as
measured in the details. Every op's output is checked outside the timer.
With ``--trace 1`` the run records spans around the program's layer
boundaries and Spark's event log, and prints per-layer metrics instead of
end-to-end ones.

Everything the run writes stays under ``.perfbench/`` in the checkout;
the details of each run (per-op latencies, warm-up curve, spans, host and
configuration) go to ``.perfbench/results/``. The last line on stdout is
the JSON summary.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEAP = "2g"
HEAP_GCS = 5
# The JVM compiles with C1 only, into a code cache large enough that it is
# never flushed. With the default tiered C2 a pipeline op keeps getting
# faster for 25+ ops (3.1 s -> 1.5 s for daily over about a minute, on 4
# vCPUs) while the compilers use more than a core, so a run that fits the
# time budget times a point on that curve that moves with host load. C1
# reaches its plateau by the third op and leaves half the CPU idle. With
# C1's default 48 MB cache the cache filled and was flushed after ~12 ops,
# and the next ops were 1.7x slower.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"
# Host-speed reference: a JDK parallel sort of REF_N seeded ints, timed in
# the driver JVM just before and just after every op. The host is shared
# and its speed drifts (whole runs at half speed, with or without steal):
# over ten runs the median op latency spread by 0.37 of its median. The
# norm_* metrics divide each op by the mean of its two reference times and
# scale to a host on which the reference takes REF_S; over eight runs on
# a drifting host they spread by 0.09 where raw latency spread by 0.33.
# The reference uses no program code and no Spark.
REF_N = 2_000_000
REF_S = 0.15
# reference samples, discarded, that get its code compiled before use
REF_WARMUP = 5
# the warm-up is reported as settled when its last SETTLE_ROUNDS rounds
# agree within SETTLE_TOL (spread over the faster one)
SETTLE_ROUNDS = 2
SETTLE_TOL = 0.10


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _host(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_pct": 100.0 * d[7] / total if len(d) > 7 else None,
        "busy_pct": 100.0 * (total - d[3] - d[4]) / total,
        "loadavg": load,
    }


def _env(work: str) -> None:
    """Everything the JVM and its Python workers write stays in ``work``;
    workers import the program from the checkout."""
    for sub in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _start_spark(work: str, trace: bool):
    from logprocessor_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData {JIT_OPTS}"
        ),
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _heap_live_mb(spark) -> float:
    """JVM heap in use after full GCs. Python-side handles to JVM
    objects are released first; one GC can leave objects that only a later
    cycle, or Spark's context cleaner in between, frees, so collect
    HEAP_GCS times and keep the lowest figure."""
    gc.collect()
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(HEAP_GCS):
        jvm.java.lang.System.gc()
        time.sleep(0.1)
        used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def _jit_ms(spark) -> int:
    """Milliseconds the JVM's JIT compilers have spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getCompilationMXBean().getTotalCompilationTime()


class HostRef:
    """Times the host-speed reference (see REF_S). Only a number comes
    back to Python, so the reference leaves nothing live on the heap."""

    def __init__(self, spark):
        self.jvm = spark._jvm

    def sample(self) -> float:
        t0 = time.perf_counter()
        self.jvm.java.util.SplittableRandom(1).ints(REF_N).parallel().sorted().sum()
        return time.perf_counter() - t0


class Runner:
    """Runs ops of one workload; every op's output is checked outside the
    timer and counted, wrong ones as failed."""

    def __init__(self, wl, spark, ref: HostRef, prefix: str = ""):
        self.wl = wl
        self.spark = spark
        self.ref = ref
        self.prefix = prefix
        self.i = 0
        self.ops: list[dict] = []  # timed ops
        self.attempted = 0
        self.failed = 0

    def run_op(self, phase: str, keep: bool) -> dict:
        wl, i = self.wl, self.i
        self.i += 1
        wl.prepare(i)
        op_id = f"{self.prefix}{phase}-{i}"
        self.spark.sparkContext.setJobGroup(op_id, op_id, False)
        if wl.tracer is not None:
            wl.tracer.op_id = op_id
        # warm-up ops are not kept, so they need no reference
        ref0 = self.ref.sample() if keep else None
        cpu0 = _proc_stat()
        t0 = time.perf_counter()
        out = wl.op(i)
        wall = time.perf_counter() - t0
        host = _host(cpu0, _proc_stat())
        ref_s = (ref0 + self.ref.sample()) / 2 if keep else None
        if wl.tracer is not None:
            wl.tracer.op_id = None
        wl.stats = {}
        try:
            ok, items = wl.check(i, out)
        except Exception:  # a check that cannot run counts as wrong
            print(f"check of {op_id} raised:", file=sys.stderr)
            traceback.print_exc()
            ok, items = False, 0
        self.attempted += 1
        self.failed += 0 if ok else 1
        rec = {"op": op_id, "kind": wl.kind(i), "wall_s": wall,
               "norm_s": wall * REF_S / ref_s if keep else None, "ref_s": ref_s, "ok": bool(ok),
               "items": items, "stats": dict(wl.stats),
               "steal_pct": host["steal_pct"], "busy_pct": host["busy_pct"]}
        if keep:
            self.ops.append(rec)
        return rec

    def run_round(self, phase: str, keep: bool) -> tuple[list[dict], float]:
        recs = [self.run_op(phase, keep) for _ in range(self.wl.round_len)]
        return recs, sum(r["wall_s"] for r in recs)


def _settled(rounds: list[float]) -> bool:
    last = sorted(rounds[-SETTLE_ROUNDS:])
    return len(last) == SETTLE_ROUNDS and (last[-1] - last[0]) / last[0] <= SETTLE_TOL


def _warm_up(runner: Runner) -> tuple[list[dict], bool]:
    """Run the workload's warm-up rounds; returns the curve and whether
    its last rounds agreed."""
    curve, rounds = [], []
    for _ in range(runner.wl.warmup_rounds):
        recs, wall = runner.run_round("warm", keep=False)
        curve += [{k: r[k] for k in ("kind", "wall_s", "steal_pct")} for r in recs]
        rounds.append(wall)
    return curve, _settled(rounds)


def _round_rates(ops: list[dict], round_len: int, key: str) -> list[float]:
    """Items per second of op time ``key``, for each whole round of ops."""
    out = []
    for k in range(0, len(ops) - round_len + 1, round_len):
        rnd = ops[k:k + round_len]
        out.append(sum(o["items"] for o in rnd) / sum(o[key] for o in rnd))
    return out


def main(argv=None) -> int:
    args = _parse_args(argv)
    # on SIGTERM unwind normally, so the JVM is stopped and the work dir
    # removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "logprocessor_spark")):
        print(f"no logprocessor_spark package under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    try:
        detail = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_path = os.path.join(
        base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(out_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    # a short run summary, then the result as the last line
    print(json.dumps({
        "warmup_ops": detail["warmup"]["ops"],
        "warmup_settled": detail["warmup"]["settled"],
        "timed_ops": len(detail["ops"]),
        "steal_pct": detail["host"]["steal_pct"],
        "details": os.path.relpath(out_path, ROOT),
    }))
    print(json.dumps({k: detail[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


def _run(args, work: str) -> dict:
    _env(work)
    from perfbench import layers, stats
    from perfbench.tracing import Tracer, instrument
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer() if args.trace else None
    spark = _start_spark(work, bool(args.trace))
    runners = []
    # seconds since process start at the end of each phase
    phases: dict[str, float] = {}

    def mark(phase: str) -> None:
        phases[phase] = time.time() - T_START

    try:
        session_start_s = time.time() - T_START
        mark("session")
        if tracer is not None:
            instrument(tracer)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        spark.sparkContext.setJobGroup("setup", "setup", False)
        wl.setup()
        setup_s = time.time() - T_START
        mark("setup")
        ref = HostRef(spark)
        for _ in range(REF_WARMUP):
            ref.sample()
        runner = Runner(wl, spark, ref)
        runners.append(runner)
        wl.prepare_checks()
        mark("prepare_checks")

        t_warm = time.perf_counter()
        curve, settled = _warm_up(runner)
        warmup_s = time.perf_counter() - t_warm
        mark("warmup")

        # timed window: whole rounds until --seconds of op wall; a traced
        # run interleaves traced and untraced rounds (traced, untraced,
        # untraced, traced, ...) so that the latency drift of a warming JVM
        # cancels out of the spans' measured cost
        cpu0, jit0 = _proc_stat(), _jit_ms(spark)
        timed, r = 0.0, 0
        while timed < args.seconds or (tracer is not None and r < 4):
            on = tracer is not None and r % 4 in (0, 3)
            if tracer is not None and not on:
                tracer.unwrap_all()
            recs, wall = runner.run_round("w", keep=True)
            for rec in recs:
                rec["traced"] = on
            if tracer is not None and not on:
                instrument(tracer)
            timed += wall
            r += 1
        host = _host(cpu0, _proc_stat())
        host["jit_ms_in_window"] = _jit_ms(spark) - jit0
        mark("window")
        heap_mb = _heap_live_mb(spark)
        stored = wl.stored_bytes_per_doc()
        mark("heap")

        extra = {}
        if tracer is not None:
            extra = wl.trace_extra()
            # layers this workload does not exercise, measured alongside
            name, rounds = wl.companion
            comp = WORKLOADS[name](spark, os.path.join(work, name), args.seed, tracer)
            comp.setup()
            comp.prepare_checks()
            crun = Runner(comp, spark, ref, prefix=f"{name}.")
            runners.append(crun)
            for _ in range(rounds):
                crun.run_round("w", keep=True)
            extra[name] = crun.ops
            comp.close()
            mark("traced_extras")
        config = {
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "heap_max_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        }
        wl.close()
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        _stop_spark(spark)
        mark("stop")

    ops = runner.ops
    walls = [o["wall_s"] for o in ops]
    tail_p = stats.tail_percentile(len(walls))
    tail = {"ops": len(walls), "percentile": tail_p,
            "value_s": stats.percentile(walls, tail_p) if tail_p else None}
    if tracer is not None:
        metrics = layers.per_layer(
            args.workload, work, tracer, ops, extra, session_start_s,
            warmup_s, len(curve), nproc,
        )
    else:
        metrics = {
            "norm_latency_s_p50": (stats.median([o["norm_s"] for o in ops]), "s"),
            f"norm_{wl.throughput}": (
                stats.median(_round_rates(ops, wl.round_len, "norm_s")), "1/s"),
            "stored_bytes_per_doc": (stored, "B"),
            "heap_live_mb": (heap_mb, "MB"),
            "setup_s": (setup_s, "s"),
        }
        if stored is None:
            del metrics["stored_bytes_per_doc"]
    failed = sum(r.failed for r in runners)
    return {
        "correct": failed == 0,
        "attempted": sum(r.attempted for r in runners),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "config": config,
        "phases": phases, "session_start_s": session_start_s,
        # the same figures as measured, before the host-speed scaling
        "raw": {"latency_s_p50": stats.median(walls),
                wl.throughput: stats.median(_round_rates(ops, wl.round_len, "wall_s")),
                "ref_s_p50": stats.median([o["ref_s"] for o in ops])},
        "warmup": {"ops": len(curve), "seconds": warmup_s, "settled": settled,
                   "curve": curve},
        # a tail is quoted only with >= 10 timed ops beyond it
        "latency_tail": tail,
        "ops": ops,
        "extra": extra,
        "spans": tracer.spans if tracer is not None else [],
    }


if __name__ == "__main__":
    sys.exit(main())
