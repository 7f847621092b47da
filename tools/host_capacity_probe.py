"""Host compute-capacity probe: how many REAL cores does this (virtual)
host deliver as guest load rises?

N concurrent single-thread sha256 loops, one pinned per distinct core,
N in (1, 8, 16, 24, 32). Pure userspace ALU work, zero memory/IO
pressure, zero JVM involvement. ``effective_cores_at_K_busy`` =
K * t(1) / mean t(K).

Why this exists: scaling measurements (bench.py --mode scaling-mp and
the single-JVM cores ladder before it) ran into a wall that is NOT the engine. On this sandbox the
same pipeline JVM, taskset-pinned to its own disjoint cpuset, burns
2.2x more CPU-seconds per document as soon as TOTAL host-busy cores
exceed ~16 (measured: 1-way and 2-way concurrent 8-core JVMs run at
solo speed; 3-way uniformly doubles per-JVM CPU; per-thread accounting
puts the inflation in executor task threads, not GC/JIT; steal stays
~1-2%; a fixed-work canary pinned to an idle core keeps full speed
while 24 cores are busy). That signature — per-cycle throughput halves
for cache-heavy work beyond 16 busy vCPUs, while small-working-set ALU
work (this probe) degrades only ~19% at 32 busy — is host SMT: 32
vCPUs backed by ~16 physical cores, sibling threads sharing L1/L2.

Consequence: a 4x throughput scale-up from 8 to 32 busy cores is
physically unavailable from this host, for ANY engine. The honest
engine-scaling evidence therefore uses parallelism pairs whose TOTAL
busy cores stay <= 16 (e.g. local[2] -> 4 x local[2], or local[2] ->
local[8]), plus CPU-second accounting at the higher pair to show the
engine splits work pro-rata (see BENCH/BASELINE.md).

Usage::

    python tools/host_capacity_probe.py   # ~2 min, host must be idle
"""

import json
import statistics
import subprocess
import sys

CANARY = (
    "import time,hashlib;t0=time.time();x=b'x'*65536\n"
    "for i in range(4000): x=hashlib.sha256(x).digest()*2048\n"
    "print(round(time.time()-t0,4))"
)


def main() -> None:
    res = {}
    for n in (1, 8, 16, 24, 32):
        procs = [
            subprocess.Popen(
                ["taskset", "-c", str(c), sys.executable, "-c", CANARY],
                stdout=subprocess.PIPE,
                text=True,
            )
            for c in range(n)
        ]
        times = [float(p.communicate()[0]) for p in procs]
        res[n] = {
            "mean": round(statistics.mean(times), 3),
            "max": round(max(times), 3),
            "min": round(min(times), 3),
        }
        print(n, res[n], flush=True)
    base = res[1]["mean"]
    print(
        json.dumps(
            {
                "per_worker_slowdown_at_32": round(res[32]["mean"] / base, 3),
                "effective_cores_at_32_busy": round(32 * base / res[32]["mean"], 1),
                "effective_cores_at_24_busy": round(24 * base / res[24]["mean"], 1),
                "effective_cores_at_16_busy": round(16 * base / res[16]["mean"], 1),
                "effective_cores_at_8_busy": round(8 * base / res[8]["mean"], 1),
            }
        )
    )


if __name__ == "__main__":
    main()
