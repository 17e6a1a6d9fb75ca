"""Scaling-efficiency evidence (north rule: throughput efficiency >= 0.8
from N to 4N executors).

No real cluster exists in this sandbox, so the same job runs at two
parallelism levels — local[8] and local[32] — on the same input (the
sanctioned proxy per BASELINE.md). Each level runs bench.py in a fresh
process (fresh JVM, no warm-cache bleed); efficiency =
(T_8 / T_32) / 4 per query and for the suite.

Usage: python tools/bench_scaling.py [sf_dir] [out_json]
Writes the two runs + efficiencies as JSON and prints a markdown table for
BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def _spin(spin_sec: float) -> int:
    # module-level: multiprocessing must pickle the worker fn
    import time

    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < spin_sec:
        for _ in range(10000):
            n += 1
    return n


def cpu_ceiling(n_lo: int = 8, n_hi: int = 32,
                spin_sec: float = 3.0) -> dict:
    """Same-window hardware calibration: pure-ALU spin (multiprocessing,
    no Spark, no memory pressure) at 8 and 32 workers. On a VM whose
    hypervisor can't actually deliver 32 concurrent cores, THIS ratio —
    not any Spark code path — bounds every 8->32 efficiency measured in
    the window (r5 measured the box itself at 0.72-0.81 on a session
    where the guest topology claimed 32 dedicated cores). Report raw
    suite efficiency next to this ceiling; never silently normalize."""
    import multiprocessing as mp

    agg = {}
    for workers in (n_lo, n_hi):
        with mp.Pool(workers) as p:
            agg[workers] = sum(p.map(_spin, [spin_sec] * workers))
    ratio = n_hi // n_lo
    return {
        f"spin_agg_{n_lo}": agg[n_lo], f"spin_agg_{n_hi}": agg[n_hi],
        f"cpu_ceiling_{n_lo}_to_{n_hi}":
            round(agg[n_hi] / agg[n_lo] / ratio, 3),
        "cpu_ceiling_8_to_32":
            round(agg[n_hi] / agg[n_lo] / ratio, 3),
    }


def run_level(cpus: int, sf_dir: str, n_trips: int, n_tile: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, "tools/scaling_job.py", str(n_trips), str(n_tile)],
        env=env, capture_output=True, text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bench_scaling.json"
    # 60k trips (600k GPS points): sized so solver work dominates the
    # ~2-3 s per-job pipeline constant (scan+shuffle+Arrow setup) at
    # local[32] — the job's own stated sizing rule; measured eff moved
    # 0.64 -> 0.75 from 30k -> 60k with the same code
    n_trips = int(sys.argv[3]) if len(sys.argv) > 3 else 60000
    n_tile = int(sys.argv[4]) if len(sys.argv) > 4 else 64_000_000
    # N and 4N worker counts; default 8->32. On a hypervisor session that
    # cannot deliver 32 concurrent cores (cpu_ceiling << 1 on plain ALU
    # work), 4->16 exercises the same N->4N contract inside what the
    # host actually provides — pass SPARK_GRAFT_SCALE_LEVELS=4,16.
    levels = os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "8,32")
    n_lo, n_hi = (int(x) for x in levels.split(","))
    assert n_hi == 4 * n_lo, "north-rule contract is N -> 4N"
    ceil = cpu_ceiling(n_lo, n_hi)
    r8 = run_level(n_lo, sf_dir, n_trips, n_tile)
    r32 = run_level(n_hi, sf_dir, n_trips, n_tile)
    effs = {
        "match": round((r8["match_sec"] / r32["match_sec"]) / 4.0, 3),
        "tile": round((r8["tile_sec"] / r32["tile_sec"]) / 4.0, 3),
    }
    t8 = r8["match_sec"] + r8["tile_sec"]
    t32 = r32["match_sec"] + r32["tile_sec"]
    result = {
        "sf": sf_dir,
        "levels": [n_lo, n_hi],
        "local8": r8,
        "local32": r32,
        "per_stage_efficiency": effs,
        "overall_efficiency": round((t8 / t32) / 4.0, 3),
        "cpu_calibration": ceil,
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)

    print(f"| stage | local[{n_lo}] s | local[{n_hi}] s | efficiency (T_N/T_4N)/4 |")
    print("|---|---|---|---|")
    print(f"| map match ({r8['match_rows']} rows) | {r8['match_sec']} |"
          f" {r32['match_sec']} | {effs['match']} |")
    print(f"| tile fast path JVM ({r8['tile_rows']} rows) | {r8['tile_sec']} |"
          f" {r32['tile_sec']} | {effs['tile']} |")
    print(f"| **total (match + fast tile)** | {t8:.2f} | {t32:.2f} |"
          f" **{result['overall_efficiency']}** |")
    print(f"\nnorth-star rows/s: local[8]={r8['rows_per_sec']} "
          f"local[32]={r32['rows_per_sec']}")


if __name__ == "__main__":
    main()
