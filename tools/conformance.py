"""Conformance-style latency stats for the matcher — the reference's own
measurement methodology reproduced (conformance/src/metrics.rs:14-73:
per-call durations, nearest-rank percentiles; conformance/conformance.toml:
5-11: warm-up iterations before timing).

Runs the in-process matcher kernel (candidates → weigh → Viterbi →
collapse) on fixture traces, N timed iterations after W warm-ups, and
prints mean/median/p15/p25/p75/p85/min/max per trace plus points/second —
the reference's conformance table shape. This measures the KERNEL the way
the reference's harness measures its matcher (single process, warm cache);
the distributed wall numbers live in bench.py / tools/scaling_job.py.

Usage: python tools/conformance.py [iters] [warmup]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


def nearest_rank(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile (metrics.rs:30-46)."""
    n = len(sorted_vals)
    k = max(1, int(np.ceil(p / 100.0 * n)))
    return sorted_vals[k - 1]


def main() -> None:
    from routers_spark.fixtures.roads import grid_network, walk_trips
    from routers_spark.graph.packed import build_packed_graph
    from routers_spark.matching.matcher import (
        MatchOptions,
        candidates_for_points,
        solve_trip,
    )

    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    warmup = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    if iters < 1:
        sys.exit("usage: conformance.py [iters >= 1] [warmup >= 0]")

    nodes, edges = grid_network(40)
    g = build_packed_graph(nodes, edges)
    opts = MatchOptions()

    # three traces echoing the reference's ventura (~139 pts) /
    # lax_lynwood (~205 pts) / sydney (15 pts) size spread
    traces = {}
    for name, n_pts, seed in (("short", 15, 3), ("mid", 139, 1),
                              ("long", 205, 2)):
        t = walk_trips(nodes, edges, n_trips=1, points_per_trip=n_pts,
                       seed=seed)
        traces[name] = (t["lon"].values, t["lat"].values)

    out = {}
    total_pts = 0
    total_sec = 0.0
    for name, (lons, lats) in traces.items():
        for _ in range(warmup):
            layers = candidates_for_points(g, lons, lats,
                                           opts.search_distance,
                                           opts.emission_error)
            solve_trip(g, layers, opts)
        durs = []
        for _ in range(iters):
            t0 = time.perf_counter()
            layers = candidates_for_points(g, lons, lats,
                                           opts.search_distance,
                                           opts.emission_error)
            r = solve_trip(g, layers, opts)
            durs.append(time.perf_counter() - t0)
        assert r["status"] == "matched", (name, r["status"])
        durs.sort()
        ms = [d * 1000 for d in durs]
        out[name] = {
            "points": int(len(lons)),
            "mean_ms": round(float(np.mean(ms)), 3),
            "median_ms": round(nearest_rank(ms, 50), 3),
            "p15_ms": round(nearest_rank(ms, 15), 3),
            "p25_ms": round(nearest_rank(ms, 25), 3),
            "p75_ms": round(nearest_rank(ms, 75), 3),
            "p85_ms": round(nearest_rank(ms, 85), 3),
            "min_ms": round(ms[0], 3),
            "max_ms": round(ms[-1], 3),
        }
        total_pts += len(lons) * iters
        total_sec += sum(durs)

    print(json.dumps({
        "iters": iters, "warmup": warmup, "traces": out,
        "points_per_sec": round(total_pts / total_sec, 1),
    }))


if __name__ == "__main__":
    main()
