"""In-process probe of the broadcast matcher kernel, without Spark.

Generates a benchmark seed's grid and trips with ``perfbench/inputs.py``,
splits the trips into the benchmark's task chunks (Spark's hash
partitioning of ``trip_id``: ``pmod(murmur3(trip_id, 42), tasks)``, each
chunk trip- and seq-sorted as ``sortWithinPartitions`` leaves it) and
solves every chunk with ``matcher._solve_trips`` against a cold predicate
cache, once per output mode. It prints, per mode, the minimum over the
repeats of each stage's seconds summed over the chunks, and a digest of
the output frames, so two checkouts compare bit for bit and stage by
stage:

    python tools/kernel_probe.py --seed 1
    python tools/kernel_probe.py --seed 2 --fanout 3 --drop-unanchored

Stages: ``candidates`` (``_broadcast_trips``), ``settle`` (the compiled
bounded Dijkstra), ``weigh`` (``weigh_flat`` without ``settle``),
``viterbi``, ``emit`` (the rest of ``_solve_trips``) and ``solve`` (all of
``_solve_trips``). Run it from the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

MODES = ("discretized", "interpolated", "gate_union")
_M = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M


def _mix_h1(h1: int, k1: int) -> int:
    k1 = _rotl((k1 * 0xCC9E2D51) & _M, 15) * 0x1B873593 & _M
    h1 = _rotl(h1 ^ k1, 13)
    return (h1 * 5 + 0xE6546B64) & _M


def spark_hash(s: str, seed: int = 42) -> int:
    """Spark's ``hash()`` of a string (Murmur3_x86_32.hashUnsafeBytes:
    whole little-endian words, then each tail byte mixed on its own)."""
    b = s.encode()
    n = len(b) - len(b) % 4
    h1 = seed
    for i in range(0, n, 4):
        h1 = _mix_h1(h1, int.from_bytes(b[i:i + 4], "little"))
    for i in range(n, len(b)):
        h1 = _mix_h1(h1, (b[i] if b[i] < 128 else b[i] - 256) & _M)
    h1 ^= len(b)
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & _M
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & _M
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= 1 << 31 else h1


def task_chunks(trips: pd.DataFrame, tasks: int) -> list[pd.DataFrame]:
    part = {t: spark_hash(t) % tasks for t in trips["trip_id"].unique()}
    p = trips["trip_id"].map(part).values
    return [trips[p == k].sort_values(["trip_id", "seq"], kind="stable")
            for k in range(tasks)]


def digest(frames: list[pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for df in frames:
        for name in df.columns:
            v = df[name].values
            h.update(name.encode())
            if v.dtype == object:
                h.update("\0".join(map(str, v)).encode())
            else:
                h.update(str(v.dtype).encode())
                h.update(np.ascontiguousarray(v).tobytes())
    return h.hexdigest()[:16]


class _Timed:
    """Wraps ``module.name`` so each call adds its wall time to ``acc``."""

    def __init__(self, module, name: str, acc: dict, stage: str):
        self.module, self.name = module, name
        self.real = getattr(module, name)
        real = self.real

        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return real(*a, **k)
            finally:
                acc[stage] += time.perf_counter() - t0

        setattr(module, name, timed)

    def restore(self) -> None:
        setattr(self.module, self.name, self.real)


def run_mode(g, chunks, opts, mode: str, repeat: int):
    from routers_spark.graph import dijkstra
    from routers_spark.matching import matcher

    best: dict[str, float] = {}
    out = None
    for _ in range(repeat):
        acc = dict.fromkeys(("candidates", "settle", "weigh", "viterbi",
                             "solve"), 0.0)
        wraps = [_Timed(dijkstra, "settle_many", acc, "settle"),
                 _Timed(matcher, "weigh_flat", acc, "weigh"),
                 _Timed(matcher, "viterbi", acc, "viterbi")]
        frames = []
        try:
            for c in chunks:
                dijkstra.GLOBAL_PREDICATE_CACHE.__init__()  # cold arena
                t0 = time.perf_counter()
                trips = matcher._broadcast_trips(
                    c["trip_id"].values, c["seq"].values, c["lon"].values,
                    c["lat"].values, g, opts)
                t1 = time.perf_counter()
                frames.append(matcher._solve_trips(g, trips, opts, mode))
                t2 = time.perf_counter()
                acc["candidates"] += t1 - t0
                acc["solve"] += t2 - t1
        finally:
            for w in wraps:
                w.restore()
        acc["weigh"] -= acc["settle"]
        acc["emit"] = acc["solve"] - acc["weigh"] - acc["settle"] \
            - acc["viterbi"]
        for k, v in acc.items():
            best[k] = min(best.get(k, v), v)
        out = frames
    return best, digest(out), sum(len(f) for f in out)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--tasks", type=int,
                   default=max(1, len(os.sched_getaffinity(0)) - 1),
                   help="task chunks (the benchmark runs cores - 1)")
    p.add_argument("--trips", type=int, default=800,
                   help="trips of the seed (the match workload walks 800)")
    p.add_argument("--repeat", type=int, default=5)
    p.add_argument("--modes", default=",".join(MODES))
    p.add_argument("--fanout", type=int, default=None,
                   help="MatchOptions.selective_fanout")
    p.add_argument("--drop-unanchored", action="store_true")
    args = p.parse_args(argv)

    import inputs as I

    from routers_spark.graph.packed import build_packed_graph
    from routers_spark.matching.matcher import MatchOptions

    nodes, edges = I.grid_network()
    trips = I.walk_trips(nodes, edges, args.trips, args.seed)
    chunks = task_chunks(trips, args.tasks)
    g = build_packed_graph(nodes, edges)
    opts = MatchOptions(selective_fanout=args.fanout,
                        drop_unanchored=args.drop_unanchored)
    print(f"seed {args.seed}: {len(trips)} points in {args.tasks} chunks of "
          f"{[c['trip_id'].nunique() for c in chunks]} trips; min of "
          f"{args.repeat}, seconds summed over the chunks")
    for mode in args.modes.split(","):
        best, dig, rows = run_mode(g, chunks, opts, mode, args.repeat)
        stages = " ".join(f"{k} {best[k]:.4f}" for k in (
            "candidates", "settle", "weigh", "viterbi", "emit"))
        print(f"{mode:12s} solve {best['solve']:.4f}  [{stages}]  "
              f"rows {rows} digest {dig}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
