"""Realtime matching pipeline — the reference's orchestrator/matcher loop
(SURVEY §3.2) as a per-vehicle state machine + Structured Streaming wrapper.

Reproduced semantics:
  R7  lane gate: non-monotonic timestamps dropped as stale_or_duplicate
      (orchestrator.rs:517-530)
  R8  gap/teleport cut: walk history newest→oldest, stop at the first
      Δt > 120 s; context window 10 (orchestrator.rs:626-668)
  R1/R2 push + incremental solve over the retained window
  R4  convergence cut: layers at or before the convergence point are final
      and the state is truncated behind them (bin/matcher.rs:200-207)
  R11 revision: monotonically increasing solve counter per vehicle;
      consumers resolve competing layers by max revision (event.rs:99-115)
  R9  partitioning by splitmix64(vehicle) % 1024 (partition.rs:43-45)

The state machine is a pure function (``VehicleMatcherState.process``) so
the streaming ≡ batch property is testable without a streaming runtime
(tests mirror libs/routers_transition/tests/streaming.rs:68-87); the Spark
wrapper runs it under ``applyInPandasWithState``.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field

import pandas as pd

from routers_spark.config import CONTEXT_WINDOW, GAP_SECONDS
from routers_spark.graph.packed import broadcast_graph
from routers_spark.matching.matcher import (
    MatchOptions,
    candidates_for_points,
    solve_trip,
)
from routers_spark.matching.trellis import Trellis, Unreachable


# process-wide LRU of weighed boundary matrices, keyed by ((graph key,
# options), src observation position, tgt observation position) —
# candidates (and so the matrix) are a pure function of graph, options and
# positions, letting vehicles even share entries. Bounded; survives
# micro-batches in the long-lived python worker (no state-store
# serialization needed).
_BOUNDARY_LRU: OrderedDict = OrderedDict()
_BOUNDARY_LRU_CAP = 65536


def _trim_boundary_lru() -> None:
    while len(_BOUNDARY_LRU) > _BOUNDARY_LRU_CAP:
        _BOUNDARY_LRU.popitem(last=False)


def reconcile(persisted: list[tuple[int, float, float]] | None,
              history: list[tuple[int, float, float]]):
    """R5 Continuation::reconcile (continuation.rs:32-57): a persisted
    trip's observations vs the committed history (chronological, oldest
    first). Overlap = the LARGEST k with ``persisted[-k:] == history[:k]``
    — exact Origin equality, timestamp AND position: a layer sharing a
    timestamp but not a position was solved against contradicted data and
    must not resume.

    Returns ('resume', kept_suffix, fresh) — the trip trimmed to the
    overlap (trip.tail(overlap)) plus the unseen observations — or
    ('restart', [], history) when nothing overlaps."""
    if not persisted:
        return ("restart", [], list(history))
    bound = min(len(persisted), len(history))
    for k in range(bound, 0, -1):  # (0..=bound).rev().find
        if persisted[len(persisted) - k:] == list(history[:k]):
            return ("resume", list(persisted[len(persisted) - k:]),
                    list(history[k:]))
    return ("restart", [], list(history))


@dataclass
class VehicleMatcherState:
    """Per-vehicle streaming state: retained raw observations + solve
    bookkeeping. Serializable as plain tuples (for the Spark state store)."""

    history: list[tuple[int, float, float]] = field(default_factory=list)
    last_ts: int = -1
    revision: int = 0
    emitted_through: int = -1  # last finalized ts (convergence watermark)
    graph_key: str = ""  # graph epoch the state last solved against (R6)

    def to_tuple(self):
        return (
            [list(h) for h in self.history],
            self.last_ts,
            self.revision,
            self.emitted_through,
            self.graph_key,
        )

    @classmethod
    def from_tuple(cls, t):
        return cls([tuple(h) for h in t[0]], t[1], t[2], t[3],
                   t[4] if len(t) > 4 else "")

    def reconcile_with(self, history: list[tuple[int, float, float]]):
        """Apply R5 against a committed history: on resume the retained
        window trims to the overlap; on restart the state is cleared.
        Returns the fresh observations to feed :meth:`process`."""
        kind, kept, fresh = reconcile(self.history, history)
        self.history = kept
        if kind == "restart":
            self.last_ts = -1
            self.emitted_through = -1
        else:
            self.last_ts = kept[-1][0] if kept else -1
        return fresh

    def process(self, graph, observations: list[tuple[int, float, float]],
                opts: MatchOptions | None = None,
                gap_seconds: int = GAP_SECONDS,
                context_window: int = CONTEXT_WINDOW,
                graph_key: str = "") -> list[dict]:
        """Feed (ts_us, lon, lat) observations; returns emitted layer rows
        {ts_us, edge_id, matched_lon, matched_lat, revision, final,
        downgraded}.

        R6 foreign-shard downgrade (matcher/entity.rs:253-258,
        bin/matcher.rs:126-132): when the state last solved against a
        DIFFERENT graph epoch, the solve restarts from the raw origins —
        which is exactly what this state machine always does (it retains
        only raw observations, never graph-entity references), so the only
        observable effect is the emitted rows carrying ``downgraded=True``."""
        opts = opts or MatchOptions(drop_unanchored=True)
        downgraded = bool(self.graph_key and graph_key
                          and self.graph_key != graph_key)
        if graph_key:
            self.graph_key = graph_key

        fresh = []
        for ts, lon, lat in sorted(observations):
            if ts <= self.last_ts:
                continue  # R7 stale_or_duplicate
            fresh.append((ts, lon, lat))
            self.last_ts = ts
        if not fresh:
            return []
        self.history.extend(fresh)

        # R8: retain <= context_window, cut at the first gap walking
        # newest -> oldest
        kept = [self.history[-1]]
        for prev, cur in zip(self.history[-2::-1], self.history[::-1]):
            if cur[0] - prev[0] > gap_seconds * 1_000_000:
                break
            kept.append(prev)
            if len(kept) >= context_window:
                break
        kept.reverse()
        self.history = kept

        # R1: candidates per retained point (unanchored points dropped —
        # bin/matcher.rs:143-157)
        _, lons, lats = zip(*kept)
        cands = candidates_for_points(graph, lons, lats, opts.search_distance,
                                      opts.emission_error, opts.costing)
        anchored = [k for k, c in enumerate(cands) if len(c["edge_row"])]
        if not anchored:
            return []
        layers = [cands[k] for k in anchored]
        ts_kept = [kept[k][0] for k in anchored]
        pos_kept = [kept[k][1:] for k in anchored]

        # R2 incremental weighing: boundary matrices are keyed by the
        # observation-pair positions in a process-wide LRU, so a micro-batch
        # re-weighs only the boundaries its fresh points introduced
        # (weigh/mod.rs:160-168 pending-only recompute; the retained
        # interior boundaries hit the cache)
        # the options shape the matrices too: two queries on one graph
        # share entries only under equal options
        gtok = (self.graph_key or f"uid:{graph.uid}",  # never id(): ids recycle
                repr(opts))
        keys = [(gtok, pos_kept[k], pos_kept[k + 1])
                for k in range(len(layers) - 1)]
        result = solve_trip(graph, layers, opts, boundary_keys=keys,
                            boundary_cache=_BOUNDARY_LRU)
        _trim_boundary_lru()
        if result["status"] != "matched":
            return []
        self.revision += 1

        # R4 convergence cut on the matrices solve_trip just weighed —
        # no second boundary-weigh pass (weigh once per micro-batch)
        try:
            conv = Trellis.of([l["emission"] for l in layers],
                              result["mats"]).convergence()
        except Unreachable:
            conv = None
        out = []
        for k, node in enumerate(result["path"]):
            ts = ts_kept[k]
            final = conv is not None and k <= conv
            out.append({
                "ts_us": ts,
                "edge_id": int(graph.edge_id[layers[k]["edge_row"][node]]),
                "matched_lon": float(layers[k]["px"][node]),
                "matched_lat": float(layers[k]["py"][node]),
                "revision": self.revision,
                "final": bool(final),
                "downgraded": downgraded,
            })
        if conv is not None and conv > 0:
            # truncate state behind the convergence point (keep the
            # converged layer itself as the resume anchor)
            cut_ts = ts_kept[conv]
            self.history = [h for h in self.history if h[0] >= cut_ts]
            self.emitted_through = max(self.emitted_through, cut_ts)
        return out

OUTPUT_SCHEMA = (
    "vehicle_id long, ts_us long, edge_id long, matched_lon double, "
    "matched_lat double, revision long, final boolean, downgraded boolean"
)
STATE_SCHEMA = (
    "history array<array<double>>, last_ts long, revision long, "
    "emitted_through long, graph_key string"
)


def match_stream(events_df, nodes_df=None, edges_df=None,
                 opts: MatchOptions | None = None,
                 registry=None):
    """Structured Streaming wrapper: events_df is a streaming DataFrame of
    (vehicle_id long, ts_us long, lon double, lat double). Output: matched
    layers with revision + finality. Partitioning uses the stable splitmix
    contract, not Spark's default hash (O13).

    Graph distribution, two modes, both through ``graph.packed``'s one
    worker memo:
      - ``nodes_df``/``edges_df``: ``broadcast_graph`` — fixed for the
        life of the query (a Spark broadcast is captured at plan time).
        States carry the graph's content digest, so a restart on the same
        graph does not downgrade them.
      - ``registry`` (:class:`routers_spark.streaming.epoch.GraphRegistry`):
        the R6-complete LIVE mode — each task resolves the registry's
        CURRENT epoch and hydrates that graph, so a mid-stream ``publish``
        takes effect from the next micro-batch; states that last solved
        under the old epoch restart from raw origins and flag their
        transition batch ``downgraded`` (matcher/entity.rs:253-258)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.streaming.state import GroupStateTimeout

    from routers_spark.functions.hashing import partition_of_np

    if registry is None:
        handle = broadcast_graph(nodes_df, edges_df)
    opts = opts or MatchOptions(drop_unanchored=True)

    def update(key, pdfs, state):
        if registry is not None:
            from routers_spark.streaming.epoch import task_graph

            epoch, graph = task_graph(registry)
            gkey = f"epoch:{epoch}"
        else:
            graph = handle.graph()
            gkey = handle.key
        vehicle = key[0]
        if state.exists:
            st = VehicleMatcherState.from_tuple(state.get)
            st.history = [(int(a), b, c) for a, b, c in st.history]
        else:
            st = VehicleMatcherState()
        obs = []
        for pdf in pdfs:
            obs += [(int(t), float(lo), float(la)) for t, lo, la in
                    zip(pdf["ts_us"], pdf["lon"], pdf["lat"])]
        rows = st.process(graph, obs, opts, graph_key=gkey)
        state.update((
            [[float(a), b, c] for a, b, c in st.history],
            st.last_ts, st.revision, st.emitted_through, st.graph_key,
        ))
        if rows:
            out = pd.DataFrame(rows)
            out.insert(0, "vehicle_id", vehicle)
            yield out

    # stable splitmix partition via the pinned numpy kernel — NOT the SQL
    # wrapping-multiply form, which raises under a vanilla ANSI-on session
    # (the Arrow UDF wraps in uint64 regardless of session conf)
    @pandas_udf("long")
    def part_of(v: pd.Series) -> pd.Series:
        return pd.Series(partition_of_np(v.values).astype("int64"))

    keyed = events_df.withColumn(
        "part", part_of(F.col("vehicle_id"))
    ).repartition("part")
    return keyed.groupBy("vehicle_id").applyInPandasWithState(
        update, outputStructType=OUTPUT_SCHEMA, stateStructType=STATE_SCHEMA,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )
