"""The numpy boundary weigher: the fast corpus oracle of the compiled one
(``routers_spark/matching/weigh.py``), which must equal it bit for bit
(same IEEE-754 results, same u32 truncations); ``tests/test_weigh_vec.py``
holds the per-pair scalar oracle both must equal.

numpy over ALL (src, tgt) pairs of every boundary handed in at once, with
a fixed number of numpy calls per call, not per boundary or root:

  1. one ragged cross product enumerates every boundary's pairs and
     classifies them direct / same-edge / standard (candidate/entry.rs:
     92-106)
  2. every unique (root, leaf) lane of the call is located in the
     predicate cache's flat arena, then all lanes walk their parent
     pointers together via integer gathers (expansion.rs:63-97)
  3. path edge rows via one searchsorted over the (src,dst) pair keys (G2)
  4. route lengths, headings, angular complexity and the cost decay as flat
     ragged-array passes (the lengths and bearings of a path's own
     segments once per path, not per pair); np.add.at keeps the
     reference's sequential left-to-right float accumulation
  5. one scatter of every cost into one flat buffer the matrices view
"""

from __future__ import annotations

import numpy as np

from routers_spark.config import (
    COST_DAMPING,
    COST_PRECISION,
    MAX_WEIGHT,
    MIN_HEADING_DIST_M,
    NO_EDGE,
)
from routers_spark.functions.geo import (
    bearing_deg_np,
    haversine_m_np,
    wrap_angle_np,
)
from routers_spark.functions.ragged import ragged_within
from routers_spark.matching.weigh import _fanout_mask

_EPS = 1e-6


def weigh_flat(graph, cache, edge_row, frac, px, py, lo, mid, hi,
               fanout: int | None = None, profile=None,
               costing=None) -> tuple[np.ndarray, np.ndarray]:
    """Transition matrices of many boundaries over one candidate table
    (per candidate: ``edge_row``, ``frac``, ``px``, ``py``). Boundary k
    pairs the candidates ``lo[k]:mid[k]`` (its A layer) with
    ``mid[k]:hi[k]`` (its B layer). Returns ``(flat, moff)``: boundary k's
    row-major u32 matrix is ``flat[moff[k]:moff[k + 1]]``, NO_EDGE where
    unreachable."""
    lo, mid, hi = (np.asarray(a, dtype=np.int64) for a in (lo, mid, hi))
    m, n = mid - lo, hi - mid
    moff = np.zeros(len(lo) + 1, dtype=np.int64)
    np.cumsum(m * n, out=moff[1:])
    flat = np.full(int(moff[-1]), np.uint32(NO_EDGE), dtype=np.uint32)

    # ---- stage 1: one ragged cross product over every boundary. Pair p
    # is cell p of the flat buffer: boundary b_id, row i, column j.
    b_id = np.repeat(np.arange(len(lo), dtype=np.int64), m * n)
    cell = ragged_within(m * n)
    nb = n[b_id]
    src = lo[b_id] + cell // nb
    tgt = mid[b_id] + cell % nb
    er_s, er_t = edge_row[src], edge_row[tgt]
    fa, fb = frac[src], frac[tgt]
    # same-edge resolution (entry.rs:92-106): ahead → direct; degenerate
    # frac → unreachable; behind → falls through to routing
    same = er_s == er_t
    nan_f = np.isnan(fa) | np.isnan(fb)
    is_dir = same & ~nan_f & (fa <= fb)
    keep = ~(same & nan_f)
    if fanout is not None:
        keep &= _fanout_mask(px, py, lo, mid, hi, moff, fanout)
    pair = np.nonzero(keep)[0]
    is_dir = is_dir[pair]
    e_s, e_t = er_s[pair], er_t[pair]
    sx, sy = px[src[pair]], py[src[pair]]
    tx, ty = px[tgt[pair]], py[tgt[pair]]
    P = len(pair)

    # ---- stage 2: parent walks. Every unique (root, leaf) lane of the
    # call is located in the cache's arena at once; then all lanes walk
    # their parent pointers together, one gather per path step.
    roots = graph.edge_dst[e_s].astype(np.int64)
    leaves = graph.edge_src[e_t].astype(np.int64)
    path_of = np.full(P, -1, dtype=np.int64)
    n_paths = 0
    plens = np.empty(0, dtype=np.int64)
    pflat = np.empty(0, dtype=np.int64)
    std_idx = np.nonzero(~is_dir)[0]
    if len(std_idx):
        # lanes = unique (root, leaf) pairs, in sorted order
        r_std = roots[std_idx]
        l_std = leaves[std_idx]
        order = np.lexsort((l_std, r_std))
        rs = r_std[order]
        ls = l_std[order]
        new_lane = np.empty(len(rs), dtype=bool)
        new_lane[0] = True
        new_lane[1:] = (rs[1:] != rs[:-1]) | (ls[1:] != ls[:-1])
        lane_of_sorted = np.cumsum(new_lane) - 1
        n_paths = int(lane_of_sorted[-1]) + 1
        arena, lanes, member = cache.locate(graph, rs[new_lane],
                                            ls[new_lane], profile)
        plens = np.where(member, arena.depth[lanes] + 1, 0)
        # one walk over every lane (expansion.rs:26-39 semantics: leaf
        # outside its root's bound → len 0, unreachable)
        poffs0 = np.zeros(n_paths + 1, dtype=np.int64)
        np.cumsum(plens, out=poffs0[1:])
        pflat = np.empty(int(poffs0[-1]), dtype=np.int64)
        act = np.nonzero(plens > 0)[0]
        cur = lanes[act]
        base_o = poffs0[act]
        rem = plens[act]
        k = 0
        while len(cur):
            pflat[base_o + rem - 1 - k] = arena.node[cur]
            k += 1
            alive = rem > k
            if not alive.all():
                cur, base_o, rem = cur[alive], base_o[alive], rem[alive]
            cur = arena.loc[cur]
        path_of[std_idx[order]] = np.where(
            member[lane_of_sorted], lane_of_sorted, -1)

    # drop unreachable standard pairs (their matrix cells stay NO_EDGE)
    keep = is_dir | (path_of >= 0)
    if not keep.all():
        pair, is_dir = pair[keep], is_dir[keep]
        e_s, e_t, sx, sy, tx, ty = (a[keep] for a in (e_s, e_t, sx, sy, tx, ty))
        path_of = path_of[keep]
        P = len(pair)
    if P == 0:
        return flat, moff

    poffs = np.zeros(n_paths + 1, dtype=np.int64)
    np.cumsum(plens, out=poffs[1:])

    # ---- stage 3: per-path edge rows via one pair-key searchsorted (G2;
    # filter_map semantics: missing edges silently dropped)
    seg = np.maximum(plens - 1, 0)
    srep = np.repeat(np.arange(n_paths), seg)
    swithin = ragged_within(seg)
    a_nodes = pflat[poffs[srep] + swithin]
    b_nodes = pflat[poffs[srep] + swithin + 1]
    n_nodes = len(graph.node_ids)
    edge_key = (graph.edge_src.astype(np.int64) * n_nodes
                + graph.edge_dst.astype(np.int64))
    pair_rows = np.argsort(edge_key, kind="stable")  # first row of a pair first
    pair_keys = edge_key[pair_rows]
    pkey = a_nodes * n_nodes + b_nodes
    npk = len(pair_keys)
    ppos = np.searchsorted(pair_keys, pkey)
    ppc = np.minimum(ppos, max(npk - 1, 0))
    found = (ppos < npk) & (pair_keys[ppc] == pkey) if npk else \
        np.zeros(len(pkey), dtype=bool)
    f_rep = srep[found]
    f_erow = pair_rows[ppc[found]]

    # mp node list per path: edge sources + last edge's target
    # (resolve.rs:67-77)
    fcnt = np.bincount(f_rep, minlength=n_paths).astype(np.int64)
    mp_cnt = fcnt + (fcnt > 0)
    mp_off = np.zeros(n_paths + 1, dtype=np.int64)
    np.cumsum(mp_cnt, out=mp_off[1:])
    mp_nodes = np.empty(int(mp_off[-1]), dtype=np.int64)
    if len(f_rep):
        foff = np.zeros(n_paths + 1, dtype=np.int64)
        np.cumsum(fcnt, out=foff[1:])
        run = np.arange(len(f_rep), dtype=np.int64) - foff[f_rep]
        mp_nodes[mp_off[f_rep] + run] = graph.edge_src[f_erow].astype(np.int64)
        has = np.nonzero(fcnt > 0)[0]
        last_rows = f_erow[foff[has + 1] - 1]
        mp_nodes[mp_off[has] + fcnt[has]] = graph.edge_dst[last_rows].astype(np.int64)
    mlon = graph.node_lon[mp_nodes]
    mlat = graph.node_lat[mp_nodes]

    # per-path segments between consecutive mp nodes: lengths (summed
    # left to right into mp_len by np.add.at, the reference's sequential
    # accumulation) and bearings, computed once per path and shared by
    # every pair routed along it
    mseg = np.maximum(mp_cnt - 1, 0)
    mseg_off = np.zeros(n_paths + 1, dtype=np.int64)
    np.cumsum(mseg, out=mseg_off[1:])
    mrep = np.repeat(np.arange(n_paths), mseg)
    ia = mp_off[mrep] + ragged_within(mseg)
    seg_len = haversine_m_np(mlon[ia], mlat[ia], mlon[ia + 1], mlat[ia + 1])
    seg_bear = bearing_deg_np(mlon[ia], mlat[ia], mlon[ia + 1], mlat[ia + 1])
    mp_len = np.zeros(n_paths, dtype=np.float64)
    if len(ia):
        np.add.at(mp_len, mrep, seg_len)

    # ---- stage 4: per pair, the positions [src_p, mp nodes..., tgt_p]
    # and their consecutive bearings with the <1 m skip
    # (map_path/entity.rs:149-168), laid out as the heads
    # [h_src?, bearings..., h_tgt?] with validity
    if n_paths == 0:
        pair_mp = np.zeros(P, dtype=np.int64)
    else:
        pair_mp = np.where(is_dir, 0, mp_cnt[np.maximum(path_of, 0)])
    h_src = graph.edge_heading[e_s]
    h_tgt = graph.edge_heading[e_t]
    hcnt = pair_mp + 3
    hofs = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(hcnt, out=hofs[1:])
    H = np.empty(int(hofs[-1]), dtype=np.float64)
    V = np.zeros(int(hofs[-1]), dtype=bool)
    H[hofs[:-1]] = h_src
    V[hofs[:-1]] = ~np.isnan(h_src)
    H[hofs[1:] - 1] = h_tgt
    V[hofs[1:] - 1] = ~np.isnan(h_tgt)
    # the first segment leaves src_p for the first mp node (tgt_p when
    # the pair has none); the last reaches tgt_p from the last mp node
    via = np.flatnonzero(pair_mp > 0)
    first = mp_off[path_of[via]]
    last = first + pair_mp[via] - 1
    fx, fy = tx.copy(), ty.copy()
    fx[via], fy[via] = mlon[first], mlat[first]
    H[hofs[:-1] + 1] = bearing_deg_np(sx, sy, fx, fy)
    V[hofs[:-1] + 1] = haversine_m_np(sx, sy, fx, fy) >= MIN_HEADING_DIST_M
    at = hofs[1:][via] - 2
    H[at] = bearing_deg_np(mlon[last], mlat[last], tx[via], ty[via])
    V[at] = haversine_m_np(mlon[last], mlat[last], tx[via],
                           ty[via]) >= MIN_HEADING_DIST_M
    # the segments in between are the path's own
    inner = np.maximum(pair_mp - 1, 0)
    irep = np.repeat(np.arange(P), inner)
    iwit = ragged_within(inner)
    src_seg = mseg_off[path_of[irep]] + iwit
    H[hofs[irep] + 2 + iwit] = seg_bear[src_seg]
    V[hofs[irep] + 2 + iwit] = seg_len[src_seg] >= MIN_HEADING_DIST_M

    # ---- angular complexity (map_path/entity.rs:229-297: wrap, damped
    # cos, zero cut, harmonic mean)
    vid = np.nonzero(V)[0]
    vpair = np.repeat(np.arange(P), hcnt)[vid]
    adj = vpair[1:] == vpair[:-1] if len(vid) else np.empty(0, dtype=bool)
    h1 = H[vid[:-1][adj]] if len(vid) else np.empty(0)
    h2 = H[vid[1:][adj]] if len(vid) else np.empty(0)
    dpair = vpair[:-1][adj] if len(vid) else np.empty(0, dtype=np.int64)
    dw = np.maximum(-180.0, np.minimum(180.0, wrap_angle_np(h2 - h1)))
    c = np.cos(dw * np.pi / 180.0 * COST_DAMPING)
    zero = c <= 0.0
    cc = np.minimum(c, 1.0)
    inv = np.where(zero, 0.0, 1.0 / np.where(zero, 1.0, cc))
    ndel = np.bincount(dpair, minlength=P).astype(np.int64)
    has_zero = np.zeros(P, dtype=bool)
    if len(dpair):
        np.logical_or.at(has_zero, dpair, zero)
    inv_sum = np.zeros(P, dtype=np.float64)
    if len(dpair):
        np.add.at(inv_sum, dpair, inv)
    safe = np.where(inv_sum == 0.0, 1.0, inv_sum)
    angular = np.where(
        ndel == 0, 1.0,
        np.where(has_zero, 0.0,
                 np.maximum(0.0, np.minimum(1.0, ndel / safe))))

    # ---- route length + transition value (default.rs:137-163)
    straight = haversine_m_np(sx, sy, tx, ty)
    off_std = (haversine_m_np(sx, sy, graph.bx[e_s], graph.by[e_s])
               + haversine_m_np(graph.ax[e_t], graph.ay[e_t], tx, ty))
    offset = np.where(is_dir, straight, off_std)
    mp_l = (np.zeros(P) if n_paths == 0
            else np.where(is_dir, 0.0, mp_len[np.maximum(path_of, 0)]))
    route_len = mp_l + offset
    w_s = graph.edge_weight[e_s].astype(np.float64)
    w_t = graph.edge_weight[e_t].astype(np.float64)
    tstrat = costing.transition if costing is not None else None
    if tstrat is not None and tstrat.calculate is not None:
        # §2.9 injected heuristic: vectorized contract, NaN ≙ None
        value = np.asarray(
            tstrat.calculate(straight, route_len, angular, w_s, w_t),
            dtype=np.float64)
        value = np.where(np.isnan(value), 0.0, value)
    else:
        with np.errstate(invalid="ignore", divide="ignore"):
            dev = np.where(route_len <= 0.0, 1.0,
                           straight / np.where(route_len == 0.0, 1.0, route_len))
        dev = np.minimum(np.maximum(dev, _EPS), 1.0)
        turn = np.minimum(np.maximum(angular, _EPS), 1.0)
        cont = np.minimum(np.maximum(w_s / w_t, _EPS), 1.0)
        value = np.sqrt(dev * turn * cont)

    # decay to u32 + trellis ceiling (util.rs:29-39; weigh/mod.rs:83)
    zeta = tstrat.zeta if tstrat is not None else 1.0
    beta = tstrat.beta if tstrat is not None else 1.0
    v = np.minimum(np.maximum(value, _EPS), 1.0)
    inv = 1.0 / v
    if beta != 1.0:
        inv = inv ** beta
    cost = np.minimum(((COST_PRECISION * zeta) * inv).astype(np.int64),
                      MAX_WEIGHT).astype(np.uint32)

    # ---- scatter: every pair's cost into its cell of the flat buffer
    flat[pair] = cost
    return flat, moff
