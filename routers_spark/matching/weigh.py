"""Batched boundary weighing (M4/M5/M8): the matcher's one transition
kernel.

numpy over ALL (src, tgt) pairs of every boundary handed in at once (the
analog of the reference's rayon boundary × row sweep, weigh/mod.rs:89-141,
but data-parallel over the whole call). The matcher's ``_solve_trips``
hands in a chunk of consecutive trips per call (``WEIGH_PAIR_BUDGET``
candidate pairs); ``solve_trip`` one trip, or only the streaming cache's
misses. A boundary's matrix does not depend on what else is in the call:
``tests/test_weigh_vec.py`` checks that one multi-trip call equals the
per-trip calls bit for bit.

  1. direct / same-edge masks per boundary (candidate/entry.rs:92-106)
  2. parent-map walks batched per unique root ACROSS the call: every leaf
     walks the root's ParentMap (filled by the compiled bounded Dijkstra)
     simultaneously via pure integer gathers (expansion.rs:63-97);
     consecutive boundaries share roots, so each (root, leaf-set) is
     walked once per call, not once per boundary
  3. path edge rows via one searchsorted over the (src,dst) pair keys (G2)
  4. route lengths, headings, angular complexity and the cost decay as flat
     ragged-array passes; np.add.at keeps the reference's sequential
     left-to-right float accumulation
  5. one scatter of every cost into one flat buffer the matrices view

Formulas follow costing/default.rs:137-163, map_path/entity.rs:229-297 and
costing/util.rs:29-39; distances and bearings are the
``functions/geo`` kernels. The per-pair scalar oracle these matrices must
equal bit for bit (same IEEE-754 results, same u32 truncations) lives in
``tests/test_weigh_vec.py``.
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

_EPS = 1e-6


# ------------------------------------------------------- batched walks


def _ragged_within(counts: np.ndarray) -> np.ndarray:
    """0..count-1 per group, flattened (the repeat/cumsum offset trick)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _boundary_pairs(er_a, fa, sx, sy, er_b, fb, tx, ty, fanout):
    """Per-boundary pair classification: (std_i, std_j, dir_i, dir_j)."""
    m, n = len(er_a), len(er_b)
    # M9 selective fan-out: membership-only k-nearest per source
    # (selective.rs:69-88; np.argpartition = select_nth_unstable)
    if fanout is not None and n > fanout:
        d = haversine_m_np(sx[:, None], sy[:, None], tx[None, :], ty[None, :])
        part = np.argpartition(d, fanout - 1, axis=1)[:, :fanout]
        sel = np.zeros((m, n), dtype=bool)
        np.put_along_axis(sel, part, True, axis=1)
    else:
        sel = np.ones((m, n), dtype=bool)
    # same-edge resolution (entry.rs:92-106): ahead → direct; degenerate
    # frac → unreachable; behind → falls through to routing
    same = er_a[:, None] == er_b[None, :]
    nan_f = np.isnan(fa)[:, None] | np.isnan(fb)[None, :]
    direct = sel & same & ~nan_f & (fa[:, None] <= fb[None, :])
    standard = sel & ~direct & ~(same & nan_f)
    si, sj = np.nonzero(standard)
    di, dj = np.nonzero(direct)
    return si, sj, di, dj


def weigh_boundaries(graph, cache, boundaries: list[tuple[dict, dict]],
                     fanout: int | None = None,
                     profile=None, costing=None) -> list[np.ndarray]:
    """Dense (m, n) uint32 transition matrix for each (A, B) candidate-layer
    pair in ``boundaries``, NO_EDGE where unreachable. A trip passes
    ``zip(layers, layers[1:])``; the streaming matcher passes only the
    boundaries its cache misses (collapse re-derives the chosen hops from
    the warm cache, entity.rs:337-358)."""
    # every matrix is a view into ONE flat buffer, so the final scatter is
    # one fancy-index write for the whole call
    shapes = [(len(A["edge_row"]), len(B["edge_row"])) for A, B in boundaries]
    moff = np.zeros(len(shapes) + 1, dtype=np.int64)
    np.cumsum(np.array([m * n for m, n in shapes], dtype=np.int64),
              out=moff[1:])
    flat = np.full(int(moff[-1]), np.uint32(NO_EDGE), dtype=np.uint32)
    mats = [flat[o:o + m * n].reshape(m, n) for o, (m, n) in zip(moff, shapes)]

    # ---- stage 1: classify pairs per boundary, gather flat pair arrays
    b_id_c, i_c, j_c, dir_c = [], [], [], []
    ers_c, ert_c = [], []
    sx_c, sy_c, tx_c, ty_c = [], [], [], []
    for k, (A, B) in enumerate(boundaries):
        er_a = np.asarray(A["edge_row"], dtype=np.int64)
        er_b = np.asarray(B["edge_row"], dtype=np.int64)
        if len(er_a) == 0 or len(er_b) == 0:
            continue
        ax = np.asarray(A["px"], dtype=np.float64)
        ay = np.asarray(A["py"], dtype=np.float64)
        bx = np.asarray(B["px"], dtype=np.float64)
        by = np.asarray(B["py"], dtype=np.float64)
        si, sj, di, dj = _boundary_pairs(
            er_a, np.asarray(A["frac"], dtype=np.float64), ax, ay,
            er_b, np.asarray(B["frac"], dtype=np.float64), bx, by, fanout)
        ii = np.concatenate([si, di])
        jj = np.concatenate([sj, dj])
        if len(ii) == 0:
            continue
        b_id_c.append(np.full(len(ii), k, dtype=np.int64))
        i_c.append(ii)
        j_c.append(jj)
        dir_c.append(np.concatenate([np.zeros(len(si), dtype=bool),
                                     np.ones(len(di), dtype=bool)]))
        ers_c.append(er_a[ii])
        ert_c.append(er_b[jj])
        sx_c.append(ax[ii])
        sy_c.append(ay[ii])
        tx_c.append(bx[jj])
        ty_c.append(by[jj])
    if not b_id_c:
        return mats
    b_id = np.concatenate(b_id_c)
    all_i = np.concatenate(i_c)
    all_j = np.concatenate(j_c)
    is_dir = np.concatenate(dir_c)
    e_s = np.concatenate(ers_c)
    e_t = np.concatenate(ert_c)
    sx = np.concatenate(sx_c)
    sy = np.concatenate(sy_c)
    tx = np.concatenate(tx_c)
    ty = np.concatenate(ty_c)
    P = len(b_id)

    # ---- stage 2: parent walks — ALL (root, leaf) lanes of the call walk
    # ONE concatenated parent forest (per-root ParentMaps re-based onto a
    # shared index space), so the gather loop runs once per call instead of
    # once per unique root (the per-root overhead dominated wide urban
    # boundaries: widths 40+ have ~width x layers unique roots per trip)
    roots = graph.edge_dst[e_s].astype(np.int64)
    leaves = graph.edge_src[e_t].astype(np.int64)
    path_of = np.full(P, -1, dtype=np.int64)
    n_paths = 0
    plens = np.empty(0, dtype=np.int64)
    pflat = np.empty(0, dtype=np.int64)
    std_idx = np.nonzero(~is_dir)[0]
    if len(std_idx):
        # ONE lexsort over (root, leaf) replaces the per-root
        # np.unique/append loop (r6: 458k tiny np.unique calls were ~9%
        # of the 200k-point solve CPU): lanes = unique (root, leaf) pairs
        # in sorted order — identical lane set, order and ids as the old
        # form (np.unique returned sorted leaves within each sorted
        # root), so the walk below and every downstream gather are
        # unchanged. The python loop shrinks to one cache.query + locate
        # per unique root (the Dijkstra/cache boundary).
        r_std = roots[std_idx]
        l_std = leaves[std_idx]
        order = np.lexsort((l_std, r_std))
        rs = r_std[order]
        ls = l_std[order]
        new_lane = np.empty(len(rs), dtype=bool)
        new_lane[0] = True
        new_root_tail = rs[1:] != rs[:-1]
        new_lane[1:] = new_root_tail | (ls[1:] != ls[:-1])
        lane_of_sorted = np.cumsum(new_lane) - 1
        n_paths = int(lane_of_sorted[-1]) + 1
        lane_root = rs[new_lane]
        lane_leaf = ls[new_lane]
        lane_new_root = np.empty(n_paths, dtype=bool)
        lane_new_root[0] = True
        lane_new_root[1:] = lane_root[1:] != lane_root[:-1]
        rstarts = np.nonzero(lane_new_root)[0]
        rstops = np.append(rstarts[1:], n_paths)
        uniq_roots = lane_root[rstarts]
        lanes = np.zeros(n_paths, dtype=np.int64)
        plens = np.zeros(n_paths, dtype=np.int64)
        ok_all = np.zeros(n_paths, dtype=bool)
        pms, bases = [], []
        fbase = 0
        for t in range(len(uniq_roots)):
            pm = cache.query(graph, int(uniq_roots[t]), profile)
            sl = slice(rstarts[t], rstops[t])
            lidx, member = pm.locate(lane_leaf[sl])
            ll = np.zeros(rstops[t] - rstarts[t], dtype=np.int64)
            ll[member] = pm.depth[lidx[member]] + 1
            lanes[sl] = np.where(member, lidx + fbase, 0)
            plens[sl] = ll
            ok_all[sl] = member
            pms.append(pm)
            bases.append(fbase)
            fbase += len(pm.keys)
        big_keys = np.concatenate([pm.keys for pm in pms])
        big_loc = np.concatenate([pm.loc + b for pm, b in zip(pms, bases)])
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
            pflat[base_o + rem - 1 - k] = big_keys[cur]
            k += 1
            alive = rem > k
            if not alive.all():
                cur, base_o, rem = cur[alive], base_o[alive], rem[alive]
            cur = big_loc[cur]
        path_of[std_idx[order]] = np.where(
            ok_all[lane_of_sorted], lane_of_sorted, -1)

    # drop unreachable standard pairs (their matrix cells stay NO_EDGE)
    keep = is_dir | (path_of >= 0)
    if not keep.all():
        b_id, all_i, all_j, is_dir = (a[keep] for a in (b_id, all_i, all_j, is_dir))
        e_s, e_t, sx, sy, tx, ty = (a[keep] for a in (e_s, e_t, sx, sy, tx, ty))
        path_of = path_of[keep]
        P = len(b_id)
    if P == 0:
        return mats

    poffs = np.zeros(n_paths + 1, dtype=np.int64)
    np.cumsum(plens, out=poffs[1:])

    # ---- stage 3: per-path edge rows via one pair-key searchsorted (G2;
    # filter_map semantics: missing edges silently dropped)
    seg = np.maximum(plens - 1, 0)
    srep = np.repeat(np.arange(n_paths), seg)
    swithin = _ragged_within(seg)
    a_nodes = pflat[poffs[srep] + swithin]
    b_nodes = pflat[poffs[srep] + swithin + 1]
    pkey = a_nodes * graph._n_nodes + b_nodes
    npk = len(graph._pair_keys)
    ppos = np.searchsorted(graph._pair_keys, pkey)
    ppc = np.minimum(ppos, max(npk - 1, 0))
    found = (ppos < npk) & (graph._pair_keys[ppc] == pkey) if npk else \
        np.zeros(len(pkey), dtype=bool)
    f_rep = srep[found]
    f_erow = graph._pair_rows[ppc[found]]

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

    # mp_len per path: sequential left-to-right accumulation (np.add.at)
    mseg = np.maximum(mp_cnt - 1, 0)
    mrep = np.repeat(np.arange(n_paths), mseg)
    mwit = _ragged_within(mseg)
    ia = mp_off[mrep] + mwit
    mp_len = np.zeros(n_paths, dtype=np.float64)
    if len(ia):
        np.add.at(mp_len, mrep, haversine_m_np(mlon[ia], mlat[ia],
                                               mlon[ia + 1], mlat[ia + 1]))

    # ---- stage 4: per-pair position sequences [src_p, mp nodes..., tgt_p]
    if n_paths == 0:
        pair_mp = np.zeros(P, dtype=np.int64)
    else:
        pair_mp = np.where(is_dir, 0, mp_cnt[np.maximum(path_of, 0)])
    pcnt = pair_mp + 2
    pofs = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(pcnt, out=pofs[1:])
    tot = int(pofs[-1])
    qlon = np.empty(tot, dtype=np.float64)
    qlat = np.empty(tot, dtype=np.float64)
    qlon[pofs[:-1]] = sx
    qlat[pofs[:-1]] = sy
    qlon[pofs[1:] - 1] = tx
    qlat[pofs[1:] - 1] = ty
    irep = np.repeat(np.arange(P), pair_mp)
    iwit = _ragged_within(pair_mp)
    if len(irep):
        gsrc = mp_off[path_of[irep]] + iwit
        gdst = pofs[irep] + 1 + iwit
        qlon[gdst] = mlon[gsrc]
        qlat[gdst] = mlat[gsrc]

    # ---- consecutive bearings with the <1 m skip (map_path/entity.rs:149-168)
    bcnt = pcnt - 1
    brep = np.repeat(np.arange(P), bcnt)
    bwit = _ragged_within(bcnt)
    ba = pofs[brep] + bwit
    dseg = haversine_m_np(qlon[ba], qlat[ba], qlon[ba + 1], qlat[ba + 1])
    keepb = dseg >= MIN_HEADING_DIST_M
    bear = bearing_deg_np(qlon[ba], qlat[ba], qlon[ba + 1], qlat[ba + 1])

    # ---- heads per pair: [h_src?, bearings..., h_tgt?] with validity
    h_src = graph.edge_heading[e_s]
    h_tgt = graph.edge_heading[e_t]
    hcnt = bcnt + 2
    hofs = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(hcnt, out=hofs[1:])
    H = np.empty(int(hofs[-1]), dtype=np.float64)
    V = np.zeros(int(hofs[-1]), dtype=bool)
    H[hofs[:-1]] = h_src
    V[hofs[:-1]] = ~np.isnan(h_src)
    H[hofs[1:] - 1] = h_tgt
    V[hofs[1:] - 1] = ~np.isnan(h_tgt)
    hb = hofs[brep] + 1 + bwit
    H[hb] = bear
    V[hb] = keepb

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

    # ---- scatter: row-major offset of every pair in its boundary's matrix
    ncols = np.array([n for _, n in shapes], dtype=np.int64)
    flat[moff[b_id] + all_i * ncols[b_id] + all_j] = cost
    return mats

