/* The matcher's compiled kernels; see dijkstra.py and matching/weigh.py for
 * the contracts: bd_settle_many, the bounded Dijkstra of many roots; the
 * arena upkeep (bd_arena_append, bd_arena_locate, bd_path_rows); bd_weigh_*,
 * the boundary weigher; and bd_viterbi, the Viterbi of many trips (at the
 * end of this file).
 *
 * Bounded Dijkstra with the reference's cost semantics (cache.rs:291-326,
 * weight_and_distance.rs:23-38).
 *
 * Heap order is (repr, seq) with seq a FIFO push counter; repr is
 * u32(float((num / den)^2) * float(dist_cm)), saturating at 0xFFFFFFFF.
 * Iteration stops at the first popped node whose distance reaches the
 * threshold (take_while). Settled nodes, their parents and depths are
 * written in pop order. The per-node state array is reset through the list
 * of nodes the call touched, so a call costs O(settled + pushed).
 */
#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define UNSEEN (-1)
#define SETTLED (-2)

typedef struct {
    int64_t n_nodes;
    const int64_t *indptr;   /* CSR row offsets, n_nodes + 1 */
    const int32_t *dst;      /* per CSR slot: target node */
    const uint32_t *weight;  /* per CSR slot: road-class weight */
    const uint32_t *len_cm;  /* per CSR slot: length, centimetres */
    const int64_t *erow;     /* per CSR slot: edge row (access mask index) */
    int64_t *state;          /* UNSEEN, SETTLED or best repr pushed */
    int64_t *touched;
    int64_t *out_node;
    int64_t *out_parent;
    int64_t *out_depth;
    /* per node and per edge row, read by the weigher */
    const double *node_lon;
    const double *node_lat;
    const int32_t *edge_src;
    const int32_t *edge_dst;
    const uint32_t *edge_weight;
    const double *edge_len_m;    /* haversine length, metres */
    const double *edge_heading;  /* bearing; NaN below MIN_HEADING_DIST_M */
} bd_graph;

typedef struct {
    uint32_t repr;
    uint64_t seq;
    int64_t node, num, den, dist, parent;
} entry;

static int before(const entry *a, const entry *b)
{
    return a->repr < b->repr || (a->repr == b->repr && a->seq < b->seq);
}

static void sift_up(entry *h, int64_t i)
{
    entry e = h[i];
    while (i > 0) {
        int64_t p = (i - 1) / 2;
        if (!before(&e, &h[p]))
            break;
        h[i] = h[p];
        i = p;
    }
    h[i] = e;
}

static void sift_down(entry *h, int64_t n, int64_t i)
{
    entry e = h[i];
    for (;;) {
        int64_t c = 2 * i + 1;
        if (c >= n)
            break;
        if (c + 1 < n && before(&h[c + 1], &h[c]))
            c++;
        if (!before(&h[c], &e))
            break;
        h[i] = h[c];
        i = c;
    }
    h[i] = e;
}

/* Returns the number of settled nodes, or -1 when out of memory. A NULL
 * access_mask admits every edge. */
static int64_t bd_settle(bd_graph *g, int64_t root, double threshold_cm,
                         const uint8_t *access_mask)
{
    int64_t cap = 64, n = 0, k = 0, n_touched = 0;
    uint64_t seq = 0;
    entry *heap = malloc(cap * sizeof(entry));
    if (heap == NULL)
        return -1;
    heap[n++] = (entry){0, 0, root, 0, 0, 0, root};

    while (n > 0) {
        entry top = heap[0];
        heap[0] = heap[--n];
        if (n > 0)
            sift_down(heap, n, 0);
        if (g->state[top.node] == SETTLED)
            continue;
        if (g->state[top.node] == UNSEEN)
            g->touched[n_touched++] = top.node;
        g->state[top.node] = SETTLED;
        if ((double)top.dist >= threshold_cm)
            break;
        g->out_node[k] = top.node;
        g->out_parent[k] = top.parent;
        g->out_depth[k] = top.den;
        k++;
        for (int64_t i = g->indptr[top.node]; i < g->indptr[top.node + 1]; i++) {
            if (access_mask != NULL && !access_mask[g->erow[i]])
                continue;
            int64_t nxt = g->dst[i];
            int64_t prev = g->state[nxt];
            if (prev == SETTLED)
                continue;
            int64_t num = top.num + g->weight[i];
            int64_t den = top.den + 1;
            int64_t dist = top.dist + g->len_cm[i];
            uint64_t q = (uint64_t)(num / den);
            double x = (double)(q * q) * (double)dist;
            uint32_t repr = x >= 4294967295.0 ? 0xFFFFFFFFu : (uint32_t)x;
            if (prev != UNSEEN && prev <= (int64_t)repr)
                continue;
            if (prev == UNSEEN)
                g->touched[n_touched++] = nxt;
            g->state[nxt] = repr;
            if (n == cap) {
                entry *grown = realloc(heap, 2 * cap * sizeof(entry));
                if (grown == NULL) {
                    k = -1;
                    break;
                }
                heap = grown;
                cap *= 2;
            }
            heap[n] = (entry){repr, ++seq, nxt, num, den, dist, top.node};
            sift_up(heap, n++);
        }
        if (k < 0)
            break;
    }
    free(heap);
    for (int64_t i = 0; i < n_touched; i++)
        g->state[g->touched[i]] = UNSEEN;
    return k;
}

/* Settles roots[0 .. n_roots - 1] in order, appending each root's
 * nodes, parents and depths (pop order) to out_node, out_parent and
 * out_depth, which hold cap entries, and its entry count to counts[r].
 * Stops before the first root whose output does not fit. Returns the
 * number of roots written, or -1 when out of memory. */
int64_t bd_settle_many(bd_graph *g, const int64_t *roots, int64_t n_roots,
                       double threshold_cm, const uint8_t *access_mask,
                       int64_t *out_node, int64_t *out_parent,
                       int64_t *out_depth, int64_t cap, int64_t *counts)
{
    int64_t used = 0;
    for (int64_t r = 0; r < n_roots; r++) {
        int64_t k = bd_settle(g, roots[r], threshold_cm, access_mask);
        if (k < 0)
            return -1;
        if (used + k > cap)
            return r;
        memcpy(out_node + used, g->out_node, (size_t)k * sizeof(int64_t));
        memcpy(out_parent + used, g->out_parent, (size_t)k * sizeof(int64_t));
        memcpy(out_depth + used, g->out_depth, (size_t)k * sizeof(int64_t));
        counts[r] = k;
        used += k;
    }
    return n_roots;
}

/* ------------------------------------------------------------ the arena
 * One graph and profile's parent maps, flat (dijkstra.py's _Arena): slot s
 * holds one root's settled nodes sorted by node, keyed s * n_nodes + node,
 * so the keys of all slots together are one sorted array; loc is the entry
 * of each node's parent (the root points at itself) and depth its edge
 * count from the root. */
typedef struct {
    int64_t n_nodes;
    int64_t size;             /* entries in use */
    const int64_t *slot_of;   /* per node: its slot, or -1 */
    const int64_t *key;
    const int64_t *node;
    const int64_t *loc;
    const int64_t *depth;
} bd_arena;

/* First index of keys[0 .. n - 1] (sorted) whose value is >= q. */
static int64_t lower_bound(const int64_t *keys, int64_t n, int64_t q)
{
    int64_t lo = 0, hi = n;
    while (lo < hi) {
        int64_t m = lo + (hi - lo) / 2;
        if (keys[m] < q)
            lo = m + 1;
        else
            hi = m;
    }
    return lo;
}

/* Sorts v[0 .. n - 1] by v >> 32 (a node index) with an LSD radix sort
 * of 8-bit digits, tmp holding n scratch values; returns the buffer (v or
 * tmp) the sorted values end in. */
static int64_t *radix_by_node(int64_t *v, int64_t *tmp, int64_t n)
{
    int64_t top = 0;
    for (int64_t i = 0; i < n; i++)
        top |= v[i] >> 32;
    for (int shift = 32; top >> (shift - 32); shift += 8) {
        int64_t count[257] = {0};
        for (int64_t i = 0; i < n; i++)
            count[((v[i] >> shift) & 0xFF) + 1]++;
        for (int d = 0; d < 256; d++)
            count[d + 1] += count[d];
        for (int64_t i = 0; i < n; i++)
            tmp[count[(v[i] >> shift) & 0xFF]++] = v[i];
        int64_t *t = v;
        v = tmp;
        tmp = t;
    }
    return v;
}

/* Appends one slot per root (slots slot0, slot0 + 1, ...) from
 * bd_settle_many's output (counts, node, parent, depth in pop order) at
 * entry `size` of key, anode, loc and adepth, which have room; g's node
 * state maps each node to its entry meanwhile. Returns 0, or -1 when out
 * of memory. */
int64_t bd_arena_append(bd_graph *g, int64_t slot0, int64_t n_roots,
                        const int64_t *counts, const int64_t *node,
                        const int64_t *parent, const int64_t *depth,
                        int64_t *key, int64_t *anode, int64_t *loc,
                        int64_t *adepth, int64_t size)
{
    int64_t longest = 1;
    for (int64_t r = 0; r < n_roots; r++)
        if (counts[r] > longest)
            longest = counts[r];
    int64_t *buf = malloc(2 * (size_t)longest * sizeof(int64_t));
    if (buf == NULL)
        return -1;
    for (int64_t r = 0, off = 0; r < n_roots; off += counts[r++]) {
        int64_t c = counts[r], base = (slot0 + r) * g->n_nodes;
        int64_t at = size + off;
        /* sort the run by node: node in the high bits, pop index low */
        for (int64_t i = 0; i < c; i++)
            buf[i] = (node[off + i] << 32) | i;
        int64_t *order = radix_by_node(buf, buf + longest, c);
        for (int64_t i = 0; i < c; i++) {
            int64_t src = off + (order[i] & 0xFFFFFFFF);
            key[at + i] = base + node[src];
            anode[at + i] = node[src];
            adepth[at + i] = depth[src];
            g->state[node[src]] = at + i;
        }
        for (int64_t i = 0; i < c; i++)
            loc[at + i] = g->state[parent[off + (order[i] & 0xFFFFFFFF)]];
        for (int64_t i = 0; i < c; i++)
            g->state[anode[at + i]] = UNSEEN;
    }
    free(buf);
    return 0;
}

/* The arena entry of lane (root, leaf), or -1 when the leaf did not
 * settle within the root's bound (or the root has no slot). */
static int64_t arena_entry(const bd_arena *a, int64_t root, int64_t leaf)
{
    int64_t slot = a->slot_of[root];
    if (slot < 0)
        return -1;
    int64_t q = slot * a->n_nodes + leaf;
    int64_t pos = lower_bound(a->key, a->size, q);
    return pos < a->size && a->key[pos] == q ? pos : -1;
}

/* entry[i] and member[i] of each lane (roots[i], leaves[i]); entry is 0
 * where the lane is not a member. */
void bd_arena_locate(const bd_arena *a, int64_t n, const int64_t *roots,
                     const int64_t *leaves, int64_t *entry, uint8_t *member)
{
    for (int64_t i = 0; i < n; i++) {
        int64_t e = arena_entry(a, roots[i], leaves[i]);
        member[i] = e >= 0;
        entry[i] = e >= 0 ? e : 0;
    }
}

/* The lowest edge row a -> b: the first CSR slot of a whose target is b
 * (CSR slots of a node are in edge-row order), or -1. */
static int64_t edge_between(const bd_graph *g, int64_t a, int64_t b)
{
    for (int64_t i = g->indptr[a]; i < g->indptr[a + 1]; i++)
        if (g->dst[i] == b)
            return g->erow[i];
    return -1;
}

/* Writes the depth[e] edge rows of the path root -> node[e] to rows, in
 * path order, by walking the parent entries back from e. Returns 0, or -1
 * when a parent pointer names no edge (a corrupt arena). */
static int64_t walk_rows(const bd_graph *g, const bd_arena *a, int64_t e,
                         int64_t *rows)
{
    for (int64_t k = a->depth[e] - 1; k >= 0; k--) {
        int64_t p = a->loc[e];
        int64_t r = edge_between(g, a->node[p], a->node[e]);
        if (r < 0)
            return -1;
        rows[k] = r;
        e = p;
    }
    return 0;
}

/* The edge rows of each member lane's path, the paths one after another
 * (lane i's depth[entry[i]] rows after those of the member lanes before
 * it). Returns 0, or -1 on a corrupt arena. */
int64_t bd_path_rows(const bd_graph *g, const bd_arena *a, int64_t n,
                     const int64_t *entry, const uint8_t *member,
                     int64_t *rows)
{
    for (int64_t i = 0, at = 0; i < n; i++) {
        if (!member[i])
            continue;
        if (walk_rows(g, a, entry[i], rows + at) < 0)
            return -1;
        at += a->depth[entry[i]];
    }
    return 0;
}

/* ------------------------------------------------------------ weighing
 * Boundary weighing with the semantics and floating-point operation order
 * of the numpy weigher in tests/weigh_oracle.py (costing/default.rs:
 * 137-163, map_path/entity.rs:149-168 and 229-297, costing/util.rs:29-39),
 * in three passes around two numpy calls:
 *
 *   bd_weigh_begin      every (src, tgt) pair of every boundary, in matrix
 *                       cell order: direct / same-edge-degenerate /
 *                       standard, the keep mask, and the sorted roots the
 *                       standard pairs route from
 *   bd_weigh_geometry   (the roots settled in the arena) each standard
 *                       pair's (root, leaf) lane located once, its path
 *                       walked once; the arguments of every arcsin and
 *                       arctan2 the costs need, into flat buffers
 *   bd_weigh_finish     (numpy's arcsin and arctan2 applied in place)
 *                       headings with the < 1 m skip, angular complexity,
 *                       route length, the transition value, the u32 decay
 *                       and the scatter into the flat matrix buffer
 *
 * numpy's arcsin and arctan2 stay in numpy: on AVX-512 hosts its SIMD loops
 * for them differ from libm by an ulp on some inputs. sin, cos, sqrt, fmod
 * and the degree/radian multiplies are libm's (tests/test_weigh_vec.py
 * checks they equal numpy's). A value that depends only on a candidate, a
 * path or an edge row is computed once: a candidate's segments to its own
 * edge's ends, a path's length, and a path edge's length and heading
 * (PackedGraph.edge_len_m, edge_heading). Every double equals the oracle's. */
#define PI 3.14159265358979323846
#define DEG2RAD (PI / 180.0)
#define RAD2DEG (180.0 / PI)

typedef struct {
    double earth_radius_m;
    double min_heading_dist_m;
    double damping;
    double eps;
    double precision_zeta;   /* COST_PRECISION * zeta */
    int64_t max_weight;
} bd_costs;

/* np.minimum / np.maximum: NaN in either argument gives NaN */
static double nmin(double a, double b)
{
    if (a != a)
        return a;
    if (b != b)
        return b;
    return a <= b ? a : b;
}

static double nmax(double a, double b)
{
    if (a != a)
        return a;
    if (b != b)
        return b;
    return a >= b ? a : b;
}

/* np.remainder (Python's %: the sign of the divisor) */
static double pymod(double a, double b)
{
    double m = fmod(a, b);
    if (m != 0.0) {
        if ((b < 0) != (m < 0))
            m += b;
    } else {
        m = copysign(0.0, b);
    }
    return m;
}

/* A point in radians with the sine and cosine of its latitude. */
typedef struct {
    double lon, lat, sin_lat, cos_lat;
} rad_pt;

static rad_pt rad_point(double lon, double lat)
{
    rad_pt p = {lon * DEG2RAD, lat * DEG2RAD, 0.0, 0.0};
    p.sin_lat = sin(p.lat);
    p.cos_lat = cos(p.lat);
    return p;
}

/* functions/geo.haversine_m_np up to its arcsin: min(1, sqrt(a)) */
static double hav_arg(const rad_pt *p, const rad_pt *q)
{
    double dlon = q->lon - p->lon;
    double dlat = q->lat - p->lat;
    double s1 = sin(dlat / 2.0), s2 = sin(dlon / 2.0);
    return nmin(1.0, sqrt(s1 * s1 + p->cos_lat * q->cos_lat * (s2 * s2)));
}

/* functions/geo.bearing_deg_np up to its arctan2(y, x) */
static void bear_arg(const rad_pt *p, const rad_pt *q, double *y, double *x)
{
    double dlon = q->lon - p->lon;
    *y = sin(dlon) * q->cos_lat;
    *x = p->cos_lat * q->sin_lat - p->sin_lat * q->cos_lat * cos(dlon);
}

typedef struct {
    /* the call's input */
    int64_t c0, c1;              /* candidates read: c0 .. c1 - 1 */
    const int64_t *er;
    const double *px, *py;
    /* kept pairs in cell order (compacted to the reachable ones by
     * bd_weigh_geometry); path: -2 direct, else the path index */
    int64_t n_pairs;
    int64_t *cell, *src, *tgt, *path;
    /* paths: path k's edge rows are rows[off[k] .. off[k + 1] - 1] */
    int64_t n_paths, cap_paths, n_rows, cap_rows;
    int64_t *off, *rows;
    double *len;
    /* per candidate: its point in radians; after bd_weigh_finish's first
     * step, the length and bearing of its segments to its edge's end (a:
     * as a source) and from its edge's start (b: as a target) */
    rad_pt *pt;
    double *cand, *a_len, *a_bear, *b_len, *b_bear;
} bd_weigh;

void bd_weigh_free(bd_weigh *w)
{
    if (w == NULL)
        return;
    free(w->cell);
    free(w->src);
    free(w->tgt);
    free(w->path);
    free(w->off);
    free(w->rows);
    free(w->len);
    free(w->pt);
    free(w->cand);
    free(w);
}

#define MARK (-3)

/* Pass 1. Boundary b pairs candidates lo[b] .. mid[b] - 1 (rows) with
 * mid[b] .. hi[b] - 1 (columns); its matrix starts at cell moff[b]. A pair
 * on one edge is direct when its fracs are ordered (fa <= fb), dropped when
 * either is NaN, else standard; so is every pair of two edges. keep (one
 * byte per cell, or NULL) drops pairs. Writes the sorted distinct roots
 * (edge_dst of the source's edge) of the standard pairs to roots and their
 * number to *n_roots; roots holds one slot per row of every boundary.
 * Returns the context, or NULL when out of memory. */
bd_weigh *bd_weigh_begin(bd_graph *g, int64_t n_b, const int64_t *lo,
                         const int64_t *mid, const int64_t *hi,
                         const int64_t *moff, const int64_t *er,
                         const double *frac, const double *px,
                         const double *py, const uint8_t *keep,
                         int64_t *roots, int64_t *n_roots)
{
    bd_weigh *w = calloc(1, sizeof(bd_weigh));
    if (w == NULL)
        return NULL;
    int64_t cap = moff[n_b] > 0 ? moff[n_b] : 1;
    w->er = er;
    w->px = px;
    w->py = py;
    w->c0 = n_b ? lo[0] : 0;
    w->c1 = w->c0;
    for (int64_t b = 0; b < n_b; b++) {
        if (lo[b] < w->c0)
            w->c0 = lo[b];
        if (hi[b] > w->c1)
            w->c1 = hi[b];
    }
    w->cell = malloc((size_t)cap * sizeof(int64_t));
    w->src = malloc((size_t)cap * sizeof(int64_t));
    w->tgt = malloc((size_t)cap * sizeof(int64_t));
    w->path = malloc((size_t)cap * sizeof(int64_t));
    if (!w->cell || !w->src || !w->tgt || !w->path) {
        bd_weigh_free(w);
        return NULL;
    }
    int64_t p = 0, nr = 0;
    for (int64_t b = 0; b < n_b; b++) {
        int64_t n = hi[b] - mid[b];
        for (int64_t i = lo[b]; i < mid[b]; i++) {
            int64_t es = er[i], row = moff[b] + (i - lo[b]) * n, std = 0;
            for (int64_t j = mid[b]; j < hi[b]; j++) {
                if (keep != NULL && !keep[row + j - mid[b]])
                    continue;
                int64_t direct = -1;
                if (er[j] == es) {
                    if (isnan(frac[i]) || isnan(frac[j]))
                        continue;
                    if (frac[i] <= frac[j])
                        direct = -2;
                }
                w->cell[p] = row + j - mid[b];
                w->src[p] = i;
                w->tgt[p] = j;
                w->path[p++] = direct;
                std |= direct == -1;
            }
            int64_t root = g->edge_dst[es];
            if (std && g->state[root] != MARK) {
                g->state[root] = MARK;
                roots[nr++] = root;
            }
        }
    }
    int64_t *tmp = malloc((size_t)(nr > 0 ? nr : 1) * sizeof(int64_t));
    for (int64_t k = 0; k < nr; k++) {
        g->state[roots[k]] = UNSEEN;
        roots[k] <<= 32;
    }
    if (tmp == NULL) {
        bd_weigh_free(w);
        return NULL;
    }
    int64_t *sorted = radix_by_node(roots, tmp, nr);
    for (int64_t k = 0; k < nr; k++)
        roots[k] = sorted[k] >> 32;
    free(tmp);
    w->n_pairs = p;
    *n_roots = nr;
    return w;
}

/* Appends path `entry`'s rows and length; returns its index or -1 (out of
 * memory) or -2 (corrupt arena). */
static int64_t add_path(bd_weigh *w, const bd_graph *g, const bd_arena *a,
                        int64_t entry)
{
    int64_t d = a->depth[entry];
    if (w->n_paths == w->cap_paths) {
        int64_t c = 2 * w->cap_paths + 64;
        int64_t *off = realloc(w->off, (size_t)(c + 1) * sizeof(int64_t));
        if (off != NULL)
            w->off = off;
        double *len = realloc(w->len, (size_t)c * sizeof(double));
        if (len != NULL)
            w->len = len;
        if (off == NULL || len == NULL)
            return -1;
        w->cap_paths = c;
        if (w->n_paths == 0)
            w->off[0] = 0;
    }
    if (w->n_rows + d > w->cap_rows) {
        int64_t c = 2 * w->cap_rows + d + 256;
        int64_t *rows = realloc(w->rows, (size_t)c * sizeof(int64_t));
        if (rows == NULL)
            return -1;
        w->rows = rows;
        w->cap_rows = c;
    }
    int64_t *rows = w->rows + w->n_rows;
    if (walk_rows(g, a, entry, rows) < 0)
        return -2;
    /* the path's length: its segments summed left to right (np.add.at) */
    double len = 0.0;
    for (int64_t k = 0; k < d; k++)
        len += g->edge_len_m[rows[k]];
    w->n_rows += d;
    w->len[w->n_paths] = len;
    w->off[++w->n_paths] = w->n_rows;
    return w->n_paths - 1;
}

/* Pass 2, once the arena holds every root of bd_weigh_begin. Standard
 * pairs whose leaf (edge_src of the target's edge) is outside the root's
 * bound are dropped. Writes min(1, sqrt(a)) of every haversine and (y, x)
 * of every bearing the costs read:
 *   asin_in: [0, 2C) the candidates' segments (a, b per candidate), then
 *            one straight line per pair
 *   atan_y, atan_x: [0, 2C) the candidates' segments, then the straight
 *            line of each pair with no path node (direct, or root == leaf)
 * with C = c1 - c0; each buffer has room for 2C + pairs. counts gets
 * {pairs, pairs with no path node}. Returns 0, -1 when out of memory or
 * -2 on a corrupt arena. */
int64_t bd_weigh_geometry(bd_weigh *w, const bd_graph *g, const bd_arena *a,
                          double *asin_in, double *atan_y, double *atan_x,
                          int64_t *counts)
{
    int64_t nc = w->c1 - w->c0;
    size_t cn = (size_t)(nc > 0 ? nc : 1);
    w->pt = malloc(cn * sizeof(rad_pt));
    w->cand = malloc(4 * cn * sizeof(double));
    if (w->pt == NULL || w->cand == NULL)
        return -1;
    w->a_len = w->cand;
    w->a_bear = w->cand + nc;
    w->b_len = w->cand + 2 * nc;
    w->b_bear = w->cand + 3 * nc;
    for (int64_t c = 0; c < nc; c++) {
        int64_t e = w->er[w->c0 + c];
        rad_pt p = rad_point(w->px[w->c0 + c], w->py[w->c0 + c]);
        rad_pt end = rad_point(g->node_lon[g->edge_dst[e]],
                               g->node_lat[g->edge_dst[e]]);
        rad_pt start = rad_point(g->node_lon[g->edge_src[e]],
                                 g->node_lat[g->edge_src[e]]);
        w->pt[c] = p;
        asin_in[2 * c] = hav_arg(&p, &end);
        bear_arg(&p, &end, atan_y + 2 * c, atan_x + 2 * c);
        asin_in[2 * c + 1] = hav_arg(&start, &p);
        bear_arg(&start, &p, atan_y + 2 * c + 1, atan_x + 2 * c + 1);
    }

    /* lanes: open addressing on root * n_nodes + leaf -> path or -1 */
    int64_t slots = 64;
    while (slots < 2 * (w->n_pairs + 1))
        slots *= 2;
    int64_t *lane_key = malloc((size_t)slots * sizeof(int64_t));
    int64_t *lane_val = malloc((size_t)slots * sizeof(int64_t));
    if (lane_key == NULL || lane_val == NULL) {
        free(lane_key);
        free(lane_val);
        return -1;
    }
    for (int64_t s = 0; s < slots; s++)
        lane_key[s] = -1;
    int64_t status = 0, q = 0, p0 = 0;
    double *pair_asin = asin_in + 2 * nc;
    double *p0_y = atan_y + 2 * nc, *p0_x = atan_x + 2 * nc;
    for (int64_t p = 0; p < w->n_pairs; p++) {
        int64_t i = w->src[p], j = w->tgt[p], path = w->path[p];
        if (path != -2) {
            int64_t root = g->edge_dst[w->er[i]];
            int64_t leaf = g->edge_src[w->er[j]];
            int64_t k = root * g->n_nodes + leaf;
            uint64_t s = ((uint64_t)k * 0x9E3779B97F4A7C15ull)
                         & (uint64_t)(slots - 1);
            while (lane_key[s] != -1 && lane_key[s] != k)
                s = (s + 1) & (uint64_t)(slots - 1);
            if (lane_key[s] == -1) {
                int64_t e = arena_entry(a, root, leaf);
                int64_t v = e < 0 ? -1 : add_path(w, g, a, e);
                if (e >= 0 && v < 0) {
                    status = v;
                    break;
                }
                lane_key[s] = k;
                lane_val[s] = v;
            }
            path = lane_val[s];
            if (path < 0)
                continue;
        }
        const rad_pt *sp = w->pt + (i - w->c0), *tp = w->pt + (j - w->c0);
        w->cell[q] = w->cell[p];
        w->src[q] = i;
        w->tgt[q] = j;
        w->path[q] = path;
        pair_asin[q++] = hav_arg(sp, tp);
        if (path == -2 || w->off[path + 1] == w->off[path]) {
            bear_arg(sp, tp, p0_y + p0, p0_x + p0);
            p0++;
        }
    }
    free(lane_key);
    free(lane_val);
    w->n_pairs = q;
    counts[0] = q;
    counts[1] = p0;
    return status;
}

/* Angular complexity, folded one heading at a time (entity.rs:264-297):
 * wrapped and clamped deltas, damped cosines, a cut to 0 when one is <= 0,
 * else the harmonic mean of the cosines summed left to right. */
typedef struct {
    double prev, inv_sum;
    int64_t n_del, has_prev, zero;
} angular_fold;

static void fold_heading(angular_fold *f, double h, double damping)
{
    if (f->has_prev) {
        double d = h - f->prev;
        if (!(fabs(d) < 360.0))  /* fmod(d, 360) is d itself below 360 */
            d = fmod(d, 360.0);
        if (d > 180.0)
            d = d - 360.0;
        if (d <= -180.0)
            d = d + 360.0;
        d = nmax(-180.0, nmin(180.0, d));
        double c = cos(d * PI / 180.0 * damping);
        if (c <= 0.0)
            f->zero = 1;
        else
            f->inv_sum += 1.0 / nmin(c, 1.0);
        f->n_del++;
    }
    f->prev = h;
    f->has_prev = 1;
}

static double angular_value(const angular_fold *f)
{
    if (f->n_del == 0)
        return 1.0;
    if (f->zero)
        return 0.0;
    return nmax(0.0, nmin(1.0, (double)f->n_del / f->inv_sum));
}

/* Pass 3, after asin_in became arcsin(asin_in) and atan_y became
 * arctan2(atan_y, atan_x). With out == NULL, each pair's transition
 * value (default.rs:137-163) is decayed to u32 (util.rs:29-39, ceiling
 * max_weight) and written to flat[cell]. Otherwise nothing is written to
 * flat: out gets six arrays of one double per pair (straight, route
 * length, angular, w_src, w_tgt, default value) and cells each pair's
 * cell, for an injected costing. */
void bd_weigh_finish(bd_weigh *w, const bd_graph *g, const bd_costs *k,
                     const double *asin_out, const double *atan_out,
                     uint32_t *flat, double *out, int64_t *cells)
{
    double two_r = 2.0 * k->earth_radius_m, min_d = k->min_heading_dist_m;
    int64_t nc = w->c1 - w->c0;
    for (int64_t c = 0; c < nc; c++) {
        w->a_len[c] = two_r * asin_out[2 * c];
        w->b_len[c] = two_r * asin_out[2 * c + 1];
        w->a_bear[c] = pymod(atan_out[2 * c] * RAD2DEG, 360.0);
        w->b_bear[c] = pymod(atan_out[2 * c + 1] * RAD2DEG, 360.0);
    }
    const double *pair_asin = asin_out + 2 * nc, *p0_atan = atan_out + 2 * nc;
    int64_t p0 = 0, n = w->n_pairs;
    for (int64_t p = 0; p < n; p++) {
        int64_t i = w->src[p] - w->c0, j = w->tgt[p] - w->c0;
        int64_t es = w->er[w->src[p]], et = w->er[w->tgt[p]];
        int64_t path = w->path[p];
        double straight = two_r * pair_asin[p];
        double h_src = g->edge_heading[es], h_tgt = g->edge_heading[et];
        angular_fold f = {0.0, 0.0, 0, 0, 0};
        if (!isnan(h_src))
            fold_heading(&f, h_src, k->damping);
        if (path == -2 || w->off[path + 1] == w->off[path]) {
            double h = pymod(p0_atan[p0++] * RAD2DEG, 360.0);
            if (straight >= min_d)
                fold_heading(&f, h, k->damping);
        } else {
            if (w->a_len[i] >= min_d)
                fold_heading(&f, w->a_bear[i], k->damping);
            for (int64_t r = w->off[path]; r < w->off[path + 1]; r++)
                if (g->edge_len_m[w->rows[r]] >= min_d)
                    fold_heading(&f, g->edge_heading[w->rows[r]], k->damping);
            if (w->b_len[j] >= min_d)
                fold_heading(&f, w->b_bear[j], k->damping);
        }
        if (!isnan(h_tgt))
            fold_heading(&f, h_tgt, k->damping);
        double angular = angular_value(&f);
        double mp = path == -2 ? 0.0 : w->len[path];
        double offset = path == -2 ? straight : w->a_len[i] + w->b_len[j];
        double route_len = mp + offset;
        double w_s = (double)g->edge_weight[es];
        double w_t = (double)g->edge_weight[et];
        double dev = route_len <= 0.0 ? 1.0 : straight / route_len;
        dev = nmin(nmax(dev, k->eps), 1.0);
        double turn = nmin(nmax(angular, k->eps), 1.0);
        double cont = nmin(nmax(w_s / w_t, k->eps), 1.0);
        double value = sqrt(dev * turn * cont);
        if (out != NULL) {
            double *o = out + p;
            o[0] = straight;
            o[n] = route_len;
            o[2 * n] = angular;
            o[3 * n] = w_s;
            o[4 * n] = w_t;
            o[5 * n] = value;
            cells[p] = w->cell[p];
            continue;
        }
        double x = k->precision_zeta * (1.0 / nmin(nmax(value, k->eps), 1.0));
        /* numpy's float -> int64 cast: NaN and out of range give INT64_MIN */
        int64_t q = x >= -9223372036854775808.0 && x < 9223372036854775808.0
            ? (int64_t)x : INT64_MIN;
        flat[w->cell[p]] = (uint32_t)(q < k->max_weight ? q : k->max_weight);
    }
}

/* sin, cos, sqrt, fmod, radians, degrees and np.remainder as the weigher
 * computes them, elementwise over n values (y: the divisor of fmod and
 * remainder), for the libm-fidelity test. */
void bd_libm(int64_t op, int64_t n, const double *x, const double *y,
             double *out)
{
    for (int64_t i = 0; i < n; i++) {
        switch (op) {
        case 0: out[i] = sin(x[i]); break;
        case 1: out[i] = cos(x[i]); break;
        case 2: out[i] = sqrt(x[i]); break;
        case 3: out[i] = fmod(x[i], y[i]); break;
        case 4: out[i] = x[i] * DEG2RAD; break;
        case 5: out[i] = x[i] * RAD2DEG; break;
        default: out[i] = pymod(x[i], y[i]); break;
        }
    }
}

/* Batched Viterbi and backtrack with the Trellis semantics of
 * matching/trellis.py (viterbi.rs:61-136): NO_EDGE is read as INF_W, a
 * node is expanded only while its cost is below INF_W, the entered node's
 * weight is added once when it is reachable, the best final node and
 * every predecessor are the lowest index among equal costs, and the
 * predecessor sum saturates at u32 max.
 *
 * Trip t spans layers trip_off[t] .. trip_off[t + 1] - 1; layer l spans
 * candidates layer_off[l] .. layer_off[l + 1] - 1, whose node weights are
 * in `weight`. The matrix of the boundary from layer l to l + 1 is
 * row-major at mats + mat_off[l]. Only trips whose status is 0 on entry
 * are solved; each ends 0 (matched: path and cost written), 1
 * (disconnected: some boundary matrix is all NO_EDGE; broken[l] = 1 for
 * each such boundary) or 2 (unreachable: best final cost >= INF_W).
 * `dist` is scratch, one slot per candidate; path[l] is the chosen
 * candidate of layer l, an index within the layer. */
#define NO_EDGE 0xFFFFFFFFu
#define INF_W ((uint64_t)1 << 30)

static uint64_t edge_cost(uint32_t e)
{
    return e == NO_EDGE ? INF_W : (uint64_t)e;
}

static int all_absent(const uint32_t *m, int64_t n)
{
    for (int64_t i = 0; i < n; i++)
        if (m[i] != NO_EDGE)
            return 0;
    return 1;
}

void bd_viterbi(int64_t n_trips, const int64_t *trip_off,
                const int64_t *layer_off, const int64_t *mat_off,
                const uint32_t *weight, const uint32_t *mats, uint64_t *dist,
                int64_t *path, int64_t *cost, int8_t *status,
                uint8_t *broken)
{
    for (int64_t t = 0; t < n_trips; t++) {
        if (status[t] != 0)
            continue;
        int64_t l0 = trip_off[t], l1 = trip_off[t + 1];
        int disconnected = 0;
        for (int64_t l = l0; l + 1 < l1; l++) {
            int64_t m = layer_off[l + 1] - layer_off[l];
            int64_t n = layer_off[l + 2] - layer_off[l + 1];
            broken[l] = (uint8_t)all_absent(mats + mat_off[l], m * n);
            disconnected |= broken[l];
        }
        if (disconnected) {
            status[t] = 1;
            continue;
        }
        for (int64_t c = layer_off[l0]; c < layer_off[l0 + 1]; c++)
            dist[c] = weight[c];
        for (int64_t l = l0; l + 1 < l1; l++) {
            int64_t m = layer_off[l + 1] - layer_off[l];
            int64_t n = layer_off[l + 2] - layer_off[l + 1];
            const uint64_t *cur = dist + layer_off[l];
            uint64_t *nxt = dist + layer_off[l + 1];
            const uint32_t *mat = mats + mat_off[l];
            for (int64_t j = 0; j < n; j++)
                nxt[j] = INF_W;
            for (int64_t i = 0; i < m; i++) {
                if (cur[i] >= INF_W)
                    continue;
                for (int64_t j = 0; j < n; j++) {
                    uint64_t s = cur[i] + edge_cost(mat[i * n + j]);
                    if (s < nxt[j])
                        nxt[j] = s;
                }
            }
            for (int64_t j = 0; j < n; j++)
                if (nxt[j] < INF_W)
                    nxt[j] += weight[layer_off[l + 1] + j];
        }
        int64_t lo = layer_off[l1 - 1], width = layer_off[l1] - lo, best = 0;
        for (int64_t j = 1; j < width; j++)
            if (dist[lo + j] < dist[lo + best])
                best = j;
        if (dist[lo + best] >= INF_W) {
            status[t] = 2;
            continue;
        }
        cost[t] = (int64_t)dist[lo + best];
        path[l1 - 1] = best;
        for (int64_t l = l1 - 2; l >= l0; l--) {
            int64_t m = layer_off[l + 1] - layer_off[l];
            int64_t n = layer_off[l + 2] - layer_off[l + 1];
            const uint64_t *cur = dist + layer_off[l];
            const uint32_t *mat = mats + mat_off[l];
            int64_t j = path[l + 1], pred = 0;
            uint64_t low = 0;
            for (int64_t i = 0; i < m; i++) {
                uint64_t s = cur[i] + edge_cost(mat[i * n + j]);
                if (s > 0xFFFFFFFFu)
                    s = 0xFFFFFFFFu;
                if (i == 0 || s < low) {
                    low = s;
                    pred = i;
                }
            }
            path[l] = pred;
        }
    }
}
