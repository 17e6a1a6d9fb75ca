/* The matcher's compiled kernels; see dijkstra.py for the contracts:
 * bd_settle_many, the bounded Dijkstra of many roots, and bd_viterbi, the
 * Viterbi of many trips (at the end of this file).
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
