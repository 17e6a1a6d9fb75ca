/* Bounded Dijkstra with the reference's cost semantics (cache.rs:291-326,
 * weight_and_distance.rs:23-38); see dijkstra.py for the contract.
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
int64_t bd_settle(bd_graph *g, int64_t root, double threshold_cm,
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
