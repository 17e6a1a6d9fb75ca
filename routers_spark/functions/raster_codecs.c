/* The image codecs' compiled inner loops; see jpeg.py and raster.py for the
 * contracts: rc_jpeg_scan, the entropy decode of one baseline JPEG scan, and
 * rc_png_unfilter, the PNG row unfilter. Both read only inside the buffers
 * they are given and report damaged input by return code, never by
 * reading or writing out of bounds.
 */
#include <stdint.h>
#include <stdlib.h>

#define RC_BAD_CODE (-1)  /* no Huffman code prefixes the lookahead */
#define RC_BAD_DC (-2)    /* DC category above 16 */
#define RC_BAD_AC (-3)    /* AC symbol of size 0 other than EOB and ZRL */
#define RC_AC_RUN (-4)    /* AC run past coefficient 63 */
#define RC_TRUNCATED (-5) /* the scan needs bits past the end of the data */

/* The big-endian 32-bit word starting at byte `i`. */
static inline uint32_t word_at(const uint8_t *d, int64_t i)
{
    return (uint32_t)d[i] << 24 | (uint32_t)d[i + 1] << 16
        | (uint32_t)d[i + 2] << 8 | (uint32_t)d[i + 3];
}

/* The `s`-bit amplitude at bit `pos` (1 <= s <= 16), sign-extended as
 * T.81 F.2.2.1 EXTEND. */
static inline int64_t amplitude(const uint8_t *d, int64_t pos, int s)
{
    int64_t v = (int64_t)(word_at(d, pos >> 3) >> (32 - (pos & 7) - s)
                          & ((1u << s) - 1));
    return v >> (s - 1) ? v : v - ((int64_t)1 << s) + 1;
}

/* Entropy decode of one interleaved baseline scan of `n_scan` components
 * with h = v = 1, `n_blocks` blocks each.
 *
 * data     unstuffed entropy bytes, `n_bytes` long, followed by at least 8
 *          readable bytes of zeros (bits past the end read as 0)
 * luts     per scan component, its DC then its AC 16-bit lookahead table:
 *          entry c is symbol << 5 | code length of the code that prefixes
 *          the 16 bits c, or 0 where none does
 * coef     (n_scan, n_blocks, 64) zig-zag coefficients, zeroed by the
 *          caller; only the nonzero ones are written
 *
 * Returns the bit position after the last block, or an RC_* code. */
int64_t rc_jpeg_scan(const uint8_t *data, int64_t n_bytes, int64_t n_blocks,
                     int64_t n_scan, const uint32_t *const *luts,
                     int64_t *coef)
{
    const int64_t n_bits = 8 * n_bytes;
    int64_t prev_dc[4] = {0, 0, 0, 0};
    int64_t pos = 0;
    if (n_scan < 1 || n_scan > 4)
        return RC_BAD_CODE;
    for (int64_t bi = 0; bi < n_blocks; bi++) {
        for (int64_t si = 0; si < n_scan; si++) {
            const uint32_t *dc = luts[2 * si], *ac = luts[2 * si + 1];
            int64_t *zz = coef + (si * n_blocks + bi) * 64;
            if (pos > n_bits)
                return RC_TRUNCATED;
            uint32_t e = dc[word_at(data, pos >> 3) >> (16 - (pos & 7))
                            & 0xFFFF];
            if (!e)
                return RC_BAD_CODE;
            pos += e & 31;
            int s = (int)(e >> 5);
            if (s) {
                if (s > 16)
                    return RC_BAD_DC;
                prev_dc[si] += amplitude(data, pos, s);
                pos += s;
            }
            zz[0] = prev_dc[si];
            for (int k = 1; k <= 63;) {
                if (pos > n_bits)
                    return RC_TRUNCATED;
                e = ac[word_at(data, pos >> 3) >> (16 - (pos & 7)) & 0xFFFF];
                if (!e)
                    return RC_BAD_CODE;
                pos += e & 31;
                unsigned sym = e >> 5;
                if (sym == 0x00) /* EOB */
                    break;
                s = (int)(sym & 0x0F);
                if (!s) {
                    if (sym != 0xF0)
                        return RC_BAD_AC;
                    k += 16; /* ZRL */
                    continue;
                }
                k += (int)(sym >> 4);
                if (k > 63)
                    return RC_AC_RUN;
                zz[k] = amplitude(data, pos, s);
                pos += s;
                k++;
            }
        }
    }
    return pos > n_bits ? RC_TRUNCATED : pos;
}

static inline uint8_t paeth(int a, int b, int c)
{
    int p = a + b - c;
    int pa = abs(p - a), pb = abs(p - b), pc = abs(p - c);
    if (pa <= pb && pa <= pc)
        return (uint8_t)a;
    return (uint8_t)(pb <= pc ? b : c);
}

/* Undo the PNG filters (ISO/IEC 15948 §9) of `h` rows: `raw` holds each
 * row as its filter type byte then `stride` filtered bytes, `bpp` bytes per
 * pixel; `out` receives the h * stride unfiltered bytes. Returns -1, or
 * the index of the first row whose filter type is not 0-4. */
int64_t rc_png_unfilter(const uint8_t *raw, int64_t h, int64_t stride,
                        int64_t bpp, uint8_t *out)
{
    for (int64_t y = 0; y < h; y++) {
        const uint8_t *line = raw + y * (stride + 1) + 1;
        const uint8_t *prev = y ? out + (y - 1) * stride : NULL;
        uint8_t *cur = out + y * stride;
        int64_t i;
        switch (line[-1]) {
        case 0:
            for (i = 0; i < stride; i++)
                cur[i] = line[i];
            break;
        case 1: /* Sub */
            for (i = 0; i < stride; i++)
                cur[i] = (uint8_t)(line[i] + (i >= bpp ? cur[i - bpp] : 0));
            break;
        case 2: /* Up */
            for (i = 0; i < stride; i++)
                cur[i] = (uint8_t)(line[i] + (prev ? prev[i] : 0));
            break;
        case 3: /* Average */
            for (i = 0; i < stride; i++) {
                int a = i >= bpp ? cur[i - bpp] : 0, b = prev ? prev[i] : 0;
                cur[i] = (uint8_t)(line[i] + (a + b) / 2);
            }
            break;
        case 4: /* Paeth */
            for (i = 0; i < stride; i++) {
                int a = i >= bpp ? cur[i - bpp] : 0, b = prev ? prev[i] : 0;
                int c = i >= bpp && prev ? prev[i - bpp] : 0;
                cur[i] = (uint8_t)(line[i] + paeth(a, b, c));
            }
            break;
        default:
            return y;
        }
    }
    return -1;
}
