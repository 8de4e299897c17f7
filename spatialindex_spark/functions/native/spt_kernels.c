/* Batch cell-assignment kernels for spatialindex_spark.
 *
 * From-scratch C reimplementation of the same float64 math as the numpy
 * kernels in htm.py / healpix.py (which are themselves bit-exact against
 * the reference library's outputs; see tests/test_cells.py). Per-point
 * state lives in registers, so the batch loop is CPU-bound rather than
 * memory-bandwidth-bound — this is what lets the ingest path scale
 * linearly with cores.
 *
 * Built on demand via `cc -O2 -shared -fPIC` (no FMA contraction on
 * baseline x86-64, preserving IEEE op-for-op equality with numpy) and
 * loaded through ctypes; the numpy kernels remain the fallback.
 */

#include <stdint.h>
#include <math.h>

typedef struct { double x, y, z; } vec3;

static const vec3 FUND[6] = {
    {0.0, 0.0, 1.0},  /* Z  */
    {1.0, 0.0, 0.0},  /* X  */
    {0.0, 1.0, 0.0},  /* Y  */
    {-1.0, 0.0, 0.0}, /* -X */
    {0.0, -1.0, 0.0}, /* -Y */
    {0.0, 0.0, -1.0}, /* -Z */
};

/* root triangle vertex indices, rows S0..S3,N0..N3 */
static const int RVERT[8][3] = {
    {1, 5, 2}, {2, 5, 3}, {3, 5, 4}, {4, 5, 1},
    {1, 0, 4}, {4, 0, 3}, {3, 0, 2}, {2, 0, 1},
};

static inline vec3 midpoint_norm(vec3 a, vec3 b)
{
    vec3 m = {a.x + b.x, a.y + b.y, a.z + b.z};
    double nrm = sqrt(m.x * m.x + m.y * m.y + m.z * m.z);
    m.x /= nrm; m.y /= nrm; m.z /= nrm;
    return m;
}

/* robust doubled cross product, same op order as geometry.h rcross */
static inline vec3 rcross(vec3 a, vec3 b)
{
    double x1 = b.x + a.x, x2 = b.x - a.x;
    double y1 = b.y + a.y, y2 = b.y - a.y;
    double z1 = b.z + a.z, z2 = b.z - a.z;
    vec3 o = {y1 * z2 - z1 * y2, z1 * x2 - x1 * z2, x1 * y2 - y1 * x2};
    return o;
}

static inline int root_of(double x, double y, double z)
{
    if (z < 0.0) {
        if (y > 0.0) return (x > 0.0) ? 0 : 1;
        if (y == 0.0) return (x >= 0.0) ? 0 : 2;
        return (x < 0.0) ? 2 : 3;
    }
    if (y > 0.0) return (x > 0.0) ? 7 : 6;
    if (y == 0.0) return (x >= 0.0) ? 7 : 5;
    return (x < 0.0) ? 5 : 4;
}

void htm_id_batch(const double *xs, const double *ys, const double *zs,
                  int64_t n, int level, int64_t *out)
{
    for (int64_t i = 0; i < n; ++i) {
        double px = xs[i], py = ys[i], pz = zs[i];
        int r = root_of(px, py, pz);
        vec3 v0 = FUND[RVERT[r][0]];
        vec3 v1 = FUND[RVERT[r][1]];
        vec3 v2 = FUND[RVERT[r][2]];
        int64_t id = r + 8;
        for (int lv = 0; lv < level; ++lv) {
            vec3 sv1 = midpoint_norm(v2, v0);
            vec3 sv2 = midpoint_norm(v0, v1);
            vec3 e = rcross(sv2, sv1);
            if (e.x * px + e.y * py + e.z * pz >= 0.0) {
                v1 = sv2; v2 = sv1;
                id <<= 2;
                continue;
            }
            vec3 sv0 = midpoint_norm(v1, v2);
            e = rcross(sv0, sv2);
            if (e.x * px + e.y * py + e.z * pz >= 0.0) {
                v0 = v1; v1 = sv0; v2 = sv2;
                id = (id << 2) + 1;
                continue;
            }
            e = rcross(sv1, sv0);
            if (e.x * px + e.y * py + e.z * pz >= 0.0) {
                v0 = v2; v1 = sv1; v2 = sv0;
                id = (id << 2) + 2;
            } else {
                v0 = sv0; v1 = sv1; v2 = sv2;
                id = (id << 2) + 3;
            }
        }
        out[i] = id;
    }
}

/* ---- HEALPix NESTED ---- */

static const double HPX_PI = 3.141592653589793238462643383279502884197;
static const double HPX_HALFPI = 1.570796326794896619231321691639751442099;

static int64_t UTAB[256];
static int utab_ready = 0;

static void init_utab(void)
{
    for (int m = 0; m < 256; ++m) {
        UTAB[m] = (m & 0x1) | ((m & 0x2) << 1) | ((m & 0x4) << 2)
                | ((m & 0x8) << 3) | ((m & 0x10) << 4) | ((m & 0x20) << 5)
                | ((m & 0x40) << 6) | ((m & 0x80) << 7);
    }
    utab_ready = 1;
}

static inline int64_t spread(int64_t v)
{
    return UTAB[v & 0xff] | (UTAB[(v >> 8) & 0xff] << 16)
         | (UTAB[(v >> 16) & 0xff] << 32) | (UTAB[(v >> 24) & 0xff] << 48);
}

void hpx_id_batch(const double *ras, const double *decs,
                  int64_t n, int order, int64_t *out)
{
    if (!utab_ready) init_utab();
    const int64_t nside = (int64_t)1 << order;
    const double dtr = HPX_PI / 180.0;
    for (int64_t i = 0; i < n; ++i) {
        double z = cos((90.0 - decs[i]) * dtr);
        double phi = ras[i] * dtr;
        double zabs = fabs(z);
        double tt = phi / HPX_HALFPI;
        int64_t face, ix, iy;
        if (zabs <= 2.0 / 3.0) {
            double temp1 = nside * (0.5 + tt);
            double temp2 = nside * (z * 0.75);
            int64_t jp = (int64_t)(temp1 - temp2);
            int64_t jm = (int64_t)(temp1 + temp2);
            int64_t ifp = jp / nside;
            int64_t ifm = jm / nside;
            if (ifp == ifm) face = (ifp == 4) ? 4 : ifp + 4;
            else if (ifp < ifm) face = ifp;
            else face = ifm + 8;
            ix = jm & (nside - 1);
            iy = (nside - 1) - (jp & (nside - 1));
        } else {
            int ntt = (int)tt;
            if (ntt >= 4) ntt = 3;
            double tp = tt - ntt;
            double tmp = nside * sqrt(3.0 * (1.0 - zabs));
            int64_t jp = (int64_t)(tp * tmp);
            int64_t jm = (int64_t)((1.0 - tp) * tmp);
            if (jp >= nside) jp = nside - 1;
            if (jm >= nside) jm = nside - 1;
            if (z >= 0) {
                face = ntt;
                ix = (nside - 1) - jm;
                iy = (nside - 1) - jp;
            } else {
                face = ntt + 8;
                ix = jp;
                iy = jm;
            }
        }
        out[i] = (face << (2 * order)) + spread(ix) + (spread(iy) << 1);
    }
}

/* ---- MinHash signature batch kernel (operators/dedup.py hot stage) ----
 *
 * Bit-identical to the numpy kernel _batch_signatures:
 *   shingle hash  h_i = sum_{j<k} byte[i+j] * 257^j      (mod 2^64)
 *   sig[p]        = (min_i (h_i * a[p] + b[p])) >> 1     (stored int64)
 * Duplicate shingles cannot change a minimum, so the numpy path's
 * np.unique (which canonicalizes the SET for the verify stage only) is
 * unnecessary here. uint64 wrap in C is the same mod-2^64 arithmetic
 * numpy uses, so signatures — and therefore the SQL oracle replays —
 * are unchanged to the bit.
 *
 * The numpy kernel materializes an (nshingles x perm-chunk) workspace
 * per batch (memory-bandwidth-bound); here the 64 running minima live
 * in registers/L1 and the loop is pure ALU — the difference is ~4x at
 * 5M-doc scale (bench_artifacts/dedup_probe.json).
 */

void minhash_sig_batch(const uint8_t *data, const int64_t *offsets,
                       int64_t ndocs, int k,
                       const uint64_t *a, const uint64_t *b, int num_perm,
                       int64_t *sigs, uint8_t *valid)
{
    uint64_t pw[64];            /* wrapper enforces k <= 64 */
    uint64_t acc[256];          /* wrapper enforces num_perm <= 256 */
    pw[0] = 1ULL;
    for (int j = 1; j < k; j++) pw[j] = pw[j - 1] * 257ULL;
    for (int64_t d = 0; d < ndocs; d++) {
        const uint8_t *s = data + offsets[d];
        int64_t len = offsets[d + 1] - offsets[d];
        if (len < k) { valid[d] = 0; continue; }
        valid[d] = 1;
        for (int p = 0; p < num_perm; p++) acc[p] = UINT64_MAX;
        int64_t nsh = len - k + 1;
        for (int64_t i = 0; i < nsh; i++) {
            uint64_t h = 0;
            for (int j = 0; j < k; j++)
                h += (uint64_t)s[i + j] * pw[j];
            for (int p = 0; p < num_perm; p++) {
                uint64_t v = h * a[p] + b[p];
                if (v < acc[p]) acc[p] = v;
            }
        }
        int64_t *out = sigs + d * (int64_t)num_perm;
        for (int p = 0; p < num_perm; p++)
            out[p] = (int64_t)(acc[p] >> 1);
    }
}

/* ---- SimHash batch kernel (operators/dedup.py simhash_udf hot path) ----
 * Bit-identical to the numpy kernel: shingle hashes as in
 * minhash_sig_batch, per-doc UNIQUE shingle set (duplicates DO change
 * the majority vote, unlike a min), per-bit signed score
 * 2*ones - nuniq, bit set iff score > 0. */

#include <stdlib.h>

static int spt_cmp_u64(const void *a, const void *b)
{
    uint64_t x = *(const uint64_t *)a, y = *(const uint64_t *)b;
    return (x > y) - (x < y);
}

void simhash_batch(const uint8_t *data, const int64_t *offsets,
                   int64_t ndocs, int k, int64_t *out, uint8_t *valid)
{
    uint64_t pw[64];
    pw[0] = 1ULL;
    for (int j = 1; j < k; j++) pw[j] = pw[j - 1] * 257ULL;
    uint64_t *buf = NULL;
    int64_t cap = 0;
    for (int64_t d = 0; d < ndocs; d++) {
        const uint8_t *s = data + offsets[d];
        int64_t len = offsets[d + 1] - offsets[d];
        if (len < k) { valid[d] = 0; out[d] = 0; continue; }
        int64_t nsh = len - k + 1;
        if (nsh > cap) {
            cap = nsh * 2;
            buf = (uint64_t *)realloc(buf, (size_t)cap * sizeof(uint64_t));
        }
        for (int64_t i = 0; i < nsh; i++) {
            uint64_t h = 0;
            for (int j = 0; j < k; j++)
                h += (uint64_t)s[i + j] * pw[j];
            buf[i] = h;
        }
        qsort(buf, (size_t)nsh, sizeof(uint64_t), spt_cmp_u64);
        int64_t cnt[64] = {0};
        int64_t nuniq = 0;
        for (int64_t i = 0; i < nsh; i++) {
            if (i > 0 && buf[i] == buf[i - 1]) continue;
            nuniq++;
            uint64_t h = buf[i];
            for (int j = 0; j < 64; j++)
                cnt[j] += (int64_t)((h >> j) & 1ULL);
        }
        uint64_t bits = 0;
        for (int j = 0; j < 64; j++)
            if (2 * cnt[j] - nuniq > 0) bits |= 1ULL << j;
        out[d] = (int64_t)bits;
        valid[d] = 1;
    }
    free(buf);
}
