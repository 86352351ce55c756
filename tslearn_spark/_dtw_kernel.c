/* Banded / unconstrained DTW: one DP core, W lanes wide (W = 8, 4 or 2,
 * picked from the CPU when the library loads), two entry points.
 *
 *   dtw_batch  a batch of variable-length pairs -> one distance each
 *              (behind kernels.dtw_banded_batch_mixed)
 *   dtw_knn    queries x train -> each query's k nearest train series,
 *              every DP capped at the running k-th best (exact early
 *              abandon inside the kernel; behind kernels.dtw_knn_topk)
 *   dtw_lanes  the lane width dtw_knn runs at in this process
 *
 * This file is the engine's only batched DTW.  Both entry points run
 * dtw_core, the file's only recurrence, the twin of the per-pair
 * reference row scan (kernels._dtw_rows).  It is BIT-IDENTICAL to that
 * reference on the non-abandoned path: the per-cell float association
 * is replicated exactly.
 *
 *   the reference vectorizes the in-row `left` dependence with the
 *   prefix identity  row[k] = s[k] + min_{j<=k}(a[j] - s[j])  where
 *   s = inclusive cumsum(D) and a[k] = D[k] + min(up, diag); this file
 *   computes the SAME expressions in the SAME order (sequential running
 *   sum s, running min m of (a - s), row[k] = s + m), and both sum a
 *   cell's local cost over the channels in channel order from 0.0, so
 *   every intermediate double rounds identically.  min/sqrt are exact
 *   IEEE ops; compile with -ffp-contract=off so no FMA re-rounds the
 *   subtract-square local cost.
 *
 * Lanes: each cell waits on the running sum and running minimum of the
 * cell before it, so one DP is latency-bound and further, independent
 * DPs in the other double lanes of the same vector cost almost nothing.
 * dtw_core runs W pairs of the same shape (la, lb), one per lane, over
 * one band geometry; the operands are stored interleaved lane by lane
 * (interleave).  Lane arithmetic is the scalar arithmetic lane by lane.
 * The min is `a < b ? a : b` per lane: minpd / vminpd is exactly that
 * select at every width (it returns its second operand on equal values
 * and on NaN); without SSE2 a compare-mask select over GCC vector types
 * computes the same, so every lane keeps bit identity.  dtw_knn orders
 * the train set by length once per call and feeds each query's
 * equal-length candidates W at a time, a length's leftover (fewer than
 * W) as one group at the narrowest width that holds it; dtw_batch groups
 * up to two consecutive pairs of equal shape at two lanes
 * (metrics._pair_sort sends batches in shape order).  Lanes a group does
 * not fill run dead.
 *
 * Widths: the per-width half of this file (at its end, after `#else`)
 * is compiled once per width by including this file again with LANES
 * set: W = 2 for the build's own target (SSE2 on x86-64, GCC vector
 * types elsewhere), and on x86 also W = 4 under target("avx2") and
 * W = 8 under target("avx512f").  The build itself takes no -m flag, so
 * one .so runs on any x86-64; pick_lanes chooses once per process, with
 * __builtin_cpu_supports (which also checks that the OS saves the wider
 * registers), the widest width W the CPU runs for dtw_knn's full
 * groups.  A group that fills fewer lanes runs narrower (lanes_for): a
 * lone pair measured twice as slow in eight lanes as in two (4.2 against
 * 2.0 us at lengths 45-99, radius 5), so every group fills more than
 * half of its lanes, or one of two, and its interleaved operands take at
 * most twice the values of its series.  dtw_batch, whose random-shape
 * batches are nearly all lone pairs, stays at two lanes.  Building with
 * -DDTW_MAX_LANES=4 or =2 caps W (the tests compare every width the
 * machine runs against the default build).
 *
 * Out-of-band prev cells read inf, like the reference's inf cells
 * outside the band, through two sentinels instead of per-cell bounds
 * tests: prev[-1] and prev[prev_w + 1] hold +inf.  Cell k of a row reads
 * prev cells k+shift-1 and k+shift with shift = cur_lo - prev_lo in
 * {0, 1}, and a row is at most one cell wider than the one before it
 * (width <= prev_w + 1 - shift), so every read lands in [-1, prev_w+1].
 *
 * Early abandon (dtw_knn only; dtw_batch runs every pair uncapped): a
 * lane whose running band minimum exceeds its cap is dead and reports
 * +inf (the reference never abandons and returns the true value; both
 * are "provably worse than the current top-k"); the group returns once
 * all its lanes are dead.
 *
 * radius < 0 means unconstrained (full window): wlo/whi are set so
 * cur_lo == 0 and hi == lb-1 on every row.
 *
 * NaN: the reference's np.minimum and np.minimum.accumulate propagate
 * it, the hot loop's min drops it.  NaN only arises from a non-finite
 * input value or from an overflow to inf (then inf - inf), so each pair
 * is checked once (finite_dp, from the pair's largest |value|): a lane
 * whose pair could produce a NaN runs in the NaN-propagating instance
 * of dtw_core (compile-time flag `nan`), never abandoned, and returns
 * the reference's value; every other lane runs the finite instance.
 *
 * Both entry points return 0, or -1 when a scratch allocation fails
 * (their output is then incomplete; the Python side runs the reference).
 */
#ifndef LANES

#include <float.h>
#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#ifdef __SSE2__
#include <immintrin.h>
#endif

#ifndef DTW_MAX_LANES
#define DTW_MAX_LANES 8
#endif
/* the 4- and 8-lane widths: x86 builds with SSE2 (every x86-64) */
#if defined(__SSE2__) && (defined(__x86_64__) || defined(__i386__))
#define WIDE_LANES 1
#else
#define WIDE_LANES 0
#endif

#define INLINE static inline __attribute__((always_inline))

static void band(long long la, long long lb, long long radius,
                 long long *wlo, long long *whi)
{
    if (radius < 0) { *wlo = la; *whi = lb; }
    else if (la > lb) { *wlo = la - lb + radius; *whi = radius; }
    else { *wlo = radius; *whi = lb - la + radius; }
}

/* the larger of a and b, NaN when either is */
static double nan_max(double a, double b)
{
    return a > b || a != a ? a : b;
}

/* Largest |value| of x, or NaN when x holds a NaN. */
static double max_abs(const double *x, long long n)
{
    double m = 0.0;
    long long j;
    for (j = 0; j < n && m == m; j++)
        m = nan_max(fabs(x[j]), m);
    return m;
}

/* Whether no DP value of an (la, lb) pair with largest |value| m can
 * overflow, so none can be NaN.  A local cost is at most 4 d m^2 (plus
 * rounding), and every running sum, prefix-minimum term and cell of the
 * row scan is at most (la + 2 lb + 2) such costs; the test allows twice
 * that.  False for a NaN or infinite m. */
static int finite_dp(long long la, long long lb, long long d, double m)
{
    return (double) (la + 2 * lb + 2) * 8.0 * (double) d * m * m < DBL_MAX;
}

/* (dist, id) order of the final (dist, id2) window */
static int ranks_after(double da, long long ia, double db, long long ib)
{
    return da > db || (da == db && ia > ib);
}

/* Abandon cap of one dtw_knn pair once kk rows are held, kth the k-th
 * best distance so far; it provably drops no pair that would rank.
 *  - A candidate ranks only with sqrt(D2) <= kth, so D2 <= kth^2 (1 + u)^2
 *    (u = eps/2, the half-ulp of a correctly rounded sqrt): below
 *    T = kth^2 (1 + 4 eps) once the square's own rounding is counted.
 *  - Computed rows can undershoot earlier ones only through the prefix
 *    identity's cancellation: from a row minimum P >= 0 every computed
 *    cell of the next row is >= P (1 - eps) - eps S, S that row's running
 *    sum, S <= lb 4 d M^2 (1 + eps) with M the pair's largest |value|;
 *    the last cell likewise pays its own cost c on top of P, at most
 *    one more eps S off.  So from row i < la - 1 the final
 *    D2 >= (rmin + c) (1 - eps la) - 4 eps (la + 1) lb d M^2 (1 + eps), and
 *    abandoning at rmin + c > (T + 8 eps la lb d M^2) (1 + 4 eps la) is
 *    sound (la >= 2 there) with margin left for the rounding of this
 *    formula; the la lb DBL_TRUE_MIN term covers gradual underflow.
 * A non-finite M gives an infinite cap: no abandon for that pair.
 * Every lane of a W-lane group takes the cap of the k-th best held
 * before the group starts: it is never below the k-th best at the time
 * the lane's result is offered, so the argument holds per lane. */
static double abandon_cap(double kth, long long la, long long lb,
                          long long d, double m)
{
    double fl = (double) la * (double) lb;
    double cap = (kth * kth * (1.0 + 4.0 * DBL_EPSILON)
                  + 8.0 * DBL_EPSILON * fl * (double) d * m * m
                  + 16.0 * fl * DBL_TRUE_MIN)
                 * (1.0 + 4.0 * DBL_EPSILON * (double) la);
    return cap < INFINITY ? cap : INFINITY;
}

/* Offer train position j at dist to a query's (dist, id)-sorted list
 * td/ti of *cnt <= kk rows; the worst row drops off a full list. */
static void offer(double *td, long long *ti, long long *cnt, long long kk,
                  const long long *idT, double dist, long long j)
{
    if (!(dist < INFINITY))
        return;
    if (*cnt == kk && !ranks_after(td[kk - 1], idT[ti[kk - 1]], dist, idT[j]))
        return;
    long long pos = *cnt < kk ? (*cnt)++ : kk - 1;
    while (pos > 0 && ranks_after(td[pos - 1], idT[ti[pos - 1]], dist,
                                  idT[j])) {
        td[pos] = td[pos - 1];
        ti[pos] = ti[pos - 1];
        pos--;
    }
    td[pos] = dist;
    ti[pos] = j;
}

/* The lane width a dtw_knn group of g equal-length series runs at: the
 * narrowest of 2, 4 and 8 that holds it, so a group fills more than half
 * of its lanes (a lone series fills one of two). */
static int lanes_for(long long g)
{
    return g <= 2 ? 2 : g <= 4 ? 4 : 8;
}

/* ---- the per-width half, once per width ---- */

#define LANES 2
#define LANE_TARGET
#ifdef __SSE2__
#define LANE_MIN(a, b) _mm_min_pd(a, b)
#define LANE_GT_BITS(a, b) _mm_movemask_pd(_mm_cmpgt_pd(a, b))
#endif
#include "_dtw_kernel.c"

#if WIDE_LANES && DTW_MAX_LANES >= 4
#define LANES 4
#define LANE_TARGET __attribute__((target("avx2")))
#define LANE_MIN(a, b) _mm256_min_pd(a, b)
#define LANE_GT_BITS(a, b) _mm256_movemask_pd(_mm256_cmp_pd(a, b, _CMP_GT_OQ))
#include "_dtw_kernel.c"
#endif

#if WIDE_LANES && DTW_MAX_LANES >= 8
#define LANES 8
#define LANE_TARGET __attribute__((target("avx512f")))
#define LANE_MIN(a, b) _mm512_min_pd(a, b)
#define LANE_GT_BITS(a, b) ((int) _mm512_cmp_pd_mask(a, b, _CMP_GT_OQ))
#include "_dtw_kernel.c"
#endif

/* ---- dispatch: one width per process ---- */

static int knn_lanes = 2;

/* The widest width this CPU runs (and its OS saves the registers of),
 * capped by DTW_MAX_LANES; run when the library loads.  Eight lanes also
 * take four (a length's leftover of 3 or 4 series runs at four). */
__attribute__((constructor)) static void pick_lanes(void)
{
#if WIDE_LANES && DTW_MAX_LANES >= 4
    __builtin_cpu_init();
    if (!__builtin_cpu_supports("avx2"))
        return;
    knn_lanes = 4;
#if DTW_MAX_LANES >= 8
    if (__builtin_cpu_supports("avx512f"))
        knn_lanes = 8;
#endif
#endif
}

int dtw_lanes(void)
{
    return knn_lanes;
}

int dtw_batch(const double *bufA, const long long *offA, const long long *lenA,
              const double *bufB, const long long *offB, const long long *lenB,
              long long n, long long d, long long radius, double *out)
{
    return batch_2(bufA, offA, lenA, bufB, offB, lenB, n, d, radius, out);
}

/* For each query q the kk = min(k, nt) train series smallest in
 * (sqrt'd distance, train id) order, ascending, skipping idT == idQ[q]
 * under drop_self and every non-finite distance: out_cnt[q] rows in
 * out_dist / out_idx[q * kk ...] (out_idx holds train positions).  The
 * train set is sorted by length (counting sort); each length is cut into
 * groups of W and one group of what is left, which runs at lanes_for of
 * its size.  One pass per width, widest first, runs every query against
 * that width's groups (knn_W) and carries each query's rows on to the
 * next; each group's lanes run under abandon_cap of the k-th best held
 * before the group starts.  The rows depend only on (dist, id) order,
 * not on the order candidates are offered in.  Returns -1 when a scratch
 * allocation fails (the rows are then incomplete). */
int dtw_knn(const double *bufQ, const long long *offQ, const long long *lenQ,
            const long long *idQ, long long nq,
            const double *bufT, const long long *offT, const long long *lenT,
            const long long *idT, long long nt,
            long long d, long long radius, long long k, int drop_self,
            double *out_dist, long long *out_idx, long long *out_cnt)
{
    long long kk = k < nt ? k : nt, cells = 1, la_max = 1, q, j, n;
    long long *start, *order, *cut, *run;
    double *maxT;
    int rc = 0;
    for (q = 0; q < nq; q++)
        out_cnt[q] = 0;
    if (kk <= 0)
        return 0;
    for (j = 0; j < nt; j++)
        if (lenT[j] > cells) cells = lenT[j];
    for (q = 0; q < nq; q++)
        if (lenQ[q] > la_max) la_max = lenQ[q];
    /* counting sort of the train positions by length, stable, and each
     * train series' largest |value| */
    start = (long long *) malloc((size_t) (cells + 2 + 3 * nt)
                                 * sizeof(long long));
    if (start == NULL)
        return -1;
    order = start + cells + 2;
    maxT = (double *) (order + nt);
    cut = (long long *) (maxT + nt);
    for (j = 0; j <= cells + 1; j++) start[j] = 0;
    for (j = 0; j < nt; j++) start[lenT[j] + 1]++;
    for (j = 1; j <= cells + 1; j++) start[j] += start[j - 1];
    for (j = 0; j < nt; j++) order[start[lenT[j]]++] = j;
    for (j = 0; j < nt; j++)
        maxT[j] = max_abs(bufT + offT[j], lenT[j] * d);
    /* empty series have no finite distance and never run: after the
     * sort the non-empty ones start at start[0].  cut[j]: the size of
     * the group that starts at run[j] */
    run = order + start[0];
    n = nt - start[0];
    for (j = 0; j < n; j += cut[j]) {
        long long g = 1;
        while (g < knn_lanes && j + g < n && lenT[run[j + g]] == lenT[run[j]])
            g++;
        cut[j] = g;
    }
#define PASS(w)                                                           \
    if (rc == 0 && knn_lanes >= w)                                        \
        rc = knn_##w(bufQ, offQ, lenQ, idQ, nq, bufT, offT, lenT, idT,    \
                     run, cut, n, maxT, cells, la_max, d, radius, kk,     \
                     drop_self, out_dist, out_idx, out_cnt);
#if WIDE_LANES && DTW_MAX_LANES >= 8
    PASS(8)
#endif
#if WIDE_LANES && DTW_MAX_LANES >= 4
    PASS(4)
#endif
    PASS(2)
#undef PASS
    free(start);
    return rc;
}

#else /* LANES: the per-width half, W = LANES */

#define CAT_(a, b) a##_##b
#define CAT(a, b) CAT_(a, b)
#define WIDE(name) CAT(name, LANES)
#define ALL ((1 << LANES) - 1)
#define FN INLINE LANE_TARGET

/* one value per lane; buffers of vd are sizeof(vd)-aligned (dp_scratch),
 * so packed instructions read them straight from memory */
typedef double WIDE(vd) __attribute__((vector_size(8 * LANES)));
typedef long long WIDE(vi) __attribute__((vector_size(8 * LANES)));
#define vd WIDE(vd)
#define vi WIDE(vi)

FN vd WIDE(splat)(double x)
{
    return (vd) {0} + x;
}

/* all-ones in lane l where bit l of bits is set */
FN vi WIDE(lanes_of)(int bits)
{
    vi mk = {0};
    int l;
    for (l = 0; l < LANES; l++)
        mk[l] = -(long long) (bits >> l & 1);
    return mk;
}

/* per lane: a where mk is all-ones, else b */
FN vd WIDE(lane_select)(vi mk, vd a, vd b)
{
    return (vd) ((mk & (vi) a) | (~mk & (vi) b));
}

/* per lane: a < b ? a : b */
FN vd WIDE(vmin)(vd a, vd b)
{
#ifdef LANE_MIN
    return (vd) LANE_MIN(a, b);
#else
    return WIDE(lane_select)(a < b, a, b);
#endif
}

/* per lane: a < b || a is NaN ? a : b, the NaN-propagating min */
FN vd WIDE(vmin_nan)(vd a, vd b)
{
    return WIDE(lane_select)((a < b) | (a != a), a, b);
}

/* bit l set where lane l of a > b */
FN int WIDE(gt_bits)(vd a, vd b)
{
#ifdef LANE_GT_BITS
    return LANE_GT_BITS(a, b);
#else
    vi gt = a > b;
    int l, bits = 0;
    for (l = 0; l < LANES; l++)
        bits |= (int) (gt[l] & 1) << l;
    return bits;
#endif
}

/* src[l], n values each, interleaved lane by lane into out */
static LANE_TARGET void WIDE(interleave)(vd *out, const double *const *src,
                                         long long n)
{
    long long j;
    int l, same = 1;
    for (l = 1; l < LANES; l++)
        same &= src[l] == src[0];
    /* one series in every lane (a lone pair, a dtw_knn query): one load
     * per value (3-4% of a lone dtw_batch pair at sz 45-99) */
    if (same) {
        for (j = 0; j < n; j++)
            out[j] = WIDE(splat)(src[0][j]);
        return;
    }
    for (j = 0; j < n; j++)
        for (l = 0; l < LANES; l++)
            out[j][l] = src[l][j];
}

/* squared local cost of cell (i, c) in every lane: (a - b)^2 summed
 * over the d channels in channel order, like kernels._dtw_local_cost */
FN vd WIDE(cost)(const vd *A, const vd *B, long long i, long long c,
                 long long d)
{
    if (d == 1) {
        vd t = A[i] - B[c];
        return t * t;
    }
    long long dim;
    vd dw = WIDE(splat)(0.0);
    for (dim = 0; dim < d; dim++) {
        vd t = A[i * d + dim] - B[c * d + dim];
        dw += t * t;
    }
    return dw;
}

/* Squared DTW of W pairs of shape (la, lb), one per lane, operands
 * interleaved.  Lane l returns +inf when bit l of `dead` is set, or
 * once a row's band minimum plus tail[l] exceeds cap[l] (tail: 0, or
 * the last cell's local cost, which every path still has to pay after
 * any earlier row); the group returns as soon as every lane is dead.
 * prev/row point one cell into buffers of >= lb + 2 cells whose cell -1
 * holds +inf.  Inlined per call site so the d == 1 call compiles to a
 * straight loop. */
FN vd WIDE(dtw_core)(const vd *A, long long la, const vd *B, long long lb,
                     long long d, long long radius, vd cap, vd tail,
                     int dead, vd *prev, vd *row, int nan)
{
    const vd inf = WIDE(splat)(INFINITY);
    long long wlo, whi, prev_lo = 0, i, k;
    /* the NaN instance never abandons; nor does a call without a cap */
    int capped = !nan && WIDE(gt_bits)(inf, cap) != 0;
    if (la <= 0 || lb <= 0 || dead == ALL)
        return inf;
    band(la, lb, radius, &wlo, &whi);
    for (i = 0; i < la; i++) {
        long long cur_lo = i - wlo;
        if (cur_lo < 0) cur_lo = 0;
        long long hi = i + whi;
        if (hi > lb - 1) hi = lb - 1;
        long long width = hi - cur_lo; /* inclusive cells [0, width] */
        /* a fully out-of-band row (unreachable with valid bands) leaves
         * no finite cell, and every later row would propagate inf */
        if (width < 0)
            return inf;
        const vd *Bc = B + cur_lo * d;
        vd s = WIDE(splat)(0.0), rmin = inf;
        if (i == 0) {
            /* row 0: row = cumsum(D), like the reference's row 0 */
            for (k = 0; k <= width; k++) {
                s += WIDE(cost)(A, Bc, i, k, d);
                row[k] = s;
                rmin = WIDE(vmin)(s, rmin);
            }
        } else {
            /* up = prev cell k+shift, diag = prev cell k+shift-1 */
            const vd *pu = prev + (cur_lo - prev_lo);
            vd m = inf;
            for (k = 0; k <= width; k++) {
                vd dw = WIDE(cost)(A, Bc, i, k, d);
                vd up = pu[k], dg = pu[k - 1];
                vd a = dw + (nan ? WIDE(vmin_nan)(up, dg)
                                 : WIDE(vmin)(up, dg));
                s += dw;
                vd t = a - s;
                m = nan ? WIDE(vmin_nan)(t, m) : WIDE(vmin)(t, m);
                vd v = s + m;
                row[k] = v;
                rmin = WIDE(vmin)(v, rmin);
            }
        }
        if (i + 1 == la)
            return WIDE(lane_select)(WIDE(lanes_of)(dead), inf,
                                     row[lb - 1 - cur_lo]);
        if (capped) {
            dead |= WIDE(gt_bits)(rmin + tail, cap);
            if (dead == ALL)
                return inf;
        }
        row[width + 1] = inf;
        vd *tmp = prev;
        prev = row;
        row = tmp;
        prev_lo = cur_lo;
    }
    return inf; /* not reached: the last row returns */
}

/* dtw_core over every lane, m[l] the largest |value| of lane l's pair:
 * lanes whose pair passes finite_dp run the finite instance, the others
 * the NaN-propagating one. */
static LANE_TARGET vd WIDE(dtw_group)(const vd *A, long long la, const vd *B,
                                      long long lb, long long d,
                                      long long radius, vd cap, vd tail,
                                      int dead, const double *m, vd *prev,
                                      vd *row)
{
    int nan = 0, l;
    vd out;
    for (l = 0; l < LANES; l++)
        nan |= !finite_dp(la, lb, d, m[l]) << l;
    if (d == 1)
        out = WIDE(dtw_core)(A, la, B, lb, 1, radius, cap, tail, dead | nan,
                             prev, row, 0);
    else
        out = WIDE(dtw_core)(A, la, B, lb, d, radius, cap, tail, dead | nan,
                             prev, row, 0);
    if (nan & ~dead)
        out = WIDE(lane_select)(
            WIDE(lanes_of)(nan & ~dead),
            WIDE(dtw_core)(A, la, B, lb, d, radius, cap, tail,
                           dead | (~nan & ALL), prev, row, 1),
            out);
    return out;
}

/* two DP row buffers of `cells` + 2 vectors, cell -1 = +inf, plus
 * `extra` vectors of caller scratch after them, all sizeof(vd)-aligned;
 * returns the pointer to free, NULL on failure.  A row spans at most lb
 * cells, so cells = the longest B series fits every pair. */
static LANE_TARGET void *WIDE(dp_scratch)(long long cells, long long extra,
                                          vd **prev, vd **row)
{
    void *buf = malloc(
        ((size_t) (2 * (cells + 2) + extra + 1)) * sizeof(vd));
    if (buf == NULL)
        return NULL;
    *prev = (vd *) (((uintptr_t) buf + sizeof(vd))
                    & ~(uintptr_t) (sizeof(vd) - 1)) + 1;
    *row = *prev + cells + 2;
    (*prev)[-1] = WIDE(splat)(INFINITY);
    (*row)[-1] = WIDE(splat)(INFINITY);
    return buf;
}

#if LANES == 2
/* dtw_batch's width, two lanes: up to W consecutive pairs of one shape
 * share a group.  Random-shape batches are nearly all lone pairs, and a
 * lone pair ran twice as long in eight lanes (4.2 against 2.0 us at
 * lengths 45-99, radius 5). */
static LANE_TARGET int WIDE(batch)(
    const double *bufA, const long long *offA, const long long *lenA,
    const double *bufB, const long long *offB, const long long *lenB,
    long long n, long long d, long long radius, double *out)
{
    long long cells = 1, la_max = 1, p;
    int g, l;
    vd *prev, *row, *AI, *BI;
    void *buf;
    for (p = 0; p < n; p++) {
        if (lenB[p] > cells) cells = lenB[p];
        if (lenA[p] > la_max) la_max = lenA[p];
    }
    buf = WIDE(dp_scratch)(cells, (la_max + cells) * d, &prev, &row);
    if (buf == NULL)
        return -1;
    AI = row + cells + 1;
    BI = AI + la_max * d;
    for (p = 0; p < n; p += g) {
        long long la = lenA[p], lb = lenB[p];
        const double *as[LANES], *bs[LANES];
        double m[LANES];
        for (g = 1; g < LANES && p + g < n && lenA[p + g] == la
                    && lenB[p + g] == lb; g++)
            ;
        for (l = 0; l < LANES; l++) {
            long long q = p + (l < g ? l : 0);
            as[l] = bufA + offA[q];
            bs[l] = bufB + offB[q];
            m[l] = l < g ? nan_max(max_abs(as[l], la * d),
                                   max_abs(bs[l], lb * d))
                         : m[0];
        }
        WIDE(interleave)(AI, as, la * d);
        WIDE(interleave)(BI, bs, lb * d);
        vd r = WIDE(dtw_group)(AI, la, BI, lb, d, radius,
                               WIDE(splat)(INFINITY), WIDE(splat)(0.0),
                               ALL & ~((1 << g) - 1), m, prev, row);
        for (l = 0; l < g; l++)
            out[p + l] = sqrt(r[l]);
    }
    free(buf);
    return 0;
}
#endif

/* g <= W series `pos` of n values each, interleaved into out (a short
 * group's dead lanes repeat its first series) */
static LANE_TARGET void WIDE(interleave_group)(
    vd *out, const double *bufT, const long long *offT,
    const long long *pos, long long g, long long n)
{
    const double *src[LANES];
    int l;
    for (l = 0; l < LANES; l++)
        src[l] = bufT + offT[pos[l < g ? l : 0]];
    WIDE(interleave)(out, src, n);
}

/* dtw_knn's pass at W lanes over the n non-empty train positions `order`,
 * sorted by length and cut into groups (cut[j] series from order[j] on):
 * the groups that run at W (lanes_for) are interleaved once per call, and
 * each query's out_cnt[q] rows so far are carried on over them. */
static LANE_TARGET int WIDE(knn)(
    const double *bufQ, const long long *offQ, const long long *lenQ,
    const long long *idQ, long long nq,
    const double *bufT, const long long *offT, const long long *lenT,
    const long long *idT, const long long *order, const long long *cut,
    long long n, const double *maxT, long long cells, long long la_max,
    long long d, long long radius, long long kk, int drop_self,
    double *out_dist, long long *out_idx, long long *out_cnt)
{
    long long nv = 0, q, j;
    vd *prev, *row, *AI, *BI, *B;
    void *buf;
    for (j = 0; j < n; j += cut[j])
        if (lanes_for(cut[j]) == LANES)
            nv += lenT[order[j]] * d;
    if (nv == 0)
        return 0;
    buf = WIDE(dp_scratch)(cells, la_max * d + nv, &prev, &row);
    if (buf == NULL)
        return -1;
    AI = row + cells + 1;
    BI = AI + la_max * d;
    B = BI;
    for (j = 0; j < n; j += cut[j])
        if (lanes_for(cut[j]) == LANES) {
            WIDE(interleave_group)(B, bufT, offT, order + j, cut[j],
                                   lenT[order[j]] * d);
            B += lenT[order[j]] * d;
        }
    for (q = 0; q < nq; q++) {
        long long la = lenQ[q], cnt = out_cnt[q];
        double *td = out_dist + q * kk;
        long long *ti = out_idx + q * kk;
        double maxq = max_abs(bufQ + offQ[q], la * d);
        WIDE(interleave_group)(AI, bufQ, offQ, &q, 1, la * d);
        B = BI;
        for (j = 0; la > 0 && j < n; j += cut[j]) {
            long long lb = lenT[order[j]], g = cut[j], l;
            double m[LANES];
            int dead = ALL & ~((1 << g) - 1);
            vd cap = WIDE(splat)(INFINITY);
            const vd *Bg = B;
            if (lanes_for(g) != LANES)
                continue;
            B += lb * d;
            if (drop_self)
                for (l = 0; l < g; l++)
                    dead |= (idT[order[j + l]] == idQ[q]) << l;
            if (dead == ALL)
                continue;
            for (l = 0; l < LANES; l++) {
                m[l] = nan_max(maxT[order[j + (l < g ? l : 0)]], maxq);
                if (cnt == kk)
                    cap[l] = abandon_cap(td[kk - 1], la, lb, d, m[l]);
            }
            vd r = WIDE(dtw_group)(AI, la, Bg, lb, d, radius, cap,
                                   WIDE(cost)(AI, Bg, la - 1, lb - 1, d),
                                   dead, m, prev, row);
            for (l = 0; l < g; l++)
                if (!(dead >> l & 1))
                    offer(td, ti, &cnt, kk, idT, sqrt(r[l]), order[j + l]);
        }
        out_cnt[q] = cnt;
    }
    free(buf);
    return 0;
}

#undef vd
#undef vi
#undef LANES
#undef LANE_TARGET
#undef LANE_MIN
#undef LANE_GT_BITS

#endif /* LANES */
