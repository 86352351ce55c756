/* Banded / unconstrained DTW: one DP core, two lanes wide, two entry
 * points.
 *
 *   dtw_batch  a batch of variable-length pairs -> one distance each
 *              (behind kernels.dtw_banded_batch_mixed)
 *   dtw_knn    queries x train -> each query's k nearest train series,
 *              every DP capped at the running k-th best (exact early
 *              abandon inside the kernel; behind kernels.dtw_knn_topk)
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
 * Two lanes: each cell waits on the running sum and running minimum of
 * the cell before it, so one DP is latency-bound and a second,
 * independent DP in the other double lane of the same 16-byte vector
 * costs almost nothing.  dtw_core runs two pairs of the same shape
 * (la, lb), one per lane, over one band geometry; both operands are
 * stored interleaved lane by lane (interleave).  Lane arithmetic is the
 * scalar arithmetic lane by lane.  The min is `a < b ? a : b` per lane:
 * SSE2's minpd is exactly that select (it returns its second operand
 * on equal values and on NaN), elsewhere a compare-mask select over GCC
 * vector types computes the same, so every lane keeps bit identity.
 * dtw_knn orders the train set by length once per call and feeds each
 * query's equal-length candidates two at a time; dtw_batch pairs two
 * consecutive pairs of equal shape (metrics._pair_sort sends batches in
 * shape order).  A lone pair runs with its partner lane dead.
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
 * are "provably worse than the current top-k"); the pair returns once
 * both lanes are dead.
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
 * Both entry points return 0, or -1 when the scratch allocation fails
 * (nothing is written then; the Python side runs the reference).
 */
#include <float.h>
#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#ifdef __SSE2__
#include <emmintrin.h>
#endif

#define INLINE static inline __attribute__((always_inline))

/* one value per lane; buffers of v2d are 16-byte aligned (dp_scratch),
 * so packed instructions read them straight from memory */
typedef double v2d __attribute__((vector_size(16)));
typedef long long v2i __attribute__((vector_size(16)));

INLINE v2d splat(double x)
{
    v2d v = {x, x};
    return v;
}

/* all-ones in lane l where bit l of bits is set */
INLINE v2i lanes_of(int bits)
{
    v2i mk = {-(long long) (bits & 1), -(long long) (bits >> 1 & 1)};
    return mk;
}

/* per lane: a where mk is all-ones, else b */
INLINE v2d lane_select(v2i mk, v2d a, v2d b)
{
    return (v2d) ((mk & (v2i) a) | (~mk & (v2i) b));
}

/* per lane: a < b ? a : b */
INLINE v2d vmin(v2d a, v2d b)
{
#ifdef __SSE2__
    return (v2d) _mm_min_pd((__m128d) a, (__m128d) b);
#else
    return lane_select(a < b, a, b);
#endif
}

/* per lane: a < b || a is NaN ? a : b, the NaN-propagating min */
INLINE v2d vmin_nan(v2d a, v2d b)
{
    return lane_select((a < b) | (a != a), a, b);
}

static void band(long long la, long long lb, long long radius,
                 long long *wlo, long long *whi)
{
    if (radius < 0) { *wlo = la; *whi = lb; }
    else if (la > lb) { *wlo = la - lb + radius; *whi = radius; }
    else { *wlo = radius; *whi = lb - la + radius; }
}

/* x and y, n values each, interleaved lane by lane into out */
static void interleave(v2d *out, const double *x, const double *y,
                       long long n)
{
    long long j;
    /* a lone pair, or a dtw_knn query, fills both lanes from one series:
     * one load per value (3-4% of a lone dtw_batch pair at sz 45-99) */
    if (x == y) {
        for (j = 0; j < n; j++)
            out[j] = splat(x[j]);
        return;
    }
    for (j = 0; j < n; j++) {
        v2d v = {x[j], y[j]};
        out[j] = v;
    }
}

/* squared local cost of cell (i, c) in both lanes: (a - b)^2 summed over
 * the d channels in channel order, like kernels._dtw_local_cost */
INLINE v2d cost(const v2d *A, const v2d *B, long long i, long long c,
                long long d)
{
    if (d == 1) {
        v2d t = A[i] - B[c];
        return t * t;
    }
    long long dim;
    v2d dw = splat(0.0);
    for (dim = 0; dim < d; dim++) {
        v2d t = A[i * d + dim] - B[c * d + dim];
        dw += t * t;
    }
    return dw;
}

/* Squared DTW of two pairs of shape (la, lb), one per lane, operands
 * interleaved.  Lane l returns +inf when bit l of `dead` is set, or
 * once a row's band minimum plus tail[l] exceeds cap[l] (tail: 0, or
 * the last cell's local cost, which every path still has to pay after
 * any earlier row); the pair returns as soon as both lanes are dead.
 * prev/row point one cell into buffers of >= lb + 2 cells whose cell -1
 * holds +inf.  Inlined per call site so the d == 1 call compiles to a
 * straight loop. */
INLINE v2d dtw_core(const v2d *A, long long la, const v2d *B, long long lb,
                    long long d, long long radius, v2d cap, v2d tail,
                    int dead, v2d *prev, v2d *row, int nan)
{
    const v2d inf = splat(INFINITY);
    long long wlo, whi, prev_lo = 0, i, k;
    /* the NaN instance never abandons; nor does a call without a cap */
    int capped = !nan && (cap[0] < INFINITY || cap[1] < INFINITY);
    if (la <= 0 || lb <= 0 || dead == 3)
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
        const v2d *Bc = B + cur_lo * d;
        v2d s = splat(0.0), rmin = inf;
        if (i == 0) {
            /* row 0: row = cumsum(D), like the reference's row 0 */
            for (k = 0; k <= width; k++) {
                s += cost(A, Bc, i, k, d);
                row[k] = s;
                rmin = vmin(s, rmin);
            }
        } else {
            /* up = prev cell k+shift, diag = prev cell k+shift-1 */
            const v2d *pu = prev + (cur_lo - prev_lo);
            v2d m = inf;
            for (k = 0; k <= width; k++) {
                v2d dw = cost(A, Bc, i, k, d);
                v2d up = pu[k], dg = pu[k - 1];
                v2d a = dw + (nan ? vmin_nan(up, dg) : vmin(up, dg));
                s += dw;
                v2d t = a - s;
                m = nan ? vmin_nan(t, m) : vmin(t, m);
                v2d v = s + m;
                row[k] = v;
                rmin = vmin(v, rmin);
            }
        }
        if (i + 1 == la)
            return lane_select(lanes_of(dead), inf, row[lb - 1 - cur_lo]);
        if (capped) {
            v2i over = rmin + tail > cap;
            dead |= (int) (over[0] & 1) | (int) (over[1] & 2);
            if (dead == 3)
                return inf;
        }
        row[width + 1] = inf;
        v2d *tmp = prev;
        prev = row;
        row = tmp;
        prev_lo = cur_lo;
    }
    return inf; /* not reached: the last row returns */
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

/* dtw_core over both lanes, m[l] the largest |value| of lane l's pair:
 * lanes whose pair passes finite_dp run the finite instance, the others
 * the NaN-propagating one. */
static v2d dtw_pair(const v2d *A, long long la, const v2d *B, long long lb,
                    long long d, long long radius, v2d cap, v2d tail,
                    int dead, const double *m, v2d *prev, v2d *row)
{
    int nan = (finite_dp(la, lb, d, m[0]) ? 0 : 1)
              | (finite_dp(la, lb, d, m[1]) ? 0 : 2);
    v2d out;
    if (d == 1)
        out = dtw_core(A, la, B, lb, 1, radius, cap, tail, dead | nan,
                       prev, row, 0);
    else
        out = dtw_core(A, la, B, lb, d, radius, cap, tail, dead | nan,
                       prev, row, 0);
    if (nan & ~dead)
        out = lane_select(lanes_of(nan & ~dead),
                          dtw_core(A, la, B, lb, d, radius, cap, tail,
                                   dead | (~nan & 3), prev, row, 1),
                          out);
    return out;
}

/* two DP row buffers of `cells` + 2 vectors, cell -1 = +inf, plus
 * `extra` vectors of caller scratch after them, all 16-byte aligned;
 * returns the pointer to free, NULL on failure.  A row spans at most lb
 * cells, so cells = the longest B series fits every pair. */
static void *dp_scratch(long long cells, long long extra, v2d **prev,
                        v2d **row)
{
    void *buf = malloc(
        ((size_t) (2 * (cells + 2) + extra + 1)) * sizeof(v2d));
    if (buf == NULL)
        return NULL;
    *prev = (v2d *) (((uintptr_t) buf + sizeof(v2d)) & ~(uintptr_t) 15) + 1;
    *row = *prev + cells + 2;
    (*prev)[-1] = splat(INFINITY);
    (*row)[-1] = splat(INFINITY);
    return buf;
}

int dtw_batch(const double *bufA, const long long *offA, const long long *lenA,
              const double *bufB, const long long *offB, const long long *lenB,
              long long n, long long d, long long radius, double *out)
{
    long long cells = 1, la_max = 1, p, w;
    v2d *prev, *row, *AI, *BI;
    void *buf;
    for (p = 0; p < n; p++) {
        if (lenB[p] > cells) cells = lenB[p];
        if (lenA[p] > la_max) la_max = lenA[p];
    }
    buf = dp_scratch(cells, (la_max + cells) * d, &prev, &row);
    if (buf == NULL)
        return -1;
    AI = row + cells + 1;
    BI = AI + la_max * d;
    /* w = 2: pairs p and p + 1 share a shape and run as the two lanes */
    for (p = 0; p < n; p += w) {
        long long la = lenA[p], lb = lenB[p];
        w = p + 1 < n && lenA[p + 1] == la && lenB[p + 1] == lb ? 2 : 1;
        const double *A0 = bufA + offA[p], *A1 = bufA + offA[p + w - 1];
        const double *B0 = bufB + offB[p], *B1 = bufB + offB[p + w - 1];
        double m[2];
        m[0] = nan_max(max_abs(A0, la * d), max_abs(B0, lb * d));
        m[1] = w == 2 ? nan_max(max_abs(A1, la * d), max_abs(B1, lb * d))
                      : m[0];
        interleave(AI, A0, A1, la * d);
        interleave(BI, B0, B1, lb * d);
        v2d r = dtw_pair(AI, la, BI, lb, d, radius, splat(INFINITY),
                         splat(0.0), w == 2 ? 0 : 2, m, prev, row);
        out[p] = sqrt(r[0]);
        if (w == 2)
            out[p + 1] = sqrt(r[1]);
    }
    free(buf);
    return 0;
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
 * Each lane of a two-lane call takes the cap of the k-th best held
 * before the call: it is never below the k-th best at the time the
 * lane's result is offered, so the argument holds per lane. */
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

/* For each query q the kk = min(k, nt) train series smallest in
 * (sqrt'd distance, train id) order, ascending, skipping idT == idQ[q]
 * under drop_self and every non-finite distance: out_cnt[q] rows in
 * out_dist / out_idx[q * kk ...] (out_idx holds train positions).  The
 * train set is sorted by length (counting sort) and cut into lane
 * pairs of equal length, interleaved once per call (a length's odd one
 * out runs alone); each pair's lanes run under abandon_cap of the
 * current k-th best.  The rows depend only on (dist, id) order, not on
 * the order candidates are offered in.  Returns -1 (nothing written)
 * when the scratch allocation fails. */
int dtw_knn(const double *bufQ, const long long *offQ, const long long *lenQ,
            const long long *idQ, long long nq,
            const double *bufT, const long long *offT, const long long *lenT,
            const long long *idT, long long nt,
            long long d, long long radius, long long k, int drop_self,
            double *out_dist, long long *out_idx, long long *out_cnt)
{
    long long kk = k < nt ? k : nt, cells = 1, la_max = 1, np = 0, nv = 0;
    long long q, j, p, w, *ix, *start, *order, *pairs;
    v2d *prev, *row, *AI, *BI;
    void *buf;
    double *maxT;
    if (kk <= 0) {
        for (q = 0; q < nq; q++) out_cnt[q] = 0;
        return 0;
    }
    for (j = 0; j < nt; j++)
        if (lenT[j] > cells) cells = lenT[j];
    for (q = 0; q < nq; q++)
        if (lenQ[q] > la_max) la_max = lenQ[q];
    /* counting sort of the train positions by length, stable */
    ix = (long long *) malloc((size_t) (cells + 2 + 3 * nt) * sizeof(long long));
    if (ix == NULL)
        return -1;
    start = ix;
    order = ix + cells + 2;
    pairs = order + nt;
    for (j = 0; j <= cells + 1; j++) start[j] = 0;
    for (j = 0; j < nt; j++) start[lenT[j] + 1]++;
    for (j = 1; j <= cells + 1; j++) start[j] += start[j - 1];
    for (j = 0; j < nt; j++) order[start[lenT[j]]++] = j;
    /* lane pairs of equal length (a lone one pairs with itself); empty
     * series have no finite distance and never run */
    for (j = start[0]; j < nt; j += w) {
        long long j0 = order[j];
        w = j + 1 < nt && lenT[order[j + 1]] == lenT[j0] ? 2 : 1;
        pairs[2 * np] = j0;
        pairs[2 * np + 1] = order[j + w - 1];
        nv += lenT[j0] * d;
        np++;
    }
    buf = dp_scratch(cells, la_max * d + nv + (nt + 1) / 2, &prev, &row);
    if (buf == NULL) {
        free(ix);
        return -1;
    }
    AI = row + cells + 1;
    BI = AI + la_max * d;
    maxT = (double *) (BI + nv);
    for (j = 0; j < nt; j++)
        maxT[j] = max_abs(bufT + offT[j], lenT[j] * d);
    {
        v2d *B = BI;
        for (p = 0; p < np; p++) {
            long long lb = lenT[pairs[2 * p]];
            interleave(B, bufT + offT[pairs[2 * p]],
                       bufT + offT[pairs[2 * p + 1]], lb * d);
            B += lb * d;
        }
    }
    for (q = 0; q < nq; q++) {
        long long la = lenQ[q], cnt = 0;
        double *td = out_dist + q * kk;
        long long *ti = out_idx + q * kk;
        double maxq = max_abs(bufQ + offQ[q], la * d);
        const v2d *B = BI;
        interleave(AI, bufQ + offQ[q], bufQ + offQ[q], la * d);
        for (p = 0; la > 0 && p < np; p++) {
            long long j0 = pairs[2 * p], j1 = pairs[2 * p + 1];
            long long lb = lenT[j0];
            const v2d *Bp = B;
            B += lb * d;
            int dead = (j1 == j0) << 1;
            if (drop_self)
                dead |= (idT[j0] == idQ[q]) | (idT[j1] == idQ[q]) << 1;
            if (dead == 3)
                continue;
            double m[2] = {nan_max(maxT[j0], maxq), nan_max(maxT[j1], maxq)};
            v2d cap = splat(INFINITY);
            if (cnt == kk) {
                cap[0] = abandon_cap(td[kk - 1], la, lb, d, m[0]);
                cap[1] = abandon_cap(td[kk - 1], la, lb, d, m[1]);
            }
            v2d r = dtw_pair(AI, la, Bp, lb, d, radius, cap,
                             cost(AI, Bp, la - 1, lb - 1, d), dead, m,
                             prev, row);
            if (!(dead & 1))
                offer(td, ti, &cnt, kk, idT, sqrt(r[0]), j0);
            if (!(dead & 2))
                offer(td, ti, &cnt, kk, idT, sqrt(r[1]), j1);
        }
        out_cnt[q] = cnt;
    }
    free(buf);
    free(ix);
    return 0;
}
