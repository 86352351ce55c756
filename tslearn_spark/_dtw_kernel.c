/* Banded / unconstrained DTW: one DP core, two entry points.
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
 * Out-of-band prev lanes read inf, like the reference's inf cells
 * outside the band, through two sentinels instead of per-cell bounds
 * tests: prev[-1] and prev[prev_w + 1] hold +inf.  Lane k of a row reads
 * prev lanes k+shift-1 and k+shift with shift = cur_lo - prev_lo in
 * {0, 1}, and a row is at most one lane wider than the one before it
 * (width <= prev_w + 1 - shift), so every read lands in [-1, prev_w+1].
 *
 * Early abandon (dtw_knn only; dtw_batch runs every pair uncapped): a
 * pair whose running band minimum exceeds its cap is reported +inf at
 * once (the reference never abandons and returns the true value; both
 * are "provably worse than the current top-k").
 *
 * radius < 0 means unconstrained (full window): wlo/whi are set so
 * cur_lo == 0 and hi == lb-1 on every row.
 *
 * NaN: the reference's np.minimum and np.minimum.accumulate propagate
 * it, the hot loop's `up < dg ? up : dg` and `t < m` drop it.  NaN only
 * arises from a non-finite input value or from an overflow to inf (then
 * inf - inf), so each pair is checked once (finite_dp, from the pair's
 * largest |value|): a pair that could produce a NaN runs the
 * NaN-propagating instance of dtw_core (compile-time flag `nan`), never
 * abandoned, and returns the reference's value; every other pair runs
 * the unchanged finite instance.
 *
 * Both entry points return 0, or -1 when the scratch allocation fails
 * (nothing is written then; the Python side runs the reference).
 */
#include <float.h>
#include <math.h>
#include <stdlib.h>

static void band(long long la, long long lb, long long radius,
                 long long *wlo, long long *whi)
{
    if (radius < 0) { *wlo = la; *whi = lb; }
    else if (la > lb) { *wlo = la - lb + radius; *whi = radius; }
    else { *wlo = radius; *whi = lb - la + radius; }
}

/* squared local cost of cell (i, c): (a - b)^2 summed over the d
 * channels in channel order, like kernels._dtw_local_cost */
static inline __attribute__((always_inline)) double
cost(const double *A, const double *B, long long i, long long c,
     long long d)
{
    if (d == 1) {
        double t = A[i] - B[c];
        return t * t;
    }
    long long dim;
    double dw = 0.0;
    for (dim = 0; dim < d; dim++) {
        double t = A[i * d + dim] - B[c * d + dim];
        dw += t * t;
    }
    return dw;
}

/* Squared DTW of one pair, or +inf once a row's band minimum plus
 * `tail` exceeds cap (tail: 0, or the last cell's local cost, which
 * every path still has to pay after any earlier row).  prev/row point
 * one lane into buffers of >= lb + 2 doubles whose lane -1 holds +inf.
 * Inlined per call site so the d == 1 call compiles to a straight
 * scalar loop. */
static inline __attribute__((always_inline)) double
dtw_core(const double *A, long long la, const double *B, long long lb,
         long long d, long long radius, double cap, double tail,
         double *prev, double *row, int nan)
{
    long long wlo, whi, prev_lo = 0, i, k;
    if (la <= 0 || lb <= 0)
        return INFINITY;
    band(la, lb, radius, &wlo, &whi);
    for (i = 0; i < la; i++) {
        long long cur_lo = i - wlo;
        if (cur_lo < 0) cur_lo = 0;
        long long hi = i + whi;
        if (hi > lb - 1) hi = lb - 1;
        long long width = hi - cur_lo; /* inclusive lanes [0, width] */
        /* a fully out-of-band row (unreachable with valid bands) leaves
         * no finite cell, and every later row would propagate inf */
        if (width < 0)
            return INFINITY;
        const double *Bc = B + cur_lo * d;
        double s = 0.0, rmin = INFINITY;
        if (i == 0) {
            /* row 0: row = cumsum(D), like the reference's row 0 */
            for (k = 0; k <= width; k++) {
                s += cost(A, Bc, i, k, d);
                row[k] = s;
                if (s < rmin) rmin = s;
            }
        } else {
            /* up = prev lane k+shift, diag = prev lane k+shift-1 */
            const double *pu = prev + (cur_lo - prev_lo);
            double m = INFINITY;
            for (k = 0; k <= width; k++) {
                double dw = cost(A, Bc, i, k, d);
                double up = pu[k], dg = pu[k - 1];
                double a = dw + (up < dg || (nan && up != up) ? up : dg);
                s += dw;
                double t = a - s;
                if (t < m || (nan && t != t)) m = t;
                double v = s + m;
                row[k] = v;
                if (v < rmin) rmin = v;
            }
        }
        if (i + 1 == la)
            return row[lb - 1 - cur_lo];
        if (!nan && rmin + tail > cap)
            return INFINITY;
        row[width + 1] = INFINITY;
        double *tmp = prev;
        prev = row;
        row = tmp;
        prev_lo = cur_lo;
    }
    return INFINITY; /* not reached: the last row returns */
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

static double dtw_pair(const double *A, long long la, const double *B,
                       long long lb, long long d, long long radius,
                       double cap, double tail, double *prev, double *row,
                       double m)
{
    if (!finite_dp(la, lb, d, m))
        return dtw_core(A, la, B, lb, d, radius, cap, tail, prev, row, 1);
    if (d == 1)
        return dtw_core(A, la, B, lb, 1, radius, cap, tail, prev, row, 0);
    return dtw_core(A, la, B, lb, d, radius, cap, tail, prev, row, 0);
}

/* two DP row buffers of `lanes` + 2 doubles, lane -1 = +inf, plus
 * `extra` doubles of caller scratch; NULL on failure.  A row spans at
 * most lb lanes, so lanes = the longest B series fits every pair. */
static double *dp_scratch(long long lanes, long long extra,
                          double **prev, double **row)
{
    double *buf = (double *) malloc(
        ((size_t) (2 * (lanes + 2) + extra)) * sizeof(double));
    if (buf == NULL)
        return NULL;
    *prev = buf + 1;
    *row = buf + lanes + 3;
    (*prev)[-1] = INFINITY;
    (*row)[-1] = INFINITY;
    return buf;
}

int dtw_batch(const double *bufA, const long long *offA, const long long *lenA,
              const double *bufB, const long long *offB, const long long *lenB,
              long long n, long long d, long long radius, double *out)
{
    long long lanes = 1, p;
    double *prev, *row, *buf;
    for (p = 0; p < n; p++)
        if (lenB[p] > lanes) lanes = lenB[p];
    buf = dp_scratch(lanes, 0, &prev, &row);
    if (buf == NULL)
        return -1;
    for (p = 0; p < n; p++) {
        double m = nan_max(max_abs(bufA + offA[p], lenA[p] * d),
                           max_abs(bufB + offB[p], lenB[p] * d));
        out[p] = sqrt(dtw_pair(bufA + offA[p], lenA[p], bufB + offB[p],
                               lenB[p], d, radius, INFINITY, 0.0,
                               prev, row, m));
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
 * A non-finite M gives an infinite cap: no abandon for that pair. */
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

/* For each query q the kk = min(k, nt) train series smallest in
 * (sqrt'd distance, train id) order, ascending, skipping idT == idQ[q]
 * under drop_self and every non-finite distance: out_cnt[q] rows in
 * out_dist / out_idx[q * kk ...] (out_idx holds train positions).  Each
 * DP runs under abandon_cap of the current k-th best.  Returns -1
 * (nothing written) when the scratch allocation fails. */
int dtw_knn(const double *bufQ, const long long *offQ, const long long *lenQ,
            const long long *idQ, long long nq,
            const double *bufT, const long long *offT, const long long *lenT,
            const long long *idT, long long nt,
            long long d, long long radius, long long k, int drop_self,
            double *out_dist, long long *out_idx, long long *out_cnt)
{
    long long kk = k < nt ? k : nt, lanes = 1, q, j;
    double *prev, *row, *buf, *maxT;
    if (kk <= 0) {
        for (q = 0; q < nq; q++) out_cnt[q] = 0;
        return 0;
    }
    for (j = 0; j < nt; j++)
        if (lenT[j] > lanes) lanes = lenT[j];
    buf = dp_scratch(lanes, nt, &prev, &row);
    if (buf == NULL)
        return -1;
    maxT = row + lanes + 1;
    for (j = 0; j < nt; j++)
        maxT[j] = max_abs(bufT + offT[j], lenT[j] * d);
    for (q = 0; q < nq; q++) {
        const double *A = bufQ + offQ[q];
        long long la = lenQ[q], cnt = 0;
        double *td = out_dist + q * kk;
        long long *ti = out_idx + q * kk;
        double maxq = max_abs(A, la * d);
        for (j = 0; j < nt; j++) {
            if (drop_self && idT[j] == idQ[q])
                continue;
            const double *B = bufT + offT[j];
            long long lb = lenT[j];
            double m = nan_max(maxT[j], maxq);
            double cap = cnt < kk ? INFINITY
                : abandon_cap(td[kk - 1], la, lb, d, m);
            double tail = la > 0 && lb > 0 ? cost(A, B, la - 1, lb - 1, d)
                                           : 0.0;
            double dist = sqrt(dtw_pair(A, la, B, lb, d, radius, cap, tail,
                                        prev, row, m));
            if (!(dist < INFINITY))
                continue;
            if (cnt == kk && !ranks_after(td[kk - 1], idT[ti[kk - 1]],
                                          dist, idT[j]))
                continue;
            /* sorted insert; the worst row drops off a full list */
            long long pos = cnt < kk ? cnt++ : kk - 1;
            while (pos > 0 && ranks_after(td[pos - 1], idT[ti[pos - 1]],
                                          dist, idT[j])) {
                td[pos] = td[pos - 1];
                ti[pos] = ti[pos - 1];
                pos--;
            }
            td[pos] = dist;
            ti[pos] = j;
        }
        out_cnt[q] = cnt;
    }
    free(buf);
    return 0;
}
