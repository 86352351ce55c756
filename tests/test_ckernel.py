"""r15: the compiled DTW kernel (tslearn_spark/_dtw_kernel.c via
tslearn_spark.ckernel) must be bit-identical to the numpy batchers on
every non-abandoned pair, and downstream-equivalent on tau2 paths —
the dispatch in kernels.dtw_banded_batch_mixed / dtw_full_batch_mixed
is unobservable in results.  The fused top-k entry point behind
kernels.dtw_knn_topk must return the numpy tier's rows bit for bit."""

import numpy as np
import pytest
from hypothesis import given, settings as hyp_settings, strategies as st

import tslearn_spark.ckernel as ck
import tslearn_spark.kernels as K

LIB = ck.lib_or_none()

pytestmark = pytest.mark.skipif(
    LIB is None, reason="no C compiler available; numpy fallback active"
)


def _mixed(rs, n, lo=5, hi=100, d=1):
    if d == 1:
        return [rs.randn(rs.randint(lo, hi)) for _ in range(n)]
    return [rs.randn(rs.randint(lo, hi), d) for _ in range(n)]


def _numpy_path(fn, *args, **kw):
    """Run a kernels.* batcher with the C dispatch disabled."""
    saved = ck._lib
    ck._lib = None
    try:
        return fn(*args, **kw)
    finally:
        ck._lib = saved


class TestCKernelBitwise:
    @pytest.mark.parametrize("d", [1, 3])
    @pytest.mark.parametrize("radius", [None, 0, 2, 5, 20])
    def test_bitwise_vs_numpy(self, d, radius):
        rs = np.random.RandomState(11)
        aa, bb = _mixed(rs, 700, d=d), _mixed(rs, 700, d=d)
        c = ck.dtw_batch(aa, bb, radius)
        if radius is None:
            base = _numpy_path(K.dtw_full_batch_mixed, aa, bb)
        else:
            base = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, radius)
        # bit-for-bit: the C DP replicates the cumsum/prefix-min float
        # association of the numpy kernels exactly (no FMA: built with
        # -ffp-contract=off)
        assert (c == base).all()

    def test_dispatch_is_wired(self):
        """kernels.dtw_banded_batch_mixed actually takes the C path when
        the lib is loaded (guard against a silent fallback regression)."""
        rs = np.random.RandomState(3)
        aa, bb = _mixed(rs, 16), _mixed(rs, 16)
        called = {}
        orig = ck.dtw_batch

        def spy(*args, **kw):
            called["yes"] = True
            return orig(*args, **kw)

        ck.dtw_batch, saved = spy, ck.dtw_batch
        try:
            K.dtw_banded_batch_mixed(aa, bb, 5)
        finally:
            ck.dtw_batch = saved
        assert called.get("yes")

    def test_tau2_semantics(self):
        """Below-cap pairs bitwise equal; above-cap pairs either the
        exact value or +inf, and +inf only where the true value is
        provably above the cap (the caller contract: both are discarded
        identically by the seeded top-k)."""
        rs = np.random.RandomState(5)
        aa = [rs.randn(rs.randint(30, 100), 1) for _ in range(500)]
        bb = [rs.randn(rs.randint(30, 100), 1) for _ in range(500)]
        base = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, 5)
        tau = np.full(500, float(np.percentile(base, 30)) ** 2)
        c = ck.dtw_batch(aa, bb, 5, tau)
        below = base ** 2 <= tau
        assert (c[below] == base[below]).all()
        above = ~below
        assert (np.isinf(c[above]) | (c[above] == base[above])).all()
        inf_cases = np.isinf(c) & ~np.isinf(base)
        assert (base[inf_cases] ** 2 > tau[inf_cases]).all()
        # inf cap == no pruning, bitwise
        assert (ck.dtw_batch(aa, bb, 5, np.full(500, np.inf)) == base).all()

    def test_extreme_length_ratios(self):
        """la >> lb and lb >> la (including la or lb == 1) keep the
        band-window bookkeeping exact in both engines."""
        rs = np.random.RandomState(9)
        aa = [rs.randn(1), rs.randn(99), rs.randn(2), rs.randn(50)]
        bb = [rs.randn(80), rs.randn(1), rs.randn(60), rs.randn(3)]
        for radius in (None, 2, 10):
            c = ck.dtw_batch(aa, bb, radius)
            if radius is None:
                base = _numpy_path(K.dtw_full_batch_mixed, aa, bb)
            else:
                base = _numpy_path(K.dtw_banded_batch_mixed, aa, bb, radius)
            assert (c == base).all()

    def test_kill_switch_falls_back(self, monkeypatch):
        """TSLEARN_SPARK_CKERNEL=0 leaves the numpy path running (fresh
        module state simulated by resetting the memo)."""
        monkeypatch.setenv("TSLEARN_SPARK_CKERNEL", "0")
        monkeypatch.setattr(ck, "_lib", None)
        monkeypatch.setattr(ck, "_tried", False)
        assert ck.lib_or_none() is None
        rs = np.random.RandomState(2)
        aa, bb = _mixed(rs, 8), _mixed(rs, 8)
        out = K.dtw_banded_batch_mixed(aa, bb, 5)  # must not raise
        assert np.isfinite(out).all()


def test_so_path_keys_on_build_flags(monkeypatch):
    """The .so cache key covers the compile flags (and the compiler and
    machine): changing _CFLAGS must build a fresh library, never reuse
    one compiled under the old flags."""
    before = ck._so_path()
    assert ck._so_path() == before  # stable for an unchanged build
    monkeypatch.setattr(ck, "_CFLAGS", [*ck._CFLAGS, "-DTSLEARN_SPARK_PROBE"])
    flagged = ck._so_path()
    assert flagged != before
    monkeypatch.setattr(ck.platform, "machine", lambda: "other-arch")
    assert ck._so_path() not in (before, flagged)


# ---------------------------------------------------------------------------
# kernels.dtw_knn_topk: the fused C top-k (ckernel.dtw_knn, early abandon
# at the running k-th best) against its numpy tier, bit for bit
# ---------------------------------------------------------------------------

def _knn_both(q, qid, t, tid, radius, k, drop_self):
    """(C tier, numpy tier) results of kernels.dtw_knn_topk."""
    c = K.dtw_knn_topk(q, qid, t, tid, radius, k, drop_self)
    n = _numpy_path(K.dtw_knn_topk, q, qid, t, tid, radius, k, drop_self)
    return c, n


def _assert_same_rows(c, n):
    for a, b in zip(c, n):
        assert a.dtype == b.dtype
        assert a.shape == b.shape
        # bitwise: ids and distances, same rows in the same order
        assert np.array_equal(a.view(np.int64), b.view(np.int64))


def _knn_reference(q, qid, t, tid, radius, k, drop_self):
    """Per-pair kernels.dtw + topk_rows_tiebreak, in the tiers' row
    order (query, then ascending (dist, id2)); non-finite rows left out
    like the final window's filter."""
    from tslearn_spark.topk import topk_rows_tiebreak

    rows = []
    for qi, a in zip(qid, q):
        d = np.array([K.dtw(a, b, sakoe_chiba_radius=radius) for b in t])
        if drop_self:
            d[tid == qi] = np.inf
        sel = topk_rows_tiebreak(d, tid, min(k, len(t)))
        sel = sel[np.isfinite(d[sel])]
        sel = sel[np.lexsort((tid[sel], d[sel]))]
        rows += [(qi, tid[j], d[j]) for j in sel]
    id1, id2, dist = zip(*rows) if rows else ((), (), ())
    return (np.array(id1, dtype=np.int64), np.array(id2, dtype=np.int64),
            np.array(dist, dtype=np.float64))


def _knn_case(rs, n_q, n_t, d, lo=1, hi=40, dup=True):
    """Mixed lengths down to length-1 series; a few train series repeat
    queries (under ids shared with them) and each other, so drop_self
    and exact ties at the cutoff are exercised."""
    q = _mixed(rs, n_q, lo, hi, d)
    t = _mixed(rs, n_t, lo, hi, d)
    qid = np.arange(n_q, dtype=np.int64)
    tid = rs.permutation(np.arange(n_q, n_q + n_t)).astype(np.int64)
    if dup and n_t >= 4 and n_q >= 2:
        t[0], tid[0] = q[1].copy(), qid[1]
        t[2] = t[3].copy()
    return q, qid, t, tid


class TestDtwKnnTiers:
    @pytest.mark.parametrize("d", [1, 3])
    @pytest.mark.parametrize("radius", [None, 0, 5, 500])
    @pytest.mark.parametrize("k", [1, 3, 50])
    @pytest.mark.parametrize("drop_self", [False, True])
    def test_c_equals_numpy(self, d, radius, k, drop_self):
        rs = np.random.RandomState(100 * d + k)
        q, qid, t, tid = _knn_case(rs, 9, 24, d)
        if radius == 500:
            # exceeds both lengths; its wide bands put the numpy tier on
            # its seed-and-cap path (the ~8k cells/pair gate)
            med_t, w_est = K.dtw_band_estimate(
                np.array([b.shape[0] for b in t]), radius)
            assert med_t * w_est >= 8192
        c, n = _knn_both(q, qid, t, tid, radius, k, drop_self)
        _assert_same_rows(c, n)
        kk = min(k, len(t))
        assert len(c[0]) == len(q) * kk - (drop_self and k >= len(t))

    def test_dispatch_is_wired(self, monkeypatch):
        """dtw_knn_topk takes the fused C entry point when the lib is
        loaded, so the tier comparisons compare two tiers."""
        calls = []
        real = ck.dtw_knn
        monkeypatch.setattr(ck, "dtw_knn",
                            lambda *a: calls.append(1) or real(*a))
        rs = np.random.RandomState(3)
        q, qid, t, tid = _knn_case(rs, 3, 8, 1)
        K.dtw_knn_topk(q, qid, t, tid, 5, 1, False)
        assert calls

    def test_mixed_widths_are_refused(self):
        # offsets follow the train width, so a query of another width
        # must never reach the kernel
        rs = np.random.RandomState(5)
        t = _mixed(rs, 4, 3, 9, 2)
        with pytest.raises(ValueError):
            K.dtw_knn_topk([rs.randn(6, 3)], [0], t, np.arange(4), 2, 1,
                           False)

    @pytest.mark.parametrize("radius", [None, 2])
    def test_drop_self_with_k_equal_n_t(self, radius):
        rs = np.random.RandomState(4)
        q = _mixed(rs, 6, 1, 20)
        ids = np.arange(10, 16, dtype=np.int64)
        c, n = _knn_both(q, ids, q, ids, radius, len(q), True)
        _assert_same_rows(c, n)
        # every query keeps all the others, never itself
        assert len(c[0]) == len(q) * (len(q) - 1)
        assert not (c[0] == c[1]).any()

    @pytest.mark.parametrize("d", [1, 3])
    @pytest.mark.parametrize("radius", [None, 0, 5])
    def test_agrees_with_per_pair_dtw(self, d, radius):
        rs = np.random.RandomState(7 + d)
        q, qid, t, tid = _knn_case(rs, 5, 16, d)
        got = K.dtw_knn_topk(q, qid, t, tid, radius, 3, True)
        ref = _knn_reference(q, qid, t, tid, radius, 3, True)
        assert np.array_equal(got[0], ref[0])
        assert np.array_equal(got[1], ref[1])
        if d == 1:
            # the scalar DP sums the same local costs in the same order
            assert np.array_equal(got[2], ref[2])
        else:
            # einsum sums the channels in another association
            np.testing.assert_allclose(got[2], ref[2], rtol=1e-12)


class TestDtwKnnAbandonSoundness:
    """The compiled tier abandons a pair once a row's band minimum passes
    the cap of its running k-th best; nothing that could rank may be
    lost, and ranks must follow (sqrt'd distance, id) exactly."""

    def test_duplicate_with_smaller_id_after_its_twin(self):
        rs = np.random.RandomState(12)
        q = _mixed(rs, 4, 20, 40)
        t = _mixed(rs, 30, 20, 40)
        tid = np.arange(100, 130, dtype=np.int64)
        # the nearest series of query 0 appears twice: first under id
        # 120, later (so its DP runs under the twin's cap) under id 101
        t[5] = q[0] + 0.01
        t[20] = t[5].copy()
        tid[5], tid[20] = 120, 101
        qid = np.arange(4, dtype=np.int64)
        for k in (1, 2):
            c, n = _knn_both(q, qid, t, tid, 3, k, False)
            _assert_same_rows(c, n)
            first = c[1][c[0] == 0]
            assert list(first[:2]) == [101, 120][:k]

    def test_distinct_squares_sharing_one_sqrt(self):
        # D2 = 1 and D2 = 1 + 2^-52 both sqrt to 1.0, a tie the final
        # window breaks by id.  The larger square belongs to the smaller
        # id, comes second, and already reaches 1 + 2^-52 at row 1 of 3:
        # a cap of plain kth^2 would abandon it there
        assert np.sqrt(1.0 + 2.0 ** -52) == 1.0
        q = [np.zeros(3)]
        t = [np.array([1.0, 0.0, 0.0]), np.array([1.0, 2.0 ** -26, 0.0])]
        tid = np.array([9, 2], dtype=np.int64)
        acc = [K.dtw_accumulated_matrix(q[0], b, sakoe_chiba_radius=0)
               for b in t]
        assert acc[0][-1, -1] == 1.0 and acc[1][-1, -1] == 1.0 + 2.0 ** -52
        assert acc[1][1].min() > 1.0
        for radius in (0, None):
            c, n = _knn_both(q, np.array([0]), t, tid, radius, 1, False)
            _assert_same_rows(c, n)
            assert c[1].tolist() == [2] and c[2].tolist() == [1.0]

    def test_prefix_identity_cancellation_is_not_abandoned(self):
        # the prefix identity row = s + min(a - s) cancels when one lane
        # carries a huge local cost: here it computes D2 = 0 (the exact
        # DP gives 1) after row 0 already holds min 1 > 0.25, the square
        # of the k-th best.  Both tiers compute 0, so a cap without the
        # cancellation slack would abandon the pair that ranks first
        q = [np.array([1.0, 1e10])]
        t = [np.array([1.5, 1e10]), np.array([0.0, 1.0, 1e10])]
        assert K.dtw_banded_batch_mixed(q * 2, t, 0).tolist() == [0.5, 0.0]
        c, n = _knn_both(q, np.array([0]), t, np.array([1, 2]), 0, 1, False)
        _assert_same_rows(c, n)
        assert c[1].tolist() == [2] and c[2].tolist() == [0.0]

    def test_nan_series_produce_no_row(self):
        rs = np.random.RandomState(13)
        q, qid, t, tid = _knn_case(rs, 6, 12, 1, 5, 30, dup=False)
        q[2] = q[2].copy()
        q[2][3] = np.nan
        t[4] = t[4].copy()
        t[4][-1] = np.nan
        for radius in (None, 4):
            c, n = _knn_both(q, qid, t, tid, radius, 3, False)
            _assert_same_rows(c, n)
            assert 2 not in c[0] and tid[4] not in c[1]
            assert np.isfinite(c[2]).all()
            assert len(c[0]) == 5 * 3

    @pytest.mark.parametrize("d", [1, 2])
    def test_empty_train_series_produce_no_row(self, d):
        # a train series with 0 timestamps has no finite distance: both
        # tiers leave it out and return the other rows unchanged
        rs = np.random.RandomState(14)
        q, qid, t, tid = _knn_case(rs, 5, 10, d, 3, 20, dup=False)
        t_e = t[:4] + [np.empty((0,) + t[0].shape[1:])] + t[4:]
        tid_e = np.r_[tid[:4], 99, tid[4:]]
        for radius in (None, 3):
            want = _knn_both(q, qid, t, tid, radius, 3, False)[0]
            c, n = _knn_both(q, qid, t_e, tid_e, radius, 3, False)
            _assert_same_rows(c, n)
            _assert_same_rows(c, want)

    def test_scratch_allocation_failure_falls_back(self, monkeypatch):
        rs = np.random.RandomState(14)
        q, qid, t, tid = _knn_case(rs, 7, 20, 1)
        want = _numpy_path(K.dtw_knn_topk, q, qid, t, tid, 5, 2, True)
        real_knn, real_batch = LIB.dtw_knn, LIB.dtw_batch
        status = []

        def starved(real, len_arg):
            # the real kernel, told one series is 2^58 long: its scratch
            # (2^62 bytes) cannot be allocated
            def call(*args):
                args = list(args)
                args[len_arg] = np.full_like(args[len_arg], 1 << 58)
                status.append(real(*args))
                return status[-1]
            return call

        monkeypatch.setattr(LIB, "dtw_knn", starved(real_knn, 7))
        _assert_same_rows(K.dtw_knn_topk(q, qid, t, tid, 5, 2, True), want)
        assert status == [-1]
        # the batch entry point fails the same way and its callers fall
        # back to numpy as well
        monkeypatch.setattr(LIB, "dtw_batch", starved(real_batch, 5))
        with pytest.raises(MemoryError):
            ck.dtw_batch(q, t[:7], 5)
        _assert_same_rows(K.dtw_knn_topk(q, qid, t, tid, 5, 2, True), want)
        assert status[1:] and set(status[1:]) == {-1}


def _check_knn_tiers(seed, n_q, n_t, k, radius, drop_self, d, hi, quantized):
    rs = np.random.RandomState(seed)
    q, qid, t, tid = _knn_case(rs, n_q, n_t, d, 1, hi)
    if quantized:
        # integer-valued series: many exact distance ties across ids
        q = [np.round(a) for a in q]
        t = [np.round(b) for b in t]
    c, n = _knn_both(q, qid, t, tid, radius, k, drop_self)
    _assert_same_rows(c, n)


def _knn_params(max_q, max_t, max_len):
    return dict(
        seed=st.integers(0, 2**31 - 1), n_q=st.integers(1, max_q),
        n_t=st.integers(1, max_t), k=st.integers(1, max_t + 2),
        radius=st.sampled_from([None, 0, 1, 3, 40, 2000]),
        drop_self=st.booleans(), d=st.sampled_from([1, 2]),
        hi=st.integers(2, max_len), quantized=st.booleans())


@hyp_settings(max_examples=30, deadline=None, derandomize=True)
@given(**_knn_params(5, 10, 16))
def test_property_knn_tiers_agree(seed, n_q, n_t, k, radius, drop_self, d,
                                  hi, quantized):
    _check_knn_tiers(seed, n_q, n_t, k, radius, drop_self, d, hi, quantized)


@pytest.mark.slow
@hyp_settings(max_examples=400, deadline=None)
@given(**_knn_params(8, 40, 90))
def test_property_knn_tiers_agree_deep(seed, n_q, n_t, k, radius, drop_self,
                                       d, hi, quantized):
    _check_knn_tiers(seed, n_q, n_t, k, radius, drop_self, d, hi, quantized)
