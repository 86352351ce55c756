"""r15: the compiled DTW kernel (tslearn_spark/_dtw_kernel.c via
tslearn_spark.ckernel) must be bit-identical to the numpy batchers on
every non-abandoned pair, and downstream-equivalent on tau2 paths —
the dispatch in kernels.dtw_banded_batch_mixed / dtw_full_batch_mixed
is unobservable in results."""

import numpy as np
import pytest

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
