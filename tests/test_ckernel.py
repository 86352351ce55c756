"""The compiled DTW kernel (tslearn_spark/_dtw_kernel.c via
tslearn_spark.ckernel) is the engine's one batched DTW.  On every
non-abandoned pair it must return the per-pair reference's doubles bit
for bit, for d = 1, 2 and 3, and the fused top-k behind
kernels.dtw_knn_topk must return the reference tier's rows bit for bit.
The kernels.* dispatches run that reference tier when no library loads,
and the driver's build reaches executors that cannot compile it."""

import os
import warnings

import numpy as np
import pytest
from hypothesis import given, settings as hyp_settings, strategies as st

import tslearn_spark.ckernel as ck
import tslearn_spark.kernels as K

LIB = ck.lib_or_none()

pytestmark = pytest.mark.skipif(
    LIB is None, reason="no C compiler available; reference tier active"
)


def _mixed(rs, n, lo=5, hi=100, d=1, lengths=None):
    """n random series, lengths drawn from [lo, hi) or, when given, from
    ``lengths``."""
    def draw():
        return rs.choice(lengths) if lengths is not None else rs.randint(lo, hi)
    if d == 1:
        return [rs.randn(draw()) for _ in range(n)]
    return [rs.randn(draw(), d) for _ in range(n)]


def _few_lengths(rs, lo, hi):
    """One or two lengths in [lo, hi): series drawn from them form
    equal-length groups of two or more, in odd counts too, which the
    kernel runs together in the lanes of one register."""
    return rs.randint(lo, hi, rs.randint(1, 3))


def _reference_path(fn, *args, **kw):
    """Run a kernels.* dispatch with the compiled kernel hidden, so it
    loops over the per-pair reference."""
    saved = ck._lib
    ck._lib = None
    try:
        return fn(*args, **kw)
    finally:
        ck._lib = saved


def _same_bits(a, b):
    return a.shape == b.shape and np.array_equal(a.view(np.int64),
                                                 b.view(np.int64))


def _rebuild(monkeypatch, tmp_path, *flags):
    """Load a fresh build of the kernel compiled with ``flags`` added,
    cached under tmp_path, for the rest of the test."""
    monkeypatch.setattr(ck, "_CFLAGS", [*ck._CFLAGS, *flags])
    monkeypatch.setenv("TSLEARN_SPARK_CK_DIR", str(tmp_path))
    monkeypatch.setattr(ck, "_lib", None)
    monkeypatch.setattr(ck, "_tried", False)
    lib = ck.lib_or_none()
    assert lib is not None and lib._name.startswith(str(tmp_path))
    return lib


class TestCKernelBitwise:
    @pytest.mark.parametrize("d", [1, 2, 3])
    @pytest.mark.parametrize("radius", [None, 0, 2, 5, 20])
    def test_bitwise_vs_reference(self, d, radius):
        rs = np.random.RandomState(11)
        # mixed shapes (each pair runs alone), then a batch of few shapes
        # (consecutive pairs of one shape share the two lanes)
        for eq_len in (False, True):
            la = _few_lengths(rs, 5, 100) if eq_len else None
            lb = _few_lengths(rs, 5, 100) if eq_len else None
            aa, bb = _mixed(rs, 150, d=d, lengths=la), \
                _mixed(rs, 150, d=d, lengths=lb)
            c = ck.dtw_batch(aa, bb, radius)
            base = _reference_path(K.dtw_banded_batch_mixed, aa, bb, radius)
            # bit-for-bit: the C DP replicates the reference row scan's
            # cumsum/prefix-min float association and its channel-order
            # local cost exactly (no FMA: built with -ffp-contract=off)
            assert _same_bits(c, base)

    def test_portable_min_build_matches_default(self, monkeypatch, tmp_path):
        """Built with __SSE2__ undefined, the kernel runs two lanes and
        takes its portable min (a compare-mask select over GCC vector
        types, what targets without SSE2 compile) in place of minpd; both
        entry points must return the default build's results bit for
        bit."""
        rs = np.random.RandomState(23)
        cases = []
        for d in (1, 2):
            q, qid, t, tid = _knn_case(rs, 6, 25, d, 3, 30, eq_len=True)
            aa = _mixed(rs, 40, 3, 30, d, _few_lengths(rs, 3, 30))
            bb = _mixed(rs, 40, 3, 30, d, _few_lengths(rs, 3, 30))
            cases += [(q, qid, t, tid, aa, bb, r) for r in (None, 0, 4)]

        def run():
            out = []
            for q, qid, t, tid, aa, bb, r in cases:
                out.append(ck.dtw_batch(aa + q, bb + t[:len(q)], r))
                for k, drop in ((1, True), (4, False)):
                    out.extend(ck.dtw_knn(q, qid, ck.flatten(t), tid, r, k,
                                          drop))
            return out

        want = run()
        _rebuild(monkeypatch, tmp_path, "-U__SSE2__")
        # no SSE2, no wider registers either: the generic two lanes
        assert ck.lanes() == 2
        got = run()
        assert len(got) == len(want)
        for a, b in zip(got, want):
            assert a.dtype == b.dtype and _same_bits(a, b)

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

    @pytest.mark.parametrize("d", [1, 2, 3])
    def test_extreme_length_ratios(self, d):
        """la >> lb and lb >> la (including la or lb == 1) keep the
        band-window bookkeeping exact in both tiers."""
        rs = np.random.RandomState(9)
        aa = [rs.randn(n, d) for n in (1, 99, 2, 50)]
        bb = [rs.randn(n, d) for n in (80, 1, 60, 3)]
        for radius in (None, 2, 10):
            c = ck.dtw_batch(aa, bb, radius)
            base = _reference_path(K.dtw_banded_batch_mixed, aa, bb, radius)
            assert _same_bits(c, base)

    @pytest.mark.parametrize("d", [1, 3])
    def test_empty_series_give_inf(self, d):
        rs = np.random.RandomState(6)
        aa = [rs.randn(4, d), np.empty((0, d)), rs.randn(5, d)]
        bb = [np.empty((0, d)), rs.randn(3, d), rs.randn(5, d)]
        for radius in (None, 2):
            c = ck.dtw_batch(aa, bb, radius)
            base = _reference_path(K.dtw_banded_batch_mixed, aa, bb, radius)
            assert _same_bits(c, base)
            assert np.isinf(c[:2]).all() and np.isfinite(c[2])

    def test_malformed_batches_raise(self):
        # the kernel reads every series at the first one's width and n
        # entries of each side, so mixed widths or unequal sides must
        # raise on both tiers, never run
        rs = np.random.RandomState(5)
        aa = [rs.randn(6, 3), rs.randn(5, 2)]
        bb = [rs.randn(4, 3), rs.randn(7, 3)]
        for a, b in ((aa, bb), (bb, bb[:1])):
            with pytest.raises(ValueError):
                K.dtw_banded_batch_mixed(a, b, 2)
            with pytest.raises(ValueError):
                _reference_path(K.dtw_banded_batch_mixed, a, b, 2)

    def test_kill_switch_selects_reference(self, monkeypatch):
        """TSLEARN_SPARK_CKERNEL=0 selects the reference tier (fresh
        module state simulated by resetting the memo), on purpose and so
        without the unavailable-kernel warning."""
        rs = np.random.RandomState(2)
        aa, bb = _mixed(rs, 8, d=2), _mixed(rs, 8, d=2)
        want = K.dtw_banded_batch_mixed(aa, bb, 5)
        monkeypatch.setenv("TSLEARN_SPARK_CKERNEL", "0")
        monkeypatch.setattr(ck, "_lib", None)
        monkeypatch.setattr(ck, "_tried", False)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            assert ck.lib_or_none() is None
            assert _same_bits(K.dtw_banded_batch_mixed(aa, bb, 5), want)


@pytest.mark.parametrize("d", [1, 2])
def test_flat_from_arrow_matches_flatten(d):
    """Flat.from_arrow reads a list<list<double>> column off its list
    offsets into the layout flatten builds, on a sliced, chunked column
    with empty series; a mixed-width column is refused like flatten."""
    import pyarrow as pa

    rs = np.random.RandomState(2)
    arrs = [rs.randn(n, d) for n in (3, 0, 5, 1, 0, 4)]
    col = pa.array([a.tolist() for a in arrs],
                   pa.list_(pa.list_(pa.float64())))
    chunked = pa.chunked_array([col.slice(0, 1), col.slice(1, 3),
                                col.slice(4)])
    for values, want in ((col, arrs), (chunked, arrs),
                         (col.slice(2, 3), arrs[2:5])):
        got, ref = ck.Flat.from_arrow(values), ck.flatten(want)
        assert got.d == d
        for a, b in zip(got[:3], ref[:3]):
            assert a.dtype == b.dtype and np.array_equal(a, b)
    empty = ck.Flat.from_arrow(pa.chunked_array([], col.type))
    assert empty.lens.size == 0 and empty.buf.size == 0
    with pytest.raises(ValueError):
        ck.Flat.from_arrow(pa.array([[[1.0, 2.0]], [[1.0]]],
                                    pa.list_(pa.list_(pa.float64()))))


def test_rows_from_arrow_matches_per_row_decode():
    """rows_from_arrow reads a list<float> column off its list offsets
    into the very float64 bits the per-row ``list(v)`` decode gives, on
    a plain, a sliced and a chunked column and on an empty batch."""
    import pyarrow as pa

    rs = np.random.RandomState(4)
    v = (rs.randn(7, 5) * 1e3).astype(np.float32)
    v[2, 1] = np.nan
    col = pa.array(v.tolist(), pa.list_(pa.float32()))
    chunked = pa.chunked_array([col.slice(0, 2), col.slice(2, 0),
                                col.slice(2)])
    for values in (col, col.slice(3, 3), chunked):
        want = np.array([list(r) for r in values.to_pandas()],
                        dtype=np.float64)
        got = ck.rows_from_arrow(values)
        assert got.dtype == np.float64 and got.shape == want.shape
        assert got.tobytes() == want.tobytes()
    empty = pa.RecordBatch.from_arrays([col.slice(0, 0)], ["values"])
    assert ck.rows_from_arrow(empty.column("values")).shape == (0, 0)


def test_rows_from_arrow_refuses_ragged_and_null_vectors():
    """Unequal widths and a null vector raise ValueError: read off the
    offsets alone, a null row would be a silent zero-width vector,
    where the per-row ``list(None)`` raised."""
    import pyarrow as pa

    t = pa.list_(pa.float32())
    # the last two hold as many leaf values as rows x first width
    for rows in ([[1.0, 2.0], [1.0]], [[1.0, 2.0], None],
                 [None, [1.0, 2.0]], [[1.0], [2.0, 3.0], []], [[], None]):
        with pytest.raises(ValueError):
            ck.rows_from_arrow(pa.array(rows, t))
    # a null vector outside the slice is not read
    col = pa.array([None, [1.0, 2.0]], t)
    assert ck.rows_from_arrow(col.slice(1)).tolist() == [[1.0, 2.0]]


def test_so_path_keys_on_build_flags(monkeypatch):
    """The .so cache key covers the C source, the compile flags and the
    machine: changing _CFLAGS must build a fresh library, never reuse
    one compiled under the old flags.  It does not depend on the
    compiler, so a machine without one names the driver's build."""
    before = ck._so_path()
    assert ck._so_path() == before  # stable for an unchanged build
    monkeypatch.setenv("TSLEARN_SPARK_CC", "/nonexistent/cc")
    assert ck._so_path() == before
    monkeypatch.setattr(ck, "_CFLAGS", [*ck._CFLAGS, "-DTSLEARN_SPARK_PROBE"])
    flagged = ck._so_path()
    assert flagged != before
    monkeypatch.setattr(ck.platform, "machine", lambda: "other-arch")
    assert ck._so_path() not in (before, flagged)


def _no_compiler_probe(hide_shipped):
    """A Spark-task function: from a fresh loader state with no compiler
    and an empty cache directory (and, under ``hide_shipped``, no shipped
    files), load the kernel and run its partition's one pair batch; then
    restore the worker for later tasks."""
    def probe(batches):
        import os
        import shutil
        import tempfile
        import warnings

        from pyspark import SparkFiles

        import tslearn_spark.ckernel as ck
        import tslearn_spark.kernels as K

        (aa, bb), = batches
        empty = tempfile.mkdtemp()
        saved = (ck._lib, ck._tried, SparkFiles._root_directory,
                 {v: os.environ.get(v) for v in
                  ("TSLEARN_SPARK_CC", "TSLEARN_SPARK_CK_DIR")})
        os.environ["TSLEARN_SPARK_CC"] = os.path.join(empty, "no-cc")
        os.environ["TSLEARN_SPARK_CK_DIR"] = empty
        if hide_shipped:
            SparkFiles._root_directory = empty
        ck._lib, ck._tried = None, False
        try:
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                lib = ck.lib_or_none()
                ck.lib_or_none()
                out = K.dtw_banded_batch_mixed(aa, bb, 3)
            return [(None if lib is None else os.path.relpath(
                         lib._name, SparkFiles.getRootDirectory()),
                     [str(x.message) for x in w], os.listdir(empty),
                     out.tobytes())]
        finally:
            ck._lib, ck._tried, SparkFiles._root_directory = saved[:3]
            for v, val in saved[3].items():
                if val is None:
                    os.environ.pop(v, None)
                else:
                    os.environ[v] = val
            shutil.rmtree(empty)
    return probe


def _run_probe(spark, hide_shipped):
    """(loaded path relative to the shipped files, warnings, files
    built, values) of the probe task, and the driver's C values for the
    same pairs."""
    rs = np.random.RandomState(1)
    aa, bb = _mixed(rs, 20, 5, 40, 2), _mixed(rs, 20, 5, 40, 2)
    (got,) = spark.sparkContext.parallelize([(aa, bb)], 1).mapPartitions(
        _no_compiler_probe(hide_shipped)).collect()
    return got, ck.dtw_batch(aa, bb, 3).tobytes()


class TestShippedKernel:
    def test_task_without_compiler_loads_shipped_kernel(self, spark):
        """get_spark ships the driver's build; a task on a machine with
        no compiler and no cached build loads that copy and runs C."""
        name = os.path.basename(ck._so_path())
        assert any(f.endswith("/" + name)
                   for f in spark.sparkContext.listFiles)
        (path, warned, built, out), want = _run_probe(spark, False)
        assert path == name
        assert warned == [] and built == []
        assert out == want

    def test_worker_reports_the_driver_tier_and_width(self, spark):
        """A Python worker loads the compiled tier at the lane width the
        driver runs (``ckernel.lanes``, read from the library itself)."""
        def probe(_):
            import tslearn_spark.ckernel as wck

            yield ("c" if wck.lib_or_none() is not None else "reference",
                   wck.lanes())

        got = spark.sparkContext.parallelize([0], 1).mapPartitions(
            probe).collect()
        assert got == [("c", ck.lanes())]
        assert ck.lanes() in (2, 4, 8)

    def test_task_with_nothing_shipped_warns_once(self, spark):
        (path, warned, built, out), want = _run_probe(spark, True)
        assert path is None and built == []
        assert len(warned) == 1
        assert "unavailable" in warned[0] and "no-cc" in warned[0]
        assert out == want

    def test_no_kernel_warns_once_and_returns_reference(self, monkeypatch,
                                                        tmp_path):
        """Outside Spark, with no compiler and an empty cache, the loader
        warns exactly once, naming each cause, and both dispatches return
        the C tier's values from the reference."""
        rs = np.random.RandomState(8)
        q, qid, t, tid = _knn_case(rs, 4, 12, 3)
        want_knn = K.dtw_knn_topk(q, qid, t, tid, 4, 3, True)
        want = K.dtw_banded_batch_mixed(q * 3, t, None)
        monkeypatch.setenv("TSLEARN_SPARK_CC", str(tmp_path / "no-cc"))
        monkeypatch.setenv("TSLEARN_SPARK_CK_DIR", str(tmp_path))
        monkeypatch.setattr(ck, "_lib", None)
        monkeypatch.setattr(ck, "_tried", False)
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert ck.lib_or_none() is None
            got = K.dtw_banded_batch_mixed(q * 3, t, None)
            got_knn = K.dtw_knn_topk(q, qid, t, tid, 4, 3, True)
            assert ck.lib_or_none() is None
        assert [x.category for x in w] == [RuntimeWarning]
        msg = str(w[0].message)
        for cause in ("cache:", "shipped:", "build:", "no-cc"):
            assert cause in msg
        assert _same_bits(got, want)
        _assert_same_rows(got_knn, want_knn)
        assert list(tmp_path.iterdir()) == []


# ---------------------------------------------------------------------------
# kernels.dtw_knn_topk: the fused C top-k (ckernel.dtw_knn, early abandon
# at the running k-th best) against its reference tier, bit for bit
# ---------------------------------------------------------------------------

def _knn_both(q, qid, t, tid, radius, k, drop_self):
    """(C tier, reference tier) results of kernels.dtw_knn_topk."""
    c = K.dtw_knn_topk(q, qid, t, tid, radius, k, drop_self)
    n = _reference_path(K.dtw_knn_topk, q, qid, t, tid, radius, k,
                        drop_self)
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


def _knn_case(rs, n_q, n_t, d, lo=1, hi=40, dup=True, eq_len=False,
              lane_groups=False):
    """Mixed lengths down to length-1 series; a few train series repeat
    queries (under ids shared with them) and each other, so drop_self
    and exact ties at the cutoff are exercised.  Under ``eq_len`` every
    series takes one of one or two lengths (_few_lengths): the kernel
    then runs equal-length train series two at a time, so lanes that
    both live, lanes beside a dead partner (drop_self, a length's odd
    one out) and lanes that abandon on different rows all occur (the
    non-finite property adds partners holding NaN, inf or values large
    enough to overflow).

    Under ``lane_groups`` (n_t ignored) the train set fills the kernel's
    lane groups of every width W in 8, 4, 2 in every way: 7 lengths with
    9..15 series each, so a length leaves 1..W-1 series after its groups
    of W, which run as one group of 2, 4 or 8 lanes with the other lanes
    dead; query 1 shares its values and id with the 4th series of one
    length (a middle lane under drop_self); the first length's 2nd, 3rd
    and 6th series hold NaN, +-inf and 1e154 beside finite lanes, and
    the second length's 10th (a leftover at W = 8 and 4) holds 1e154;
    one train series is empty."""
    if lane_groups:
        return _lane_groups_case(rs, n_q, d, lo, hi)
    lengths = _few_lengths(rs, lo, hi) if eq_len else None
    q = _mixed(rs, n_q, lo, hi, d, lengths)
    t = _mixed(rs, n_t, lo, hi, d, lengths)
    qid = np.arange(n_q, dtype=np.int64)
    tid = rs.permutation(np.arange(n_q, n_q + n_t)).astype(np.int64)
    if dup and n_t >= 4 and n_q >= 2:
        t[0], tid[0] = q[1].copy(), qid[1]
        t[2] = t[3].copy()
    return q, qid, t, tid


def _lane_groups_case(rs, n_q, d, lo, hi):
    lengths = rs.choice(np.arange(max(lo, 2), hi), 7, replace=False)
    t = []
    for r, n in enumerate(lengths, 1):
        t += _mixed(rs, 8 + r, d=d, lengths=[n])
    # the kernel groups a length's series in train order: series 0..7 of
    # the first length are its first lane group of 8
    for pos, v in ((1, np.nan), (2, np.inf), (5, 1e154), (9 + 9, 1e154)):
        t[pos] = t[pos].copy()
        t[pos][len(t[pos]) // 2] = v
    t[2][0] = -np.inf
    q = _mixed(rs, n_q, lo, hi, d, lengths)
    qid = np.arange(n_q, dtype=np.int64)
    tid = rs.permutation(np.arange(n_q, n_q + len(t))).astype(np.int64)
    mid = 9 + 10 + 3  # 4th series of the third length
    q[1], tid[mid] = t[mid].copy(), qid[1]
    t.insert(7, np.empty((0,) + t[0].shape[1:]))
    tid = np.insert(tid, 7, n_q + len(tid))
    return q, qid, t, tid


class TestDtwKnnTiers:
    @pytest.mark.parametrize("d", [1, 2, 3])
    @pytest.mark.parametrize("radius", [None, 0, 5, 500])
    @pytest.mark.parametrize("k", [1, 3, 50])
    @pytest.mark.parametrize("drop_self", [False, True])
    def test_c_equals_reference(self, d, radius, k, drop_self):
        # radius 500 exceeds both lengths of every pair
        rs = np.random.RandomState(100 * d + k)
        q, qid, t, tid = _knn_case(rs, 9, 24, d)
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
        for run in (K.dtw_knn_topk, lambda *a: _reference_path(
                K.dtw_knn_topk, *a)):
            with pytest.raises(ValueError):
                run([rs.randn(6, 3)], [0], t, np.arange(4), 2, 1, False)

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
        # the public per-pair kernels.dtw sums the same local costs in
        # the same order as the C DP in each lane, for every d
        rs = np.random.RandomState(7 + d)
        q, qid, t, tid = _knn_case(rs, 5, 16, d)
        got = K.dtw_knn_topk(q, qid, t, tid, radius, 3, True)
        _assert_same_rows(got, _knn_reference(q, qid, t, tid, radius, 3,
                                              True))


class TestDtwKnnLaneGroups:
    """dtw_knn runs each length's train series W at a time (W = 8, 4 or
    2 from the CPU, ckernel.lanes) and its leftover in a narrower group:
    leftovers of every size, a self match in a middle lane, non-finite
    lanes beside finite ones and an empty series must leave the rows of
    every width equal to the reference's."""

    @pytest.mark.parametrize("d", [1, 2, 3])
    @pytest.mark.parametrize("radius", [None, 0, 3])
    @pytest.mark.parametrize("k", [1, 3, 12])
    @pytest.mark.parametrize("drop_self", [False, True])
    def test_c_equals_reference(self, d, radius, k, drop_self):
        import warnings

        rs = np.random.RandomState(10 * d + k)
        q, qid, t, tid = _knn_case(rs, 4, 0, d, 3, 30, lane_groups=True)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            c, n = _knn_both(q, qid, t, tid, radius, k, drop_self)
        _assert_same_rows(c, n)
        # the self match is a row unless dropped; the non-finite and
        # empty series never are
        assert (qid[1] in c[1][c[0] == qid[1]]) == (not drop_self)
        assert not np.isin(tid[[1, 2, 5, 7, 19]], c[1]).any()

    @pytest.mark.parametrize("lanes", [2, 4])
    def test_every_width_matches_default_build(self, monkeypatch, tmp_path,
                                               lanes):
        """A build capped at ``lanes`` (-DDTW_MAX_LANES) runs that width
        when the CPU can, and its rows and batch distances equal the
        default build's, and the reference's, bit for bit (the default
        build's own width is test_c_equals_reference's)."""
        import warnings

        widest = ck.lanes()
        if lanes > widest:
            pytest.skip(f"this CPU runs at most {widest} lanes")
        rs = np.random.RandomState(31)
        cases = [_knn_case(rs, 4, 0, d, 3, 30, lane_groups=True)
                 for d in (1, 2, 3)]
        args = [(q, qid, t, tid, r, k, drop)
                for q, qid, t, tid in cases for r in (None, 2)
                for k, drop in ((1, True), (12, False))]

        def run():
            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                return ([K.dtw_knn_topk(*a) for a in args],
                        [K.dtw_banded_batch_mixed(q, t[:len(q)], 2)
                         for q, _, t, _ in cases])

        want = run()
        ref = _reference_path(run)
        _rebuild(monkeypatch, tmp_path, f"-DDTW_MAX_LANES={lanes}")
        assert ck.lanes() == lanes
        got = run()
        for rows_g, rows_w, rows_r in zip(got[0], want[0], ref[0]):
            _assert_same_rows(rows_g, rows_w)
            _assert_same_rows(rows_g, rows_r)
        for b_g, b_w, b_r in zip(got[1], want[1], ref[1]):
            assert _same_or_both_nan(b_g, b_w)
            assert _same_or_both_nan(b_g, b_r)


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
        want = _reference_path(K.dtw_knn_topk, q, qid, t, tid, 5, 2, True)
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
        # the batch entry point fails the same way and its dispatch runs
        # the reference as well
        want_b = _reference_path(K.dtw_banded_batch_mixed, q, t[:7], 5)
        monkeypatch.setattr(LIB, "dtw_batch", starved(real_batch, 5))
        with pytest.raises(MemoryError):
            ck.dtw_batch(q, t[:7], 5)
        assert _same_bits(K.dtw_banded_batch_mixed(q, t[:7], 5), want_b)
        assert status[1:] == [-1, -1]


def _check_knn_tiers(seed, n_q, n_t, k, radius, drop_self, d, hi, quantized,
                     eq_len):
    rs = np.random.RandomState(seed)
    q, qid, t, tid = _knn_case(rs, n_q, n_t, d, 1, hi, eq_len=eq_len)
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
        drop_self=st.booleans(), d=st.sampled_from([1, 2, 3]),
        hi=st.integers(2, max_len), quantized=st.booleans(),
        eq_len=st.booleans())


@hyp_settings(max_examples=30, deadline=None, derandomize=True)
@given(**_knn_params(5, 10, 16))
def test_property_knn_tiers_agree(seed, n_q, n_t, k, radius, drop_self, d,
                                  hi, quantized, eq_len):
    _check_knn_tiers(seed, n_q, n_t, k, radius, drop_self, d, hi, quantized,
                     eq_len)


@pytest.mark.slow
@hyp_settings(max_examples=400, deadline=None)
@given(**_knn_params(8, 40, 90))
def test_property_knn_tiers_agree_deep(seed, n_q, n_t, k, radius, drop_self,
                                       d, hi, quantized, eq_len):
    _check_knn_tiers(seed, n_q, n_t, k, radius, drop_self, d, hi, quantized,
                     eq_len)


# ---------------------------------------------------------------------------
# non-finite and overflowing input: both entry points return the
# reference's value, any NaN equal to any NaN
# ---------------------------------------------------------------------------

# NaN, +-inf, and magnitudes whose squares (or row sums) overflow
_EXTREME = [np.nan, np.inf, -np.inf, 1e154, -3e155, 1e200, 1e308, -1e308,
            2.5e153, 0.0]


def _same_or_both_nan(a, b):
    both_nan = np.isnan(a) & np.isnan(b)
    return a.shape == b.shape and np.array_equal(
        a[~both_nan].view(np.int64), b[~both_nan].view(np.int64))


def _extreme_series(rs, n, d, hi, lengths=None):
    out = []
    for _ in range(n):
        x = rs.randn(rs.choice(lengths) if lengths is not None
                     else rs.randint(1, hi + 1), d)
        for _ in range(rs.randint(0, 4)):
            x[rs.randint(len(x)), rs.randint(d)] = \
                _EXTREME[rs.randint(len(_EXTREME))]
        out.append(x[:, 0].copy() if d == 1 and rs.rand() < 0.5 else x)
    return out


@hyp_settings(max_examples=60, deadline=None, derandomize=True)
@given(seed=st.integers(0, 2**31 - 1), d=st.sampled_from([1, 2, 3]),
       radius=st.sampled_from([None, 0, 1, 3, 2000]),
       hi=st.integers(1, 12), k=st.integers(1, 6),
       drop_self=st.booleans(), eq_len=st.booleans())
def test_property_non_finite_input_matches_reference(seed, d, radius, hi, k,
                                                     drop_self, eq_len):
    """NaN, +-inf and values >= 1e154 (length-1 series included, radius
    0, None and past both lengths): dtw_batch returns the reference's
    value per pair, and the fused top-k the reference tier's rows.
    Under ``eq_len`` (see _knn_case) a lane whose pair is non-finite
    runs beside a finite partner lane."""
    import warnings

    rs = np.random.RandomState(seed)
    lengths = _few_lengths(rs, 1, hi + 1) if eq_len else None
    aa, bb = (_extreme_series(rs, 24, d, hi, lengths),
              _extreme_series(rs, 24, d, hi, lengths))
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        c = ck.dtw_batch(aa, bb, radius)
        base = _reference_path(K.dtw_banded_batch_mixed, aa, bb, radius)
        assert _same_or_both_nan(c, base)
        qid = np.arange(6, dtype=np.int64)
        tid = np.arange(3, 3 + len(bb), dtype=np.int64)
        c, n = _knn_both(aa[:6], qid, bb, tid, radius, k, drop_self)
    _assert_same_rows(c, n)
