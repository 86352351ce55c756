"""The compiled DTW kernel (guide §4.2: native code inside the Arrow
boundary), the engine's one batched DTW implementation.

``_dtw_kernel.c`` is compiled with the system C compiler
(``TSLEARN_SPARK_CC``, default gcc) into a per-machine cache,
``$TMPDIR/tslearn_spark_ck/dtw_<hash>.so`` (or ``TSLEARN_SPARK_CK_DIR``),
and loaded via ctypes.  The file name is keyed on the C source, the
flags and the machine architecture only, so a process with no compiler
can still name the build it needs.

``session.get_spark`` builds the library on the driver and ships it to
the executors (``ship``, ``SparkContext.addFile``).  ``lib_or_none``
tries, in order: the local cache, the copy shipped to this Spark task
(``SparkFiles``) and a local build — so an executor with no compiler
runs the driver's build.

The library holds one DP core, W lanes wide (W pairs of one shape in the
double lanes of one vector register), behind two entry points, bound
from the ``_ENTRY_POINTS`` table: ``dtw_batch`` (one distance per pair,
wrapped by ``dtw_batch`` here; consecutive pairs of equal shape share
the two lanes it runs at) and ``dtw_knn`` (each query's top-k over a
train set, equal-length train series W at a time and a length's
leftover in the narrowest width that holds it, every lane capped at the
running k-th best; wrapped by ``dtw_knn``).  The build takes no
``-m`` flag, so the shipped library runs on any machine of its
architecture; on x86-64 the library picks W once per process from the
CPU it runs on: 8 with AVX-512F, 4 with AVX2, else 2 (``lanes`` reports
it, and ``-DDTW_MAX_LANES=4`` or ``=2`` in ``_CFLAGS`` caps it).
Both read series stored back to back (``Flat``: one float64 buffer,
offsets and lengths), built from arrays by ``flatten`` or straight from
an Arrow column by ``Flat.from_arrow``.

When all three sources fail, ``lib_or_none`` returns None and warns once
(a RuntimeWarning naming each cause): ``kernels.dtw_banded_batch_mixed``
and ``kernels.dtw_knn_topk`` then loop over the per-pair reference, with
the same results at two orders of magnitude more time per pair (440-470
vs 3.6-3.9 µs over 400 random pairs at lengths 45-99, radius 5, one
thread of a 4-vCPU x86-64 VM).
``TSLEARN_SPARK_CKERNEL=0`` selects that reference tier on purpose, with
no warning.  The compiled DP returns the reference's doubles bit for bit
on non-abandoned pairs (see the .c header; pinned by
tests/test_ckernel.py).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile
import threading
import warnings
import weakref
from typing import NamedTuple

import numpy as np

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_dtw_kernel.c")
# -ffp-contract=off: FMA contraction would re-round (a-b)*(a-b)+acc and
# break bit-identity with the reference; everything else is plain IEEE
# double arithmetic on both sides.
_CFLAGS = ["-O2", "-ffp-contract=off", "-shared", "-fPIC"]

_lock = threading.Lock()
_lib = None
_tried = False
# SparkContexts the driver's build was shipped to (``ship``): Spark
# refuses, with a logged warning, a path added twice to one context
_shipped_to = weakref.WeakSet()

_I64P = np.ctypeslib.ndpointer(np.int64, flags="C_CONTIGUOUS")
_F64P = np.ctypeslib.ndpointer(np.float64, flags="C_CONTIGUOUS")
_LL = ctypes.c_longlong

# every exported symbol and its argument types; each returns an int:
# the DP entry points 0, or -1 when their scratch allocation failed,
# dtw_lanes the lane width dtw_knn runs at
_ENTRY_POINTS = {
    "dtw_lanes": [],
    "dtw_batch": [
        _F64P, _I64P, _I64P,        # bufA, offA, lenA
        _F64P, _I64P, _I64P,        # bufB, offB, lenB
        _LL, _LL, _LL,              # n, d, radius (<0: none)
        _F64P,                      # out
    ],
    "dtw_knn": [
        _F64P, _I64P, _I64P, _I64P, _LL,    # queries: buf, off, len, id, n
        _F64P, _I64P, _I64P, _I64P, _LL,    # train: buf, off, len, id, n
        _LL, _LL, _LL, ctypes.c_int,        # d, radius (<0: none), k, drop_self
        _F64P, _I64P, _I64P,                # out dist, train index, count
    ],
}


def _so_path() -> str:
    """Cache path keyed on the C source, the flags and the machine
    architecture: a change to any of them builds a fresh .so instead of
    loading a stale one, and the name needs no compiler to compute."""
    h = hashlib.sha256()
    with open(_SRC, "rb") as f:
        h.update(f.read())
    for part in (" ".join(_CFLAGS).encode(), platform.machine().encode()):
        h.update(b"\0" + part)
    cache = os.environ.get("TSLEARN_SPARK_CK_DIR") or os.path.join(
        tempfile.gettempdir(), "tslearn_spark_ck")
    return os.path.join(cache, f"dtw_{h.hexdigest()[:16]}.so")


def _prebuilt(so: str):
    """(source, path) of each ready-built library, in the order tried:
    the local cache, then the copy shipped to the running Spark task
    (None outside a task)."""
    yield "cache", so
    from pyspark import SparkFiles

    yield "shipped", (SparkFiles.get(os.path.basename(so))
                      if SparkFiles._is_running_on_worker else None)


def _build(so: str) -> None:
    os.makedirs(os.path.dirname(so), exist_ok=True)
    # unique tmp + atomic rename: concurrent builders (32 local workers
    # on a cold cache) cannot corrupt the file another process is
    # dlopening
    tmp = f"{so}.tmp.{os.getpid()}"
    cc = os.environ.get("TSLEARN_SPARK_CC", "gcc")
    try:
        subprocess.run([cc, *_CFLAGS, "-o", tmp, _SRC, "-lm"],
                       check=True, capture_output=True, timeout=120)
    except subprocess.CalledProcessError as e:
        err = e.stderr.decode(errors="replace")[-300:]
        raise OSError(f"{cc} failed: {err}") from None
    os.replace(tmp, so)


def _bind(so: str):
    lib = ctypes.CDLL(so)
    for name, argtypes in _ENTRY_POINTS.items():
        fn = getattr(lib, name)
        fn.restype = ctypes.c_int
        fn.argtypes = argtypes
    return lib


def _load() -> ctypes.CDLL | None:
    """The local cache, else the shipped copy, else a local build; None
    after one RuntimeWarning naming why each failed."""
    so = _so_path()
    causes = []
    for where, path in _prebuilt(so):
        if path is None:
            causes.append(f"{where}: not in a Spark task")
        elif not os.path.exists(path):
            causes.append(f"{where}: no {path}")
        else:
            try:
                return _bind(path)
            except (OSError, AttributeError) as e:
                causes.append(f"{where}: {e}")
    try:
        _build(so)
        return _bind(so)
    except (OSError, AttributeError, subprocess.SubprocessError) as e:
        causes.append(f"build: {e}")
    warnings.warn(
        "compiled DTW kernel unavailable (" + "; ".join(causes) + "); "
        "batched DTW runs the per-pair reference, ~100x slower per pair",
        RuntimeWarning, stacklevel=3)
    return None


def lib_or_none():
    """The loaded kernel library, or None when unavailable or disabled
    (``TSLEARN_SPARK_CKERNEL=0``).  Decided once per process."""
    global _lib, _tried
    if _tried:
        return _lib
    with _lock:
        if not _tried:
            if os.environ.get("TSLEARN_SPARK_CKERNEL", "1") != "0":
                _lib = _load()
            _tried = True
        return _lib


def lanes() -> int | None:
    """The lane width ``dtw_knn`` runs at in this process (8, 4 or 2,
    picked by the library from the CPU when it loads), or None on the
    reference tier."""
    lib = lib_or_none()
    return None if lib is None else lib.dtw_lanes()


def ship(sc) -> None:
    """Send the driver's build to every executor of ``sc`` (once per
    context), where ``lib_or_none`` loads it when that machine has no
    cached build and no compiler."""
    if sc in _shipped_to or lib_or_none() is None:
        return
    sc.addFile(_so_path())
    _shipped_to.add(sc)


def rows_from_arrow(values) -> np.ndarray:
    """The vectors of an Arrow ``list<float|double>`` column (an Array or
    a ChunkedArray, sliced or not) as one ``(n, dim)`` float64 matrix,
    read off its list offsets with no per-row Python (a null element
    reads NaN).  Unequal widths raise ValueError, and so does a null
    vector, whose offsets alone would read as a zero-width one."""
    import pyarrow.compute as pc

    widths = pc.list_value_length(values).to_numpy(zero_copy_only=False)
    dim = widths[0] if len(widths) else 0  # NaN for a null vector
    if not (widths == dim).all():
        raise ValueError("vectors must all have one width and none be null")
    leaf = pc.list_flatten(values).to_numpy(zero_copy_only=False)
    return np.asarray(leaf, dtype=np.float64).reshape(len(widths), int(dim))


class Flat(NamedTuple):
    """Series stored back to back, the layout the kernel reads: series
    ``i`` is the row-major ``(lens[i], d)`` block of ``buf`` starting at
    ``off[i]`` (float64 buf, int64 off and lens)."""

    buf: np.ndarray
    off: np.ndarray
    lens: np.ndarray
    d: int

    @classmethod
    def from_arrow(cls, values) -> "Flat":
        """The series of an Arrow ``list<list<double>>`` column (an Array
        or a ChunkedArray): its timestamps read by ``rows_from_arrow``, a
        null series as an empty one.  Every timestamp must have the same
        width d (1 when no series has a timestamp); another width raises
        ValueError, as ``flatten``."""
        import pyarrow.compute as pc

        lens = pc.list_value_length(values).fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64)
        steps = rows_from_arrow(pc.list_flatten(values))
        d = steps.shape[1] if len(steps) else 1
        return cls(steps.reshape(-1), (np.cumsum(lens) - lens) * d, lens, d)

    def arrays(self) -> list:
        """Each series as a ``(sz, d)`` view of ``buf``."""
        return [self.buf[o:o + n * self.d].reshape(n, self.d)
                for o, n in zip(self.off, self.lens)]


def flatten(arrs: list, d: int | None = None) -> Flat:
    """A list of ``(sz, d)`` series (1-D for d=1) as one ``Flat``; d
    defaults to the width of ``arrs[0]``."""
    n = len(arrs)
    if d is None:
        d = arrs[0].shape[1] if n and arrs[0].ndim > 1 else 1
    lens = np.fromiter((a.shape[0] for a in arrs), dtype=np.int64, count=n)
    offs = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1] * d, out=offs[1:])
    buf = np.concatenate(
        [np.ascontiguousarray(a, dtype=np.float64).reshape(-1) for a in arrs]
    ) if n else np.empty(0)
    # the kernel reads lens[i] * d values at offs[i]: a series of another
    # width would send it past the buffer
    if buf.size != int(lens.sum()) * d:
        raise ValueError(f"series must all be (sz, {d}) for the C kernel")
    return Flat(buf, offs, lens, d)


def dtw_batch(arrs_a: list, arrs_b: list, radius) -> np.ndarray:
    """Run the compiled DP over a mixed-shape pair batch.

    Caller guarantees lib_or_none() is not None.  Returns the same
    doubles as the per-pair reference, bit for bit.
    """
    lib = lib_or_none()
    n = len(arrs_a)
    # the kernel reads n offsets and lengths of each side
    if len(arrs_b) != n:
        raise ValueError("one series on each side per pair")
    a = flatten(arrs_a)
    b = flatten(arrs_b, a.d)
    out = np.empty(n, dtype=np.float64)
    if lib.dtw_batch(*a[:3], *b[:3], n, a.d,
                     -1 if radius is None else int(radius), out):
        raise MemoryError("dtw_batch scratch allocation failed")
    return out


def dtw_knn(queries, q_ids, train: Flat, t_ids, radius, k: int,
            drop_self: bool):
    """Each query's ``min(k, n_t)`` nearest train series under (banded)
    DTW, in one compiled pass: ``(id1, id2, dist)`` arrays, query order,
    then ascending (dist, id2) within a query; non-finite distances and,
    under ``drop_self``, equal ids are left out.  The queries are a
    ``Flat`` or a list of ``(sz, d)`` arrays, of the train side's width
    d.

    Caller guarantees lib_or_none() is not None and both sides are
    non-empty.  Raises MemoryError when the kernel's scratch allocation
    fails (nothing is returned then).
    """
    lib = lib_or_none()
    q = queries if isinstance(queries, Flat) else flatten(queries, train.d)
    # offsets follow each side's width: a query buffer of another width
    # would send the kernel past it (an all-empty one reads nothing)
    if q.d != train.d and q.buf.size:
        raise ValueError(
            f"series must all be (sz, {train.d}) for the C kernel")
    n_q, n_t = len(q.lens), len(train.lens)
    kk = min(int(k), n_t)
    q_ids = np.ascontiguousarray(q_ids, dtype=np.int64)
    t_ids = np.ascontiguousarray(t_ids, dtype=np.int64)
    if q_ids.shape != (n_q,) or t_ids.shape != (n_t,):
        raise ValueError("one id per series on each side")
    dist = np.empty(n_q * kk, dtype=np.float64)
    idx = np.empty(n_q * kk, dtype=np.int64)
    cnt = np.empty(n_q, dtype=np.int64)
    if lib.dtw_knn(*q[:3], q_ids, n_q,
                   *train[:3], t_ids, n_t,
                   train.d, -1 if radius is None else int(radius), kk,
                   int(bool(drop_self)), dist, idx, cnt):
        raise MemoryError("dtw_knn scratch allocation failed")
    held = (np.arange(kk)[None, :] < cnt[:, None]).ravel()
    return np.repeat(q_ids, cnt), t_ids[idx[held]], dist[held]
