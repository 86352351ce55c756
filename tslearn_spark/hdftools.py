"""HDF5 (de)serialization of nested param dicts.

Writes the reference's on-disk layout (tslearn/hdftools/hdftools.py:8-150):
one HDF5 group per nested dict level under a root group, numpy arrays and
scalars as datasets, unicode string arrays tagged with a ``dtype`` attr so
they round-trip.  Structures HDF5 cannot express (lists/tuples, None,
helper objects) must be pre-tagged with ``model_io._encode_h5`` — unlike
the reference, which flattens arbitrary objects via ``__dict__`` and then
silently restores them as plain dicts.  The implementation here is a
fresh recursive walk over that layout, not a copy.

Backend selection (round 12): h5py is preferred whenever it imports —
its files carry the exact conventions the reference's do (vlen strings,
enum bools).  Where h5py is absent (this container), the from-scratch
:mod:`tslearn_spark.purehdf5` subset writer/reader takes over: valid
HDF5 (superblock v0, symbol-table groups, contiguous datasets) with
fixed-length UTF-8 strings instead of vlen ones, so the round-trip is
lossless either way and to_hdf5/from_hdf5 never need a dependency.
Files written by h5py's vlen convention require h5py to read back —
the pure reader raises on datatypes outside its subset.
"""

from __future__ import annotations

import os
from typing import Any

import numpy as np

try:
    import h5py
except ImportError:  # pragma: no cover - absent in the test container
    h5py = None

from tslearn_spark import purehdf5

HDF5_INSTALLED = h5py is not None
# the codec itself is always available: purehdf5 backs it without h5py
HDF5_AVAILABLE = True
HDF5_BACKEND = "h5py" if HDF5_INSTALLED else "purehdf5"

H5PY_MSG = (
    "HDF5 persistence requires h5py, which is not installed in this "
    "environment — save with a .json path instead (the HDF5 payload is "
    "the same hyper/fitted-param dict JSON stores), or install h5py: "
    "http://docs.h5py.org/"
)

_SCALARS = (str, bool, int, float, np.integer, np.floating, np.bool_)


def _write_entry(grp, key: str, value: Any) -> None:
    if isinstance(value, np.ndarray):
        if value.dtype.kind not in "Uiufb":
            # keep the accept/reject matrix IDENTICAL across backends:
            # h5py would happily store e.g. complex or bytes arrays that
            # the purehdf5 subset rejects, making the same model save
            # fine in one environment and raise in another
            raise TypeError(
                f"array dtype {value.dtype} for key {key!r} is not "
                "representable in the HDF5 model layout")
        if value.dtype.kind == "U":
            # unicode arrays need vlen-str storage; remember the original
            # dtype so load restores it (reference hdftools.py:72-76)
            ds = grp.create_dataset(
                key, data=value.astype(h5py.special_dtype(vlen=str))
            )
            ds.attrs["dtype"] = value.dtype.str
        else:
            grp[key] = value
    elif isinstance(value, _SCALARS):
        grp[key] = value
    elif isinstance(value, dict):
        sub = grp.create_group(key)
        for k, v in value.items():
            _write_entry(sub, str(k), v)
    else:
        # deliberate deviation from the reference (hdftools.py:96-103
        # flattens arbitrary objects via __dict__, whose loader then
        # restores them as plain dicts — silent round-trip corruption):
        # callers tag helper objects via model_io._encode_h5; anything
        # else fails loudly here instead
        raise TypeError(
            f"{type(value).__name__} value for key {key!r} is not "
            "representable in the HDF5 model layout (encode it with "
            "model_io._encode_h5 first)"
        )


def _check_representable(d: dict) -> None:
    """The purehdf5 path applies the same accept/reject matrix as
    _write_entry before any bytes hit disk."""
    for k, v in d.items():
        if isinstance(v, dict):
            _check_representable(v)
        elif isinstance(v, np.ndarray):
            if v.dtype.kind not in "Uiufb":
                raise TypeError(
                    f"array dtype {v.dtype} for key {k!r} is not "
                    "representable in the HDF5 model layout")
        elif not isinstance(v, _SCALARS):
            raise TypeError(
                f"{type(v).__name__} value for key {k!r} is not "
                "representable in the HDF5 model layout (encode it with "
                "model_io._encode_h5 first)")


def save_dict(d: dict, filename: str, group: str) -> None:
    """Save a nested dict under ``group`` in a NEW hdf5 file
    (reference hdftools.py:8-46: existing paths are a FileExistsError)."""
    if os.path.isfile(filename):
        raise FileExistsError(filename)
    if not HDF5_INSTALLED:
        _check_representable(d)
        purehdf5.save_dict(d, filename, group)
        return
    with h5py.File(filename, "w") as f:
        root = f.create_group(group)
        for k, v in d.items():
            _write_entry(root, str(k), v)


def _read_entry(item: Any) -> Any:
    if isinstance(item, h5py.Group):
        return {k: _read_entry(v) for k, v in item.items()}
    value = item[()]
    if "dtype" in item.attrs:
        # vlen-str array back to its original unicode dtype
        arr = np.array([x.decode() if isinstance(x, bytes) else x
                        for x in np.ravel(value)])
        return arr.astype(item.attrs["dtype"]).reshape(np.shape(value))
    if isinstance(value, bytes):
        return value.decode("utf-8")
    return value


def load_dict(filename: str, group: str) -> dict:
    """Load a nested dict saved by save_dict (reference hdftools.py:116-150)."""
    if not HDF5_INSTALLED:
        return purehdf5.load_dict(filename, group)
    with h5py.File(filename, "r") as f:
        return {k: _read_entry(v) for k, v in f[group].items()}
