"""ctypes loader for the optional native batch kernels.

Compiles spt_kernels.c once per host with the system C compiler (plain
``-O2``, no FMA contraction, so float64 results are bit-identical to the
numpy kernels and therefore to the reference). Falls back silently to the
numpy implementations when no compiler is available — callers use
``native.htm_id_batch is not None`` style checks via the accessors in
htm.py / healpix.py.
"""

from __future__ import annotations

import ctypes
import os
import subprocess
import tempfile

_HERE = os.path.dirname(os.path.abspath(__file__))
_SRC = os.path.join(_HERE, "spt_kernels.c")

_lib = None
_tried = False


def _build_dir() -> str:
    # per-user dir with owner-only permissions: a fixed shared /tmp path
    # would let another local user pre-plant a malicious .so that ctypes
    # silently loads into the driver and every Spark worker
    d = os.environ.get("SPT_NATIVE_DIR") or os.path.join(
        tempfile.gettempdir(), f"spt_native_uid{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    if os.stat(d).st_uid != os.getuid():
        raise RuntimeError(f"native build dir {d} is owned by another user")
    return d


def get_lib():
    """The loaded shared library, or None if unavailable."""
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    try:
        so = os.path.join(_build_dir(), "spt_kernels.so")
        if (not os.path.exists(so)
                or os.path.getmtime(so) < os.path.getmtime(_SRC)):
            tmp = so + f".{os.getpid()}.tmp"
            subprocess.run(
                ["cc", "-O2", "-shared", "-fPIC", "-o", tmp, _SRC, "-lm"],
                check=True, capture_output=True, timeout=120)
            os.replace(tmp, so)  # atomic: concurrent workers race safely
        lib = ctypes.CDLL(so)
        i64 = ctypes.c_int64
        pd = ctypes.POINTER(ctypes.c_double)
        pl = ctypes.POINTER(ctypes.c_int64)
        lib.htm_id_batch.argtypes = [pd, pd, pd, i64, ctypes.c_int, pl]
        lib.hpx_id_batch.argtypes = [pd, pd, i64, ctypes.c_int, pl]
        pu8 = ctypes.POINTER(ctypes.c_uint8)
        pu64 = ctypes.POINTER(ctypes.c_uint64)
        lib.minhash_sig_batch.argtypes = [pu8, pl, i64, ctypes.c_int,
                                          pu64, pu64, ctypes.c_int, pl, pu8]
        lib.simhash_batch.argtypes = [pu8, pl, i64, ctypes.c_int, pl, pu8]
        _lib = lib
    except Exception:
        _lib = None
    return _lib


def htm_id_native(x, y, z, level: int):
    """numpy in/out wrapper; returns None when the native lib is absent."""
    import numpy as np

    lib = get_lib()
    if lib is None:
        return None
    x = np.ascontiguousarray(x, dtype=np.float64)
    y = np.ascontiguousarray(y, dtype=np.float64)
    z = np.ascontiguousarray(z, dtype=np.float64)
    out = np.empty(len(x), dtype=np.int64)
    pd = ctypes.POINTER(ctypes.c_double)
    pl = ctypes.POINTER(ctypes.c_int64)
    lib.htm_id_batch(x.ctypes.data_as(pd), y.ctypes.data_as(pd),
                     z.ctypes.data_as(pd), len(x), level,
                     out.ctypes.data_as(pl))
    return out


def hpx_id_native(order: int, ra, dec):
    import numpy as np

    lib = get_lib()
    if lib is None:
        return None
    ra = np.ascontiguousarray(ra, dtype=np.float64)
    dec = np.ascontiguousarray(dec, dtype=np.float64)
    out = np.empty(len(ra), dtype=np.int64)
    pd = ctypes.POINTER(ctypes.c_double)
    pl = ctypes.POINTER(ctypes.c_int64)
    lib.hpx_id_batch(ra.ctypes.data_as(pd), dec.ctypes.data_as(pd),
                     len(ra), order, out.ctypes.data_as(pl))
    return out


def minhash_sig_native(texts, k: int, a, b):
    """Batch minhash signatures (int64 (ndocs, num_perm) array + validity
    mask) — bit-identical to dedup._batch_signatures; None when the native
    lib is absent or the parameters exceed the kernel's stack bounds."""
    import numpy as np

    lib = get_lib()
    if lib is None or k > 64 or len(a) > 256:
        return None
    data, offsets = _encode_batch(texts)
    ndocs = len(texts)
    a = np.ascontiguousarray(a, dtype=np.uint64)
    b = np.ascontiguousarray(b, dtype=np.uint64)
    num_perm = len(a)
    sigs = np.empty((ndocs, num_perm), dtype=np.int64)
    valid = np.empty(ndocs, dtype=np.uint8)
    pu8 = ctypes.POINTER(ctypes.c_uint8)
    pu64 = ctypes.POINTER(ctypes.c_uint64)
    pl = ctypes.POINTER(ctypes.c_int64)
    lib.minhash_sig_batch(
        data.ctypes.data_as(pu8), offsets.ctypes.data_as(pl),
        ndocs, k, a.ctypes.data_as(pu64), b.ctypes.data_as(pu64),
        num_perm, sigs.ctypes.data_as(pl), valid.ctypes.data_as(pu8))
    return sigs, valid.astype(bool)


def _encode_batch(texts):
    import numpy as np

    enc = [t.encode("utf-8", "ignore") for t in texts]
    offsets = np.zeros(len(enc) + 1, dtype=np.int64)
    if enc:
        np.cumsum(np.array([len(e) for e in enc], dtype=np.int64),
                  out=offsets[1:])
    data = np.frombuffer(b"".join(enc) or b"\0", dtype=np.uint8)
    return data, offsets


def simhash_native(texts, k: int):
    """Batch 64-bit simhashes (int64 array + validity mask) — bit-identical
    to dedup.simhash_udf's numpy kernel; None when the lib is absent."""
    import numpy as np

    lib = get_lib()
    if lib is None or k > 64:
        return None
    data, offsets = _encode_batch(texts)
    ndocs = len(texts)
    out = np.empty(ndocs, dtype=np.int64)
    valid = np.empty(ndocs, dtype=np.uint8)
    pu8 = ctypes.POINTER(ctypes.c_uint8)
    pl = ctypes.POINTER(ctypes.c_int64)
    lib.simhash_batch(data.ctypes.data_as(pu8), offsets.ctypes.data_as(pl),
                      ndocs, k, out.ctypes.data_as(pl),
                      valid.ctypes.data_as(pu8))
    return out, valid.astype(bool)


