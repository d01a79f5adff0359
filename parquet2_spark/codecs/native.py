"""Lazy ctypes loader for the optional C accelerator (_native.c).

Compiled once per machine into a cache dir with the system compiler; all
callers must fall back to the numpy implementations when the build is
unavailable (no compiler, readonly FS, …). Each C kernel is byte-identical
to its numpy fallback (tests/test_native_parity.py).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import platform
import subprocess
import tempfile

import numpy as np

_LIB = None
_TRIED = False
_SRC = os.path.join(os.path.dirname(__file__), "_native.c")


# compile flags, best first; the portable build is the fallback
_FLAGS = (["-O3", "-march=native"], ["-O2"])


def _host_cpu() -> str:
    """Identity of this host's CPU for the build cache tag: the cpuinfo
    feature flags (what ``-march=native`` compiles for), else the machine
    architecture."""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith(("flags", "Features")):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.machine()


def _build() -> "ctypes.CDLL | None":
    try:
        with open(_SRC, "rb") as f:
            src = f.read()
    except OSError:
        return None
    # the tag covers source, flags and host CPU: a cache dir shared across
    # hosts never hands one CPU another's -march=native build
    host = _host_cpu().encode()
    for flags in _FLAGS:
        tag = hashlib.sha256(src + " ".join(flags).encode() + host).hexdigest()[:16]
        cache = os.path.join(tempfile.gettempdir(), f"p2s_native_{tag}.so")
        if os.path.exists(cache):
            break
        tmp = cache + f".build-{os.getpid()}"
        try:
            subprocess.run(
                ["cc", *flags, "-shared", "-fPIC", "-o", tmp, _SRC],
                check=True,
                capture_output=True,
                timeout=60,
            )
            os.replace(tmp, cache)
            break
        except (OSError, subprocess.SubprocessError):
            continue
    else:
        return None
    try:
        lib = ctypes.CDLL(cache)
    except OSError:
        return None
    lib.fsst_build.restype = ctypes.c_int
    lib.fsst_build.argtypes = [ctypes.c_void_p, ctypes.c_void_p, ctypes.c_int]
    lib.fsst_encode.restype = ctypes.c_int64
    lib.fsst_encode.argtypes = [ctypes.c_void_p, ctypes.c_int64, ctypes.c_void_p]
    lib.front_decode.restype = ctypes.c_int64
    lib.front_decode.argtypes = [
        ctypes.c_void_p,
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
        ctypes.c_int64,
    ]
    lib.minhash64.restype = None
    lib.minhash64.argtypes = [
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
        ctypes.c_int,
        ctypes.c_void_p,
    ]
    lib.simhash64.restype = None
    lib.simhash64.argtypes = [
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
    ]
    lib.unpack_bits.restype = None
    lib.unpack_bits.argtypes = [
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_int32,
        ctypes.c_int64,
        ctypes.c_void_p,
    ]
    lib.pack_bits.restype = ctypes.c_int64
    lib.pack_bits.argtypes = [
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_int32,
        ctypes.c_void_p,
    ]
    lib.fsst_decode.restype = ctypes.c_int64
    lib.fsst_decode.argtypes = [
        ctypes.c_void_p,
        ctypes.c_int64,
        ctypes.c_void_p,
        ctypes.c_void_p,
        ctypes.c_void_p,
        ctypes.c_int,
        ctypes.c_void_p,
        ctypes.c_int64,
    ]
    return lib


def get() -> "ctypes.CDLL | None":
    global _LIB, _TRIED
    if not _TRIED:
        _TRIED = True
        _LIB = _build()
    return _LIB


def fsst_encode(data: bytes, symbols: list[bytes]) -> bytes | None:
    """C greedy encode, or None if the accelerator is unavailable."""
    lib = get()
    if lib is None:
        return None
    sym_bytes = b"".join(symbols)
    sym_lens = np.fromiter((len(s) for s in symbols), dtype=np.int32, count=len(symbols))
    if lib.fsst_build(sym_bytes, sym_lens.ctypes.data, len(symbols)) != 0:
        return None
    out = np.empty(2 * max(len(data), 1), dtype=np.uint8)
    n = lib.fsst_encode(data, len(data), out.ctypes.data)
    return out[:n].tobytes()


def fsst_decode(enc: bytes, symbols: list[bytes], out_size: int) -> bytes | None:
    lib = get()
    if lib is None:
        return None
    sym_bytes = b"".join(symbols)
    sym_lens = np.fromiter((len(s) for s in symbols), dtype=np.int32, count=len(symbols))
    starts = np.zeros(len(symbols) + 1, dtype=np.int64)
    np.cumsum(sym_lens, out=starts[1:])
    out = np.empty(max(out_size, 1), dtype=np.uint8)
    n = lib.fsst_decode(
        enc,
        len(enc),
        sym_bytes,
        starts.ctypes.data,
        sym_lens.ctypes.data,
        len(symbols),
        out.ctypes.data,
        out_size,
    )
    if n < 0 or n != out_size:
        return None
    return out[:n].tobytes()


def minhash64(h, seg_starts, consts):
    """(num_hashes, n_docs) per-segment splitmix minima — C kernel, or
    None if the accelerator is unavailable. Math identical to the numpy
    path in operators/dedup.py (asserted in tests)."""
    lib = get()
    if lib is None:
        return None
    hv = np.ascontiguousarray(h, dtype=np.uint64)
    ss = np.ascontiguousarray(seg_starts, dtype=np.int64)
    cs = np.ascontiguousarray(consts, dtype=np.uint64)
    out = np.empty((len(cs), len(ss)), dtype=np.uint64)
    lib.minhash64(
        hv.ctypes.data, len(hv), ss.ctypes.data, len(ss),
        cs.ctypes.data, len(cs), out.ctypes.data,
    )
    return out


def simhash64(h, seg_starts):
    """Per-segment 64-bit sign-sum signatures — C kernel, or None if the
    accelerator is unavailable."""
    lib = get()
    if lib is None:
        return None
    hv = np.ascontiguousarray(h, dtype=np.uint64)
    ss = np.ascontiguousarray(seg_starts, dtype=np.int64)
    out = np.empty(len(ss), dtype=np.int64)
    lib.simhash64(hv.ctypes.data, len(hv), ss.ctypes.data, len(ss), out.ctypes.data)
    return out


def unpack_bits(buf, num_bits: int, n: int):
    """C k-bit unpack → uint64 array, or None if unavailable. Caller has
    already bounds-checked len(buf) >= ceil(n*num_bits/8)."""
    lib = get()
    if lib is None:
        return None
    raw = np.frombuffer(buf, dtype=np.uint8)
    out = np.empty(n, dtype=np.uint64)
    lib.unpack_bits(raw.ctypes.data, len(raw), num_bits, n, out.ctypes.data)
    return out


def pack_bits(vals: np.ndarray, num_bits: int):
    """C k-bit pack → bytes, or None if unavailable. vals must be
    contiguous uint64 already masked to num_bits."""
    lib = get()
    if lib is None:
        return None
    need = (len(vals) * num_bits + 7) // 8
    out = np.zeros(need + 8, dtype=np.uint8)
    lib.pack_bits(vals.ctypes.data, len(vals), num_bits, out.ctypes.data)
    return out[:need].tobytes()


def front_decode(prefix_lens, suffix_lens, suffixes: bytes, out_size: int):
    """C front-coding reconstruction; None if unavailable or corrupt."""
    lib = get()
    if lib is None:
        return None
    pl = np.ascontiguousarray(prefix_lens, dtype=np.int64)
    sl = np.ascontiguousarray(suffix_lens, dtype=np.int64)
    out = np.empty(max(out_size, 1), dtype=np.uint8)
    n = lib.front_decode(
        pl.ctypes.data, sl.ctypes.data, len(pl), suffixes, len(suffixes),
        out.ctypes.data, out_size,
    )
    if n != out_size:
        return None
    return out[:n].tobytes()
