"""Byte identity of every C kernel (codecs/_native.c) with its numpy
fallback, on Hypothesis inputs and on webgen columns.

Each kernel runs through its public entry point twice: once with the C
accelerator, once with ``codecs.native`` patched to "tried, unavailable"
so the same call takes the numpy path. The numpy path is the reference.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet2_spark.codecs import barray, bitpack, fsst, native, strings
from parquet2_spark.operators import dedup
from parquet2_spark.sources import webgen

pytestmark = pytest.mark.skipif(native.get() is None, reason="C accelerator unavailable")

WIDTHS = (1, 3, 7, 8, 13, 31, 32, 33, 63, 64)
CONSTS = np.uint64(0x9E3779B97F4A7C15) * np.arange(2, 18, dtype=np.uint64)


def _words(vals: list[bytes]) -> np.ndarray:
    """uint64 words drawn from the sample's bytes (zero-padded)."""
    data = b"".join(vals)
    data += b"\0" * (-len(data) % 8)
    return np.frombuffer(data, dtype=np.uint64)


def _fsst_decode_input(vals):
    return fsst.encode(b"".join(vals))


def _front_input(vals):
    return strings.encode_delta_byte_array(barray.from_pylist(sorted(vals)))


def _front_run(buf):
    offsets, data = strings.decode_delta_byte_array(buf)
    return offsets.tobytes() + data


def _unpack_input(vals):
    w = _words(vals)
    return [(bitpack.pack(w, k), k, len(w)) for k in WIDTHS]


def _shingles(k):
    """Shingle hashes + segment starts of the sample's non-empty texts."""

    def prep(vals):
        texts = [t for t in (v.decode("utf-8", "replace") for v in vals) if t]
        return dedup._shingle_hash_batch(texts, k) if texts else None

    return prep


# kernel -> (prepare(vals) on the default path, run(prepared) -> bytes)
KERNELS = {
    "fsst_encode": (lambda vals: b"".join(vals), fsst.encode),
    "fsst_decode": (_fsst_decode_input, fsst.decode),
    "front_decode": (_front_input, _front_run),
    "pack": (
        _words,
        lambda w: b"".join(bitpack.pack(w, k) for k in WIDTHS),
    ),
    "unpack": (
        _unpack_input,
        lambda cases: b"".join(bitpack.unpack(b, k, n).tobytes() for b, k, n in cases),
    ),
    "minhash": (
        _shingles(5),
        lambda hs: b"" if hs is None else dedup._minhash(hs[0], hs[1], CONSTS).tobytes(),
    ),
    "simhash": (
        _shingles(4),
        lambda hs: b"" if hs is None else dedup._simhash(hs[0], hs[1]).tobytes(),
    ),
}


def _assert_parity(kernel: str, vals: list[bytes]) -> None:
    prepare, run = KERNELS[kernel]
    prepared = prepare(vals)
    fast = run(prepared)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(native, "_LIB", None)
        mp.setattr(native, "_TRIED", True)
        assert native.get() is None
        ref = run(prepared)
    assert native.get() is not None
    assert fast == ref, kernel


VALUES = st.lists(
    st.one_of(
        st.binary(max_size=48),
        # repetitive text-like values: real symbol tables, long FF runs
        st.text(alphabet="ab /.:é\xff", max_size=48).map(lambda t: t.encode()),
        st.binary(min_size=1, max_size=4).map(lambda b: b * 9),
    ),
    max_size=30,
)


@pytest.mark.parametrize("kernel", sorted(KERNELS))
@given(vals=VALUES)
@settings(max_examples=30, deadline=None)
def test_native_parity_hypothesis(kernel, vals):
    _assert_parity(kernel, vals)


@pytest.fixture(scope="module")
def web_batch():
    return webgen.generate_batch(np.arange(400))


@pytest.mark.parametrize("column", ["url", "text", "html", "lang"])
@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_native_parity_webgen(kernel, column, web_batch):
    vals = [
        v.encode() if isinstance(v, str) else v
        for v in web_batch.column(column).to_pylist()
        if v is not None
    ]
    _assert_parity(kernel, vals)
