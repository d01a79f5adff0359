"""Page and chunk blob containers: typed encode/decode with null handling,
codec auto-selection, and optional outer block compression.

Model parity with the reference (SURVEY §1.1): a *page* is the smallest
encode/compress unit (here: one Arrow batch inside a vectorized UDF;
reference src/page/mod.rs), a *chunk* is all pages of one column in one
partition (reference column chunk, src/metadata/column_chunk_metadata.rs).
Like the reference's page buffer layout ``[def levels][values]``
(src/page/mod.rs:352-431), a page blob carries a hybrid-RLE validity
section (definition-level-style runs) separate from the packed non-null
values.

Page layout (self-delimiting):
    u8 type_code | u8 codec_id | u8 outer_comp_id
    uleb n_rows | uleb null_count
    [if 0 < null_count < n_rows: uleb vlen + hybrid-RLE validity bits]
    uleb raw_size | uleb enc_len | payload

Chunk layout:
    b"P2C1" | u8 type_code | uleb n_pages | uleb n_rows
    uleb page_len × n_pages | page blobs
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa

from .codecs import barray, block, delta, dictionary, fsst, plain, rle, strings
from .codecs.varint import uleb128_decode, uleb128_encode
from .functions import selector as sel
from .functions import stats as stats_mod
from .functions.selector import (
    BSS,
    CONSTANT,
    DELTA,
    DELTA_BYTE_ARRAY,
    DICT,
    FSST,
    LIST_F,
    NESTED,
    PLAIN,
    RLE_FOR,
    SelectorConfig,
)

CHUNK_MAGIC = b"P2C1"

# Allocation guards (≙ reference max_page_size, read/page/reader.rs:197-199
# and the try_reserve in read/metadata.rs:87): a corrupt/forged uleb length
# must fail a cheap bounds check BEFORE any allocation is attempted.
MAX_PAGE_ROWS = 1 << 27  # rows per page (config default is 8192)
MAX_PAGE_RAW = 1 << 33  # decompressed payload bytes per page


def _check_len(ln: int, buf: memoryview, pos: int, what: str) -> None:
    """A length field must fit inside the enclosing buffer."""
    if ln < 0 or pos + ln > len(buf):
        raise ValueError(
            f"corrupt blob: {what} length {ln} exceeds enclosing buffer "
            f"({len(buf) - pos} bytes left at offset {pos})"
        )


def _check_rows(n: int, what: str) -> None:
    if n < 0 or n > MAX_PAGE_ROWS:
        raise ValueError(f"corrupt blob: {what} row count {n} exceeds {MAX_PAGE_ROWS}")

# ---------------------------------------------------------------- types
# type_code: (name, numpy dtype or None, kind, arrow type factory)
TYPES: dict[int, tuple[str, Any, str, Callable[[], pa.DataType]]] = {
    1: ("int64", np.int64, "native", pa.int64),
    2: ("int32", np.int32, "native", pa.int32),
    3: ("float64", np.float64, "native", pa.float64),
    4: ("float32", np.float32, "native", pa.float32),
    5: ("bool", None, "bool", pa.bool_),
    6: ("binary", None, "binary", pa.binary),
    7: ("string", None, "binary", pa.string),
    8: ("timestamp_us", np.int64, "native", lambda: pa.timestamp("us")),
    9: ("date32", np.int32, "native", pa.date32),
    10: ("int16", np.int16, "native", pa.int16),
    11: ("int8", np.int8, "native", pa.int8),
    12: ("list_float32", np.float32, "list", lambda: pa.list_(pa.float32())),
    13: ("list_float64", np.float64, "list", lambda: pa.list_(pa.float64())),
    # recursive containers: the page payload is self-describing (a tag +
    # child page blobs, each carrying its own type_code) — the analog of
    # the reference's group types built from repetition/definition levels
    # (reference/src/metadata/schema_descriptor.rs:97-144, parquet_bridge.rs:
    # 505-508 List/Map logical groups)
    14: ("list", None, "nested", None),
    15: ("struct", None, "nested", None),
    16: ("map", None, "nested", None),
    # Decimal ≙ reference PrimitiveLogicalType::Decimal(p,s)
    # (reference/src/parquet_bridge.rs:486); FixedLenByteArray ≙
    # reference physical type (reference/src/schema/types/physical_type.rs:10-19)
    17: ("decimal128", None, "nested", None),
    18: ("fixed_binary", None, "nested", None),
}
_FLOAT_CODES = {3, 4}


def type_code_of(t: pa.DataType) -> int:
    if pa.types.is_timestamp(t):
        return 8
    if pa.types.is_date32(t):
        return 9
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if t.value_type.equals(pa.float32()):
            return 12  # fast path: byte-stream-split child floats
        if t.value_type.equals(pa.float64()):
            return 13
        return 14  # generic list<T>: recursive child page
    if pa.types.is_struct(t):
        return 15
    if pa.types.is_map(t):
        return 16
    if pa.types.is_decimal(t):
        return 17
    if pa.types.is_fixed_size_binary(t):
        return 18
    for code, (_, _, _, factory) in TYPES.items():
        if code in (8, 9) or factory is None:
            continue
        if t.equals(factory()):
            return code
    if pa.types.is_large_string(t):
        return 7
    if pa.types.is_large_binary(t):
        return 6
    raise TypeError(f"unsupported arrow type: {t}")


def _extract_native(vals: pa.Array, code: int) -> np.ndarray:
    dtype = TYPES[code][1]
    if code == 8:  # timestamp → int64 micros (reference normalizes Int96→i64
        # the same way, src/types.rs:103-113)
        return vals.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False)
    if code == 9:
        return vals.cast(pa.int32()).to_numpy(zero_copy_only=False)
    return vals.to_numpy(zero_copy_only=False).astype(dtype, copy=False)


# ---------------------------------------------------------------- nested
# Nested payloads are self-describing: a 1-byte tag, container structure
# (delta-coded lengths / field names / decimal p+s), then full child page
# blobs — each child page carries its own type_code, codec and validity,
# so nesting recurses to any depth and every child column benefits from
# the same codec auto-selection as a top-level column. This is the
# Spark/Arrow-native analog of the reference's repetition/definition-level
# tree (reference/src/metadata/schema_descriptor.rs:97-144, nested
# reassembly reference/tests/it/read/primitive_nested.rs:26-71).
_NT_LIST, _NT_MAP, _NT_STRUCT, _NT_DECIMAL, _NT_FIXED = 1, 2, 3, 4, 5


def _encode_nested(vals: pa.Array, cfg: SelectorConfig) -> bytes:
    t = vals.type
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        off = vals.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lens = np.diff(off)
        child = vals.flatten()  # offset-aware (never .values on slices)
        blob_child, _ = encode_page(child, cfg)
        return bytes([_NT_LIST]) + delta.encode(lens) + blob_child
    if pa.types.is_map(t):
        # physically list<struct<key,value>>: .keys/.items are the FULL
        # child arrays; .offsets index into them (slice-relative window)
        off = vals.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lens = np.diff(off)
        base, total = int(off[0]), int(off[-1] - off[0])
        kb, _ = encode_page(vals.keys.slice(base, total), cfg)
        ib, _ = encode_page(vals.items.slice(base, total), cfg)
        return bytes([_NT_MAP]) + delta.encode(lens) + kb + ib
    if pa.types.is_struct(t):
        names = [t.field(i).name for i in range(t.num_fields)]
        children = vals.flatten()  # per-field arrays, offset/length-aware
        head = [bytes([_NT_STRUCT]), uleb128_encode(len(names))]
        for name in names:
            nb = name.encode("utf-8")
            head.append(uleb128_encode(len(nb)))
            head.append(nb)
        blobs = [encode_page(c, cfg)[0] for c in children]
        return b"".join(head) + b"".join(blobs)
    if pa.types.is_decimal(t):
        m = len(vals)
        words = np.frombuffer(
            vals.buffers()[1], dtype="<i8", count=2 * m, offset=16 * vals.offset
        ) if m else np.empty(0, dtype=np.int64)
        lo, hi = words[0::2], words[1::2]
        wide = 1 if t.precision > 18 else 0
        head = bytes([_NT_DECIMAL, t.precision, t.scale, wide])
        if not wide:
            # |unscaled| < 10^18 < 2^63: the low word IS the int64 value —
            # child page gets delta/dict/RLE selection like any int column
            lob, _ = encode_page(pa.array(np.ascontiguousarray(lo)), cfg)
            return head + lob
        lob, _ = encode_page(pa.array(np.ascontiguousarray(lo)), cfg)
        hib, _ = encode_page(pa.array(np.ascontiguousarray(hi)), cfg)
        return head + lob + hib
    if pa.types.is_fixed_size_binary(t):
        # manual variable-binary view (pyarrow 16 segfaults casting a
        # SLICED fixed_size_binary → binary); dict/FSST/plain then apply
        m, k = len(vals), t.byte_width
        window = memoryview(vals.buffers()[1])[vals.offset * k : (vals.offset + m) * k]
        offsets = (np.arange(m + 1, dtype=np.int64) * k).astype(np.int32)
        child = pa.Array.from_buffers(
            pa.binary(), m, [None, pa.py_buffer(offsets), pa.py_buffer(window)]
        )
        cb, _ = encode_page(child, cfg)
        return bytes([_NT_FIXED]) + uleb128_encode(t.byte_width) + cb
    raise TypeError(f"unsupported nested arrow type: {t}")


def _offsets32(lens: np.ndarray) -> pa.Array:
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("nested page exceeds int32 offsets — lower page_rows")
    return pa.array(offsets.astype(np.int32), type=pa.int32())


def skip_page(buf: memoryview, pos: int) -> int:
    """End position of the page blob at ``pos`` — header parse only, the
    payload is never decompressed or decoded (nested field pruning walks
    sibling child pages with this)."""
    n, p = uleb128_decode(buf, pos + 3)
    nulls, p = uleb128_decode(buf, p)
    if 0 < nulls < n:
        vlen, p = uleb128_decode(buf, p)
        _check_len(vlen, buf, p, "validity")
        p += vlen
    _raw, p = uleb128_decode(buf, p)
    plen, p = uleb128_decode(buf, p)
    _check_len(plen, buf, p, "page payload")
    return p + plen


def _decode_nested(buf: memoryview, m: int, field_filter=None) -> pa.Array:
    tag = buf[0]
    if tag == _NT_LIST:
        lens, pos = delta.decode_consumed(buf[1:])
        # field_filter recurses into a struct child (list<struct> field
        # projection); non-nested children ignore it
        child, _ = decode_page(buf[1:], pos, field_filter=field_filter)
        return pa.ListArray.from_arrays(_offsets32(lens), child)
    if tag == _NT_MAP:
        lens, pos = delta.decode_consumed(buf[1:])
        keys, pos = decode_page(buf[1:], pos)
        # field_filter projects map VALUE struct fields ("col.field" on a
        # map<k, struct<...>> column): the value struct's sibling field
        # pages are skipped by header walk inside the items page; keys are
        # always decoded (a map without keys is meaningless)
        items, _ = decode_page(buf[1:], pos, field_filter=field_filter)
        return pa.MapArray.from_arrays(_offsets32(lens), keys, items)
    if tag == _NT_STRUCT:
        n_fields, pos = uleb128_decode(buf, 1)
        if n_fields > len(buf):
            raise ValueError(f"corrupt blob: struct field count {n_fields}")
        names = []
        for _ in range(n_fields):
            ln, pos = uleb128_decode(buf, pos)
            _check_len(ln, buf, pos, "struct field name")
            names.append(bytes(buf[pos : pos + ln]).decode("utf-8"))
            pos += ln
        if field_filter is not None:
            missing = set(field_filter) - set(names)
            if missing:
                raise KeyError(f"struct has no fields {sorted(missing)} (have {names})")
        kept_names, children = [], []
        for name in names:
            if field_filter is not None and name not in field_filter:
                # nested projection pushdown: the sibling field's page is
                # walked by header only — never decompressed or decoded
                pos = skip_page(buf, pos)
                continue
            c, pos = decode_page(buf, pos)
            kept_names.append(name)
            children.append(c)
        return pa.StructArray.from_arrays(children, names=kept_names)
    if tag == _NT_DECIMAL:
        precision, scale, wide = buf[1], buf[2], buf[3]
        lo, pos = decode_page(buf, 4)
        lo = lo.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        if wide:
            hi, _ = decode_page(buf, pos)
            hi = hi.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        else:
            hi = np.where(lo < 0, np.int64(-1), np.int64(0))
        inter = np.empty(2 * m, dtype=np.int64)
        inter[0::2], inter[1::2] = lo, hi
        return pa.Array.from_buffers(
            pa.decimal128(precision, scale), m, [None, pa.py_buffer(inter.tobytes())]
        )
    if tag == _NT_FIXED:
        k, pos = uleb128_decode(buf, 1)
        child, _ = decode_page(buf, pos)
        return child.cast(pa.binary(k))
    raise ValueError(f"unknown nested tag {tag}")


# ---------------------------------------------------------------- values codecs
def _encode_values(
    code: int, kind: str, vals: pa.Array, codec: int, fsst_table=None, cfg: SelectorConfig = sel.DEFAULT
) -> bytes:
    if kind == "nested":
        if codec != NESTED:
            raise ValueError(f"codec {codec} invalid for nested")
        return _encode_nested(vals, cfg)
    if kind == "bool":
        return rle.encode_bool(vals.to_numpy(zero_copy_only=False))
    if kind == "list":
        if codec != LIST_F:
            raise ValueError(f"codec {codec} invalid for list")
        import pyarrow.compute as pc

        dtype = np.dtype(TYPES[code][1])
        lv = vals.cast(pa.list_(pa.from_numpy_dtype(dtype)))
        # flatten() walks offsets — .values would include gap data from
        # sliced/drop_null'd arrays
        child = lv.flatten().to_numpy(zero_copy_only=False).astype(dtype, copy=False)
        lens = pc.list_value_length(lv).to_numpy(zero_copy_only=False).astype(np.int64)
        # [delta lens][uleb n_child][byte-stream-split child floats]
        return (
            delta.encode(lens)
            + uleb128_encode(len(child))
            + plain.encode_byte_stream_split(child)
        )
    if kind == "binary":
        arr = barray.from_arrow(vals)
        if codec == PLAIN:
            return plain.encode_binary(arr)
        if codec == DICT:
            return dictionary.encode_binary(arr)
        if codec == DELTA_BYTE_ARRAY:
            return strings.encode_delta_byte_array(arr)
        if codec == FSST:
            lens = barray.lengths(arr)
            if fsst_table is not None:
                # shared chunk-level symbol table (≙ reference DictPage:
                # the table is stored once per chunk, pages carry codes)
                payload = fsst.encode_with_table(arr[1], fsst_table)
                return (
                    delta.encode(lens)
                    + b"\x00"
                    + uleb128_encode(len(arr[1]))
                    + uleb128_encode(len(payload))
                    + payload
                )
            # inline table: when this is a selector *sample* (small input)
            # train on a proportionally small sample — ranking needs the
            # trend, not the best table
            cap = fsst.DEFAULT_SAMPLE if len(arr[1]) > fsst.DEFAULT_SAMPLE else 8192
            return delta.encode(lens) + b"\x01" + fsst.encode(arr[1], sample_cap=cap)
        if codec == CONSTANT:
            first = bytes(arr[1][: arr[0][1]]) if len(arr[0]) > 1 else b""
            return uleb128_encode(len(first)) + first
        raise ValueError(f"codec {codec} invalid for binary")
    # natives
    v = _extract_native(vals, code)
    if codec == PLAIN:
        return plain.encode_native(v)
    if codec == DICT:
        return dictionary.encode_native(v)
    if codec == RLE_FOR:
        return rle.encode_for(v.astype(np.int64, copy=False))
    if codec == DELTA:
        return delta.encode(v.astype(np.int64, copy=False))
    if codec == CONSTANT:
        return plain.encode_native(v[:1])
    if codec == BSS:
        return plain.encode_byte_stream_split(v)
    raise ValueError(f"codec {codec} invalid for native")


def _decode_values(code: int, kind: str, buf: memoryview, codec: int, m: int, fsst_table=None):
    """→ numpy array (native/bool), BinArray (binary), or
    (offsets, child ndarray) for lists — m non-null values."""
    if kind == "bool":
        return rle.decode_bool(buf, m)
    if kind == "list":
        dtype = np.dtype(TYPES[code][1])
        lens, pos = delta.decode_consumed(buf)
        n_child, pos = uleb128_decode(buf, pos)
        child = plain.decode_byte_stream_split(buf[pos:], dtype, n_child)
        offsets = np.zeros(len(lens) + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        return offsets, child
    if kind == "binary":
        if codec == PLAIN:
            return plain.decode_binary(buf)
        if codec == DICT:
            return dictionary.decode_binary(buf)
        if codec == DELTA_BYTE_ARRAY:
            return strings.decode_delta_byte_array(buf)
        if codec == FSST:
            lens, pos = delta.decode_consumed(buf)
            inline = buf[pos]
            pos += 1
            if inline:
                data = fsst.decode(buf[pos:])
            else:
                if fsst_table is None:
                    raise ValueError("page needs the chunk's shared FSST table")
                raw_len, pos = uleb128_decode(buf, pos)
                if raw_len > MAX_PAGE_RAW:
                    raise ValueError(f"corrupt blob: fsst raw length {raw_len}")
                plen, pos = uleb128_decode(buf, pos)
                _check_len(plen, buf, pos, "fsst payload")
                payload = bytes(buf[pos : pos + plen])
                from .codecs import native

                data = native.fsst_decode(payload, fsst_table.symbols, raw_len)
                if data is None:
                    data = fsst.decode_with_table(payload, fsst_table)
            offsets = np.zeros(len(lens) + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            return offsets, data
        if codec == CONSTANT:
            ln, pos = uleb128_decode(buf, 0)
            val = bytes(buf[pos : pos + ln])
            offsets = np.arange(m + 1, dtype=np.int64) * ln
            return offsets, val * m
        raise ValueError(f"codec {codec} invalid for binary")
    dtype = np.dtype(TYPES[code][1])
    if codec == PLAIN:
        return np.frombuffer(buf, dtype=dtype, count=m)
    if codec == DICT:
        return dictionary.decode_native(buf, dtype)
    if codec == RLE_FOR:
        return rle.decode_for(buf).astype(dtype, copy=False)
    if codec == DELTA:
        return delta.decode(buf).astype(dtype, copy=False)
    if codec == CONSTANT:
        return np.full(m, np.frombuffer(buf, dtype=dtype, count=1)[0], dtype=dtype)
    if codec == BSS:
        return plain.decode_byte_stream_split(buf, dtype, m)
    raise ValueError(f"codec {codec} invalid for native")


# ---------------------------------------------------------------- page
@dataclass
class PageMeta:
    n: int
    null_count: int
    codec: str
    outer: str | None
    raw_bytes: int
    enc_bytes: int
    page_bytes: int
    min: Any = None
    max: Any = None
    ndv: int = 0


def select_codec(
    arr: pa.Array,
    cfg: SelectorConfig = sel.DEFAULT,
    stats: stats_mod.BatchStats | None = None,
    fsst_table=None,
    vals: pa.Array | None = None,
    _reuse: dict | None = None,
) -> int:
    """Stats shortlist + sample-measure pick for one array (used per page
    standalone, or once per chunk — the reference enforces one codec per
    column chunk, src/write/column_chunk.rs:108-121). A pre-trained
    ``fsst_table`` makes the FSST candidate measured with the table the
    chunk would actually use (and skips a redundant training pass).

    ``_reuse``: when the measurement sample is the FULL value set (page
    rows ≤ sample_values — the common small-chunk regime), each measured
    candidate's encoded bytes and outer-compressed bytes are exactly what
    ``encode_page`` would recompute for that codec; the dict captures
    them as {codec: (enc, z_or_None, outer_name, outer_level)} so the
    winning page encode skips the redundant encode + outer compress (the
    outer pass at brotli-10/zstd-19 costs more than everything else in
    the page combined)."""
    code = type_code_of(arr.type)
    kind = TYPES[code][2]
    st = stats if stats is not None else stats_mod.compute(arr, vals=vals)
    if vals is None:
        vals = arr.drop_null() if st.null_count else arr
    m = len(vals)
    candidates = sel.shortlist(st, kind, code in _FLOAT_CODES, cfg)
    if len(candidates) == 1 or m == 0:
        return candidates[0]
    full_sample = m <= cfg.sample_values
    sample = vals if full_sample else vals.slice(0, cfg.sample_values)
    # measure candidates AFTER the outer block codec: "fsst < plain" before
    # zstd does not imply "fsst+zstd < plain+zstd" (SURVEY §7 risk note)
    encs = {
        c: _encode_values(code, kind, sample, c, fsst_table=fsst_table, cfg=cfg)
        for c in candidates
    }
    to_z = [
        c for c in candidates if cfg.outer and len(encs[c]) >= cfg.outer_min_bytes
    ]
    if cfg.select_threads > 1 and len(to_z) > 1:
        # heavy-outer profiles (brotli-10 / zstd-19): the candidate
        # compressions dominate selection, are independent and release
        # the GIL — overlap them; sizes (and thus the pick) are the
        # deterministic per-candidate bytes either way
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(min(cfg.select_threads, len(to_z))) as ex:
            zs = dict(
                zip(
                    to_z,
                    ex.map(
                        lambda c: block.compress(encs[c], cfg.outer, cfg.outer_level),
                        to_z,
                    ),
                )
            )
    else:
        zs = {c: block.compress(encs[c], cfg.outer, cfg.outer_level) for c in to_z}
    sizes = {}
    for c in candidates:
        enc = encs[c]
        z = zs.get(c)
        sizes[c] = min(len(enc), len(z)) if z is not None else len(enc)
        if _reuse is not None and full_sample and c != FSST:
            # FSST excluded: its measurement used the cheap probe table,
            # the real page uses the chunk table trained after selection
            _reuse[c] = (enc, z, cfg.outer, cfg.outer_level)
    return sel.pick_by_measure(sizes, cfg)


def encode_page(
    arr: pa.Array,
    cfg: SelectorConfig = sel.DEFAULT,
    codec: int | None = None,
    stats: stats_mod.BatchStats | None = None,
    fsst_table=None,
    _reuse: dict | None = None,
) -> tuple[bytes, PageMeta]:
    code = type_code_of(arr.type)
    kind = TYPES[code][2]
    # materialize non-null values ONCE (drop_null copies the batch) and
    # share them with stats + selector — null-bearing pages used to pay
    # this gather 2-3× per page
    vals = arr.drop_null() if arr.null_count else arr
    # full (hash-heavy) stats only when the selector needs them
    st = stats if stats is not None else stats_mod.compute(arr, full=codec is None, vals=vals)
    n, nulls = st.n, st.null_count
    m = len(vals)

    if codec is None:
        # standalone page: selection measures THIS page's values, so its
        # candidate bytes are reusable below under the same conditions as
        # the chunk-probe path (a caller's dict is filled, not replaced)
        if _reuse is None:
            _reuse = {}
        codec = select_codec(arr, cfg, st, vals=vals, _reuse=_reuse)

    # CONSTANT stores only the first non-null value — if a chunk-forced
    # CONSTANT reaches a page that isn't actually constant (min != max),
    # fall back to PLAIN rather than silently corrupting the page. Light
    # stats always carry min/max, so this check costs nothing extra.
    # (NaN != NaN also routes float-NaN pages to PLAIN — safe.)
    if codec == CONSTANT and m and st.min != st.max:
        codec = PLAIN

    # candidate bytes measured by select_codec on this page's FULL value
    # set are exactly what the loop below would recompute — reuse them
    # (FSST entries are never stored; see select_codec)
    cached = _reuse.get(codec) if _reuse is not None else None
    cached_z = None
    if cached is not None:
        cached_enc, z, z_outer, z_level = cached
        if (
            z is not None
            and z_outer == cfg.outer
            and z_level == cfg.outer_level
            and not (cfg.outer_candidates and len(cfg.outer_candidates) > 1)
        ):
            cached_z = z

    # nested payloads are written even for m == 0: the tag + empty child
    # pages carry the full type tree, so all-null pages decode typed
    if cached is not None and (m or kind == "nested"):
        enc = cached_enc
    else:
        enc = (
            _encode_values(code, kind, vals, codec, fsst_table, cfg=cfg)
            if (m or kind == "nested")
            else b""
        )
    raw_size = len(enc)

    outer_id = 0
    payload = enc
    # nested children already carry their own outer compression — an outer
    # layer here would re-compress compressed bytes for no gain
    if cfg.outer and raw_size >= cfg.outer_min_bytes and kind != "nested":
        if cfg.outer_candidates and len(cfg.outer_candidates) > 1:
            # per-page candidate measurement: this path is reached by the
            # CHILD pages of nested chunks (flat chunks fix their winner
            # once at chunk level and clear the candidate list) — so the
            # speed profile covers the whole type lattice
            sizes = {
                name: block.compress(enc, name, cfg.outer_level if name == "zstd" else None)
                for name in cfg.outer_candidates
            }
            best = min(len(z) for z in sizes.values())
            chosen = min(
                (n for n, z in sizes.items() if len(z) <= best * (1 + cfg.outer_slack)),
                key=lambda n: (sel.OUTER_COST_RANK.get(n, 9), len(sizes[n])),
            )
            compressed, outer_name = sizes[chosen], chosen
        elif cached_z is not None:
            compressed, outer_name = cached_z, cfg.outer
        else:
            compressed, outer_name = block.compress(enc, cfg.outer, cfg.outer_level), cfg.outer
        if len(compressed) <= raw_size * cfg.outer_min_gain:
            payload = compressed
            outer_id = block.CODEC_NAMES[outer_name]

    parts = [
        bytes([code, codec, outer_id]),
        uleb128_encode(n),
        uleb128_encode(nulls),
    ]
    if 0 < nulls < n:
        validity = rle.encode_bool(arr.is_valid().to_numpy(zero_copy_only=False))
        parts.append(uleb128_encode(len(validity)))
        parts.append(validity)
    parts.append(uleb128_encode(raw_size))
    parts.append(uleb128_encode(len(payload)))
    parts.append(payload)
    page = b"".join(parts)
    meta = PageMeta(
        n=n,
        null_count=nulls,
        codec=sel.CODEC_NAMES[codec],
        outer=block.CODEC_IDS[outer_id],
        raw_bytes=st.raw_bytes,
        enc_bytes=len(page),
        page_bytes=len(page),
        min=st.min,
        max=st.max,
        ndv=st.ndv,
    )
    return page, meta


def decode_page(
    buf: bytes | memoryview, pos: int = 0, fsst_table=None, field_filter=None
) -> tuple[pa.Array, int]:
    buf = memoryview(buf)
    code, codec, outer_id = buf[pos], buf[pos + 1], buf[pos + 2]
    name, dtype, kind, factory = TYPES[code]
    n, p = uleb128_decode(buf, pos + 3)
    _check_rows(n, "page")
    nulls, p = uleb128_decode(buf, p)
    valid = None
    if 0 < nulls < n:
        vlen, p = uleb128_decode(buf, p)
        _check_len(vlen, buf, p, "validity")
        valid = rle.decode_bool(buf[p : p + vlen], n)
        p += vlen
    raw_size, p = uleb128_decode(buf, p)
    if raw_size > MAX_PAGE_RAW:
        raise ValueError(f"corrupt blob: raw size {raw_size} exceeds {MAX_PAGE_RAW}")
    plen, p = uleb128_decode(buf, p)
    _check_len(plen, buf, p, "page payload")
    payload = buf[p : p + plen]
    p += plen

    if nulls == n and kind != "nested":
        return pa.nulls(n, factory()), p
    enc = memoryview(block.decompress(payload, block.CODEC_IDS[outer_id], raw_size))
    m = n - nulls

    if kind == "nested":
        values = _decode_nested(enc, m, field_filter=field_filter)
        if m < n:
            # scatter nulls generically: take() with null indices yields
            # null slots for ANY type — no per-kind buffer surgery needed
            idx = np.zeros(n, dtype=np.int64)
            if valid is not None:
                idx[valid] = np.arange(m)
                mask = ~valid
            else:  # all-null page
                mask = np.ones(n, dtype=bool)
            values = values.take(pa.array(idx, mask=mask))
        return values, p

    values = _decode_values(code, kind, enc, codec, m, fsst_table)

    if kind == "list":
        offsets, child = values
        if valid is not None:
            full = np.zeros(n + 1, dtype=np.int64)
            lens = np.zeros(n, dtype=np.int64)
            lens[valid] = np.diff(offsets)
            np.cumsum(lens, out=full[1:])
            offsets = full
        list_type = factory()
        child_arr = pa.array(child, type=list_type.value_type)
        vbuf = (
            pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
            if valid is not None
            else None
        )
        out = pa.Array.from_buffers(
            list_type,
            n,
            [vbuf, pa.py_buffer(offsets.astype(np.int32))],
            null_count=nulls,
            children=[child_arr],
        )
        return out, p
    if kind == "binary":
        offsets, data = values
        if valid is not None:
            full = np.zeros(n + 1, dtype=np.int64)
            lens = np.zeros(n, dtype=np.int64)
            lens[valid] = np.diff(offsets)
            np.cumsum(lens, out=full[1:])
            offsets = full
        if offsets[-1] > np.iinfo(np.int32).max:
            out_t, off_np = pa.large_binary(), offsets.astype(np.int64)
        else:
            out_t, off_np = pa.binary(), offsets.astype(np.int32)
        vbuf = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes()) if valid is not None else None
        out = pa.Array.from_buffers(
            out_t, n, [vbuf, pa.py_buffer(off_np), pa.py_buffer(data)], null_count=nulls
        )
        if code == 7:
            out = out.cast(pa.large_string() if out_t == pa.large_binary() else pa.string())
        return out, p
    if kind == "bool":
        if valid is not None:
            full = np.zeros(n, dtype=bool)
            full[valid] = values
            return pa.array(full, mask=~valid), p
        return pa.array(values), p
    # natives
    if valid is not None:
        full = np.zeros(n, dtype=np.dtype(dtype))
        full[valid] = values
        mask = ~valid
    else:
        full, mask = values, None
    if code == 8:
        out = pa.array(full.astype("datetime64[us]"), type=pa.timestamp("us"), mask=mask)
    elif code == 9:
        out = pa.array(full.astype("datetime64[D]"), type=pa.date32(), mask=mask)
    else:
        out = pa.array(full, mask=mask)
    return out, p


# ---------------------------------------------------------------- chunk
@dataclass
class ChunkMeta:
    type_code: int
    n_rows: int
    null_count: int
    raw_bytes: int
    enc_bytes: int
    n_pages: int
    codecs: list[str]
    outers: list[str | None]
    page_rows: list[int] = field(default_factory=list)
    page_mins: list[Any] = field(default_factory=list)
    page_maxs: list[Any] = field(default_factory=list)
    # per-page null counts (the PageIndex null_count analog,
    # reference/src/indexes/index.rs:74-135): IS NULL / IS NOT NULL
    # predicates skip all-null / no-null pages without decoding them
    page_nulls: list[int] = field(default_factory=list)
    min: Any = None
    max: Any = None
    ndv_hint: int = 0


def encode_chunk(
    pages: list[pa.Array], cfg: SelectorConfig = sel.DEFAULT, codec: int | None = None
) -> tuple[bytes, ChunkMeta]:
    if not pages:
        raise ValueError("chunk needs at least one page")
    code = type_code_of(pages[0].type)
    kind = TYPES[code][2]
    # find the probe page and materialize its non-null values exactly once
    # (drop_null copies the batch — it must not run per consumer)
    probe, probe_vals = pages[0], None
    for p in pages:
        pv = p.drop_null() if p.null_count else p
        if len(pv):
            probe, probe_vals = p, pv
            break
    if probe_vals is None:
        probe_vals = probe.drop_null() if probe.null_count else probe
    probe_stats = stats_mod.compute(probe, vals=probe_vals) if codec is None else None

    # train the shared chunk-level FSST symbol table up front (≙ DictPage:
    # stored once per chunk) so the selector measures the real candidate —
    # but only when FSST is actually in the running for this column
    fsst_table = None
    fsst_possible = codec == FSST or (
        codec is None
        and kind == "binary"
        and cfg.enable_fsst
        and probe_stats is not None
        and FSST in sel.shortlist(probe_stats, kind, code in _FLOAT_CODES, cfg)
    )
    sample = bytearray()
    if fsst_possible:
        for p in pages:
            vals = probe_vals if p is probe else (p.drop_null() if p.null_count else p)
            if len(vals):
                sample += barray.from_arrow(vals)[1][: fsst.DEFAULT_SAMPLE]
            if len(sample) >= fsst.DEFAULT_SAMPLE:
                break
        if sample:
            # cheap probe table for *selection* only (small sample, fewer
            # generations) — the real table is trained only if FSST wins
            fsst_table = fsst.train(bytes(sample[:8192]), generations=3)

    # one codec per chunk, selected on the first non-empty page — the
    # reference enforces exactly this (src/write/column_chunk.rs:108-121)
    chunk_codec = codec
    probe_reuse: dict = {}
    if chunk_codec is None:
        chunk_codec = select_codec(
            probe,
            cfg,
            stats=probe_stats,
            fsst_table=fsst_table,
            vals=probe_vals,
            _reuse=probe_reuse,
        )
        if chunk_codec == CONSTANT:
            # the probe page was constant, but CONSTANT is only valid for
            # pages whose non-null values all match (it stores one value per
            # page) — re-select on the first non-constant page if any exists.
            # encode_page independently guards per page; this keeps the
            # chunk-level pick good instead of falling back to PLAIN.
            for p in pages:
                ps = stats_mod.compute(p, full=False)
                if ps.nonnull and ps.min != ps.max:
                    chunk_codec = select_codec(p, cfg)
                    break
            if chunk_codec == FSST and not sample:
                # the constant probe skipped FSST sampling — rebuild the
                # shared-table sample from the non-constant pages so every
                # page uses one chunk-level table, not inline per-page ones
                for p in pages:
                    vals = p.drop_null() if p.null_count else p
                    if len(vals):
                        sample += barray.from_arrow(vals)[1][: fsst.DEFAULT_SAMPLE]
                    if len(sample) >= fsst.DEFAULT_SAMPLE:
                        break

    aux = b""
    if chunk_codec == FSST and sample:
        fsst_table = fsst.train(bytes(sample[: fsst.DEFAULT_SAMPLE]))
        aux = fsst_table.serialize()
    else:
        fsst_table = None

    # outer block-codec selection, once per chunk on the probe page:
    # measure each candidate post-encoding, pick cost-aware (the cheapest
    # codec within outer_slack of the smallest — lz4 usually wins the
    # speed profile at near-identical size)
    if cfg.outer_candidates and len(cfg.outer_candidates) > 1 and kind != "nested":
        sample_arr = (
            probe_vals.slice(0, cfg.sample_values)
            if len(probe_vals) > cfg.sample_values
            else probe_vals
        )
        if len(sample_arr):
            enc = _encode_values(code, kind, sample_arr, chunk_codec, fsst_table, cfg=cfg)
            if len(enc) >= cfg.outer_min_bytes:
                sizes = {
                    name: len(
                        block.compress(enc, name, cfg.outer_level if name == "zstd" else None)
                    )
                    for name in cfg.outer_candidates
                }
                best = min(sizes.values())
                chosen = min(
                    (n for n in sizes if sizes[n] <= best * (1 + cfg.outer_slack)),
                    key=lambda n: (sel.OUTER_COST_RANK.get(n, 9), sizes[n]),
                )
                from dataclasses import replace as _replace

                # fix the winner for every page of this flat chunk (and
                # clear the candidate list so pages skip re-measuring)
                cfg = _replace(
                    cfg,
                    outer=chosen,
                    outer_level=cfg.outer_level if chosen == "zstd" else None,
                    outer_candidates=(),
                )

    blobs: list[bytes] = []
    metas: list[PageMeta] = []
    for arr in pages:
        b, m = encode_page(
            arr,
            cfg,
            codec=chunk_codec,
            fsst_table=fsst_table,
            # the reuse entries are keyed on the PROBE page's values —
            # only that page may consume them
            _reuse=probe_reuse if arr is probe else None,
        )
        blobs.append(b)
        metas.append(m)
    head = [
        CHUNK_MAGIC,
        bytes([code]),
        uleb128_encode(len(aux)),
        aux,
        uleb128_encode(len(blobs)),
        uleb128_encode(sum(m.n for m in metas)),
    ]
    head.extend(uleb128_encode(len(b)) for b in blobs)
    payload = b"".join(head) + b"".join(blobs)
    mins = [m.min for m in metas if m.min is not None]
    maxs = [m.max for m in metas if m.max is not None]
    # deterministic codec list, deduped+sorted like the reference
    # (src/write/column_chunk.rs:176-177)
    meta = ChunkMeta(
        type_code=code,
        n_rows=sum(m.n for m in metas),
        null_count=sum(m.null_count for m in metas),
        raw_bytes=sum(m.raw_bytes for m in metas),
        enc_bytes=len(payload),
        n_pages=len(blobs),
        codecs=sorted({m.codec for m in metas}),
        outers=sorted({m.outer for m in metas if m.outer} | set()) or [],
        page_rows=[m.n for m in metas],
        page_mins=[m.min for m in metas],
        page_maxs=[m.max for m in metas],
        page_nulls=[m.null_count for m in metas],
        min=min(mins) if mins else None,
        max=max(maxs) if maxs else None,
        # pages encode with the chunk's forced codec (light stats, ndv=0);
        # the probe page carried full stats — its ndv is the hint
        ndv_hint=max(
            max((m.ndv for m in metas), default=0),
            probe_stats.ndv if probe_stats is not None else 0,
        ),
    )
    return payload, meta


def iter_chunk_pages(
    buf: bytes | memoryview,
    page_filter: Callable[[int, int], bool] | None = None,
    field_filter=None,
) -> Iterator[tuple[int, pa.Array | None]]:
    """Yield ``(first_row_index, array-or-None)`` per page.

    ``page_filter(page_index, first_row_index) -> keep`` skips decoding of
    filtered pages entirely (IndexedPageReader analog — the page bytes are
    never touched, only the offset index is walked). Skipped pages yield
    ``None`` so callers keep row alignment.
    """
    buf = memoryview(buf)
    if bytes(buf[:4]) != CHUNK_MAGIC:
        raise ValueError("bad chunk magic")
    _code = buf[4]
    aux_len, pos = uleb128_decode(buf, 5)
    _check_len(aux_len, buf, pos, "fsst table")
    fsst_table = None
    if aux_len:
        fsst_table, _ = fsst.SymbolTable.deserialize(buf[pos : pos + aux_len])
    pos += aux_len
    n_pages, pos = uleb128_decode(buf, pos)
    if n_pages > len(buf):  # each page blob is ≥ 1 byte
        raise ValueError(f"corrupt blob: page count {n_pages} exceeds buffer")
    _n_rows, pos = uleb128_decode(buf, pos)
    lens = []
    for _ in range(n_pages):
        ln, pos = uleb128_decode(buf, pos)
        lens.append(ln)
    first_row = 0
    for i, ln in enumerate(lens):
        _check_len(ln, buf, pos, f"page {i}")
        page = buf[pos : pos + ln]
        # page n_rows sits right after the 3 header bytes
        page_n, _ = uleb128_decode(page, 3)
        if page_filter is None or page_filter(i, first_row):
            arr, _ = decode_page(page, 0, fsst_table=fsst_table, field_filter=field_filter)
            yield first_row, arr
        else:
            yield first_row, None
        pos += ln
        first_row += page_n


def _normalize_page_types(arrs: list[pa.Array]) -> list[pa.Array]:
    """Huge pages may decode as large_binary/string while small siblings
    stay 32-bit — normalize to the large variant (offsets-only copy, data
    buffers shared)."""
    types = {a.type for a in arrs}
    if len(types) > 1:
        if pa.large_binary() in types or pa.binary() in types:
            arrs = [a.cast(pa.large_binary()) for a in arrs]
        elif pa.large_string() in types or pa.string() in types:
            arrs = [a.cast(pa.large_string()) for a in arrs]
    return arrs


def concat_pages(arrs: list[pa.Array]) -> pa.Array:
    """Concat page arrays into one flat array (one full copy)."""
    if len(arrs) == 1:
        return arrs[0]
    return pa.concat_arrays(_normalize_page_types(arrs))


def chunk_pages(arrs: list[pa.Array]) -> pa.Array | pa.ChunkedArray:
    """Zero-copy page assembly: page arrays become the chunks of a
    ChunkedArray instead of being concatenated — the Arrow IPC writer
    (and Spark's applyInArrow exchange) slices record batches at chunk
    boundaries without ever flattening, so the decode path never pays
    the whole-chunk memcpy that ``concat_pages`` does (the profile had
    it at ~23% of decode wall on multi-page chunks). Reference analog:
    the zero-alloc streaming decoders hand out per-page slices the same
    way (reference/src/encoding/bitpacked/decode.rs:9-86)."""
    if len(arrs) == 1:
        return arrs[0]
    return pa.chunked_array(_normalize_page_types(arrs))


def decode_chunk(
    buf: bytes | memoryview, field_filter=None, combine: bool = True
) -> pa.Array | pa.ChunkedArray:
    """Decode a chunk. ``combine=False`` returns the pages as a
    ChunkedArray (zero-copy — see ``chunk_pages``); the default flattens
    for callers that need a plain Array."""
    arrs = [a for _, a in iter_chunk_pages(buf, field_filter=field_filter)]
    return concat_pages(arrs) if combine else chunk_pages(arrs)


def decode_chunk_rows(
    buf: bytes | memoryview,
    row_start: int,
    row_count: int,
    field_filter=None,
    combine: bool = True,
) -> pa.Array | pa.ChunkedArray:
    """Decode only rows [row_start, row_start+row_count) of a chunk.

    Reference parity: ``compute_rows``/``select_pages`` +
    ``SliceFilteredIter`` (src/indexes/intervals.rs:64-138,
    src/deserialize/utils.rs:98-148): the page offset index selects the
    pages overlapping the interval, pages outside it are never decoded,
    and the residual slice is applied per page.
    """
    end = row_start + row_count
    buf = memoryview(buf)
    spans: list[tuple[int, int]] = []  # (first_row, n_rows) per page
    # cheap metadata pass: page row counts via the offset index, no decode
    if bytes(buf[:4]) != CHUNK_MAGIC:
        raise ValueError("bad chunk magic")
    aux_len, pos = uleb128_decode(buf, 5)
    _check_len(aux_len, buf, pos, "fsst table")
    pos += aux_len
    n_pages, pos = uleb128_decode(buf, pos)
    if n_pages > len(buf):
        raise ValueError(f"corrupt blob: page count {n_pages} exceeds buffer")
    _n_rows, pos = uleb128_decode(buf, pos)
    lens = []
    for _ in range(n_pages):
        ln, pos = uleb128_decode(buf, pos)
        lens.append(ln)
    fr = 0
    p = pos
    for ln in lens:
        _check_len(ln, buf, p, "page")
        page_n, _ = uleb128_decode(buf, p + 3)
        _check_rows(page_n, "page")
        spans.append((fr, page_n))
        fr += page_n
        p += ln

    def overlap(i: int, first_row: int) -> bool:
        pfr, pn = spans[i]
        return pfr < end and pfr + pn > row_start

    out: list[pa.Array] = []
    for first_row, arr in iter_chunk_pages(buf, page_filter=overlap, field_filter=field_filter):
        if arr is None:
            continue
        lo = max(row_start - first_row, 0)
        hi = min(end - first_row, len(arr))
        out.append(arr.slice(lo, hi - lo))
    if not out:
        raise ValueError(f"row interval [{row_start}, {end}) outside chunk")
    # normalized assembly, not raw concat_arrays: a >2 GiB page decodes
    # as large_binary/large_string while small siblings stay 32-bit
    return concat_pages(out) if combine else chunk_pages(out)
