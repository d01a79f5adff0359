"""ULEB128 and zigzag varints (blob/stream headers).

Reference behavior: /root/reference/src/encoding/uleb128.rs:3-46 and
/root/reference/src/encoding/zigzag_leb128.rs:5-15. Re-implemented from the
public LEB128 definition; used only for small headers, so scalar Python is
fine (the reference uses them the same way).
"""

from __future__ import annotations

_U64_MASK = (1 << 64) - 1


def uleb128_encode(value: int) -> bytes:
    """Encode a non-negative int as ULEB128 bytes."""
    if value < 0:
        raise ValueError("uleb128 encodes unsigned values")
    out = bytearray()
    while True:
        byte = value & 0x7F
        value >>= 7
        if value:
            out.append(byte | 0x80)
        else:
            out.append(byte)
            return bytes(out)


def uleb128_decode(buf, offset: int = 0) -> tuple[int, int]:
    """Decode a ULEB128 int from ``buf[offset:]``.

    Returns ``(value, new_offset)``.
    """
    result = 0
    shift = 0
    pos = offset
    while True:
        try:
            byte = buf[pos]
        except IndexError:
            raise ValueError("truncated uleb128") from None
        result |= (byte & 0x7F) << shift
        pos += 1
        if not byte & 0x80:
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("uleb128 too long")


def zigzag_encode(value: int) -> int:
    """Map a signed 64-bit int to unsigned: (v << 1) ^ (v >> 63)."""
    v = value & _U64_MASK
    return ((v << 1) & _U64_MASK) ^ (_U64_MASK if value < 0 else 0)


def zigzag_decode(value: int) -> int:
    """Inverse of :func:`zigzag_encode`: 2v -> v, 2|v|-1 -> -|v|."""
    magnitude = value >> 1
    return -magnitude - 1 if value & 1 else magnitude


def zigzag_leb128_encode(value: int) -> bytes:
    """Signed varint: zigzag then ULEB128 (reference zigzag_leb128.rs:5-9)."""
    return uleb128_encode(zigzag_encode(value))


def zigzag_leb128_decode(buf, offset: int = 0) -> tuple[int, int]:
    raw, pos = uleb128_decode(buf, offset)
    return zigzag_decode(raw), pos

