"""Split-block bloom filter (parquet spec layout), vectorized in numpy.

Reference parity: src/bloom_filter/{split_block,read,hash}.rs — 32-byte
blocks of 8×u32, one bit set per word via the 8 SALT constants (public
parquet-format spec values), block chosen by the upper 32 hash bits.
False-positive-only membership, never false-negative.

Hashes: the reference uses xxh64(seed=0); Spark's ``F.xxhash64`` uses
seed 42. We take *pre-hashed* uint64 keys as input, so the engine feeds
Spark-computed ``xxhash64`` columns (JVM-side, vectorized) and probes use
the same function — consistency is what matters for membership, not the
seed value.
"""

from __future__ import annotations

import numpy as np

SALT = np.array(
    [
        0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
        0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31,
    ],
    dtype=np.uint32,
)


def optimal_num_blocks(ndv: int, fpp: float = 0.01) -> int:
    """Parquet-spec sizing: bits = -8 ndv / (8 ln(1 - fpp^(1/8)))."""
    if ndv <= 0:
        return 1
    c = -8.0 / (8.0 * np.log(1.0 - fpp ** (1.0 / 8.0)))
    bits = ndv * c * 8.0
    return max(1, int(2 ** np.ceil(np.log2(max(bits / 256.0, 1.0)))))


def _block_index(hashes: np.ndarray, n_blocks: int) -> np.ndarray:
    return ((hashes >> np.uint64(32)) * np.uint64(n_blocks)) >> np.uint64(32)


def _masks(hashes: np.ndarray) -> np.ndarray:
    """(n, 8) uint32 — one bit per word per key."""
    h32 = hashes.astype(np.uint32)[:, None]
    shifts = (h32 * SALT[None, :]) >> np.uint32(27)
    return (np.uint32(1) << shifts).astype(np.uint32)


def build(hashes: np.ndarray, n_blocks: int | None = None, fpp: float = 0.01) -> bytes:
    """Bitset from pre-hashed uint64 keys."""
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    nb = n_blocks or optimal_num_blocks(len(np.unique(h)), fpp)
    words = np.zeros((nb, 8), dtype=np.uint32)
    bi = _block_index(h, nb).astype(np.int64)
    masks = _masks(h)
    for w in range(8):
        np.bitwise_or.at(words[:, w], bi, masks[:, w])
    return words.tobytes()


def might_contain(bitset: bytes, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership probe → bool array (false ⇒ definitely absent)."""
    words = np.frombuffer(bitset, dtype=np.uint32).reshape(-1, 8)
    h = np.ascontiguousarray(hashes, dtype=np.uint64)
    bi = _block_index(h, len(words)).astype(np.int64)
    masks = _masks(h)
    got = words[bi]  # (n, 8)
    return ((got & masks) == masks).all(axis=1)


def might_contain_col(col, hv: int):
    """Catalyst twin of ``might_contain`` for ONE probe hash against a
    binary bloom column → boolean Column (a null bloom means keep).

    The probe-side arithmetic runs on the driver: the block-hash high word
    and the eight SALT bit positions all derive from ``hv``, so each row
    does only ``length``/``substring``/``hex``/``conv`` and bit tests. Under
    Spark's ANSI arithmetic no row-side value may overflow a signed long;
    the only row-side product is ``hi32 × n_blocks`` < 2^32 × 2^26 (a
    binary value is < 2 GiB). Word ``w`` of the block is little-endian, so
    its bit ``s`` lives in byte ``4w + s // 8`` at bit ``s % 8``."""
    from pyspark.sql import functions as F

    h = int(hv) & 0xFFFFFFFFFFFFFFFF
    hi, lo = h >> 32, h & 0xFFFFFFFF
    shifts = [((lo * int(s)) & 0xFFFFFFFF) >> 27 for s in SALT]
    n_blocks = F.shiftright(F.length(col), 5)
    # 1-based position of the probe's 32-byte block
    base = (F.shiftright(F.lit(hi).cast("long") * n_blocks, 32) * 32 + 1).cast("int")
    hit = F.lit(True)
    for w, s in enumerate(shifts):
        byte = F.conv(F.hex(F.substring(col, base + (4 * w + s // 8), F.lit(1))), 16, 10)
        hit = hit & (F.shiftright(byte.cast("int"), s % 8).bitwiseAND(1) == 1)
    return col.isNull() | hit
