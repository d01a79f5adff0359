"""Deduplication operators for training-data pipelines.

Scale design notes (100 TB):
- exact: hash-groupBy — one shuffle on a 16-byte digest, never on the
  document body; map-side combine shrinks it further.
- minhash-LSH: signatures in a vectorized pandas UDF, then an *exploded
  band table* self-join on (band, bucket) — the classic LSH join whose
  shuffle volume is (#bands × rows), not rows².
- simhash: 64-bit signature, candidates via banded key equality.
- n-gram jaccard: exact verify step for LSH candidates (pairs only,
  never all-pairs).
- embedding near-dup: cosine over normalized vectors; candidates from
  quantized-projection buckets, exact cosine on candidates only.

All signatures are deterministic (fixed hash seeds, splitmix mixing).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# Signature frames are persisted because they feed two consumers (the
# banding pass and the final re-join). A long-lived session calling LSH
# repeatedly would otherwise accumulate cached RDDs until executor storage
# evicts them, so every LSH call releases the caches of *previous* calls,
# and ``release_caches()`` lets callers drop the last one once the
# returned plan has been materialized.
_LIVE_CACHES: list = []


def _cache(df: DataFrame) -> DataFrame:
    release_caches()
    _LIVE_CACHES.append(df.persist())
    return df


def release_caches() -> None:
    """Unpersist signature caches left by earlier LSH calls. Call after
    materializing the returned pairs frame (a later materialization would
    recompute signatures — correct, just slower)."""
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64((0x9E3779B97F4A7C15 * (salt + 1)) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest id per exact text; one digest shuffle."""
    digest = F.md5(F.col(text_col).cast("binary"))
    w = Window.partitionBy(digest).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(keeper id, duplicate count) per distinct text — aggregate form."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups")
    )


def _shingle_hashes(txt: str, k: int = 5) -> np.ndarray:
    """Hashes of all k-byte shingles, vectorized via sliding windows."""
    b = np.frombuffer(txt.encode("utf-8", "ignore"), dtype=np.uint8)
    if len(b) < k:
        b = np.pad(b, (0, k - len(b)))
    win = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    weights = np.uint64(257) ** np.arange(k, dtype=np.uint64)
    return _mix((win * weights).sum(axis=1), 0)


def _shingle_hash_batch(texts: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes of a whole batch in one pass (no per-doc python):
    concatenated hash array + per-doc segment starts for ``reduceat``.
    Bit-identical to mapping ``_shingle_hashes`` over the docs (uint64
    wraparound addition is order-free; asserted in tests)."""
    bufs = [t.encode("utf-8", "ignore") for t in texts]
    lens = np.array([max(len(b), k) for b in bufs], dtype=np.int64)  # zero-pad shorts
    offs = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    data = np.zeros(int(offs[-1]), dtype=np.uint8)
    for i, b in enumerate(bufs):
        data[offs[i] : offs[i] + len(b)] = np.frombuffer(b, dtype=np.uint8)
    # polynomial window value, k strided passes — never materializes the
    # (total, k) window matrix
    weights = np.uint64(257) ** np.arange(k, dtype=np.uint64)
    n_all = len(data) - k + 1
    with np.errstate(over="ignore"):
        base = np.zeros(n_all, dtype=np.uint64)
        for j in range(k):
            base += data[j : j + n_all].astype(np.uint64) * weights[j]
    # windows that start inside doc i: [offs[i], offs[i] + lens[i] - k]
    n_win = lens - k + 1
    seg_starts = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum(n_win, out=seg_starts[1:])
    valid = np.arange(int(seg_starts[-1])) + np.repeat(offs[:-1] - seg_starts[:-1], n_win)
    return _mix(base[valid], 0), seg_starts[:-1]


def _minhash(h: np.ndarray, seg_starts: np.ndarray, consts: np.ndarray) -> np.ndarray:
    """(len(consts), n_docs) per-segment splitmix minima. C kernel when
    built, else one mix + segment-min pass per permutation over the whole
    batch (no per-doc python loop) — the reference the kernel must match."""
    from ..codecs import native

    mins = native.minhash64(h, seg_starts, consts)
    if mins is not None:
        return mins
    mins = np.empty((len(consts), len(seg_starts)), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for p, c in enumerate(consts):
            z = h + c
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z ^= z >> np.uint64(31)
            mins[p] = np.minimum.reduceat(z, seg_starts)
    return mins


def _simhash(h: np.ndarray, seg_starts: np.ndarray) -> np.ndarray:
    """Per-segment 64-bit sign-sum signatures. C kernel when built, else
    one doc at a time over the batch hashes — the reference the kernel
    must match."""
    from ..codecs import native

    sigs = native.simhash64(h, seg_starts)
    if sigs is not None:
        return sigs
    bit_idx = np.arange(64, dtype=np.uint64)
    sigs = np.zeros(len(seg_starts), dtype=np.int64)
    bounds = np.append(seg_starts, len(h))
    for j in range(len(seg_starts)):
        hh = h[bounds[j] : bounds[j + 1]]
        bits = (hh[:, None] >> bit_idx) & np.uint64(1)  # (n, 64)
        # signed accumulation — uint64 would wrap on negative votes
        votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hh)
        v = np.uint64(0)
        for b in np.flatnonzero(votes > 0):
            v |= np.uint64(1) << np.uint64(b)
        sigs[j] = np.int64(v >> np.uint64(1))  # keep it positive
    return sigs


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, signature array<long>) — k independent min-hashes via the
    "one mix per permutation" trick, vectorized per batch."""

    # per-permutation additive constants, precomputed once
    _consts = (
        np.uint64(0x9E3779B97F4A7C15)
        * (np.arange(2, num_hashes + 2, dtype=np.uint64))
    )[:, None]

    @F.pandas_udf("array<long>")
    def sig(s: pd.Series) -> pd.Series:
        texts = s.tolist()
        keep = [i for i, t in enumerate(texts) if t]
        out: list = [None] * len(texts)
        if keep:
            h, seg_starts = _shingle_hash_batch([texts[i] for i in keep], shingle_k)
            mins = _minhash(h, seg_starts, _consts[:, 0])
            sigs = (mins >> np.uint64(1)).astype(np.int64)
            for j, i in enumerate(keep):
                out[i] = sigs[:, j].tolist()
        return pd.Series(out)

    return df.select(F.col(id_col), sig(F.col(text_col)).alias("signature"))


def _capped_candidates(
    keyed: DataFrame, key_cols: list[str], id_col: str, bucket_cap: int
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from a self-join on
    ``key_cols`` — the shared skew-hardened core of every LSH family here:

    - the join ships only (id, *keys, shard); heavy columns (signatures,
      vectors) are re-joined by the CALLER onto the deduped id pairs
    - buckets over ``bucket_cap`` rows are salt-split into ceil(n/cap)
      shards by xxhash64(id). The shard hash is key-independent on
      purpose: a mega-cluster's candidate OUTPUT caps at ~all-pairs/shards
      (the same pair sample under every key) instead of re-accumulating
      the quadratic across bands/tables. Small buckets are never salted.
    """
    hot = (
        keyed.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > bucket_cap)
        .select(
            *key_cols, F.ceil(F.col("count") / bucket_cap).cast("int").alias("_shards")
        )
    )
    sharded = (
        keyed.join(F.broadcast(hot), key_cols, "left")
        .withColumn(
            "_shard",
            F.when(
                F.col("_shards").isNotNull(),
                F.pmod(F.xxhash64(F.col(id_col)), F.col("_shards")),
            ).otherwise(F.lit(0)),
        )
        .drop("_shards")
    )
    join_keys = [*key_cols, "_shard"]
    left = sharded.select(F.col(id_col).alias("id_a"), *join_keys)
    right = sharded.select(F.col(id_col).alias("id_b"), *join_keys)
    return (
        left.join(right, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    Scale shape (the 100 TB dedup hot path):
    - the band self-join ships only (id, band, bucket, shard) — signatures
      never enter the join shuffle; they are re-joined onto the deduped
      (id_a, id_b) pairs afterwards
    - candidate dedup happens on bare id pairs (16 bytes/row), not on
      signature arrays
    - hot buckets (boilerplate shards, empty pages) are salt-split so one
      degenerate (band, bucket) never goes quadratic: buckets over
      ``bucket_cap`` rows split into ceil(n/cap) shards by xxhash64(id).
      The shard hash is deliberately band-independent: for a mega-cluster
      of near-identical docs this caps the OUTPUT at ~all-pairs/shards
      (the same pair sample in every band) instead of re-accumulating the
      quadratic across bands. Pairs of distinct text live in small
      buckets and are never salted, so their recall is untouched; run
      ``dedup.exact`` first to remove byte-identical mega-clusters.
    """
    rows_per_band = num_hashes // bands
    # signature is null ⟺ text is null/empty, so filtering the TEXT before
    # the UDF keeps the identical row set while evaluating the signature
    # UDF once — a filter on the UDF's own output makes Catalyst compute
    # the signature twice per row (once for the predicate, once for the
    # projection; measured as two ArrowEvalPython nodes in the plan)
    nonempty = df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
    sigs = _cache(  # reused: banding pass + final signature re-join
        minhash_signatures(nonempty, text_col, id_col, num_hashes, shingle_k)
    )
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )
    pairs = _capped_candidates(banded, ["band", "bucket"], id_col, bucket_cap)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 4
) -> DataFrame:
    """64-bit simhash: sign-sum of shingle-hash bit columns (vectorized)."""

    @F.pandas_udf("long")
    def sig(s: pd.Series) -> pd.Series:
        texts = s.tolist()
        out = np.zeros(len(texts), dtype=np.int64)
        keep = [i for i, t in enumerate(texts) if t]
        if keep:
            h, seg_starts = _shingle_hash_batch([texts[i] for i in keep], shingle_k)
            out[keep] = _simhash(h, seg_starts)
        return pd.Series(out)

    return df.select(F.col(id_col), sig(F.col(text_col)).alias("simhash"))


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs by simhash hamming distance.

    Classic simhash retrieval: split the 64-bit signature into ``bands``
    contiguous bit ranges — any pair within hamming distance
    ``bands - 1`` must agree exactly on at least one band (pigeonhole), so
    candidates come from per-band equality joins (the same capped,
    skew-hardened core as minhash LSH), then the exact popcount filter
    keeps pairs with distance ≤ ``max_hamming``. All JVM-side:
    shiftrightunsigned banding, xor + bit_count verification.
    """
    sigs = _cache(simhash_signatures(df, text_col, id_col))
    width = 64 // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    pairs = _capped_candidates(banded, ["band", "bucket"], id_col, bucket_cap)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram jaccard for candidate pairs (verification step).
    N-gram sets built JVM-side with higher-order functions; the join is
    pairs × docs (ids only), never all-pairs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )
    g = df.select(F.col(id_col).alias("_id"), grams.alias("_grams"))
    j = (
        pairs.join(g.withColumnRenamed("_id", "id_a").withColumnRenamed("_grams", "g_a"), "id_a")
        .join(g.withColumnRenamed("_id", "id_b").withColumnRenamed("_grams", "g_b"), "id_b")
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return j.select(
        "id_a", "id_b", (inter / F.greatest(union, F.lit(1))).alias("jaccard")
    )


def embedding_near_dup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Near-duplicate vectors via multi-table random-hyperplane LSH →
    exact cosine on candidate pairs only.

    Scale shape (same discipline as minhash_lsh_pairs):
    - ``n_tables`` independent hash tables: a near-dup pair missed by one
      table's bucketing is caught by another (single-table recall caps at
      the per-table collision probability)
    - the bucket self-join ships only (id, table, bucket, shard) — the
      ~KB-sized vectors are re-joined onto the deduped id pairs after
    - buckets over ``bucket_cap`` rows are salt-split by xxhash64(id)
      (table-independent, so a dense region's output is capped at
      ~all-pairs/shards rather than re-accumulating across tables) — one
      dense region never goes quadratic in task size or output
    """
    dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    rng = np.random.default_rng(12345)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    @F.pandas_udf("array<long>")
    def buckets(s: pd.Series) -> pd.Series:
        mat = np.stack(s.to_numpy())  # (n, dim)
        keys = np.empty((len(mat), n_tables), dtype=np.int64)
        for t in range(n_tables):
            bits = (mat @ planes[t].T) > 0
            if n_planes > 32:
                # packbits yields ceil(n_planes/8) bytes/row — pad to 8 so
                # the uint64 reinterpret is valid for 32 < n_planes <= 64
                packed = np.packbits(bits, axis=1, bitorder="little")
                if packed.shape[1] < 8:
                    packed = np.pad(packed, ((0, 0), (0, 8 - packed.shape[1])))
                keys[:, t] = (
                    np.ascontiguousarray(packed[:, :8]).view(np.uint64)[:, 0].astype(np.int64)
                )
            else:
                keys[:, t] = (bits * (1 << np.arange(n_planes))).sum(axis=1).astype(np.int64)
        return pd.Series(list(keys))

    keyed = df.select(id_col, F.posexplode(buckets(F.col(vec_col))).alias("_table", "_bucket"))
    pairs = _capped_candidates(keyed, ["_table", "_bucket"], id_col, bucket_cap)
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x * x))
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), norm.alias("n_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), norm.alias("n_b"))
    dot = F.aggregate(F.zip_with("v_a", "v_b", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    return (
        pairs.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", (dot / (F.col("n_a") * F.col("n_b"))).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
