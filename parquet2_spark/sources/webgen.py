"""Deterministic Common-Crawl-style web-page table (BASELINE input_hint):

    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

All randomness is counter-based hashing of the row id (splitmix64-style
mixing, vectorized) — the table is a pure function of (row id, seed), so
any Spark partitioning regenerates byte-identical rows and the generator
distributes over ``spark.range(n)`` with no driver-side data.

Skew is built in on purpose (FIXTURES.md F1): hosts are Zipf-ish with a
few very hot hosts, ``lang`` is Zipf over 30 codes (en ≈ 45%) emitted in
runs of 64 rows — exercising the salting and RLE paths.
"""

from __future__ import annotations

import numpy as np

SEED = 42
LANGS = [
    "en", "ru", "de", "ja", "es", "fr", "zh", "it", "pt", "nl",
    "pl", "tr", "vi", "fa", "ko", "id", "cs", "ar", "el", "sv",
    "hu", "ro", "da", "fi", "sk", "th", "uk", "no", "bg", "he",
]
# cumulative Zipf-ish weights, en ≈ 45%
_W = np.array([45, 10, 7, 5, 4.5, 4, 3.5, 3, 2.5, 2, 1.8, 1.6, 1.4, 1.2, 1.0,
               0.9, 0.8, 0.7, 0.6, 0.55, 0.5, 0.45, 0.4, 0.35, 0.3, 0.28, 0.26,
               0.24, 0.22, 0.2])
_LANG_CDF = np.cumsum(_W / _W.sum())

_VOCAB_SIZE = 5000
_BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in micros


def _mix64(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer — counter-based deterministic hashing."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15 * (salt + 1) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _uniform(ids: np.ndarray, salt: int) -> np.ndarray:
    return _mix64(ids, salt).astype(np.float64) / float(1 << 64)


def _vocab(seed: int = SEED) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(lengths, starts, data-uint8) of 5000 seeded pseudo-words, each with
    a trailing space; word frequencies are Zipf via quadratic index skew."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(2, 11, size=_VOCAB_SIZE)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    total = int(lens.sum())
    chars = letters[rng.integers(0, 26, size=total)]
    starts = np.zeros(_VOCAB_SIZE + 1, dtype=np.int64)
    np.cumsum(lens + 1, out=starts[1:])  # +1 for the trailing space
    data = np.full(int(starts[-1]), ord(" "), dtype=np.uint8)
    src = np.cumsum(np.concatenate(([0], lens)))[:-1]
    take = np.repeat(starts[:-1], lens) + (
        np.arange(total) - np.repeat(src, lens)
    )
    data[take] = chars
    return (lens + 1).astype(np.int64), starts[:-1], data


_VOCAB_CACHE: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _get_vocab(seed: int):
    if seed not in _VOCAB_CACHE:
        _VOCAB_CACHE[seed] = _vocab(seed)
    return _VOCAB_CACHE[seed]


def _gather_concat(
    entry_starts: np.ndarray, entry_lens: np.ndarray, data: np.ndarray, entries: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate ``data[starts[e]:starts[e]+lens[e]] for e in entries`` →
    (per-entry lengths, uint8 buffer). Fully vectorized gather."""
    lens = entry_lens[entries]
    total = int(lens.sum())
    pos0 = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=pos0[1:])
    # take = repeat(starts)+within == arange + repeat(starts - pos0) (one repeat)
    take = np.arange(total) + np.repeat(entry_starts[entries] - pos0[:-1], lens)
    return lens, data[take]


def _texts(ids: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of seeded webtext paragraphs, 200-4000 chars."""
    wl, ws, wd = _get_vocab(seed)
    # lognormal-ish paragraph length in words (avg word ~6.5 chars + space)
    u = _uniform(ids, 11)
    n_words = (np.exp(4.0 + 1.0 * (u - 0.5) * 2.4) + 28).astype(np.int64)
    n_words = np.clip(n_words, 30, 600)
    total_words = int(n_words.sum())
    # per-word ids: counter = rolling (row_id << 20) + word_index
    row_of_word = np.repeat(ids, n_words)
    starts0 = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_words, out=starts0[1:])
    widx = np.arange(total_words) - np.repeat(starts0[:-1], n_words)
    wu = _uniform(row_of_word * np.uint64(1048576) + widx.astype(np.uint64), 13)
    word_ids = ((wu**2.2) * _VOCAB_SIZE).astype(np.int64)  # Zipf-ish skew
    word_lens, buf = _gather_concat(ws, wl, wd, word_ids)
    # row text length = sum of its words' lengths
    text_lens = np.add.reduceat(word_lens, starts0[:-1]) if len(ids) else np.zeros(0, np.int64)
    offsets = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(text_lens, out=offsets[1:])
    return offsets, buf


def _interleave(pieces: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Row-wise concat of (lengths, uint8-buffer) column pieces."""
    n = len(pieces[0][0])
    k = len(pieces)
    lens_mat = np.stack([p[0] for p in pieces])  # (k, n)
    out_lens = lens_mat.sum(axis=0)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_lens, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    # destination start of piece j within row i
    dst = np.zeros((k, n), dtype=np.int64)
    dst[0] = offsets[:-1]
    for j in range(1, k):
        dst[j] = dst[j - 1] + lens_mat[j - 1]
    for j, (lens, buf) in enumerate(pieces):
        total = int(lens.sum())
        if total == 0:
            continue
        pos0 = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=pos0[1:])
        idx = np.arange(total) + np.repeat(dst[j] - pos0[:-1], lens)
        out[idx] = buf
    return out_lens, out


def _digits(values: np.ndarray, width: int) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-width zero-padded decimal rendering, vectorized."""
    n = len(values)
    out = np.empty((n, width), dtype=np.uint8)
    v = values.astype(np.int64).copy()
    for d in range(width - 1, -1, -1):
        out[:, d] = (v % 10) + ord("0")
        v //= 10
    return np.full(n, width, dtype=np.int64), out.ravel()


def generate_batch(ids_arr: np.ndarray, seed: int = SEED):
    """Arrow RecordBatch for the given ids — pure, order-independent,
    vectorized end to end (no per-row Python)."""
    ids = np.ascontiguousarray(ids_arr, dtype=np.uint64)
    n = len(ids)
    n_hosts = 100_000  # fixed universe; Zipf pick makes ~1% of it hot

    # hosts: quadratic skew → host 0 is the hottest
    hu = _uniform(ids, 1)
    host_ids = ((hu**3) * n_hosts).astype(np.int64)

    # lang: Zipf CDF over 30 codes, clustered in runs of 64 consecutive ids
    lu = _uniform(ids >> np.uint64(6), 2)
    lang_idx = np.searchsorted(_LANG_CDF, lu, side="right").clip(0, len(LANGS) - 1)

    # warc_ts: monotone-ish by id with small jitter
    jitter = (_mix64(ids, 3) % np.uint64(2_000_000)).astype(np.int64)
    ts_us = _BASE_TS_US + ids.astype(np.int64) * 1_000_000 + jitter

    # text (with ~5% null, ~1% empty)
    t_off, t_buf = _texts(ids, seed)
    tnull = _uniform(ids, 4) < 0.05
    tempty = (~tnull) & (_uniform(ids, 5) < 0.01)

    # url = https://host{h:05d}.example-{h%7}.com/{word}{word}/{id:012d}
    wl, ws, wd = _get_vocab(seed)
    w1 = (_uniform(ids, 6) * _VOCAB_SIZE).astype(np.int64)
    w2 = (_uniform(ids, 7) * _VOCAB_SIZE).astype(np.int64)
    host_digits = _digits(host_ids, 5)
    tld = (host_ids % 7).astype(np.int64)
    url_lens, url_buf = _interleave(
        [
            _const_piece(n, b"https://host"),
            host_digits,
            _const_piece(n, b".example-"),
            _digits(tld, 1),
            _const_piece(n, b".com/"),
            _strip_space(*_gather_concat(ws, wl, wd, w1)),
            _const_piece(n, b"/"),
            _strip_space(*_gather_concat(ws, wl, wd, w2)),
            _const_piece(n, b"-"),
            _digits(ids.astype(np.int64), 12),
        ]
    )

    # html = boilerplate wrapper around text (~2% null)
    text_lens = np.diff(t_off)
    hnull = _uniform(ids, 8) < 0.02
    html_lens, html_buf = _interleave(
        [
            _const_piece(n, b"<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>"),
            _strip_space(*_gather_concat(ws, wl, wd, w1)),
            _const_piece(n, b"</title></head><body><main><p>"),
            (text_lens, np.frombuffer(t_buf, dtype=np.uint8)),
            _const_piece(n, b"</p></main><footer>generated</footer></body></html>"),
        ]
    )

    import pyarrow as pa

    url_arr = _bin_arrow(url_lens, url_buf, None, string=True)
    text_keep_lens = np.where(tnull | tempty, 0, np.diff(t_off))
    text_arr = _bin_arrow(
        *_shrink(t_off, t_buf, text_keep_lens), validity=~tnull, string=True
    )
    html_keep_lens = np.where(hnull, 0, html_lens)
    html_arr = _bin_arrow(
        *_shrink_from_lens(html_lens, html_buf, html_keep_lens), validity=~hnull, string=False
    )
    lang_dict = pa.array(LANGS, type=pa.string())
    lang_arr = pa.DictionaryArray.from_arrays(
        pa.array(lang_idx.astype(np.int32)), lang_dict
    ).cast(pa.string())
    ts_arr = pa.array(ts_us.astype("datetime64[us]"), type=pa.timestamp("us"))
    return pa.record_batch(
        [url_arr, ts_arr, html_arr, text_arr, lang_arr],
        names=["url", "warc_ts", "html", "text", "lang"],
    )


def _shrink(offsets: np.ndarray, buf: np.ndarray, new_lens: np.ndarray):
    """Re-gather a byte-array column with per-row lengths shrunk
    (0 for nulled rows). Vectorized."""
    starts = offsets[:-1]
    total = int(new_lens.sum())
    pos0 = np.zeros(len(new_lens) + 1, dtype=np.int64)
    np.cumsum(new_lens, out=pos0[1:])
    take = np.arange(total) + np.repeat(starts - pos0[:-1], new_lens)
    return new_lens, np.asarray(buf, dtype=np.uint8)[take]


def _shrink_from_lens(lens: np.ndarray, buf: np.ndarray, new_lens: np.ndarray):
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return _shrink(offsets, buf, new_lens)


def _bin_arrow(lens: np.ndarray, buf: np.ndarray, validity: np.ndarray | None, string: bool):
    import pyarrow as pa

    n = len(lens)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    vbuf = (
        pa.py_buffer(np.packbits(validity, bitorder="little").tobytes())
        if validity is not None
        else None
    )
    nulls = int((~validity).sum()) if validity is not None else 0
    t = pa.string() if string else pa.binary()
    return pa.Array.from_buffers(
        t,
        n,
        [vbuf, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(buf).tobytes())],
        null_count=nulls,
    )


def _const_piece(n: int, s: bytes) -> tuple[np.ndarray, np.ndarray]:
    return (
        np.full(n, len(s), dtype=np.int64),
        np.tile(np.frombuffer(s, dtype=np.uint8), n),
    )


def _strip_space(lens: np.ndarray, buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vocab words carry a trailing space; drop it via length-1 gather."""
    lens2 = lens - 1
    pos0 = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=pos0[1:])
    total = int(lens2.sum())
    new0 = np.concatenate(([0], np.cumsum(lens2)[:-1]))
    take = np.arange(total) + np.repeat(pos0[:-1] - new0, lens2)
    return lens2, buf[take]


SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def webpages_df(spark, n: int, seed: int = SEED, partitions: int | None = None):
    """Distributed generation over ``spark.range`` — no driver-side data,
    Arrow batches straight through (mapInArrow)."""
    parts = partitions or max(2, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for rb in batches:
            if rb.num_rows:
                yield generate_batch(rb.column("id").to_numpy().astype(np.uint64), seed)

    return spark.range(0, n, 1, parts).mapInArrow(gen, SCHEMA)


def webpages_range_df(spark, lo: int, hi: int, seed: int = SEED, partitions: int | None = None):
    """Pages for ids [lo, hi) — disjoint segments of ONE synthetic crawl
    universe (same seed ⇒ same host/url space, disjoint ids ⇒ disjoint
    pages): the shape of periodic crawl deltas appended to a table. Using
    different SEEDS per batch instead would model unrelated corpora —
    their mixed host universes measurably hurt compaction's per-chunk
    dictionary/FSST training (0.363 vs 0.325 at the 10M soak)."""
    parts = partitions or max(2, spark.sparkContext.defaultParallelism)

    def gen(batches):
        for rb in batches:
            if rb.num_rows:
                yield generate_batch(rb.column("id").to_numpy().astype(np.uint64), seed)

    return spark.range(lo, hi, 1, parts).mapInArrow(gen, SCHEMA)
