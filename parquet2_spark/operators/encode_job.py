"""The encode job: DataFrame → per-partition column chunks + lineage sidecar.

Lifecycle parity with the reference's write path (SURVEY §3.2):
arrays → pages (Arrow batches) → encoded pages → column chunk rows →
snapshot directory + metadata sidecar (≙ ``write_metadata_sidecar``,
reference src/write/file.rs:61-75). Spark specifics:

- **Salted repartitioning**: rows are bucketed by host; hosts whose count
  exceeds the per-partition target are split across ``ceil(count/target)``
  salt buckets (xxhash64(url) % k), so hot hosts (and hot languages that
  ride along with them) can't produce straggler partitions.
- **Deterministic part_id**: the partition key is a *computed column*
  (not Spark's physical partition index), so a resumed run reproduces the
  identical partition → rows mapping.
- **Checkpoint-resume**: each partition commits independently — data file
  first (tmp + atomic rename), then a slim commit marker (the resume
  ledger). A resumed job lists commit markers and encodes only missing
  partitions.
- **Per-partition lineage**: per-chunk codec/size/wall metric rows
  stream from the executors into the ``_metrics`` parquet sidecar (a
  Spark write — the job's action); ``finalize`` reduces the chunk
  parquet Spark-side to the O(#columns) ``_lineage.json`` summary.
  Nothing O(#partitions) ever passes through the driver.

Snapshot layout (Iceberg-style: immutable data files + manifest):
    <snapshot>/chunks/part-<part_id>.parquet
    <snapshot>/_commits/<part_id>.json
    <snapshot>/_metrics/job-<uuid>/*.parquet
    <snapshot>/_lineage.json
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import blob, fsio
from ..functions.selector import SelectorConfig

CHUNK_SCHEMA = (
    "part_id long, column string, type_code int, n_rows long, null_count long, "
    "n_pages int, codecs string, outers string, raw_bytes long, enc_bytes long, "
    "min_bin binary, max_bin binary, min_num long, max_num long, "
    "min_dbl double, max_dbl double, ndv long, "
    "page_rows string, wall_s double"
)

METRICS_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int64()),
        ("column", pa.string()),
        ("type_code", pa.int32()),
        ("n_rows", pa.int64()),
        ("null_count", pa.int64()),
        ("n_pages", pa.int32()),
        ("codecs", pa.string()),
        ("outers", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("min_bin", pa.binary()),
        ("max_bin", pa.binary()),
        ("min_num", pa.int64()),
        ("max_num", pa.int64()),
        ("min_dbl", pa.float64()),
        ("max_dbl", pa.float64()),
        ("ndv", pa.int64()),
        ("page_rows", pa.string()),
        ("wall_s", pa.float64()),
    ]
)

CHUNK_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int64()),
        ("column", pa.string()),
        ("type_code", pa.int32()),
        ("n_rows", pa.int64()),
        ("null_count", pa.int64()),
        ("n_pages", pa.int32()),
        ("codecs", pa.string()),
        ("outers", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("min_bin", pa.binary()),
        ("max_bin", pa.binary()),
        ("min_num", pa.int64()),
        ("max_num", pa.int64()),
        # float zone maps (reference keeps PrimitiveStatistics<f32/f64>,
        # src/statistics/primitive.rs:11-17) + persisted distinct-count
        # hint (reference statistics carry it, src/statistics/mod.rs:20-26)
        ("min_dbl", pa.float64()),
        ("max_dbl", pa.float64()),
        ("ndv", pa.int64()),
        ("page_rows", pa.string()),
        ("page_mins", pa.string()),
        ("page_maxs", pa.string()),
        # per-page null counts (PageIndex null_count analog,
        # reference/src/indexes/index.rs:74-135) for IS [NOT] NULL skip
        ("page_nulls", pa.string()),
        # mergeable K-cell quantile grid (numeric/temporal columns, zone-map
        # units) — table-level quantiles / repartitionByRange planning
        # without a sampling scan (plans/quantile.py)
        ("qgrid", pa.string()),
        ("bounds_order", pa.string()),
        ("bloom", pa.binary()),
        ("ndv_hll", pa.binary()),
        ("payload", pa.binary()),
    ]
)


@dataclass
class EncodeConfig:
    target_rows: int = 131_072  # rows per partition (≙ row-group size)
    page_rows: int = 8_192  # rows per page (≙ data page size)
    # sort within partition (front-coding wins on sorted urls); a tuple
    # gives a compound key — ("host", "warc_ts") is the natural web
    # layout: host-clustered for front coding, time-ordered inside
    sort_by: str | tuple | None = "url"
    key: str = "url"  # unique key used for salting hot hosts
    host_from_key: bool = True  # bucket by host(url) for locality
    selector: SelectorConfig = field(default_factory=SelectorConfig)
    num_partitions: int | None = None  # override partition count
    shuffle: bool = True  # False: keep input partitioning (no shuffle pass)
    # EXACT partition assignment: use this (long-typed, in [0,
    # num_partitions)) df column as _part_id verbatim — no salting, no
    # planning scans. The caller owns balance; range-layout compaction
    # uses it with sketch-derived bucket expressions (repartitionByRange
    # over a handful of distinct bucket values under-splits: Spark's
    # RangePartitioner boundaries come from samples). The column is
    # excluded from the encoded schema.
    partition_column: str | None = None
    host_sample_fraction: float = 1.0  # <1: sample-based hot-host counts
    # per-chunk split-block bloom filters for these columns (values hashed
    # JVM-side with xxhash64 before the shuffle; probed by decode key_eq)
    bloom_columns: tuple = ()
    bloom_fpp: float = 0.01
    # per-chunk HLL sketches (p=16; dense 64 KB or HLL++-sparse for
    # low-cardinality chunks) for mergeable table-level NDV (reference
    # keeps exact per-chunk distinct_count only, statistics/mod.rs:20-26).
    # Values hash JVM-side (xxhash64 in codegen, shared with the bloom
    # hash column when both are on); the sketch adds 8 B/row/column to
    # the shuffle and ~ms of register scatter per chunk.
    ndv_sketch: bool = True
    # per-chunk K-cell quantile grids (numeric/temporal columns; ~1 KB of
    # metadata per chunk) — table-level quantiles and repartitionByRange
    # split points without a sampling scan (plans/quantile.py)
    quantile_grid: bool = True
    # pyarrow.fs.FileSystem for the metadata plane (markers/sidecars/chunk
    # writes); None → resolved from the path (URI scheme or local).
    # pyarrow filesystems pickle, so this rides into executor closures.
    filesystem: Any = None


def _host_col(key: str):
    return F.substring_index(F.substring_index(F.col(key), "/", 3), "//", -1)


def plan_partitions(df: DataFrame, cfg: EncodeConfig) -> tuple[DataFrame, int]:
    """Assign a deterministic ``_part_id`` with salting for hot hosts.

    Two light aggregation passes (host counts; total), both map-side
    combinable — at 100 TB these reduce to one small shuffle each, and the
    hot-host table is broadcast, never shuffled with the data.

    ``cfg.shuffle=False`` keeps the input partitioning verbatim (zero
    extra passes): the caller already laid the data out — e.g.
    ``repartitionByRange`` on the zone-map key, which gives disjoint
    per-partition min/max and maximal range pruning at read time.
    """
    if cfg.partition_column is not None:
        if not cfg.num_partitions:
            raise ValueError("partition_column requires num_partitions")
        return (
            df.withColumn("_part_id", F.col(cfg.partition_column).cast("long")).drop(
                cfg.partition_column
            ),
            cfg.num_partitions,
        )
    if not cfg.shuffle:
        n_parts = df.rdd.getNumPartitions()
        return df.withColumn("_part_id", F.spark_partition_id().cast("long")), n_parts

    host = _host_col(cfg.key) if cfg.host_from_key else F.col(cfg.key)
    with_host = df.withColumn("_host", host)

    # hot-host detection on a sample: at 100 TB a full per-host count is an
    # extra full scan; a seeded sample finds every host hot enough to need
    # salting (hot ⇒ frequent ⇒ sampled), scaled back up by 1/fraction
    frac = cfg.host_sample_fraction
    sampled = with_host.sample(fraction=frac, seed=42) if frac < 1.0 else with_host
    counts = sampled.groupBy("_host").count().withColumn(
        "count", (F.col("count") / F.lit(frac)).cast("long")
    )
    hot = counts.filter(F.col("count") > cfg.target_rows).withColumn(
        "_salt_k", F.ceil(F.col("count") / cfg.target_rows).cast("int")
    )
    hot_sel = hot.select("_host", "_salt_k")
    # The two planning scans are independent — run them CONCURRENTLY
    # from driver threads so the second is free wall-clock (guide §2.6),
    # and materialize the hot-host table NOW: left lazy, the broadcast
    # subquery (sample scan + groupBy) would re-execute inside the main
    # job's critical path (~1.3 s/action measured at sf0.1). The hot
    # table is small by construction (hosts with > target_rows rows —
    # ≤ #partitions rows), and the lazy F.broadcast(hot) collected the
    # same rows to the driver anyway. The exact row count comes from the
    # scan's metadata (parquet footers): cheaper AND exact, vs summing
    # the (possibly sampled) host counts.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_hot = pool.submit(hot_sel.collect)
        total_rows = df.count()
        hot_rows = f_hot.result()
    n_parts = cfg.num_partitions or max(1, int(np.ceil(total_rows / cfg.target_rows)))

    if hot_rows:
        # literal re-broadcast of the SAME (host, salt_k) rows — the
        # join semantics (and therefore every _part_id) are identical
        hot_lit = F.broadcast(
            df.sparkSession.createDataFrame(hot_rows, hot_sel.schema)
        )
        salted = (
            with_host.join(hot_lit, "_host", "left")
            .withColumn(
                "_salt",
                F.when(
                    F.col("_salt_k").isNotNull(),
                    F.pmod(F.xxhash64(F.col(cfg.key)), F.col("_salt_k")),
                ).otherwise(F.lit(0)),
            )
            .withColumn(
                "_part_id",
                F.pmod(F.xxhash64(F.col("_host"), F.col("_salt")), F.lit(n_parts)).cast("long"),
            )
            .drop("_salt_k", "_salt", "_host")
        )
    else:
        # no hot host: the left join would leave _salt_k NULL everywhere
        # ⇒ _salt ≡ 0 — same hash, no join in the plan at all
        salted = with_host.withColumn(
            "_part_id",
            F.pmod(F.xxhash64(F.col("_host"), F.lit(0)), F.lit(n_parts)).cast("long"),
        ).drop("_host")
    return salted, n_parts


def _chunk_qgrid(arr: pa.Array, cfg: "EncodeConfig") -> str | None:
    """JSON quantile grid for this chunk's column, or None when disabled
    or non-numeric (see plans/quantile.py)."""
    if not cfg.quantile_grid:
        return None
    from ..plans import quantile as q_mod

    v = _qgrid_values(arr)
    if v is None:
        vb = _qgrid_byte_values(arr)
        if vb is None:
            return None
        return json.dumps(q_mod.grid_from_bytes(vb))
    g = q_mod.grid_from_values(v)
    return None if g is None else json.dumps(g)


def _qgrid_values(arr: pa.Array) -> np.ndarray | None:
    """Non-null values of a numeric/temporal column in zone-map units
    (micros/days — the same convention as min_num/max_num) for the
    per-chunk quantile grid; None for non-numeric types."""
    import pyarrow.types as pt

    t = arr.type
    if not (
        pt.is_integer(t) or pt.is_floating(t) or pt.is_timestamp(t) or pt.is_date(t)
    ):
        return None
    a = arr.drop_null() if arr.null_count else arr
    if len(a) == 0:
        # numeric but valueless: an EMPTY array (not None) so the grid
        # records the explicit zero-weight grid — "no eligible values"
        # must stay distinguishable from "no grid stored"
        return np.empty(0, dtype=np.int64)
    if pt.is_timestamp(t):
        return a.cast(pa.int64()).to_numpy(zero_copy_only=False)
    if pt.is_date(t):
        return a.cast(pa.int32()).to_numpy(zero_copy_only=False)
    return a.to_numpy(zero_copy_only=False)


def _qgrid_byte_values(arr) -> np.ndarray | None:
    """Non-null BYTE PREFIXES (first ``quantile.BYTES_PREFIX`` bytes,
    fixed-width ``S`` numpy array) of a string/binary column for the
    per-chunk byte grid — the ByteIndex-style truncated order statistics
    that make range layout on ``url``/host possible without a sampling
    scan; None for other types."""
    import pyarrow.compute as pc
    import pyarrow.types as pt

    from ..plans import quantile as q_mod

    t = arr.type
    if pt.is_string(t) or pt.is_large_string(t):
        arr = arr.cast(pa.large_binary() if pt.is_large_string(t) else pa.binary())
    elif not (pt.is_binary(t) or pt.is_large_binary(t)):
        return None
    a = arr.drop_null() if arr.null_count else arr
    width = f"S{q_mod.BYTES_PREFIX}"
    if len(a) == 0:
        return np.empty(0, dtype=width)
    P = q_mod.BYTES_PREFIX
    a = pc.binary_slice(a, 0, P)
    if isinstance(a, pa.ChunkedArray):
        a = a.combine_chunks()
    # NUL-pad every prefix to exactly P bytes (join + re-slice, both
    # Arrow C kernels over the contiguous data buffer), cast to
    # fixed-size binary, and reinterpret its buffer as the fixed-width
    # numpy array — no python object per row (the old to_pandas()
    # round-trip allocated one bytes object per row on the encode hot
    # path; measured ~1.5× slower and GC-churny under 32 workers)
    padded = pc.binary_slice(
        pc.binary_join_element_wise(
            a, pa.scalar(b"\x00" * P, type=a.type), pa.scalar(b"", type=a.type)
        ),
        0,
        P,
    )
    fsb = padded.cast(pa.binary(P))
    n = len(fsb)
    buf = fsb.buffers()[-1]
    off = fsb.offset * P
    return np.frombuffer(buf, dtype=np.uint8, count=off + n * P)[off:].view(width)


def _stat_cols(meta: blob.ChunkMeta):
    """(min_bin, max_bin, min_num, max_num, min_dbl, max_dbl) from typed
    chunk min/max — floats get their own bit-faithful dbl zone map."""
    mn, mx = meta.min, meta.max
    if isinstance(mn, (bytes, bytearray)) or isinstance(mx, (bytes, bytearray)):
        return (
            bytes(mn) if mn is not None else None,
            bytes(mx) if mx is not None else None,
            None, None, None, None,
        )
    if isinstance(mn, float) or isinstance(mx, float):
        def as_dbl(v):
            if v is None or (isinstance(v, float) and v != v):  # NaN → no stat
                return None
            return float(v)
        return None, None, None, None, as_dbl(mn), as_dbl(mx)
    import decimal as _decimal

    if isinstance(mn, _decimal.Decimal) or isinstance(mx, _decimal.Decimal):
        # decimal → CONSERVATIVE float bounds (min rounded down one ulp,
        # max rounded up): the zone map may only ever widen the range —
        # pruning stays sound, the residual row filter restores exactness
        import math

        lo = math.nextafter(float(mn), -math.inf) if mn is not None else None
        hi = math.nextafter(float(mx), math.inf) if mx is not None else None
        return None, None, None, None, lo, hi
    def as_num(v):
        if v is None:
            return None
        import datetime as _dt

        if isinstance(v, _dt.datetime):  # datetime → micros (aware → exact
            # UTC conversion; a tzinfo-carrying epoch would skew pytz LMT)
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
        if isinstance(v, _dt.date):  # date → days since epoch (blob stores date32)
            return (v - _dt.date(1970, 1, 1)).days
        if isinstance(v, float):
            return None  # float stats go to the dbl zone map, not num
        import decimal as _decimal

        if isinstance(v, _decimal.Decimal):
            return None  # unscaled compare needs scale context — skip
        return int(v)
    return None, None, as_num(mn), as_num(mx), None, None


def _bounds_order(mins: list, maxs: list) -> str:
    """Boundary order of a chunk's page zone maps, the ColumnIndex
    boundary_order analog (reference/src/write/indexes/serialize.rs:12-58):
    'asc'/'desc' when BOTH min and max sequences are monotone (enables
    binary-search page selection at decode), else 'unord'. Any missing
    stat forfeits the claim."""
    if any(m is None for m in mins) or any(m is None for m in maxs):
        return "unord"
    if len(mins) <= 1:
        return "asc"
    pairs = list(zip(mins, mins[1:])) + list(zip(maxs, maxs[1:]))
    try:
        if all(a <= b for a, b in pairs):
            return "asc"
        if all(a >= b for a, b in pairs):
            return "desc"
    except TypeError:  # mixed stat types — no ordering claim
        return "unord"
    return "unord"


def _encode_partition_arrow(
    in_table: pa.Table,
    cfg: EncodeConfig,
    snapshot_dir: str,
    columns: list[str],
    target_schema: pa.Schema,
    presorted: bool = False,
    ndv_override: dict | None = None,
) -> pa.Table:
    """Pure-Arrow partition encoder: no pandas objects are ever
    materialized (the pandas round-trip costs allocation storms that
    throttle concurrent workers). ``presorted=True`` skips the Arrow
    sort+gather — the caller already delivered rows in sort_by order
    (the JVM-sorted encode path). ``ndv_override`` supplies per-column
    HLL sketches directly (bytes or None) when the caller has no JVM
    hash columns — the fused merge-compaction path merges the INPUT
    chunks' sketches instead (operators/merge_compact.py)."""
    import pyarrow.compute as pc

    t0 = time.time()
    c0 = time.process_time()
    part_id = int(in_table.column("_part_id")[0].as_py())
    sort_cols = (
        [cfg.sort_by] if isinstance(cfg.sort_by, str) else list(cfg.sort_by or [])
    )
    sort_cols = [c for c in sort_cols if c in in_table.schema.names]
    if sort_cols and not presorted:
        order = pc.sort_indices(
            in_table, sort_keys=[(c, "ascending") for c in sort_cols]
        )
        in_table = in_table.take(order)
    # keep original column order/types; _part_id and helpers drop out here
    table = in_table.select(columns).cast(target_schema)

    rows = []
    n = table.num_rows
    page_slices = [(i, min(cfg.page_rows, n - i)) for i in range(0, n, cfg.page_rows)] or [(0, 0)]
    for col in columns:
        arr = table.column(col)
        arr = arr.combine_chunks() if arr.num_chunks != 1 else arr.chunk(0)
        pages = [arr.slice(s, ln) for s, ln in page_slices] if n else [arr]
        payload, meta = blob.encode_chunk(pages, cfg.selector)
        min_bin, max_bin, min_num, max_num, min_dbl, max_dbl = _stat_cols(meta)
        def _hashes(name: str) -> np.ndarray | None:
            # hashes were computed JVM-side (xxhash64) before the shuffle;
            # drop nulls ARROW-side — a float64 round-trip would corrupt
            # 64-bit hashes (53-bit mantissa) and break the
            # no-false-negative guarantee
            if name not in in_table.schema.names:
                return None
            ha = in_table.column(name).combine_chunks()
            if ha.null_count:
                ha = ha.drop_null()
            return ha.to_numpy(zero_copy_only=True).astype(np.int64, copy=False).view(np.uint64)

        bloom_bytes = None
        hv = None
        if col in cfg.bloom_columns and n:
            from ..plans import bloom as bloom_mod

            hv = _hashes(f"_bh_{col}")
            bloom_bytes = bloom_mod.build(hv, fpp=cfg.bloom_fpp)
        ndv_hll = None
        if cfg.ndv_sketch and n:
            if ndv_override is not None:
                ndv_hll = ndv_override.get(col)
            else:
                from ..plans import hll as hll_mod

                hn = hv if hv is not None else _hashes(f"_nh_{col}")
                if hn is not None:
                    ndv_hll = hll_mod.sketch_from_hashes(hn)
        jmins = [_jstat(v, round_up=False) for v in meta.page_mins]
        jmaxs = [_jstat(v, round_up=True) for v in meta.page_maxs]
        rows.append(
            {
                "part_id": part_id,
                "column": col,
                "type_code": meta.type_code,
                "n_rows": meta.n_rows,
                "null_count": meta.null_count,
                "n_pages": meta.n_pages,
                "codecs": ",".join(meta.codecs),
                "outers": ",".join(o for o in meta.outers if o),
                "raw_bytes": meta.raw_bytes,
                "enc_bytes": meta.enc_bytes,
                "min_bin": min_bin,
                "max_bin": max_bin,
                "min_num": min_num,
                "max_num": max_num,
                "min_dbl": min_dbl,
                "max_dbl": max_dbl,
                "ndv": int(meta.ndv_hint),
                "page_rows": json.dumps(meta.page_rows),
                "page_mins": json.dumps(jmins),
                "page_maxs": json.dumps(jmaxs),
                "page_nulls": json.dumps(meta.page_nulls),
                "qgrid": _chunk_qgrid(arr, cfg),
                "bounds_order": _bounds_order(jmins, jmaxs),
                "bloom": bloom_bytes,
                "ndv_hll": ndv_hll,
                "payload": payload,
            }
        )

    out = pa.Table.from_pylist(rows, schema=CHUNK_PA_SCHEMA)
    # metadata-plane IO through pyarrow.fs (local/HDFS/S3 behind one API;
    # the filesystem object pickled in via cfg — see fsio module doc for
    # the atomicity model on rename-free object stores)
    fs, root = fsio.resolve(snapshot_dir, cfg.filesystem)
    chunks_dir = fsio.join(root, "chunks")
    commits_dir = fsio.join(root, "_commits")
    tmp_dir = fsio.join(root, "_tmp")  # staged OUTSIDE the Spark scan dir
    for d in (chunks_dir, commits_dir, tmp_dir):
        fsio.mkdirs(fs, d)
    final = fsio.join(chunks_dir, f"part-{part_id:06d}.parquet")
    # our payloads are already compressed — store them raw
    fsio.write_parquet_atomic(fs, final, out, tmp_dir=tmp_dir, compression="none")

    wall = time.time() - t0
    # slim resume ledger: the marker's existence is what matters
    # (committed_parts reads filenames only); per-chunk metric detail
    # lives in the chunk parquet itself and the _metrics sidecar
    marker = {
        "part_id": part_id,
        "file": f"part-{part_id:06d}.parquet",
        "rows": int(n),
        "wall_s": wall,
        "cpu_s": time.process_time() - c0,
    }
    fsio.write_json_atomic(fs, fsio.join(commits_dir, f"{part_id}.json"), marker)

    metric_rows = [
        {
            **{
                k: v
                for k, v in r.items()
                if k not in ("payload", "bloom", "ndv_hll", "page_mins", "page_maxs", "page_nulls", "qgrid")
            },
            "wall_s": wall,
        }
        for r in rows
    ]
    return pa.Table.from_pylist(metric_rows, schema=METRICS_PA_SCHEMA)


def _jstat(v, round_up: bool = False):
    """Page zone-map value → json: timestamps as int micros (comparable to
    numeric key ranges), bytes as utf-8 text, numbers as-is. Decimals
    become CONSERVATIVE floats — mins rounded one ulp down
    (``round_up=False``), maxs one ulp up — so page pruning only ever
    widens the range (same rule as the chunk-level dbl zone map)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:  # exact UTC micros (pytz LMT-safe)
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray)):
        return v.decode("utf-8", "replace")
    if isinstance(v, (np.integer,)):
        return int(v)
    import decimal as _decimal

    if isinstance(v, _decimal.Decimal):
        import math

        return math.nextafter(float(v), math.inf if round_up else -math.inf)
    return v


def iter_key_runs(batches, key: str):
    """Split a stream of Arrow record batches whose rows arrive grouped by
    ``key`` into one ``pa.Table`` per run of equal keys, using zero-copy
    batch slices. A run may span batches; empty batches are skipped.
    Raises ``ValueError`` naming the key when a key shows up again after
    its run has ended, i.e. when the stream is not grouped."""
    bufs: list = []
    cur = None
    ended: set = set()
    for rb in batches:
        if rb.num_rows == 0:
            continue
        vals = rb.column(key).to_numpy()
        cuts = np.flatnonzero(vals[1:] != vals[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(vals)]))
        for s, e in zip(starts, ends):
            k = vals[s].item()
            if bufs and k != cur:
                yield pa.Table.from_batches(bufs)
                bufs = []
                ended.add(cur)
            if k in ended:
                raise ValueError(
                    f"{key}={k!r} reappears after its run ended: "
                    f"the stream is not grouped by {key}"
                )
            cur = k
            bufs.append(rb.slice(s, e - s))
    if bufs:
        yield pa.Table.from_batches(bufs)


def committed_parts(snapshot_dir: str, filesystem=None) -> set[int]:
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    commits = fsio.join(root, "_commits")
    if not fsio.is_dir(fs, commits):
        return set()
    return {
        int(f.split(".")[0])
        for f in fsio.listdir(fs, commits)
        if f.endswith(".json") and f.split(".")[0].isdigit()
    }


def encode(
    spark: SparkSession,
    df: DataFrame,
    snapshot_dir: str,
    cfg: EncodeConfig | None = None,
    resume: bool = True,
) -> dict:
    """Run the encode job; returns the lineage dict (also written as the
    ``_lineage.json`` sidecar)."""
    cfg = cfg or EncodeConfig()
    columns = [c for c in df.columns if c != cfg.partition_column]
    # driver-side Spark→Arrow schema (recursive: nested/decimal included);
    # the picklable pa.Schema ships to executors, never Spark type objects
    from ..schema import df_to_pa_schema

    target_schema = df_to_pa_schema(df.select(*columns))
    t0 = time.time()

    planned, n_parts = plan_partitions(df, cfg)

    def _null_safe_hash(c: str, expr) -> "F.Column":
        # F.xxhash64(NULL) returns the SEED (42), a non-null hash — left
        # bare it would plant a phantom distinct value in the NDV sketch
        # (and a useless entry in the bloom). NULL-in → NULL-out, so the
        # Arrow-side drop_null() actually drops the null rows.
        return F.when(F.col(c).isNotNull(), F.xxhash64(expr))

    for c in cfg.bloom_columns:
        if c not in columns:
            raise KeyError(f"bloom column {c} not in frame (have {columns})")
        # JVM-side, vectorized — probe-time uses the same F.xxhash64
        planned = planned.withColumn(f"_bh_{c}", _null_safe_hash(c, F.col(c)))
    if cfg.ndv_sketch:
        dtypes = dict(df.dtypes)
        for c in columns:
            if c in cfg.bloom_columns:
                continue  # the bloom hash column doubles as the ndv hash
            # xxhash64 rejects MapType anywhere in the type — fold through
            # to_json (stable key order is not guaranteed, but NDV only
            # needs hash-of-equal-values-collide *within* this engine's
            # deterministic map construction; a small over-count for
            # re-ordered equal maps is acceptable for a ~1% estimator)
            expr = F.to_json(F.col(c)) if "map<" in dtypes[c] else F.col(c)
            planned = planned.withColumn(f"_nh_{c}", _null_safe_hash(c, expr))

    already = committed_parts(snapshot_dir, cfg.filesystem) if resume else set()
    if already:
        planned = planned.filter(~F.col("_part_id").isin([int(p) for p in already]))

    if cfg.shuffle:
        # One exchange on _part_id, then the SORT RUNS IN TUNGSTEN
        # (off-heap radix, spillable) instead of an Arrow
        # sort_indices+take gather of the whole text-heavy group in the
        # Python worker. Rows arrive (part_id, sort_by)-ordered, so
        # groups are CONTIGUOUS and iter_key_runs splits them with
        # zero-copy batch slices — no pc.filter/take copies anywhere.
        # Measured on the 1M-row web corpus: bit-identical chunk bytes,
        # ~5-15% lower encode wall than groupBy().applyInArrow(), and
        # the group sort no longer holds two copies of the partition in
        # Python memory. asc_nulls_last matches Arrow sort_indices'
        # at_end placement, keeping byte layouts identical to the old
        # path on null-bearing sort keys.
        sort_cols = (
            [cfg.sort_by] if isinstance(cfg.sort_by, str) else list(cfg.sort_by or [])
        )
        jvm_sort = [
            F.col(c).asc_nulls_last() for c in sort_cols if c in planned.columns
        ]
        arranged = planned.repartition("_part_id").sortWithinPartitions(
            F.col("_part_id").asc(), *jvm_sort
        )

        def run_sorted(batches):
            for tbl in iter_key_runs(batches, "_part_id"):
                yield from _encode_partition_arrow(
                    tbl, cfg, snapshot_dir, columns, target_schema, presorted=True
                ).to_batches()

        metrics_df = arranged.mapInArrow(run_sorted, CHUNK_SCHEMA)
    else:
        # pre-partitioned input (_part_id == spark_partition_id): a
        # groupBy here would STILL insert a hash exchange — pure waste
        # when each input partition already is one output partition.
        # mapInArrow keeps the plan exchange-free (and, with no hash
        # columns, fully columnar from the parquet scan to the UDF).
        def run_map(batches):
            bl = [rb for rb in batches if rb.num_rows]
            if not bl:
                return
            yield from _encode_partition_arrow(
                pa.Table.from_batches(bl), cfg, snapshot_dir, columns, target_schema
            ).to_batches()

        metrics_df = planned.mapInArrow(run_map, CHUNK_SCHEMA)

    return commit_metrics_action(
        spark, metrics_df, snapshot_dir, cfg, columns, df, n_parts, t0,
        len(already),
    )


def commit_metrics_action(
    spark: SparkSession,
    metrics_df: DataFrame,
    snapshot_dir: str,
    cfg: EncodeConfig,
    columns: list[str],
    df: DataFrame,
    n_parts: int,
    t0: float,
    n_resumed: int,
) -> dict:
    """Run the encode job's ONE action over its metric-row frame (the
    partition encoders write chunk parquet + commit markers as side
    effects inside the UDF) and finalize lineage. Shared by the shuffle
    encode path and the fused merge-compaction path
    (operators/merge_compact.py), so both commit identically. ``df`` is
    only consulted for dtypes (lineage schema)."""
    # When THIS job's metric rows provably cover the whole snapshot
    # (fresh dir, nothing resumed), the lineage aggregates ride the job's
    # own action as observed metrics — per-column conditional aggregates
    # reduced map-side, O(#columns) scalars to the driver, zero extra
    # jobs. A resumed or dirty snapshot falls back to finalize()'s scan
    # of the chunk parquet (the authoritative store).
    fs0, root0 = fsio.resolve(snapshot_dir, cfg.filesystem)
    chunks0 = fsio.join(root0, "chunks")
    fresh = not n_resumed and not (
        fsio.is_dir(fs0, chunks0)
        and any(f.endswith(".parquet") for f in fsio.listdir(fs0, chunks0))
    )
    obs = None
    if fresh:
        from pyspark.sql import Observation

        obs = Observation()
        aggs = []
        for i, c in enumerate(columns):
            cond = F.col("column") == c
            aggs += [
                F.sum(F.when(cond, F.col("raw_bytes"))).alias(f"raw_{i}"),
                F.sum(F.when(cond, F.col("enc_bytes"))).alias(f"enc_{i}"),
                F.sum(F.when(cond, F.col("n_rows"))).alias(f"rows_{i}"),
                F.collect_set(F.when(cond, F.col("codecs"))).alias(f"codecs_{i}"),
            ]
        # committed-partition count WITHOUT materializing the id set in
        # the driver-side observed metric (collect_set("part_id") would
        # ship every distinct id through the driver — O(#partitions) at
        # million-partition scale, exactly what this module avoids).
        # Every partition emits exactly one chunk row per column, so the
        # row count of one designated column IS the partition count.
        n_parts_agg = (
            F.count(F.when(F.col("column") == columns[0], F.lit(1)))
            if columns
            else F.count(F.lit(1))
        )
        aggs.append(n_parts_agg.alias("n_parts"))
        # per-partition weight telemetry for layout-drift detection
        # (one chunk row per partition for the designated column, so its
        # max n_rows IS the heaviest partition) — O(1) driver scalars
        if columns:
            aggs.append(
                F.max(F.when(F.col("column") == columns[0], F.col("n_rows")))
                .alias("max_part_rows")
            )
        metrics_df = metrics_df.observe(obs, *aggs)

    # The job's one action STREAMS the per-partition metrics rows to a
    # parquet sidecar next to the snapshot — nothing O(#partitions) ever
    # passes through the driver (at 10^6 partitions a toPandas() here
    # would be a multi-GB driver collect). Each attempt writes its own
    # job-<uuid> subdir so a resumed run never collides with a crashed
    # attempt's staging files; the sidecar is job telemetry (per-chunk
    # codec/size/wall rows for THIS attempt's partitions) — the
    # authoritative snapshot-wide metrics live in the chunk parquet
    # itself.
    if cfg.filesystem is None:
        # local path or Spark-readable URI (s3a://, hdfs://)
        metrics_df.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, "_metrics", f"job-{uuid.uuid4().hex[:8]}")
        )
    else:
        # custom metadata-plane filesystem (e.g. a subtree or an
        # object-store adapter): the path is only addressable through the
        # pyarrow fs object, which Spark's JVM writers cannot use — run
        # the job with a discard action; metrics stay in the chunk files
        metrics_df.write.format("noop").mode("overwrite").save()

    precomputed = None
    if obs is not None:
        vals = obs.get
        per_col = {}
        for i, c in enumerate(columns):
            if vals.get(f"rows_{i}") is None and not vals.get(f"codecs_{i}"):
                continue  # column produced no chunks (empty input)
            per_col[c] = {
                "raw_bytes": int(vals[f"raw_{i}"] or 0),
                "enc_bytes": int(vals[f"enc_{i}"] or 0),
                "n_rows": int(vals[f"rows_{i}"] or 0),
                "codecs": sorted(
                    {x for s in vals[f"codecs_{i}"] for x in s.split(",")}
                ),
            }
        precomputed = (
            per_col,
            int(vals.get("n_parts") or 0),
            int(vals.get("max_part_rows") or 0),
        )

    return finalize(
        spark, snapshot_dir, cfg, columns, df, n_parts, time.time() - t0,
        n_resumed, precomputed=precomputed,
    )


def finalize(
    spark: SparkSession,
    snapshot_dir: str,
    cfg: EncodeConfig,
    columns: list[str],
    df: DataFrame,
    n_parts: int,
    wall_s: float,
    resumed_parts: int = 0,
    precomputed: tuple | None = None,
) -> dict:
    """Write the snapshot-level ``_lineage.json`` sidecar.

    The per-column aggregates come from ONE Spark job over the chunk
    parquet with column pruning (``payload`` is never read — columnar
    scan of a few metadata columns), reduced to O(#columns) rows on the
    driver — or, for a fresh encode, arrive ``precomputed`` as observed
    metrics of the encode job itself (zero extra jobs). The old
    implementation looped over every ``_commits/*.json`` marker
    driver-side — O(#partitions) metadata reads that would take hours at
    10^6 partitions. Per-partition detail rows (wall, codec mix per
    chunk) live in the Spark-written ``_metrics`` parquet sidecar; the
    commit markers stay as the slim resume ledger only.
    """
    fs, root = fsio.resolve(snapshot_dir, cfg.filesystem)
    chunks_dir = fsio.join(root, "chunks")
    chunk_files = (
        [f for f in fsio.listdir(fs, chunks_dir) if f.endswith(".parquet")]
        if fsio.is_dir(fs, chunks_dir)
        else []
    )
    have_chunks = bool(chunk_files)
    per_col: dict[str, dict] = {}
    n_committed = 0
    max_part_rows = 0
    if precomputed is not None:
        per_col, n_committed, max_part_rows = precomputed
    elif have_chunks and cfg.filesystem is None:
        # one chunk file per partition, identity in the filename: the
        # committed-partition count is the FILE count (the embedded
        # part_id column is stale in verbatim-copied keepers)
        n_committed = len(chunk_files)
        ch = spark.read.parquet(os.path.join(snapshot_dir, "chunks")).select(
            "column", "codecs", "raw_bytes", "enc_bytes", "n_rows"
        )
        agg_rows = (
            ch.groupBy("column")
            .agg(
                F.sum("raw_bytes").alias("raw_bytes"),
                F.sum("enc_bytes").alias("enc_bytes"),
                F.sum("n_rows").alias("n_rows"),
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list(F.split("codecs", ","))))
                ).alias("codecs"),
                F.max("n_rows").alias("max_part_rows"),
            )
            .collect()
        )
        for r in agg_rows:
            per_col[r["column"]] = {
                "raw_bytes": int(r["raw_bytes"]),
                "enc_bytes": int(r["enc_bytes"]),
                "n_rows": int(r["n_rows"]),
                "codecs": sorted(set(r["codecs"])),
            }
            max_part_rows = max(max_part_rows, int(r["max_part_rows"] or 0))
    elif have_chunks:
        # custom metadata-plane filesystem: Spark cannot address the
        # path, so prune to the metric columns (parquet columnar —
        # payload bytes are never read) and reduce through pyarrow
        n_committed = len(chunk_files)
        tbl = pq.read_table(
            chunks_dir,
            filesystem=fs,
            columns=["column", "codecs", "raw_bytes", "enc_bytes", "n_rows"],
        )
        g = tbl.group_by("column").aggregate(
            [
                ("raw_bytes", "sum"),
                ("enc_bytes", "sum"),
                ("n_rows", "sum"),
                ("n_rows", "max"),
                ("codecs", "distinct"),
            ]
        )
        for r in g.to_pylist():
            per_col[r["column"]] = {
                "raw_bytes": int(r["raw_bytes_sum"]),
                "enc_bytes": int(r["enc_bytes_sum"]),
                "n_rows": int(r["n_rows_sum"]),
                "codecs": sorted({c for s in r["codecs_distinct"] for c in s.split(",")}),
            }
            max_part_rows = max(max_part_rows, int(r["n_rows_max"] or 0))

    lineage = {
        "snapshot": snapshot_dir,
        "created_unix": time.time(),
        "config": {
            "target_rows": cfg.target_rows,
            "page_rows": cfg.page_rows,
            "sort_by": cfg.sort_by,
            "key": cfg.key,
            "outer": cfg.selector.outer,
        },
        "schema": {c: t for c, t in df.dtypes if c in columns},
        "columns": columns,
        "n_partitions_planned": n_parts,
        "n_partitions_committed": n_committed,
        "max_partition_rows": max_part_rows,
        "resumed_partitions_skipped": resumed_parts,
        "rows": max((a["n_rows"] for a in per_col.values()), default=0),
        "raw_bytes": sum(a["raw_bytes"] for a in per_col.values()),
        "enc_bytes": sum(a["enc_bytes"] for a in per_col.values()),
        "wall_s": wall_s,
        "per_column": dict(sorted(per_col.items())),
        # per-partition detail rows (file, rows, wall_s, per-chunk codec
        # mix) are in the _metrics parquet — O(#partitions) data stays
        # out of this JSON by design
        "metrics": "_metrics",
    }
    fsio.mkdirs(fs, root)
    fsio.write_json_atomic(fs, fsio.join(root, "_lineage.json"), lineage, indent=1)
    return lineage
