"""Per-layer probes of the traced run, and measurements taken from outside
the program: storage under the table dir, commit markers, peak RSS.

Each probe calls only public functions of the program modules. Kernel
layers run in Spark's Python workers, out of reach of driver-side
wrappers, so the traced run replays the kernel in the driver over the
table's stored chunks instead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from tracing import Tracer

# (module, attribute, span name) of every kernel function the replay times
KERNEL_WRAPS = [
    ("parquet2_spark.blob", "encode_chunk", "blob.encode_chunk"),
    ("parquet2_spark.blob", "decode_chunk", "blob.decode_chunk"),
    ("parquet2_spark.blob", "select_codec", "blob.select_codec"),
    ("parquet2_spark.blob", "encode_page", "blob.encode_page"),
    ("parquet2_spark.functions.stats", "compute", "functions.stats.compute"),
    ("parquet2_spark.codecs.fsst", "train", "codecs.fsst.train"),
    ("parquet2_spark.codecs.fsst", "encode", "codecs.fsst.encode"),
    ("parquet2_spark.codecs.fsst", "encode_with_table", "codecs.fsst.encode"),
    ("parquet2_spark.codecs.fsst", "decode", "codecs.fsst.decode"),
    ("parquet2_spark.codecs.fsst", "decode_with_table", "codecs.fsst.decode"),
    ("parquet2_spark.codecs.native", "fsst_decode", "codecs.fsst.decode"),
    ("parquet2_spark.codecs.block", "decompress", "codecs.block.decompress"),
]

# (module, attribute, span name) of the read-path functions a decode calls
DECODE_WRAPS = [
    ("parquet2_spark.operators.decode_job", "decode", "decode_job.decode"),
    ("parquet2_spark.operators.decode_job", "lineage", "decode_job.lineage"),
    ("parquet2_spark.operators.decode_job", "check_integrity", "decode_job.check_integrity"),
    ("parquet2_spark.operators.decode_job", "quantiles", "decode_job.quantiles"),
    ("parquet2_spark.operators.validate", "digest_frames", "validate.digest_frames"),
]


def install(tracer: Tracer) -> None:
    for mod, attr, name in KERNEL_WRAPS + DECODE_WRAPS:
        tracer.wrap(mod, attr, name)

    def note_bytes(sp, args, kwargs):
        sp.attrs["in_bytes"] = len(args[0])

    tracer.wrap("parquet2_spark.codecs.block", "compress", "codecs.block.compress",
                on_call=note_bytes)


def table_chunks(table_dir: str):
    """Yield (column, payload) of every stored chunk of the table's
    committed snapshots, in manifest order."""
    import pyarrow.parquet as pq

    from parquet2_spark.operators import table

    for _, sdir in table.snapshot_dirs(table_dir):
        for f in sorted(glob.glob(os.path.join(sdir, "chunks", "part-*.parquet"))):
            t = pq.read_table(f, columns=["column", "payload"])
            for col, payload in zip(t.column("column").to_pylist(),
                                    t.column("payload").to_pylist()):
                yield col, payload


def replay(chunks: list, selector) -> dict:
    """Decode each stored chunk to its pages and encode them again with
    the table's selector config. Returns raw bytes, wall times and the
    number of chunks whose re-encoded payload differs from the stored
    one (the byte-identity gate: a mismatch means the replay measures a
    different program)."""
    from parquet2_spark import blob

    raw = 0
    dec_s = enc_s = 0.0
    mismatched = 0
    for _, payload in chunks:
        t0 = time.perf_counter()
        arr = blob.decode_chunk(payload, combine=False)
        t1 = time.perf_counter()
        pages = arr.chunks if hasattr(arr, "chunks") else [arr]
        again, meta = blob.encode_chunk(pages, selector)
        t2 = time.perf_counter()
        dec_s += t1 - t0
        enc_s += t2 - t1
        raw += meta.raw_bytes
        mismatched += again != payload
    return {"chunks": len(chunks), "raw_bytes": raw, "decode_s": dec_s,
            "encode_s": enc_s, "mismatched": mismatched}


def kernel_layers(tracer: Tracer, chunks: list, selector) -> tuple[dict, int]:
    """Untraced replay for the kernel's MB/s, then a traced replay for the
    per-function self times. Returns (metrics, chunks whose re-encoded
    payload differs from the stored one)."""
    from parquet2_spark.codecs import native

    # alternate untraced and traced passes after a warm-up pass (first
    # calls, cold caches) and keep the fastest of each: the host's noise
    # only ever adds time
    def total(r: dict) -> float:
        return r["encode_s"] + r["decode_s"]

    tracer.uninstall()
    runs = [replay(chunks, selector)]
    plains, traced = [], []
    for _ in range(2):
        tracer.uninstall()
        plains.append(replay(chunks, selector))
        install(tracer)
        tracer.clear()
        r = replay(chunks, selector)
        traced.append((r, tracer.take()))
    runs += plains + [r for r, _ in traced]
    plain = min(plains, key=total)
    best, tracer.spans = min(traced, key=lambda rs: total(rs[0]))
    mb = plain["raw_bytes"] / 1e6
    compress = tracer.named("codecs.block.compress")
    comp_in = sum(s.attrs["in_bytes"] for s in compress)
    comp_sel = sum(s.attrs["in_bytes"] for s in compress if s.has_ancestor("blob.select_codec"))
    out = {
        # the wrappers' cost where they are densest: the same replay,
        # traced against untraced
        "trace.overhead_share": total(best) / total(plain) - 1.0,
        "blob.replay_chunks": plain["chunks"],
        "blob.replay_encode_mb_s": mb / plain["encode_s"],
        "blob.replay_decode_mb_s": mb / plain["decode_s"],
        "codecs.block.compress_in_mb": comp_in / 1e6,
        "codecs.block.selection_share": comp_sel / comp_in if comp_in else 0.0,
        "codecs.native.loaded": int(native.get() is not None),
    }
    for name in ("blob.encode_chunk", "blob.select_codec", "blob.encode_page",
                 "functions.stats.compute", "codecs.fsst.train", "codecs.fsst.encode",
                 "codecs.block.compress", "blob.decode_chunk", "codecs.block.decompress",
                 "codecs.fsst.decode"):
        out[name + "_s"] = tracer.self_total(name)
    tracer.clear()
    return out, max(r["mismatched"] for r in runs)


def noop_split(spark, df, cfg, repeats: int = 3) -> dict:
    """The encode job's Spark layers with a noop sink (the split in
    bench_extra.py): planning, the scan alone, exchange + sort on top of
    it, Arrow transfer to Python workers on top of that. Each layer is
    the median difference to the layer below it."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from parquet2_spark.operators.encode_job import plan_partitions

    def noop(frame) -> float:
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def passthrough(batches):
        n = 0
        for rb in batches:
            n += rb.num_rows
        yield pa.record_batch({"n": pa.array([n], type=pa.int64())})

    plan, scan, sort, conv = [], [], [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        planned, _ = plan_partitions(df, cfg)
        plan.append(time.perf_counter() - t0)
        sort_cols = [cfg.sort_by] if isinstance(cfg.sort_by, str) else list(cfg.sort_by)
        arranged = planned.repartition("_part_id").sortWithinPartitions(
            F.col("_part_id").asc(), *[F.col(c).asc_nulls_last() for c in sort_cols]
        )
        scan.append(noop(df))
        sort.append(noop(arranged))
        conv.append(noop(arranged.mapInArrow(passthrough, "n long")))
    med = statistics.median
    return {
        "encode_job.plan_s": med(plan),
        "encode_job.scan_s": med(scan),
        "encode_job.exchange_sort_s": med(sort) - med(scan),
        "encode_job.arrow_s": med(conv) - med(sort),
    }


def commit_markers(snapshot_dir: str) -> list[dict]:
    out = []
    for f in glob.glob(os.path.join(snapshot_dir, "_commits", "*.json")):
        with open(f) as fh:
            out.append(json.load(fh))
    return out


class Storage:
    """Files and bytes under a table dir, read from outside after each
    commit. Files the engine writes are immutable, so a path not seen
    before (or whose size changed) counts as bytes written."""

    def __init__(self, table_dir: str) -> None:
        self.table_dir = table_dir
        self.seen: dict[str, int] = {}
        self.written = 0  # bytes the engine wrote under the dir
        self.raw_in = 0  # raw bytes appended to the table

    def record(self) -> tuple[int, int]:
        """→ (files, bytes) now under the table dir."""
        now: dict[str, int] = {}
        for d, _, files in os.walk(self.table_dir):
            for f in files:
                p = os.path.join(d, f)
                try:
                    now[p] = os.path.getsize(p)
                except FileNotFoundError:
                    continue
        self.written += sum(sz for p, sz in now.items() if self.seen.get(p) != sz)
        self.seen.update(now)
        return len(now), sum(now.values())


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the parent ids in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; fields resume after ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM over this process and every descendant (the JVM and
    Spark's Python workers), read from /proc."""
    total_kb = 0
    for p in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
