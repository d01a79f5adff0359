#!/usr/bin/env python3
"""Closed-loop benchmark of parquet2_spark: one workload per run.

    python3 perfbench/run.py --workload {ingest,read} --seed N \\
        --seconds S --trace {0,1} [--size {bench,tiny}]

One client in one process drives a ``local[nproc]`` Spark session; each
operation waits for the previous one. All inputs come from
``parquet2_spark.sources.webgen`` with the seed. Every operation's output
is checked, and a failed check counts as a failed operation.

Workloads (the operation each end-to-end metric times):

  ingest  op    = one ``table.append`` of a web batch to a fresh table
          aux   = the ``table.compact`` that follows the batches
          stats = ``decode_job.stats`` + ``quantiles`` on the compacted table
  read    op    = full ``decode_job.decode`` + ``validate.digest_frames``
                  against the source, over the multi-snapshot table
          aux   = one bloom-assisted ``decode(key_eq=("url", u))`` lookup
          stats = ``decode_job.stats`` + ``quantiles`` on the same table

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the loop
with timing wrappers on the program's public functions, then the layer
probes (kernel replay, noop-sink split, one operation of every kind), and
prints the per-layer metrics. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("ingest", "read")
PRIMARY = {"ingest": "append", "read": "scan"}
AUX = {"ingest": "compact", "read": "lookup"}
NARROW = ["url", "lang", "warc_ts"]

# rows: rows per appended batch; batches: appends per table; target_rows:
# rows per encode partition (4 partitions per batch, one per core here);
# setups: set-up repetitions whose median is setup_s
SIZES = {
    "bench": {"rows": 16384, "batches": 2, "target_rows": 4096, "setups": 2},
    "tiny": {"rows": 1024, "batches": 2, "target_rows": 512, "setups": 1},
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "aux_p50_s": "s",
    "stats_p50_s": "s",
    "mb_s": "MB/s",
    "stored_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def percentile_tail(xs: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it, or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    q = (n - 10) / n
    s = sorted(xs)
    return 100.0 * q, s[n - 11]


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.size = SIZES[args.size]
        self.work = os.path.join(CACHE, f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[dict] = []
        self.tracer = None
        self.counter = None
        self.storage = {}
        self.expected: dict = {}  # enc_bytes first seen per key, this run
        self.src_rows: dict[str, int] = {}  # source rows appended per table
        self.phase = "setup"  # then "loop", then "traced"

    # ------------------------------------------------------------ plumbing
    def session(self):
        from pyspark.sql import SparkSession

        from parquet2_spark import conf

        cores = len(os.sched_getaffinity(0))
        self.cores = cores
        tmp = os.path.join(CACHE, "tmp")
        b = conf.apply(SparkSession.builder.master(f"local[{cores}]").appName("perfbench"))
        b = (
            b.config("spark.sql.shuffle.partitions", str(2 * cores))
            .config("spark.default.parallelism", str(cores))
            # the JVM's heap grows as the program uses it, so its share
            # of peak_rss_mb follows the program. No perf-data file in
            # /tmp: the run writes only inside the checkout.
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(self.work, "spark"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
        )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check against the operation it guards."""
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def op(self, kind: str, fn):
        """Run one operation closed-loop; record its wall time (and, in
        the traced phase, its spans and Spark job/stage counts)."""
        self.attempted += 1
        group = self.counter.start() if self.counter else None
        if self.tracer:
            self.tracer.clear()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failing operation is a measured outcome
            wall = time.perf_counter() - t0
            if group:
                self.counter.stop(group)
            self.check(False, f"{kind}: {type(e).__name__}: {e}")
            return None, wall
        wall = time.perf_counter() - t0
        rec = {"kind": kind, "wall": wall, "phase": self.phase}
        if group:
            rec["jobs"], rec["stages"] = self.counter.stop(group)
        if self.tracer:
            rec["spans"] = self.tracer.take()
        self.ops.append(rec)
        return out, wall

    # ------------------------------------------------------------ inputs
    def make_inputs(self, dest: str) -> list[str]:
        """Write the seed's web batches as parquet: disjoint id ranges of
        one crawl universe (vocabulary from the seed, id offset from it)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from parquet2_spark.sources import webgen

        os.makedirs(dest, exist_ok=True)
        rows = self.size["rows"]
        base = (self.args.seed % 100_000) * 1_000_000
        paths = []
        for i in range(self.size["batches"]):
            ids = np.arange(base + i * rows, base + (i + 1) * rows, dtype=np.uint64)
            t = pa.Table.from_batches([webgen.generate_batch(ids, self.args.seed)])
            # tz-aware micros: Spark reads the column as `timestamp`, the
            # type webgen.SCHEMA declares
            t = t.set_column(1, "warc_ts", t.column(1).cast(pa.timestamp("us", tz="UTC")))
            p = os.path.join(dest, f"batch-{i}.parquet")
            pq.write_table(t, p)
            paths.append(p)
        return paths

    def load_source(self) -> None:
        """Driver-side copies of what the checks compare against."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.src_urls = [pq.read_table(p, columns=["url"]).column("url") for p in self.inputs]
        self.input_rows = [pq.read_metadata(p).num_rows for p in self.inputs]
        ts = [pq.read_table(p, columns=["warc_ts"]).column("warc_ts") for p in self.inputs]
        self.ts_min = min(pc.min(t).cast("int64").as_py() for t in ts)
        self.ts_max = max(pc.max(t).cast("int64").as_py() for t in ts)

    def encode_cfg(self):
        from parquet2_spark.operators.encode_job import EncodeConfig

        # the scale-leg shape (4096-row pages, sampled host counts) with
        # url blooms for the point lookups
        return EncodeConfig(
            target_rows=self.size["target_rows"],
            page_rows=4096,
            host_sample_fraction=0.1,
            bloom_columns=("url",),
        )

    # ------------------------------------------------------------ determinism
    def expect(self, key: str, value) -> None:
        """Bytes must repeat exactly for one seed: the same batch appended
        again in one run (warm-up, set-ups, loop cycles), and the same
        table compacted again, encode to the same bytes."""
        if key in self.expected:
            self.check(self.expected[key] == value,
                       f"{key}: {value} != {self.expected[key]} earlier in this run")
        else:
            self.expected[key] = value

    # ------------------------------------------------------------ operations
    def append(self, tdir: str, i: int):
        from parquet2_spark.operators import table

        path = self.inputs[i]
        lin, wall = self.op(
            "append",
            lambda: table.append(self.spark, self.spark.read.parquet(path), tdir, self.cfg),
        )
        if lin is None:
            return None
        st = self.storage.setdefault(tdir, self.layers.Storage(tdir))
        st.raw_in += lin["raw_bytes"]
        st.record()
        _, sdir = table.snapshot_dirs(tdir)[-1]
        self.ops[-1]["raw_bytes"] = lin["raw_bytes"]
        self.ops[-1]["markers"] = self.layers.commit_markers(sdir)
        self.src_rows[tdir] = self.src_rows.get(tdir, 0) + self.input_rows[i]
        self.check(lin["rows"] == self.input_rows[i],
                   f"append {i}: {lin['rows']} rows of {self.input_rows[i]}")
        self.expect(f"append{i}.enc_bytes", lin["enc_bytes"])
        return lin

    def compact(self, tdir: str):
        from parquet2_spark.operators import table

        rows = self.src_rows.get(tdir, 0)
        lin, _ = self.op("compact", lambda: table.compact(self.spark, tdir, self.cfg))
        if lin is None:
            return None
        st = self.storage[tdir]
        self.ops[-1]["files"], _ = st.record()
        self.ops[-1]["path"] = lin["compaction_path"]
        self.ops[-1]["written_per_raw"] = st.written / st.raw_in
        self.check(lin["rows"] == rows, f"compact: {lin['rows']} rows of {rows}")
        self.expect(f"compact{rows}.enc_bytes", lin["enc_bytes"])
        return lin

    def source(self, columns=None):
        df = self.spark.read.parquet(*self.inputs)
        return df.select(*columns) if columns else df

    def scan(self, tdir: str, projected: bool = False) -> None:
        from parquet2_spark.operators import decode_job, validate

        cols = NARROW if projected else None
        kind = "projected" if projected else "scan"
        rep, _ = self.op(kind, lambda: validate.digest_frames(
            self.source(cols), decode_job.decode(self.spark, tdir, columns=cols)))
        if rep is not None:
            self.ops[-1]["raw_bytes"] = self.table_raw
            self.check(rep["bit_identical"], f"{kind}: digest differs from the source")

    def stats(self, tdir: str) -> None:
        from parquet2_spark.operators import decode_job

        qs = [0.01, 0.25, 0.5, 0.75, 0.99]

        def run():
            rows = decode_job.stats(self.spark, tdir).collect()
            return rows, decode_job.quantiles(self.spark, tdir, "warc_ts", qs)

        out, _ = self.op("stats", run)
        if out is None:
            return
        rows, q = out
        n = sum(r["rows"] for r in rows if r["column"] == "url")
        want = self.src_rows.get(tdir, 0)
        self.check(n == want, f"stats: {n} url rows of {want}")
        self.check(
            all(a <= b for a, b in zip(q, q[1:])) and self.ts_min <= q[0] and q[-1] <= self.ts_max,
            f"quantiles {q} outside [{self.ts_min}, {self.ts_max}] or unsorted",
        )

    def lookup(self, tdir: str) -> None:
        import numpy as np

        from parquet2_spark.operators import decode_job
        from parquet2_spark.sources import webgen

        b = self.rng.randrange(len(self.src_urls))
        url = self.src_urls[b][self.rng.randrange(len(self.src_urls[b]))].as_py()
        holder = {}

        def run():
            df = decode_job.decode(self.spark, tdir, key_eq=("url", url))
            holder["m"] = df.p2s_decode_metrics
            return df.toArrow()

        got, _ = self.op("lookup", run)
        if got is None:
            return
        m = holder["m"]
        self.ops[-1]["pages_read"] = m["pages_read"].value
        self.ops[-1]["pages_skipped"] = m["pages_skipped"].value
        # the url ends in the generator's row id
        want = webgen.generate_batch(np.array([int(url.rsplit("-", 1)[1])], dtype=np.uint64),
                                     self.args.seed)
        ok = got.num_rows == 1
        if ok:
            for c in want.schema.names:
                a, w = got.column(c), want.column(c)
                if c == "warc_ts":
                    a, w = a.cast("int64"), w.cast("int64")
                ok = ok and a.to_pylist() == w.to_pylist()
        self.check(ok, f"lookup {url}: {got.num_rows} rows or a column differs from webgen")

    def range_read(self, tdir: str) -> None:
        import pyarrow.compute as pc

        from parquet2_spark.operators import decode_job

        h = self.rng.randrange(100, 99_000)
        lo, hi = f"https://host{h:05d}", f"https://host{h + 40:05d}"
        n, _ = self.op("range", lambda: decode_job.decode(
            self.spark, tdir, key_range=("url", lo, hi)).count())
        if n is None:
            return
        want = sum(
            pc.sum(pc.and_(pc.greater_equal(u, lo), pc.less_equal(u, hi))).as_py() or 0
            for u in self.src_urls
        )
        self.check(n == want, f"range [{lo}, {hi}]: {n} rows, source has {want}")

    # ------------------------------------------------------------ workloads
    def build_table(self, tdir: str) -> None:
        for i in range(len(self.inputs)):
            self.append(tdir, i)

    def setup(self) -> None:
        """Bring the system to the workload's starting state ``setups``
        times; the median is setup_s and the last copy is used. For the
        read workloads that is the multi-snapshot table; for ingest, the
        first append into a fresh table. One untimed append runs first:
        it starts Spark's Python workers and pays the write path's JIT
        warm-up, which would otherwise land on the first repetition."""
        self.inputs = self.make_inputs(os.path.join(self.work, "input"))
        self.load_source()
        self.append(os.path.join(self.work, "warm"), 0)
        times = []
        for k in range(self.size["setups"]):
            self.tdir = os.path.join(self.work, f"setup-{k}")
            t0 = time.perf_counter()
            if self.args.workload == "ingest":
                self.append(self.tdir, 0)
            else:
                self.build_table(self.tdir)
            times.append(time.perf_counter() - t0)
        self.setup_s = statistics.median(times)
        from parquet2_spark.operators import decode_job

        self.table_raw = decode_job.lineage(self.tdir)["raw_bytes"]

    def warm(self) -> None:
        """One untimed operation of every kind the loop runs: the first
        run of a plan shape pays Spark codegen and JIT warm-up."""
        t = self.tdir
        w = self.args.workload
        if w == "ingest":
            self.compact(t)
        else:
            self.scan(t)
            self.lookup(t)
        self.stats(t)

    def loop(self) -> None:
        """Closed loop for ``--seconds``. An ingest cycle (appends, the
        compaction, stats) is never cut short, so the loop ends after the
        cycle that leaves less than half a cycle's time; the read workload
        stops after the operation that crosses the deadline, once its
        whole sequence has run."""
        w = self.args.workload
        t_end = time.perf_counter() + self.args.seconds
        if w == "ingest":
            while True:
                old = getattr(self, "tdir", None)
                if old:
                    shutil.rmtree(old, ignore_errors=True)
                self.tdir = os.path.join(self.work, f"ingest-{len(self.ops)}")
                t0 = time.perf_counter()
                self.build_table(self.tdir)
                self.compact(self.tdir)
                self.stats(self.tdir)
                now = time.perf_counter()
                if now + (now - t0) / 2 >= t_end:
                    break
        else:
            t = self.tdir
            seq = [lambda: self.scan(t), lambda: self.lookup(t), lambda: self.stats(t)]
            i = 0
            while i < len(seq) or time.perf_counter() < t_end:
                seq[i % len(seq)]()
                i += 1

    def probes(self) -> dict:
        """One operation of every kind on the workload's table, the kernel
        replay over its stored chunks and the noop-sink split; every
        per-layer metric gets a value whatever the workload."""
        kinds = {r["kind"] for r in self.ops if r["phase"] == "traced"}
        if self.args.workload == "ingest":
            from parquet2_spark.operators import decode_job

            self.table_raw = decode_job.lineage(self.tdir)["raw_bytes"]
        for kind, fn in (("lookup", self.lookup), ("range", self.range_read),
                         ("scan", self.scan), ("stats", self.stats)):
            if kind not in kinds:
                fn(self.tdir)
        if "projected" not in kinds:
            self.scan(self.tdir, projected=True)
        chunks = list(self.layers.table_chunks(self.tdir))
        kernel, mismatched = self.layers.kernel_layers(self.tracer, chunks, self.cfg.selector)
        self.attempted += 1
        self.check(mismatched == 0,
                   f"replay: {mismatched} re-encoded chunks differ from the stored payload")
        split = self.layers.noop_split(self.spark, self.spark.read.parquet(self.inputs[0]), self.cfg)
        if "append" not in kinds:
            self.append(self.tdir, 0)
        if "compact" not in kinds:
            self.compact(self.tdir)
        return {**kernel, **split}

    # ------------------------------------------------------------ metrics
    def walls(self, kind: str, phase: str = "loop") -> list[float]:
        return [r["wall"] for r in self.ops if r["kind"] == kind and r["phase"] == phase]

    def end_to_end(self) -> dict:
        from parquet2_spark.operators import decode_job

        w = self.args.workload
        prim = [r for r in self.ops if r["kind"] == PRIMARY[w] and r["phase"] == "loop"]
        lin = decode_job.lineage(self.tdir)
        return {
            "setup_s": self.setup_s,
            "op_p50_s": statistics.median(r["wall"] for r in prim),
            "aux_p50_s": statistics.median(self.walls(AUX[w])),
            "stats_p50_s": statistics.median(self.walls("stats")),
            "mb_s": sum(r["raw_bytes"] for r in prim) / 1e6 / sum(r["wall"] for r in prim),
            "stored_ratio": lin["enc_bytes"] / lin["raw_bytes"],
            "peak_rss_mb": self.layers.peak_rss_mb(),
        }

    def per_layer(self, probe: dict) -> dict:
        med = statistics.median
        traced = [r for r in self.ops if r["phase"] == "traced"]

        def of(kind):
            return [r for r in traced if r["kind"] == kind]

        def span_sum(r, name, self_time=True):
            return sum(s.self_s if self_time else s.dur for s in r["spans"] if s.name == name)

        appends, compacts = of("append"), of("compact")
        lookups, stats_ops = of("lookup"), of("stats")
        out = dict(probe)
        for r in appends:
            walls = sorted(m["wall_s"] for m in r["markers"])
            r["task_cpu"] = sum(m["cpu_s"] for m in r["markers"])
            r["task_skew"] = walls[-1] / med(walls)
        out.update({
            "encode_job.task_cpu_s": med(r["task_cpu"] for r in appends),
            "encode_job.task_wall_max_s": med(max(m["wall_s"] for m in r["markers"]) for r in appends),
            "encode_job.task_skew": med(r["task_skew"] for r in appends),
            "encode_job.jobs": med(r["jobs"] for r in appends),
            "encode_job.stages": med(r["stages"] for r in appends),
            "table.append_s": med(r["wall"] for r in appends),
            "table.compact_s": med(r["wall"] for r in compacts),
            "table.compaction_path": COMPACTION_PATHS.index(compacts[-1]["path"]),
            "table.files": compacts[-1]["files"],
            "table.bytes_written_per_raw_byte": compacts[-1]["written_per_raw"],
            "decode_job.stats_s": med(
                r["wall"] - span_sum(r, "decode_job.quantiles", False) for r in stats_ops),
            "decode_job.quantiles_s": med(span_sum(r, "decode_job.quantiles", False) for r in stats_ops),
            "decode_job.lineage_s": med(span_sum(r, "decode_job.lineage") for r in lookups),
            "decode_job.check_integrity_s": med(
                span_sum(r, "decode_job.check_integrity") for r in lookups),
            "decode_job.plan_s": med(span_sum(r, "decode_job.decode") for r in lookups),
            "decode_job.exec_s": med(
                r["wall"] - span_sum(r, "decode_job.decode", False) for r in lookups),
            "decode_job.jobs": med(r["jobs"] for r in lookups),
            "decode_job.stages": med(r["stages"] for r in lookups),
            "decode_job.pages_read": med(r["pages_read"] for r in lookups),
            "decode_job.pages_skipped": med(r["pages_skipped"] for r in lookups),
            "decode_job.page_skip_ratio": med(
                r["pages_skipped"] / max(1, r["pages_read"] + r["pages_skipped"]) for r in lookups),
            "validate.digest_s": med(
                span_sum(r, "validate.digest_frames") for r in of("scan") + of("projected")),
        })
        return out

    # ------------------------------------------------------------ driver
    def run(self) -> dict:
        import layers

        self.layers = layers
        self.rng = random.Random(self.args.seed)
        self.cfg = self.encode_cfg()
        os.makedirs(self.work, exist_ok=True)
        self.spark = self.session()
        if self.args.trace:
            from tracing import JobCounter

            self.counter = JobCounter(self.spark)
        self.setup()
        self.phase = "warm"
        self.warm()
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.phase = "traced"
            layers.install(self.tracer)
            try:
                self.loop()
                probe = self.probes()
            finally:
                self.tracer.uninstall()
            metrics = {k: (v, PER_LAYER[k]) for k, v in self.per_layer(probe).items()}
        else:
            self.phase = "loop"
            self.loop()
            metrics = {k: (v, END_TO_END[k]) for k, v in self.end_to_end().items()}
        self.report(metrics)
        return metrics

    def report(self, metrics: dict) -> None:
        """Human-readable lines: per-operation medians and latency tails
        (with their percentile and sample count), then every metric."""
        print(f"workload={self.args.workload} seed={self.args.seed} cores={self.cores} "
              f"size={self.args.size} phase={self.phase}")
        for kind in sorted({r["kind"] for r in self.ops if r["phase"] == self.phase}):
            xs = self.walls(kind, self.phase)
            tail = percentile_tail(xs)
            t = f"p{tail[0]:.1f}={tail[1]:.4f}s" if tail else "tail n/a (<11 samples)"
            print(f"  {kind:9s} n={len(xs):3d} p50={statistics.median(xs):.4f}s {t}")
        for k, (v, unit) in metrics.items():
            print(f"  {k:34s} {v:.6g} {unit}")
        rate = self.failed / max(1, self.attempted)
        print(f"  error_rate {rate:.6g} ({self.failed}/{self.attempted})")
        for f in self.failures[:20]:
            print(f"  FAILED: {f}")


COMPACTION_PATHS = ["shuffle", "binpack", "local_merge"]

PER_LAYER = {
    "blob.encode_chunk_s": "s",
    "blob.select_codec_s": "s",
    "blob.encode_page_s": "s",
    "functions.stats.compute_s": "s",
    "codecs.fsst.train_s": "s",
    "codecs.fsst.encode_s": "s",
    "codecs.block.compress_s": "s",
    "codecs.block.compress_in_mb": "MB",
    "codecs.block.selection_share": "ratio",
    "blob.replay_encode_mb_s": "MB/s",
    "blob.replay_chunks": "count",
    "blob.decode_chunk_s": "s",
    "codecs.block.decompress_s": "s",
    "codecs.fsst.decode_s": "s",
    "blob.replay_decode_mb_s": "MB/s",
    "codecs.native.loaded": "flag",
    "encode_job.plan_s": "s",
    "encode_job.scan_s": "s",
    "encode_job.exchange_sort_s": "s",
    "encode_job.arrow_s": "s",
    "encode_job.task_cpu_s": "s",
    "encode_job.task_wall_max_s": "s",
    "encode_job.task_skew": "ratio",
    "encode_job.jobs": "count",
    "encode_job.stages": "count",
    "table.append_s": "s",
    "table.compact_s": "s",
    "table.compaction_path": "enum",
    "table.files": "count",
    "table.bytes_written_per_raw_byte": "ratio",
    "decode_job.stats_s": "s",
    "decode_job.quantiles_s": "s",
    "decode_job.lineage_s": "s",
    "decode_job.check_integrity_s": "s",
    "decode_job.plan_s": "s",
    "decode_job.exec_s": "s",
    "decode_job.jobs": "count",
    "decode_job.stages": "count",
    "decode_job.pages_read": "count",
    "decode_job.pages_skipped": "count",
    "decode_job.page_skip_ratio": "ratio",
    "validate.digest_s": "s",
    "trace.overhead_share": "ratio",
}


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    import layers

    gw = spark.sparkContext._gateway
    pids = layers.process_tree(os.getpid())[1:]
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe breaks
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="bench")
    args = ap.parse_args(argv)

    # the program is built from the checkout's own source tree
    if not os.path.isfile(os.path.join(ROOT, "parquet2_spark", "__init__.py")):
        fail(f"no parquet2_spark package under {ROOT}")
    sys.path.insert(0, ROOT)
    # Spark's Python workers import the package, and the native codec
    # cache (tempfile.gettempdir) stays inside the checkout
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    try:
        import parquet2_spark.operators.table  # noqa: F401
    except ImportError as e:
        fail(f"cannot import parquet2_spark: {e}")

    bench = Bench(args)
    try:
        metrics = bench.run()
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
