"""Round-6 optimization internals: every rewrite that changed an
operator's internals is pinned here against the exact semantics of the
path it replaced.

- searchsorted bucket assignment (merge_compact.searchsorted_bucket_*)
  must produce the IDENTICAL bucket id as the chained ``(col > bound)``
  Catalyst expression, including truncation/NUL-padding ties;
- a 10^4-bound layout expression must build in seconds (the expression
  chain blew codegen method limits there);
- split_keepers purity must be judged on the UNFILTERED plan (crash
  resume could otherwise duplicate rows via a mis-classified keeper);
- the row_range prefix sum (grouped two-pass) must equal the old global
  cumsum across group boundaries;
- the qgrid fixed-width byte extraction must match the old
  to_pandas() object path byte-for-byte.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import merge_compact as mc


def _expr_bucket_bytes(col, bounds):
    e = F.lit(0)
    for b in bounds:
        e = e + (col > F.lit(bytes(b))).cast("int")
    return F.coalesce(e, F.lit(0))


def _expr_bucket_long(col, bounds):
    e = F.lit(0)
    for b in bounds:
        e = e + (col > F.lit(int(b))).cast("int")
    return F.coalesce(e, F.lit(0))


class TestSearchsortedBuckets:
    def test_bytes_equivalence_with_ties(self, spark):
        # bounds: sorted, duplicates, one full-width (24B) prefix, none
        # NUL-terminated (the grid-point invariant)
        bounds = [b"", b"alpha", b"alpha", b"beta\x00x", b"g" * 24, b"zz"]
        vals = [
            None, b"", b"a", b"alpha", b"alpha\x00", b"alpha\x00\x00",
            b"alphaz", b"beta", b"beta\x00x", b"beta\x00x\x00", b"g" * 23,
            b"g" * 24, b"g" * 25, b"g" * 24 + b"\x00", b"zz", b"zz\x00", b"~",
            b"\x00", b"\x00\x00start",
        ]
        df = spark.createDataFrame([(v,) for v in vals], "`v` binary")
        got = df.select(
            _expr_bucket_bytes(F.col("v"), bounds).alias("want"),
            F.coalesce(mc.searchsorted_bucket_bytes(F.col("v"), bounds), F.lit(0)).alias("got"),
        ).collect()
        for r in got:
            assert r["want"] == r["got"], (r["want"], r["got"])

    def test_bytes_equivalence_random(self, spark):
        rng = np.random.default_rng(11)
        pool = [bytes(rng.integers(0, 256, size=int(n)).astype(np.uint8))
                for n in rng.integers(0, 40, size=400)]
        bounds = sorted({p[:24].rstrip(b"\x00") for p in pool[:120]})
        assert mc._bounds_searchsorted_safe(bounds)
        vals = pool + [None, b""]
        df = spark.createDataFrame([(v,) for v in vals], "`v` binary")
        bad = df.select(
            _expr_bucket_bytes(F.col("v"), bounds).alias("want"),
            F.coalesce(mc.searchsorted_bucket_bytes(F.col("v"), bounds), F.lit(0)).alias("got"),
        ).filter("want <> got").count()
        assert bad == 0

    def test_long_equivalence(self, spark):
        bounds = sorted([-(1 << 62), -7, 0, 0, 3, 3, 3, 1 << 61, (1 << 62) + 12345])
        vals = [None, -(1 << 62) - 1, -(1 << 62), -7, -6, 0, 1, 3, 4,
                1 << 61, (1 << 62) + 12345, (1 << 62) + 12346]
        df = spark.createDataFrame([(v,) for v in vals], "`v` long")
        got = df.select(
            _expr_bucket_long(F.col("v"), bounds).alias("want"),
            F.coalesce(mc.searchsorted_bucket_long(F.col("v"), bounds), F.lit(0)).alias("got"),
        ).collect()
        for r in got:
            assert r["want"] == r["got"], (r["want"], r["got"])

    def test_range_layout_uses_searchsorted_above_threshold(self, spark):
        # identical bucket ids from both _range_layout paths on the same
        # frame: 80 bounds (>= threshold) via searchsorted vs the chained
        # expression built here; and a 10k-bound plan must build fast
        # (the old chain hit codegen method-size limits long before)
        from parquet2_spark.operators import table as table_mod

        ids = list(range(1000))
        df = spark.createDataFrame([(i,) for i in ids], "`k` long")
        bounds = [int(b) for b in np.linspace(5, 995, 80).astype(np.int64)]
        got = df.select(
            "k",
            F.coalesce(mc.searchsorted_bucket_long(F.col("k").cast("long"), bounds), F.lit(0)).alias("got"),
            _expr_bucket_long(F.col("k"), bounds).alias("want"),
        ).filter("got <> want").count()
        assert got == 0
        t0 = time.time()
        big = [int(b) for b in np.arange(10_000, dtype=np.int64) * 7]
        col = mc.searchsorted_bucket_long(F.col("k").cast("long"), big)
        plan = df.withColumn("_b", col)
        plan.explain("formatted") if False else None
        n = plan.filter(F.col("_b") >= 0).count()
        assert n == len(ids)
        assert time.time() - t0 < 60, "10k-bound plan did not build/run in time"


class TestSplitKeepersResume:
    def test_purity_judged_before_committed_filter(self, spark):
        # partition 7 spans buckets {1, 2}; bucket 2 already committed.
        # The OLD ordering (filter committed buckets, then split) saw
        # partition 7 with a single plan row and called it pure — a
        # verbatim keeper that would re-copy rows bucket 2 already holds.
        # The fixed ordering splits first: bucket 1 must MERGE.
        rows = [(1, "snapA", 7, 100), (2, "snapA", 7, 100), (3, "snapA", 8, 50)]
        plan = spark.createDataFrame(rows, "bucket int, snap string, part_id long, w long")
        committed = [2]
        # fixed ordering: split on the unfiltered plan, then drop
        kd, md = mc.split_keepers(plan, ["snapA"])
        not_done = ~F.col("bucket").isin(committed)
        kd, md = kd.filter(not_done), md.filter(not_done)
        keep_buckets = {r["bucket"] for r in kd.collect()}
        merge_buckets = {r["bucket"] for r in md.collect()}
        assert 1 not in keep_buckets, "bucket 1 mis-classified as keeper on resume"
        assert 1 in merge_buckets
        assert keep_buckets == {3}
        # demonstrate the old ordering was wrong (regression witness)
        kd_old, _ = mc.split_keepers(plan.filter(not_done), ["snapA"])
        assert 1 in {r["bucket"] for r in kd_old.collect()}


class TestRowRangeGroupedPrefix:
    def test_spans_across_group_boundaries(self, spark, tmp_path, monkeypatch):
        from parquet2_spark.operators import decode_job
        from parquet2_spark.operators.encode_job import EncodeConfig, encode

        df = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"), (F.col("id") * 3).alias("v")
        )
        snap = str(tmp_path / "rr")
        encode(spark, df, snap,
               EncodeConfig(target_rows=64, page_rows=16, sort_by="doc_id",
                            key="doc_id", host_from_key=False))

        def read(start, stop, grp):
            monkeypatch.setattr(decode_job, "_RR_GROUP", grp)
            return sorted(
                r["doc_id"]
                for r in decode_job.decode(
                    spark, snap, row_range=(start, stop)
                ).collect()
            )

        # a single huge group degenerates to the pre-r6 global cumsum —
        # the grouped two-pass (tiny groups, so this snapshot spans
        # many) must return the IDENTICAL rows for every interval,
        # including ones that start/stop inside and across group bounds
        intervals = [(0, 10), (250, 270), (63, 65), (512, 1000),
                     (999, 1000), (0, 1000), (130, 131)]
        for start, stop in intervals:
            got = read(start, stop, 4)
            want = read(start, stop, 1 << 60)
            assert got == want and len(got) == stop - start, (start, stop)
        # consecutive intervals partition the full decode exactly
        parts = [read(a, b, 4) for a, b in [(0, 300), (300, 777), (777, 1000)]]
        assert sorted(x for p in parts for x in p) == list(range(1000))


class TestQgridByteValues:
    def test_matches_object_round_trip(self):
        from parquet2_spark.operators.encode_job import _qgrid_byte_values
        from parquet2_spark.plans import quantile as q_mod

        def old_path(arr):
            import pyarrow.types as pt

            t = arr.type
            if pt.is_string(t) or pt.is_large_string(t):
                arr = arr.cast(pa.large_binary() if pt.is_large_string(t) else pa.binary())
            elif not (pt.is_binary(t) or pt.is_large_binary(t)):
                return None
            a = arr.drop_null() if arr.null_count else arr
            width = f"S{q_mod.BYTES_PREFIX}"
            if len(a) == 0:
                return np.empty(0, dtype=width)
            a = pc.binary_slice(a, 0, q_mod.BYTES_PREFIX)
            return np.asarray(a.to_pandas(), dtype=object).astype(width)

        cases = [
            pa.array(["", None, "short", "x" * 200, "é" * 30, "\x00lead"], type=pa.string()),
            pa.array([b"\x00", b"", None, b"q" * 23, b"q" * 24, b"q" * 25], type=pa.binary()),
            pa.array([], type=pa.string()),
            pa.array([None, None], type=pa.large_string()),
            pa.array(["abc"] * 1000, type=pa.string()).slice(17, 500),
            pa.array([1, 2, 3]),
        ]
        for i, c in enumerate(cases):
            o, n = old_path(c), _qgrid_byte_values(c)
            if o is None:
                assert n is None
                continue
            assert o.dtype == n.dtype and len(o) == len(n) and (o == n).all(), i


class TestFsioSameFsHeuristic:
    def test_subtree_pair_streams_not_copy_file(self, tmp_path):
        from pyarrow import fs as pafs

        from parquet2_spark import fsio

        a_root, b_root = tmp_path / "a", tmp_path / "b"
        a_root.mkdir(), b_root.mkdir()
        (a_root / "src.bin").write_bytes(b"payload-123")
        fs_a = pafs.SubTreeFileSystem(str(a_root), pafs.LocalFileSystem())
        fs_b = pafs.SubTreeFileSystem(str(b_root), pafs.LocalFileSystem())
        # distinct subtrees: equals() is False, so the copy must stream —
        # the old type_name heuristic never hit this pair (subtree was
        # outside its namespace set), but endpoint-distinct S3 instances
        # share type_name "s3"; equals() is the provable check
        fsio.copy_file_atomic(fs_a, "src.bin", fs_b, "dst.bin")
        assert (b_root / "dst.bin").read_bytes() == b"payload-123"

    def test_identity_fast_path_still_works(self, tmp_path):
        from pyarrow import fs as pafs

        from parquet2_spark import fsio

        fs = pafs.LocalFileSystem()
        src = tmp_path / "s.bin"
        src.write_bytes(b"abc" * 1000)
        fsio.copy_file_atomic(fs, str(src), fs, str(tmp_path / "d.bin"),
                              tmp_dir=str(tmp_path))
        assert (tmp_path / "d.bin").read_bytes() == src.read_bytes()


class TestAtomicHotKeyReuse:
    def test_unsplittable_hot_key_keeps_sticky_bounds(self, spark, tmp_path):
        """An ATOMIC hot key — one tied value holding several × the mean
        bucket mass — trips the plain LAYOUT_REBALANCE_LIMIT audit under
        ANY bounds, so the pre-r6 audit re-derived fresh bounds (a full
        table rewrite) every maintenance cycle while reproducing the
        identical skew. The r6 audit predicts the fresh candidate's
        weights from the same grids and keeps the sticky bounds when
        fresh bounds cannot materially beat the stored max bucket.
        (The splittable-hot-bucket case must still refresh — pinned by
        test_sticky_layout.test_hot_bucket_forces_refresh...)"""
        from pyspark.sql import functions as F

        from parquet2_spark.operators import table
        from parquet2_spark.operators.encode_job import EncodeConfig

        td = str(tmp_path / "t")
        cfg = EncodeConfig(target_rows=500, page_rows=125, sort_by="v",
                           key="v", host_from_key=False)
        # 40% of the base shares ONE v value (an unsplittable atom:
        # ~6.4x the 16-bucket mean), the rest are distinct
        base = spark.range(8000).select(
            F.when(F.col("id") >= 4800, F.lit(99_999))
            .otherwise(F.col("id")).alias("v"),
            F.col("id").alias("doc_id"),
        )
        table.append(spark, base, td, cfg, range_layout_on="v")
        lin = table.compact(spark, td, cfg, range_layout_on="v")
        assert lin["layout_bounds_reused"] is False  # first layout: fresh
        # a small spread delta keeps the size window satisfied
        delta = spark.range(500).select(
            (F.col("id") * 9 % 4800).alias("v"),
            (F.col("id") + 8000).alias("doc_id"),
        )
        table.append(spark, delta, td, cfg, range_layout_on="v")
        lin = table.compact(spark, td, cfg, range_layout_on="v")
        # pre-r6: False (plain limit tripped by the atom); r6: fresh
        # bounds predict the same max bucket, so the sticky bounds hold
        # and the rewrite stays incremental
        assert lin["layout_bounds_reused"] is True, lin
        assert int(lin.get("layout_kept") or 0) > 0, lin


class TestSearchsortedTemporal:
    def test_timestamp_key_equivalence(self, spark):
        """_range_layout's big-bounds branch converts timestamp keys to
        epoch micros via unix_micros before the searchsorted UDF; the
        bucket ids must equal the expression chain's
        (col > _typed_lit(micros, 'timestamp')) compares, including
        NULLs (bucket 0) and exact-boundary instants."""
        from parquet2_spark.operators import decode_job

        bounds = [int(b) for b in range(0, 100_000_000, 1_000_000)]  # 100 micros bounds
        vals = [None, -1, 0, 1, 999_999, 1_000_000, 1_000_001,
                50_500_000, 99_000_000, 99_000_001, 10**12]
        df = spark.createDataFrame([(v,) for v in vals], "`m` long").select(
            F.timestamp_micros(F.col("m")).alias("ts")
        )
        expr = F.lit(0)
        for b in bounds:
            expr = expr + (F.col("ts") > decode_job._typed_lit(b, "timestamp")).cast("int")
        expr = F.coalesce(expr, F.lit(0))
        got = df.select(
            expr.alias("want"),
            F.coalesce(
                mc.searchsorted_bucket_long(F.unix_micros(F.col("ts")), bounds),
                F.lit(0),
            ).alias("got"),
        ).collect()
        for r in got:
            assert r["want"] == r["got"], (r["want"], r["got"])

    def test_date_key_equivalence(self, spark):
        from parquet2_spark.operators import decode_job

        bounds = [int(b) for b in range(0, 20_000, 100)]  # 200 day bounds
        vals = [None, -5, 0, 1, 99, 100, 101, 9_999, 10_000, 19_900, 19_901]
        df = spark.createDataFrame([(v,) for v in vals], "`d` long").select(
            F.date_from_unix_date(F.col("d").cast("int")).alias("dt")
        )
        expr = F.lit(0)
        for b in bounds:
            expr = expr + (F.col("dt") > decode_job._typed_lit(b, "date")).cast("int")
        expr = F.coalesce(expr, F.lit(0))
        got = df.select(
            expr.alias("want"),
            F.coalesce(
                mc.searchsorted_bucket_long(F.unix_date(F.col("dt")), bounds),
                F.lit(0),
            ).alias("got"),
        ).collect()
        for r in got:
            assert r["want"] == r["got"], (r["want"], r["got"])


class TestMinhashSingleUdfEval:
    """minhash_lsh_pairs pre-filters empty text instead of filtering on
    the signature UDF's output: a filter on the UDF output makes Catalyst
    evaluate the signature twice per row (one ArrowEvalPython for the
    predicate, one for the projection). The pre-filter keeps the row set
    identical (signature is null ⟺ text is null/empty) at one eval."""

    def _docs(self, spark):
        rows = [(0, None), (1, ""), (2, "short"), (3, "a" * 40)] + [
            (i, f"document body {i % 7} with repeated words {i % 3}")
            for i in range(4, 40)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_single_udf_eval_in_plan(self, spark):
        import re

        from parquet2_spark.operators.dedup import minhash_signatures

        def _python_evals(df):
            # Python UDF evaluation nodes of the physical plan, one per line
            plan = df._jdf.queryExecution().executedPlan().toString()
            return len(re.findall(r"\b(?:ArrowEvalPython|BatchEvalPython)\b", plan))

        docs = self._docs(spark)
        nonempty = docs.filter(
            F.col("text").isNotNull() & (F.length("text") > 0)
        )
        assert _python_evals(minhash_signatures(nonempty)) == 1
        # the shape this replaced: a filter on the UDF's output evaluates
        # the signature once for the predicate and once for the projection
        old = minhash_signatures(docs).filter(F.col("signature").isNotNull())
        assert _python_evals(old) >= 2

    def test_row_identical_to_filter_on_output(self, spark):
        from parquet2_spark.operators import dedup

        docs = self._docs(spark)
        new = sorted(dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=4).collect())
        dedup.release_caches()
        # old construction: filter AFTER the UDF
        sigs = dedup._cache(
            dedup.minhash_signatures(docs, num_hashes=16).filter(
                F.col("signature").isNotNull()
            )
        )
        banded = sigs.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda b: F.xxhash64(F.slice(F.col("signature"), b * 4 + 1, 4)),
                )
            ).alias("band", "bucket"),
        )
        pairs = dedup._capped_candidates(banded, ["band", "bucket"], "doc_id", 4096)
        a = sigs.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a"))
        b = sigs.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b"))
        est = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(16)
        old = sorted(
            pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", est.alias("est_jaccard"))
            .collect()
        )
        dedup.release_caches()
        assert new == old and len(new) > 0


class TestSelectReuseByteIdentity:
    """select_codec's candidate measurement on a full-value sample now
    hands its (enc, outer-compressed) bytes to encode_page for the probe
    page, skipping a redundant encode + outer compress (at brotli-10 the
    redundant pass was ~40% of warm-archive task CPU). The reuse must be
    byte-invisible: chunk blobs with the memo must equal chunk blobs with
    the memo stripped, across codec winners and profiles."""

    def _chunks(self):
        import pyarrow as pa

        rng = np.random.default_rng(7)
        text = pa.array(
            [f"<html><body>doc {i % 97} {'lorem ipsum ' * (i % 13)}</body></html>" for i in range(900)]
        )
        nully = pa.array(
            [None if i % 5 == 0 else f"value-{i % 50}" for i in range(900)]
        )
        const = pa.array(["same"] * 900)
        ints = pa.array(rng.integers(0, 1_000, 900).tolist(), type=pa.int64())
        floats = pa.array(rng.standard_normal(900).tolist(), type=pa.float64())
        multi = pa.array([f"row {i} payload {'x' * (i % 31)}" for i in range(9000)])
        return {
            "text": [text],
            "nully": [nully],
            "const": [const],
            "ints": [ints],
            "floats": [floats],
            # multi-page: probe reuse applies to page 0 only
            "multi": [multi.slice(s, 4096) for s in range(0, 9000, 4096)],
        }

    def test_reuse_matches_stripped(self, monkeypatch):
        from parquet2_spark import blob
        from parquet2_spark.functions import selector as sel_mod

        cfgs = {
            "default": sel_mod.DEFAULT,
            "warm": sel_mod.warm_archive_profile(),
            "speed": sel_mod.speed_profile()
            if hasattr(sel_mod, "speed_profile")
            else sel_mod.SelectorConfig(outer_candidates=("lz4", "zstd"), outer_slack=0.5),
        }
        chunks = self._chunks()
        with_reuse = {
            (cn, pn): blob.encode_chunk(pages, cfg)[0]
            for cn, cfg in cfgs.items()
            for pn, pages in chunks.items()
        }
        real_encode_page = blob.encode_page

        def stripped(arr, cfg=sel_mod.DEFAULT, codec=None, stats=None, fsst_table=None, _reuse=None):
            return real_encode_page(arr, cfg, codec=codec, stats=stats, fsst_table=fsst_table)

        monkeypatch.setattr(blob, "encode_page", stripped)
        for (cn, pn), payload in with_reuse.items():
            again = blob.encode_chunk(chunks[pn], cfgs[cn])[0]
            assert again == payload, (cn, pn)


class TestThreadedSelectionByteIdentity:
    """Heavy-outer profiles overlap the candidate-measurement outer
    compressions in a small thread pool (select_threads). Each candidate's
    compressed size is a deterministic function of its bytes, so the pick
    — and every output byte — must be identical to the sequential loop."""

    def test_threaded_equals_sequential(self):
        from dataclasses import replace

        from parquet2_spark import blob
        from parquet2_spark.functions import selector as sel_mod

        cols = {
            "html": pa.array(
                [f"<div>block {i % 53} {'pad ' * (i % 17)}</div>" for i in range(900)]
            ),
            "ints": pa.array(list(range(900)), type=pa.int64()),
            "nully": pa.array([None if i % 4 == 0 else f"v{i % 40}" for i in range(900)]),
        }
        for prof in (sel_mod.warm_archive_profile(), sel_mod.archival_profile()):
            assert prof.select_threads > 1  # the profiles under test opt in
            seq = replace(prof, select_threads=1)
            for name, arr in cols.items():
                a, _ = blob.encode_chunk([arr], seq)
                b, _ = blob.encode_chunk([arr], prof)
                assert a == b, (name, prof.outer)
