"""Decode / stats queries over an encoded snapshot.

Read-path parity with the reference (SURVEY §3.1/§3.3): the chunks
DataFrame *is* the metadata+data layer; Catalyst provides projection
pruning (only requested columns' chunk rows are read — the parquet scan
of the chunks table pushes ``column IN (...)``) and zone-map predicate
pruning (plain filters on min/max stat columns ≙ ``filter_row_groups``,
reference src/read/mod.rs:32-45). Page-level pruning happens inside the
UDF via the chunk's page index (≙ IndexedPageReader).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import blob, fsio

# Lineage stores df.dtypes simpleStrings, which are valid Spark DDL for
# the whole type lattice ("bigint", "array<string>", "struct<a:int>",
# "map<string,bigint>", "decimal(12,2)") — they pass straight through to
# applyInArrow output schemas and .cast(); pyarrow expectations are
# derived driver-side in decode() (DDL → StructType → schema.spark_type_to_pa,
# with struct-field pruning for dotted projections).


def lineage(snapshot_dir: str, as_of: int | None = None, filesystem=None, since: int | None = None) -> dict:
    """Lineage of a snapshot dir — or the merged lineage of a multi-
    snapshot table dir (see operators.table)."""
    from . import table as table_mod

    if table_mod.is_table(snapshot_dir, filesystem):
        merged: dict = {"table": snapshot_dir, "snapshots": [], "rows": 0,
                        "raw_bytes": 0, "enc_bytes": 0, "per_column": {}}
        for sid, sdir in table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem, since):
            lin = lineage(sdir, filesystem=filesystem)
            merged["snapshots"].append({"id": sid, "dir": sdir, "rows": lin["rows"]})
            merged["rows"] += lin["rows"]
            merged["raw_bytes"] += lin["raw_bytes"]
            merged["enc_bytes"] += lin["enc_bytes"]
            # additive schema evolution: later snapshots may ADD columns
            # (append() rejects drops/retypes) — merge preserves first-seen
            # order and appends the new columns; older snapshots read NULL
            merged.setdefault("schema", {}).update(lin["schema"])
            cols_so_far = merged.setdefault("columns", [])
            for c in lin["columns"]:
                if c not in cols_so_far:
                    cols_so_far.append(c)
            for c, v in lin["per_column"].items():
                agg = merged["per_column"].setdefault(
                    c, {"raw_bytes": 0, "enc_bytes": 0, "n_rows": 0, "codecs": []}
                )
                agg["raw_bytes"] += v["raw_bytes"]
                agg["enc_bytes"] += v["enc_bytes"]
                agg["n_rows"] += v["n_rows"]
                agg["codecs"] = sorted(set(agg["codecs"]) | set(v["codecs"]))
        return merged
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    return fsio.read_json(fs, fsio.join(root, "_lineage.json"))


# row_range prefix sums reduce per group of this many consecutive part
# ids before the driver sees anything: #partitions/_RR_GROUP scalars to
# the driver (≤ ~256 rows even at 10^6 partitions), and the within-group
# window parallelizes across groups instead of one global-order task
_RR_GROUP = 4096

# the chunk parquet schema as Spark DDL (kept in sync with
# encode_job.CHUNK_PA_SCHEMA) — used to type a zero-row chunks frame
_CHUNKS_DDL = (
    "part_id long, column string, type_code int, n_rows long, null_count long, "
    "n_pages int, codecs string, outers string, raw_bytes long, enc_bytes long, "
    "min_bin binary, max_bin binary, min_num long, max_num long, "
    "min_dbl double, max_dbl double, ndv long, "
    "page_rows string, page_mins string, page_maxs string, page_nulls string, "
    "qgrid string, bounds_order string, bloom binary, ndv_hll binary, payload binary"
)


def _page_keep_for_range(mins: list, maxs: list, lo, hi, order: str | None) -> set:
    """Page indexes whose [min,max] may intersect [lo,hi] (None bound =
    open side). When the chunk's zone maps are boundary-ordered
    ('asc'/'desc' from the encoder, the ColumnIndex boundary_order
    analog — reference/src/write/indexes/serialize.rs:12-58) and fully
    populated, the surviving pages form one contiguous run found by
    binary search; otherwise a linear scan with the standard
    no-stat/inverted-keep rules. Both paths return identical sets
    (asserted in tests)."""
    n = len(mins)
    as_str = isinstance(lo, str) or isinstance(hi, str)
    if (
        order in ("asc", "desc")
        and n > 1
        and all(m is not None for m in mins)
        and all(m is not None for m in maxs)
        # a string bound against NUMERIC stats would bisect a str()-
        # converted list whose lexicographic order no longer matches the
        # recorded numeric boundary order ([2,10,100] → ["10","100","2"])
        # — only the linear per-page compare is safe there
        and (not as_str or isinstance(mins[0], str))
    ):
        import bisect

        m_min, m_max = (mins, maxs) if order == "asc" else (mins[::-1], maxs[::-1])
        if as_str:
            m_min = [str(v) for v in m_min]
            m_max = [str(v) for v in m_max]
        # first page whose max >= lo, one past the last whose min <= hi
        first = 0 if lo is None else bisect.bisect_left(m_max, lo)
        last = n if hi is None else bisect.bisect_right(m_min, hi)
        if order == "desc":
            first, last = n - last, n - first
        return set(range(first, max(first, last)))
    keep = set()
    for i, (mn, mx) in enumerate(zip(mins, maxs)):
        if mn is None or mx is None:
            keep.add(i)  # no stats → cannot prune
            continue
        if as_str:
            mn, mx = str(mn), str(mx)
        elif mn > mx:
            keep.add(i)  # inverted (pre-NaN-fix all-NaN page) → no-stat
            continue
        if (hi is None or mn <= hi) and (lo is None or mx >= lo):
            keep.add(i)
    return keep


def chunks_df(
    spark: SparkSession,
    snapshot_dir: str,
    as_of: int | None = None,
    since: int | None = None,
    filesystem=None,
    _per_snapshot_filter=None,
) -> DataFrame:
    """The chunks table (metadata + payload). Stats queries should select
    only metadata columns — parquet column pruning then never touches the
    payload bytes. A multi-snapshot table dir unions every committed
    snapshot's chunks with the part_id namespaced by snapshot id, so ids
    never collide across snapshots.

    ``_per_snapshot_filter`` (internal, binpack compaction): a callable
    ``sid -> Column | None`` applied to each snapshot's frame BEFORE the
    part_id namespacing and the union — so a predicate over raw chunk
    columns (``n_rows`` et al; NOT ``part_id``, whose embedded value is
    stale in verbatim-copied files — identity is the filename) PUSHES
    DOWN into that snapshot's parquet scan. Every chunk file holds one partition
    (constant ``n_rows``/``part_id`` per file ⇒ min==max row-group
    stats), so pruned partitions' payload bytes are never read. ``None``
    from the callable keeps the whole snapshot."""
    from . import table as table_mod

    # manifest reads go through pyarrow.fs; the chunk parquet itself is
    # read by Spark's own scan, so for a non-local filesystem the
    # snapshot paths must also be Spark-readable URIs (S3A/HDFS)
    if table_mod.is_table(snapshot_dir, filesystem):
        parts = []
        for sid, sdir in table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem, since):
            d = spark.read.parquet(os.path.join(sdir, "chunks"))
            if _per_snapshot_filter is not None:
                cond = _per_snapshot_filter(sid)
                if cond is not None:
                    d = d.filter(cond)
            parts.append(
                d.withColumn(
                    "part_id",
                    (F.lit(sid).cast("long") * F.lit(1 << table_mod.SNAP_SHIFT))
                    + _filename_part_id(),
                )
            )
        if not parts:
            if since is not None:
                # empty incremental window (nothing new since the caller's
                # checkpoint) — a zero-row chunks frame, not an error
                return spark.createDataFrame([], _CHUNKS_DDL)
            raise FileNotFoundError(f"table {snapshot_dir} has no committed snapshots")
        out = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: snapshots written before a metadata
            # column existed (e.g. bloom) union with nulls there
            out = out.unionByName(p, allowMissingColumns=True)
        return out
    out = spark.read.parquet(os.path.join(snapshot_dir, "chunks")).withColumn(
        "part_id", _filename_part_id()
    )
    if _per_snapshot_filter is not None:
        cond = _per_snapshot_filter(0)
        if cond is not None:
            out = out.filter(cond)
    return out


def _filename_part_id():
    """``part_id`` derived from the chunk FILENAME (``part-NNNNNN``) —
    the authoritative partition identity. Verbatim-copied chunk files
    (binpack keepers, incremental re-layout keepers) keep their OLD
    embedded ``part_id`` column untouched: the rename IS the renumber,
    which is what lets maintenance carry partitions by server-side copy
    on object stores instead of rewriting parquet. The embedded column
    still rides in every file (writers emit it; it equals the filename
    for freshly-encoded partitions) but no reader trusts it.

    Uses the ``_metadata.file_name`` hidden column, NOT
    ``input_file_name()``: the latter is nondeterministic, and Catalyst
    refuses to push ANY filter through a nondeterministic Project —
    zone-map and column predicates would stop reaching the parquet scan
    (caught by tests/test_plans_audit.py)."""
    return F.regexp_extract(
        F.col("_metadata.file_name"), r"part-(\d+)\.parquet", 1
    ).cast("long")


def stats(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Per (column, codec) aggregate — the `parquet-tools meta` analog."""
    df = chunks_df(spark, snapshot_dir)
    aggs = [
        F.count("*").alias("n_chunks"),
        F.sum("n_rows").alias("rows"),
        F.sum("null_count").alias("nulls"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.min("min_bin").alias("min_bin"),
        F.max("max_bin").alias("max_bin"),
    ]
    # stat columns added after round 1 — aggregate only what this
    # snapshot's chunk parquet actually has, so old snapshots keep working
    if "min_dbl" in df.columns:
        aggs += [F.min("min_dbl").alias("min_dbl"), F.max("max_dbl").alias("max_dbl")]
    if "ndv" in df.columns:
        aggs.append(F.max("ndv").alias("ndv_hint"))
    out = df.groupBy("column", "codecs").agg(*aggs)
    if "ndv_hll" in df.columns:
        # table-level NDV from the per-chunk HLL register files, fused
        # into TWO pandas stages over one extra scan (was: premerge +
        # grouped-agg UDAF + estimate UDF + a separate coverage groupBy +
        # two joins). Stage 1 (mapInPandas) emits one partial row per
        # column per Arrow batch — a million-chunk column never ships a
        # million 64 KB sketches to one task — carrying both the merged
        # sketch and the coverage-miss flag (a non-empty chunk without a
        # sketch means the merge cannot see the whole column, so the
        # estimate must be withheld rather than silently undercount).
        # Stage 2 (applyInPandas, keyed by column ONLY — NDV is a
        # table-level property; chunks that picked different codecs still
        # merge) folds partials straight to the final estimate.
        from ..plans import hll as hll_mod

        def premerge(pdfs):
            import pandas as pd

            for pdf in pdfs:
                rows = []
                for col, g in pdf.groupby("column"):
                    miss = bool(((g["n_rows"] > 0) & g["ndv_hll"].isna()).any())
                    sk = None if miss else hll_mod.merge(g["ndv_hll"])
                    rows.append((col, sk, miss))
                yield pd.DataFrame(rows, columns=["column", "ndv_hll", "miss"])

        def final(pdf):
            import pandas as pd

            sk = None if pdf["miss"].any() else hll_mod.merge(pdf["ndv_hll"])
            est = None if sk is None else hll_mod.estimate(sk)
            return pd.DataFrame(
                {
                    "column": [pdf["column"].iloc[0]],
                    "ndv_est": pd.array([est], dtype="Int64"),
                }
            )

        # two-stage merge UNCONDITIONALLY (r6): the per-batch premerge
        # reduces each scan task's sketches to one partial row per
        # column BEFORE the exchange, so the shuffle carries
        # #tasks × #columns small rows instead of #chunks × 64 KB dense
        # sketches. Round 5 gated this behind a 2000-chunk threshold
        # ("premerge is pure overhead for small tables") — re-measured
        # at 118 chunks the premerge path is FASTER (0.9-1.4 s vs
        # 1.3-3.5 s best-of-3: the 40 MB sketch shuffle cost more than
        # the extra map stage saves), and at a million chunks it is the
        # only shape that bounds what any single task receives.
        partials = df.select("column", "n_rows", "ndv_hll").mapInPandas(
            premerge, "column string, ndv_hll binary, miss boolean"
        )
        # hash-partition the (few, small) partial rows by column so
        # the applyInPandas sees its clustering requirement already
        # met — an 8-task exchange instead of
        # spark.sql.shuffle.partitions mostly-empty ones
        sk = (
            partials.repartition(8, "column")
            .groupBy("column")
            .applyInPandas(final, "column string, ndv_est long")
        )
        out = out.join(F.broadcast(sk), ["column"], "left")
    return out.orderBy("column", "codecs")


def quantiles(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    qs: list[float],
    filesystem=None,
    as_of: int | None = None,
    since: int | None = None,
) -> list[float]:
    """Table-level quantile estimates for a numeric/temporal column from
    the per-chunk quantile grids (zone-map units: micros for timestamps,
    days for dates) — no data scan, metadata only. Rank error ≤ N/K
    (K=128 cells/chunk, ≤0.8%); see plans/quantile.py.

    Scale shape mirrors the HLL NDV merge: small tables (≤2000 chunks by
    lineage metadata) collect their ~1 KB grids directly; larger ones run
    a per-batch mapInPandas partial merge so the driver receives one
    bounded summary per scan partition, never a million grids.
    Raises when any non-empty chunk lacks a grid (pre-grid snapshot or
    grids disabled for one append) — a partial merge would silently skew
    the ranks."""
    from ..plans import quantile as q_mod

    grids, weights = _gather_grids(
        spark, snapshot_dir, column, filesystem, as_of, since
    )
    return q_mod.estimate(grids, weights, qs)


def _gather_grids(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    filesystem=None,
    as_of: int | None = None,
    since: int | None = None,
) -> tuple[list, list | None]:
    """(grids, weights) ready for ``plans.quantile`` rank algebra —
    the shared gather behind ``quantiles`` and ``bucket_weights``:
    self-weighted dict grids on the small-table collect path, bounded
    per-scan-partition summaries plus totals on the distributed path."""
    from ..plans import quantile as q_mod

    ddl = lineage(snapshot_dir, filesystem=filesystem)["schema"].get(column)
    if ddl is None:
        raise KeyError(f"column {column} not in snapshot schema")
    numericish = (
        ddl in ("tinyint", "smallint", "int", "bigint", "float", "double", "date")
        or ddl.startswith("timestamp")
    )
    # string/binary columns carry BYTE grids — order statistics over
    # truncated byte prefixes (plans/quantile.py BYTES_PREFIX), the
    # ByteIndex-style sketch that lets range layout key on url/host;
    # estimates come back as `bytes` prefixes
    bytesish = (
        ddl in ("string", "binary")
        or ddl.startswith("varchar")
        or ddl.startswith("char")
    )
    if not (numericish or bytesish):
        raise ValueError(
            f"column {column} ({ddl}) carries no quantile grids "
            f"(numeric/temporal/string/binary columns only)"
        )
    # as_of/since window over multi-snapshot tables: quantiles of the
    # table as of a snapshot, or of an incremental delta only — the
    # planner's view matches exactly what decode(as_of=/since=) reads
    df = chunks_df(spark, snapshot_dir, as_of, since, filesystem).filter(
        F.col("column") == column
    )
    if "qgrid" not in df.columns:
        raise ValueError(f"snapshot {snapshot_dir} predates quantile grids")
    sel = df.select(
        "qgrid", (F.col("n_rows") - F.coalesce(F.col("null_count"), F.lit(0))).alias("w")
    )
    n_committed = _committed_partition_count(snapshot_dir, filesystem)
    if n_committed is not None and 0 < n_committed <= 2000:
        rows = sel.collect()
        grids = []
        for r in rows:
            if r["w"] and r["qgrid"] is None:
                raise ValueError(
                    f"column {column}: chunk without a quantile grid — "
                    f"re-encode with quantile_grid=True for exact coverage"
                )
            if r["qgrid"] is not None:
                grids.append(json.loads(r["qgrid"]))
        return grids, None

    def partial(pdfs):
        for pdf in pdfs:
            miss = bool((pdf["qgrid"].isna() & (pdf["w"] > 0)).any())
            if miss:
                yield pd.DataFrame(
                    {"summary": [None], "total": [0], "miss": [True]}
                )
                continue
            grids = [json.loads(g) for g in pdf["qgrid"] if g is not None]
            g, total = q_mod.merge_to_summary(grids)
            yield pd.DataFrame(
                {"summary": [json.dumps(g)], "total": [total], "miss": [False]}
            )

    parts = sel.mapInPandas(partial, "summary string, total long, miss boolean").collect()
    if any(r["miss"] for r in parts):
        raise ValueError(
            f"column {column}: chunk without a quantile grid — re-encode "
            f"with quantile_grid=True for exact coverage"
        )
    grids = [json.loads(r["summary"]) for r in parts if r["total"]]
    weights = [int(r["total"]) for r in parts if r["total"]]
    return grids, weights


def bucket_weights(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    bounds: list,
    filesystem=None,
) -> list[float]:
    """Predicted relative row mass of each bucket under split points
    ``bounds`` (zone-map units; ``bytes`` for string/binary keys) —
    ``len(bounds) + 1`` fractions summing to ~1, from the table's
    quantile grids alone (no data scan). This is how sticky layout
    bounds are AUDITED before reuse: a hot bucket that absorbed skewed
    deltas shows up as a fraction far above 1/n_buckets, and the caller
    re-derives fresh bounds instead of letting one bucket grow to
    many × target_rows (operators/table._resolve_layout_bounds)."""
    from ..plans import quantile as q_mod

    grids, weights = _gather_grids(spark, snapshot_dir, column, filesystem)
    cs = q_mod.cdf(grids, weights, list(bounds))
    edges = [0.0] + [float(c) for c in cs] + [1.0]
    return [max(0.0, b - a) for a, b in zip(edges, edges[1:])]


def range_bounds(
    spark: SparkSession,
    snapshot_dir: str,
    column: str,
    n_parts: int,
    filesystem=None,
) -> list[float]:
    """``n_parts - 1`` range split points for ``repartitionByRange``-style
    layout of the NEXT append, derived from the table's quantile grids —
    the 100 TB alternative to Spark's RangePartitioner sampling scan
    (which would read the new batch twice). Combine with
    ``EncodeConfig(shuffle=False)`` after a ``repartitionByRange`` on
    these bounds for disjoint per-partition zone maps."""
    if n_parts < 2:
        return []
    qs = [i / n_parts for i in range(1, n_parts)]
    return quantiles(spark, snapshot_dir, column, qs, filesystem)


def _committed_partition_count(snapshot_dir: str, filesystem=None) -> int | None:
    """Total committed partitions across the snapshot dir (or all of a
    table's snapshots) from lineage metadata only — None when any
    lineage predates the field or is unreadable."""
    from . import table as table_mod

    try:
        if table_mod.is_table(snapshot_dir, filesystem):
            total = 0
            for _, sdir in table_mod.snapshot_dirs(snapshot_dir, filesystem=filesystem):
                n = lineage(sdir, filesystem=filesystem).get("n_partitions_committed")
                if n is None:
                    return None
                total += int(n)
            return total
        n = lineage(snapshot_dir, filesystem=filesystem).get("n_partitions_committed")
        return None if n is None else int(n)
    except Exception:
        return None


def _zone_bound(v):
    """Normalize a user-supplied range bound to the zone map's storage
    unit (mirrors encode_job._stat_cols.as_num): datetime → micros,
    date → days-since-epoch; everything else passes through.

    tz-aware datetimes convert via ``astimezone(utc)`` + exact timedelta
    integer division — NOT ``datetime(1970,1,1, tzinfo=v.tzinfo)``, whose
    epoch under pytz zones carries an LMT offset that skews the micros by
    minutes (false pruning at range boundaries)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return (v - _dt.date(1970, 1, 1)).days
    return v


def _wall_str(micros: int) -> str:
    """Wall-clock string for epoch micros (shared by the scalar ntz
    literal and the ntz probe frame — one copy of the formatting)."""
    import datetime as _dt

    wall = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(micros))
    return wall.strftime("%Y-%m-%d %H:%M:%S.%f")


def _ntz_lit(micros: int):
    """timestamp_ntz literal from wall-clock micros — a string→ntz cast
    never consults the session timezone (``timestamp_micros`` would yield
    a tz-typed literal whose comparison against an ntz column silently
    coerces through the session tz)."""
    return F.lit(_wall_str(micros)).cast("timestamp_ntz")


def _typed_lit(v, ddl: str):
    """Session-timezone-safe Spark literal for a probe/bound value against
    a column of type ``ddl``. Naive datetimes are UTC instants everywhere
    in this engine (the blob stores UTC-epoch micros and encode-time bloom
    hashes are computed on those instants) — but ``F.lit(naive_datetime)``
    is read in the *session* timezone, so in a non-UTC session a bloom
    probe would hash the wrong micros and prune the matching partition.
    Route every datetime/date through its epoch integer instead; against a
    ``timestamp_ntz`` column the micros mean wall-clock and the literal
    must itself be ntz-typed (see ``_ntz_lit``)."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if ddl == "timestamp_ntz":
            return _ntz_lit(_zone_bound(v))
        return F.timestamp_micros(F.lit(_zone_bound(v))).cast(ddl)
    if isinstance(v, _dt.date):
        return F.date_from_unix_date(F.lit(_zone_bound(v))).cast(ddl)
    if isinstance(v, int) and not isinstance(v, bool) and (
        ddl.startswith("timestamp") or ddl == "date"
    ):
        # plain ints against temporal columns mean epoch MICROS (days for
        # date) — the zone-map storage unit, same convention as _bound,
        # _probe_frame and the CLI. Without this branch the F.lit(int)
        # .cast('timestamp') fallback would read SECONDS (or null on
        # overflow), so key_eq=('ts', epoch_micros) would bloom-hash the
        # wrong instant and silently return empty while key_in matched.
        if ddl == "date":
            return F.date_from_unix_date(F.lit(int(v)).cast("int"))
        if ddl == "timestamp_ntz":
            return _ntz_lit(int(v))
        return F.timestamp_micros(F.lit(int(v))).cast(ddl)
    return F.lit(v).cast(ddl)


def _probe_frame(spark: SparkSession, vals: list, ddl: str) -> DataFrame:
    """One-column DataFrame (``__p2s_probe``) of probe values typed as
    ``ddl`` — the DataFrame-scale analog of ``_typed_lit`` for IN-lists
    of arbitrary size (per-value literal columns would blow Catalyst's
    codegen method limit at a few thousand probes). Datetime/date probes
    travel as epoch ints (wall-clock strings for ``timestamp_ntz``) and
    convert through session-timezone-independent functions; a date probe
    against a timestamp column is promoted to midnight UTC python-side
    (this engine defines naive instants as UTC)."""
    import datetime as _dt

    n_temporal = sum(isinstance(v, (_dt.date, _dt.datetime)) for v in vals)
    if n_temporal == 0:
        if (ddl.startswith("timestamp") or ddl == "date") and all(
            isinstance(v, int) and not isinstance(v, bool) for v in vals
        ):
            # ints against temporal columns mean epoch micros / days (the
            # zone-map storage unit, same convention as the residual
            # _bound and the CLI's --key-in typing); createDataFrame
            # would reject raw ints for these types outright
            raw = spark.createDataFrame([(int(v),) for v in vals], "`m` long")
            if ddl == "date":
                return raw.select(
                    F.date_from_unix_date(F.col("m").cast("int")).alias("__p2s_probe")
                )
            if ddl == "timestamp_ntz":
                walls = [_wall_str(v) for v in vals]
                raw = spark.createDataFrame([(w,) for w in walls], "`m` string")
                return raw.select(
                    F.col("m").cast("timestamp_ntz").alias("__p2s_probe")
                )
            return raw.select(
                F.timestamp_micros(F.col("m")).cast(ddl).alias("__p2s_probe")
            )
        return spark.createDataFrame([(v,) for v in vals], f"`__p2s_probe` {ddl}")
    if n_temporal != len(vals):
        raise TypeError(
            "key_in mixes datetime/date probes with other value types — "
            "pass a homogeneous list"
        )
    if ddl == "date":
        # demote datetime probes to their UTC calendar date python-side
        # (naive instants are UTC in this engine); their epoch MICROS
        # must never reach date_from_unix_date, which reads DAYS
        days = [
            int(
                _zone_bound(
                    (
                        v.astimezone(_dt.timezone.utc).date()
                        if v.tzinfo is not None
                        else v.date()
                    )
                    if isinstance(v, _dt.datetime)
                    else v
                )
            )
            for v in vals
        ]
        raw = spark.createDataFrame([(d,) for d in days], "`m` long")
        return raw.select(
            F.date_from_unix_date(F.col("m").cast("int")).alias("__p2s_probe")
        )
    # every other target type: promote plain dates to midnight-UTC
    # datetimes FIRST (a date's _zone_bound is days, not micros)
    vals = [
        _dt.datetime(v.year, v.month, v.day)
        if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
        else v
        for v in vals
    ]
    if ddl == "timestamp_ntz":
        walls = [_wall_str(_zone_bound(v)) for v in vals]
        raw = spark.createDataFrame([(w,) for w in walls], "`m` string")
        return raw.select(F.col("m").cast("timestamp_ntz").alias("__p2s_probe"))
    raw = spark.createDataFrame([(int(_zone_bound(v)),) for v in vals], "`m` long")
    return raw.select(F.timestamp_micros(F.col("m")).cast(ddl).alias("__p2s_probe"))


def prune_by_range(df: DataFrame, column: str, lo=None, hi=None) -> DataFrame:
    """Zone-map chunk pruning for a decode of ``column`` restricted to
    [lo, hi] — ordinary Catalyst filters over stat columns."""
    lo, hi = _zone_bound(lo), _zone_bound(hi)
    out = df
    # Chunks with missing zone-map stats must be KEPT (pruning is only
    # sound when the stat proves disjointness) — same polarity as the
    # page-level prune. Float columns store no num stats, so without the
    # isNull() branch a float key_range would silently prune everything.
    if isinstance(lo, (bytes, str)) or isinstance(hi, (bytes, str)):
        if lo is not None:
            out = out.filter(
                (F.col("column") != column) | F.col("max_bin").isNull() | (F.col("max_bin") >= F.lit(lo))
            )
        if hi is not None:
            out = out.filter(
                (F.col("column") != column) | F.col("min_bin").isNull() | (F.col("min_bin") <= F.lit(hi))
            )
    else:
        # numeric: consult the int zone map AND the float zone map
        # (coalesce: first stat that exists decides; neither → keep).
        # Spark coerces bigint-vs-double compares, so a float bound prunes
        # int chunks and vice versa. Decimal bounds become CONSERVATIVE
        # floats (lo down, hi up) matching the chunk dbl stats' rounding.
        import decimal as _decimal
        import math

        if isinstance(lo, _decimal.Decimal):
            lo = math.nextafter(float(lo), -math.inf)
        if isinstance(hi, _decimal.Decimal):
            hi = math.nextafter(float(hi), math.inf)
        has_dbl = "max_dbl" in out.columns

        def _keep(stat_num, stat_dbl, op):
            num = op(F.col(stat_num))
            if has_dbl:
                # snapshots written before the NaN fix store inverted
                # +inf/-inf bounds for all-NaN chunks — treat as no-stat
                dbl = F.when(F.col("min_dbl") > F.col("max_dbl"), F.lit(True)).otherwise(
                    op(F.col(stat_dbl))
                )
            else:
                dbl = F.lit(None).cast("boolean")
            return F.coalesce(num, dbl, F.lit(True))

        if lo is not None:
            out = out.filter(
                (F.col("column") != column)
                | _keep("max_num", "max_dbl", lambda c: c >= F.lit(lo))
            )
        if hi is not None:
            out = out.filter(
                (F.col("column") != column)
                | _keep("min_num", "min_dbl", lambda c: c <= F.lit(hi))
            )
    return out


def _survivor_frame(rows: DataFrame, pos_cols: list, veto=None) -> DataFrame:
    """The ONE partition-pruning query. ``rows`` is the chunks frame cut to
    the predicate columns' metadata, with every positive predicate already
    applied as a row filter that drops only its own column's failing chunk
    rows. A partition survives when a row of each ``pos_cols`` column is
    left (positive evidence) and no row satisfies ``veto`` (negative
    evidence). Its output is the surviving part ids: O(survivors) rows.

    A partition holds one chunk row per column, so with a single positive
    column and no veto the surviving rows ARE the survivors: no aggregate,
    no exchange."""
    if len(pos_cols) == 1 and veto is None:
        return rows.select("part_id")
    flags = [F.max(F.col("column") == c).alias(f"_p{i}") for i, c in enumerate(pos_cols)]
    cond = F.lit(True)
    for i in range(len(pos_cols)):
        cond = cond & F.col(f"_p{i}")
    if veto is not None:
        flags.append(F.max(F.coalesce(veto, F.lit(False))).alias("_veto"))
        cond = cond & ~F.col("_veto")
    return rows.groupBy("part_id").agg(*flags).filter(cond).select("part_id")


def check_integrity(
    snapshot_dir: str, as_of: int | None = None, filesystem=None, since: int | None = None
) -> None:
    """Every commit marker must have its data file (a marker without its
    file means a torn snapshot — fail loudly instead of decoding a
    silently-partial table)."""
    from . import table as table_mod

    if table_mod.is_table(snapshot_dir, filesystem):
        for _, sdir in table_mod.snapshot_dirs(snapshot_dir, as_of, filesystem, since):
            check_integrity(sdir, filesystem=filesystem)
        return
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    commits = fsio.join(root, "_commits")
    chunks = fsio.join(root, "chunks")
    if not fsio.is_dir(fs, commits):
        return
    missing = []
    for fname in fsio.listdir(fs, commits):
        if not fname.endswith(".json"):
            continue
        pid = int(fname.split(".")[0])
        if not fsio.exists(fs, fsio.join(chunks, f"part-{pid:06d}.parquet")):
            missing.append(pid)
    if missing:
        raise FileNotFoundError(
            f"snapshot {snapshot_dir} is torn: committed partitions missing "
            f"data files: {sorted(missing)[:10]}{'...' if len(missing) > 10 else ''}"
        )


def decode(
    spark: SparkSession,
    snapshot_dir: str,
    columns: list[str] | None = None,
    key_range: tuple | None = None,
    as_of: int | None = None,
    key_eq: tuple | None = None,
    row_range: tuple | None = None,
    filesystem=None,
    since: int | None = None,
    key_in: tuple | None = None,
    key_ranges: list | None = None,
    not_null: str | list | None = None,
    is_null: str | list | None = None,
    _chunk_filter=None,
) -> DataFrame:
    """Reassemble original rows from a snapshot — or a multi-snapshot
    table dir (``as_of`` time-travels to that snapshot id).

    ``key_range=(column, lo, hi)`` prunes whole *partitions* via zone maps
    before any payload is read (all of a partition's chunk rows are
    dropped when the keyed chunk falls outside the range), then prunes
    *pages* inside surviving chunks via the page index.

    ``key_eq=(column, value)`` is the bloom-assisted point lookup (the
    reference's index-assisted read, SURVEY §3.3): partitions whose stored
    split-block bloom (see ``EncodeConfig.bloom_columns``) rules the value
    out are dropped before any payload is read; never a false negative.
    The bloom probe is a Catalyst expression (``bloom.might_contain_col``),
    so the lookup runs no Python UDF. ``key_in=(column, values)`` probes
    every value's hash with one numpy UDF and keeps a partition if any may
    be present. Residual filters make both exact on the decoded rows.

    Partition pruning runs eagerly, inside this call: every partition-level
    predicate (zone maps, blooms, null counts) is evaluated in ONE Spark
    job over the chunk metadata, which returns the surviving part ids; the
    returned frame then scans only those partitions' chunk files. Without
    a predicate no pruning job runs.

    The returned frame carries ``df.p2s_decode_metrics`` — a dict of
    ``pages_read``/``pages_skipped`` SparkContext accumulators populated
    once an action runs. Two caveats, by construction: (1) it is a plain
    Python attribute on THIS DataFrame object — any further transform
    (``select``/``filter``/``cache``) returns a new object without it, so
    read it from the frame decode() returned; (2) accumulator updates are
    not transactional across task retries/speculation, so the counts are
    best-effort telemetry (may over-count under retry) — use them for
    skip-evidence assertions and profiling, never for correctness.
    """
    # metadata plane (markers/sidecars) through pyarrow.fs; the data
    # plane (chunks parquet) stays on Spark's own scan — pass a URI
    # Spark's Hadoop FS understands for non-local snapshots
    # ``since=k`` (table dirs): incremental read of snapshots (k, as_of]
    # only — the CDC-style consumption a periodically-retrained pipeline
    # uses; zero bytes of already-processed snapshots are touched
    check_integrity(snapshot_dir, as_of, filesystem, since)
    lin = lineage(snapshot_dir, as_of, filesystem, since)
    if since is not None:
        if "snapshots" not in lin:
            raise ValueError("since= requires a multi-snapshot table dir")
        if not lin["snapshots"]:
            # empty window: schema comes from the full table, zero rows read
            lin = lineage(snapshot_dir, as_of, filesystem)
    cols = columns or lin["columns"]
    schema_map = lin["schema"]

    # dotted columns ("meta.title") = nested projection pushdown: only the
    # requested struct fields are decoded; sibling fields' child pages are
    # skipped by header walk, never decompressed (the group-type analog of
    # the reference's get_field_columns)
    field_sel: dict[str, set[str]] = {}
    base_cols: list[str] = []
    for c in cols:
        if c not in schema_map and "." in c:
            base, fld = c.split(".", 1)
            if base not in schema_map:
                raise KeyError(f"column {base} (from {c}) not in snapshot schema")
            field_sel.setdefault(base, set()).add(fld)
            c = base
        if c not in base_cols:
            base_cols.append(c)
    cols = base_cols

    # ``row_range=(start, stop)`` — the §3.3 row-interval read (reference
    # compute_rows/select_pages/SliceFilteredIter): partitions outside the
    # interval are pruned driver-side from lineage row counts (metadata
    # only), surviving partitions decode just their overlapping pages
    # executor-side via the page offset index. Row position is defined by
    # (part_id asc, row-in-partition) — the encode job's write order.
    row_spans = None
    if row_range is not None:
        if key_range is not None or key_ranges or key_eq is not None:
            raise ValueError("row_range cannot combine with key_range(s)/key_eq")
        if "snapshots" in lin or "table" in lin:
            raise ValueError("row_range requires a single-snapshot dir (not a table)")
        start, stop = int(row_range[0]), int(row_range[1])
        if "partitions" in lin:  # legacy snapshots embedded the list
            row_spans = {}
            base = 0
            for p in sorted(lin["partitions"], key=lambda x: x["part_id"]):
                pid, prows = int(p["part_id"]), int(p["rows"])
                lo = max(start - base, 0)
                hi = min(stop - base, prows)
                if lo < hi:
                    row_spans[pid] = (lo, hi)
                base += prows
        else:
            # partition row counts from the chunk parquet, cumulated
            # SPARK-SIDE so the driver collects only the partitions
            # whose row interval overlaps — O(surviving), never
            # O(#partitions). Row position is defined by global part_id
            # order; the prefix sum runs in TWO bounded passes instead
            # of one unpartitioned window (which serialized the whole
            # plan into a single task at ~10^6 partitions): (1) per
            # part_id-GROUP row sums (groups of _RR_GROUP consecutive
            # ids — #parts/_RR_GROUP scalars to the driver), prefixed
            # driver-side and re-broadcast; (2) a window PARTITIONED by
            # group (parallel across groups) adds the within-group
            # cumsum to its group's offset.
            from pyspark.sql import Window

            first = lin["columns"][0]
            meta = (
                chunks_df(spark, snapshot_dir, as_of, since, filesystem)
                .filter(F.col("column") == first)
                .select("part_id", "n_rows")
                .withColumn("_grp", F.floor(F.col("part_id") / F.lit(_RR_GROUP)))
            )
            grp = sorted(
                (int(r["_grp"]), int(r["rows"]))
                for r in meta.groupBy("_grp").agg(F.sum("n_rows").alias("rows")).collect()
            )
            offs, acc = [], 0
            for g, rows_g in grp:
                # group-level prune: only groups overlapping the row
                # interval enter the per-part window at all
                if acc < stop and acc + rows_g > start:
                    offs.append((g, acc))
                acc += rows_g
            row_spans = {}
            if offs:
                off_df = spark.createDataFrame(offs, "`_grp` long, `_goff` long")
                w = Window.partitionBy("_grp").orderBy("part_id").rowsBetween(
                    Window.unboundedPreceding, -1
                )
                surv = (
                    meta.join(F.broadcast(off_df), "_grp")
                    .withColumn(
                        "base",
                        F.col("_goff")
                        + F.coalesce(F.sum("n_rows").over(w), F.lit(0)),
                    )
                    .filter(
                        (F.col("base") < stop)
                        & (F.col("base") + F.col("n_rows") > start)
                    )
                    .collect()
                )
                for r in surv:
                    pid, prows, base = int(r["part_id"]), int(r["n_rows"]), int(r["base"])
                    lo = max(start - base, 0)
                    hi = min(stop - base, prows)
                    if lo < hi:
                        row_spans[pid] = (lo, hi)
    unknown = [c for c in cols if c not in schema_map]
    if unknown:
        raise KeyError(f"columns not in snapshot schema: {unknown} (have {sorted(schema_map)})")

    df = chunks_df(
        spark, snapshot_dir, as_of, since, filesystem,
        _per_snapshot_filter=_chunk_filter,
    )
    if row_spans is not None:
        if not row_spans:
            df = df.filter(F.lit(False))
        else:
            # surviving partitions as an EXPLICIT file list — stronger
            # than the old pushed IN(part_id) filter: non-surviving
            # files are never listed, opened, or footer-read, and the
            # embedded part_id (stale in verbatim-copied keepers) plays
            # no part. row_range is single-snapshot by contract, so the
            # chunks frame is exactly these files.
            df = spark.read.parquet(*[
                os.path.join(snapshot_dir, "chunks", f"part-{pid:06d}.parquet")
                for pid in sorted(row_spans)
            ]).withColumn("part_id", _filename_part_id())
    # key_range (single) and key_ranges (multi, AND-combined) normalize to
    # one predicate list; each predicate prunes partitions independently
    # (all of them in the one pruning job below), pages inside surviving
    # chunks are pruned per column, residual filters make every predicate
    # exact
    preds = list(key_ranges or [])
    if key_range:
        preds.append(key_range)
    if key_eq is not None:
        # zone maps prune equality as the degenerate range [v, v]: a
        # sorted or range-partitioned key prunes partitions AND pages
        # (binary-searched on boundary-ordered chunks) even when no
        # bloom was stored — the bloom below stays the hash-based second
        # stage. NaN is excluded: Spark equality holds NaN == NaN, but a
        # range compare would prune the NaN-bearing pages.
        import math as _math

        eqc, eqv = key_eq
        if eqv is not None and not (isinstance(eqv, float) and _math.isnan(eqv)):
            preds.append((eqc, eqv, eqv))
    if key_in is not None and key_in[1]:
        # coarse [min, max] zone-map envelope over the IN-list (exact
        # membership still enforced by bloom + residual): a clustered id
        # batch-fetch touches only the overlapping key range
        try:
            preds.append((key_in[0], min(key_in[1]), max(key_in[1])))
        except TypeError:
            pass  # unorderable/mixed values — bloom + residual only
    key_cols = [p[0] for p in preds]

    # validity predicates (IS NOT NULL / IS NULL): chunk-level skip from
    # the per-chunk null_count, page-level skip from the page_nulls index
    # (reference PageIndex null_count, src/indexes/index.rs:74-135),
    # residual filters keep the result exact
    nn_cols = [not_null] if isinstance(not_null, str) else sorted(not_null or [])
    isnull_cols = [is_null] if isinstance(is_null, str) else sorted(is_null or [])
    for c in nn_cols + isnull_cols:
        if c not in schema_map:
            raise KeyError(f"column {c} not in snapshot schema")

    # Partition pruning: every positive predicate becomes a row filter over
    # the chunk metadata that drops only its own column's failing rows; a
    # partition survives with a row left for each positive column.
    from ..plans import bloom as bloom_mod

    rows = df
    for p in preds:
        rows = prune_by_range(rows, *p)
    has_bloom = "bloom" in df.columns
    # snapshots written without bloom filters fall through to the
    # residual equality filter (a null bloom keeps its partition)
    if key_eq is not None and has_bloom:
        eq_col, eq_val = key_eq
        # the value's hash, computed by the SAME JVM function that hashed
        # the column at encode time; _typed_lit keeps datetime probes
        # session-timezone-independent (UTC instants, like the stored data)
        hv = int(
            spark.range(0, 1, 1, 1)
            .select(F.xxhash64(_typed_lit(eq_val, schema_map[eq_col])))
            .first()[0]
        )
        # a Catalyst expression: the probe never leaves the JVM
        eq_keep = bloom_mod.might_contain_col(F.col("bloom"), hv)
        rows = rows.filter((F.col("column") != eq_col) | eq_keep)
    if key_in is not None:
        # IN-list point lookup: one bloom pass with ALL the probe hashes —
        # a partition survives if ANY key might be present; the residual
        # isin filter keeps the result exact. The batch-fetch path a
        # training pipeline uses to pull N documents by id.
        in_col, in_vals = key_in
        # probe hashes via a typed probe FRAME (session-tz-independent for
        # datetime/date values, and one bounded job for any list size —
        # per-value literal columns would hit the codegen method limit);
        # the frame is reused by the residual semi-join below
        in_probe_frame = _probe_frame(spark, list(in_vals), schema_map[in_col])
        if has_bloom:
            hv_rows = in_probe_frame.select(
                F.xxhash64(F.col("__p2s_probe")).alias("h")
            ).collect()
            probes = np.array([r["h"] for r in hv_rows], dtype=np.int64).view(np.uint64)

            # N probes stay a numpy UDF: an N-probe Catalyst expression
            # would hit the same codegen limit as the probe literals
            @F.pandas_udf("boolean")
            def might_any(b: pd.Series) -> pd.Series:
                return pd.Series(
                    [
                        True if bs is None else bool(bloom_mod.might_contain(bs, probes).any())
                        for bs in b
                    ]
                )

            rows = rows.filter((F.col("column") != in_col) | might_any(F.col("bloom")))
    for c in nn_cols:
        # positive evidence required: a partition survives only when the
        # column's chunk exists with at least one non-null row — this also
        # prunes older partitions that predate the column (all-null there)
        rows = rows.filter((F.col("column") != c) | (F.col("null_count") < F.col("n_rows")))
    # negative evidence prunes IS NULL: drop partitions PROVEN null-free;
    # partitions that predate the column keep flowing (all-null there)
    veto = None
    for c in isnull_cols:
        proof = (F.col("column") == c) & (F.col("null_count") == 0)
        veto = proof if veto is None else veto | proof

    pos_cols = sorted(
        set(key_cols)
        | ({key_eq[0]} if key_eq is not None and has_bloom else set())
        | ({key_in[0]} if key_in is not None and has_bloom else set())
        | set(nn_cols)
    )
    if pos_cols or veto is not None:
        # the veto alone must still see every partition: the anchor column
        # (oldest snapshot's first column) has a chunk in each of them
        meta_cols = pos_cols + isnull_cols + ([] if pos_cols else [lin["columns"][0]])
        rows = rows.filter(F.col("column").isin(meta_cols))
        survivors = sorted({int(r[0]) for r in _survivor_frame(rows, pos_cols, veto).collect()})
        # part_id is a function of _metadata.file_name alone, so Catalyst
        # pushes this filter through the union into every snapshot's scan,
        # where Spark applies it while listing files: non-surviving chunk
        # files are never opened, and a snapshot without survivors runs no
        # scan task. SQL text, not Column.isin: isin crosses py4j once per
        # value (~50 s for 10^5 survivors), the parsed IN list once.
        ids = ", ".join(map(str, survivors))
        df = df.filter(F.expr(f"part_id IN ({ids})") if survivors else F.lit(False))

    need = sorted(
        set(cols)
        | set(key_cols)
        | ({key_eq[0]} if key_eq is not None else set())
        | ({key_in[0]} if key_in is not None else set())
        | set(nn_cols)
        | set(isnull_cols)
    )
    if "snapshots" in lin and lin["columns"]:
        # table with (possibly) evolved schema: anchor on the oldest
        # snapshot's first column so partitions that predate a newly added
        # column still produce their rows (as nulls) when only new
        # columns are projected
        need = sorted(set(need) | {lin["columns"][0]})
    meta_cols = ["part_id", "column", "payload", "page_mins", "page_maxs", "page_rows"]
    if "bounds_order" in df.columns:  # absent in pre-r3 snapshots
        meta_cols.append("bounds_order")
    if "page_nulls" in df.columns:  # absent in pre-r4 snapshots
        meta_cols.append("page_nulls")
    df = df.filter(F.col("column").isin(need)).select(*meta_cols)

    # the exact arrow types Spark expects back — Spark's Arrow exchange
    # carries TimestampType as tz-aware UTC regardless of
    # spark.sql.session.timeZone (the session tz only affects rendering),
    # and blob stores UTC-epoch micros, so the cast is value-preserving.
    # Struct types are pruned to the selected fields here so the UDF's
    # output schema and the blob-level field_filter agree.
    session_tz = "UTC"
    from ..schema import spark_type_to_pa

    ddl_full = ", ".join(f"`{c}` {schema_map[c]}" for c in need)
    stype = spark.createDataFrame([], ddl_full).schema
    if field_sel:
        from pyspark.sql import types as T

        def _prune_struct(st: "T.StructType", sel: set) -> "T.StructType":
            have = {sf.name for sf in st.fields}
            missing = sel - have
            if missing:
                raise KeyError(f"struct has no fields {sorted(missing)}")
            return T.StructType([sf for sf in st.fields if sf.name in sel])

        pruned = []
        for f in stype.fields:
            if f.name in field_sel:
                dt = f.dataType
                if isinstance(dt, T.StructType):
                    dt = _prune_struct(dt, field_sel[f.name])
                elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
                    dt = T.ArrayType(
                        _prune_struct(dt.elementType, field_sel[f.name]),
                        dt.containsNull,
                    )
                elif isinstance(dt, T.MapType) and isinstance(dt.valueType, T.StructType):
                    # map VALUE struct projection: "col.field" on a
                    # map<k, struct<...>> keeps the keys and prunes the
                    # value struct to the selected fields (the reference's
                    # get_field_columns walks ANY group type the same way,
                    # reference/src/read/mod.rs:70-77)
                    dt = T.MapType(
                        dt.keyType,
                        _prune_struct(dt.valueType, field_sel[f.name]),
                        dt.valueContainsNull,
                    )
                else:
                    raise TypeError(
                        f"{f.name} is not a struct, array<struct> or "
                        f"map<_, struct> — cannot project fields"
                    )
                f = T.StructField(f.name, dt, f.nullable)
            pruned.append(f)
        stype = T.StructType(pruned)
    out_schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in stype.fields)
    expected_pa = {f.name: spark_type_to_pa(f.dataType, ts_tz=session_tz) for f in stype.fields}
    # page zone maps store _jstat units (micros/days; bytes as utf-8 text)
    # — normalize the bounds once so the page compare is unit-correct
    def _page_bound(v):
        v = _zone_bound(v)
        return v.decode("utf-8", "replace") if isinstance(v, (bytes, bytearray)) else v

    krs = [(p[0], _page_bound(p[1]), _page_bound(p[2])) for p in preds]
    # decode metrics (read back after an action via df.p2s_decode_metrics):
    # pages decoded vs pages skipped by the page-level indexes — the
    # observable evidence that pruning is physical, not just a row filter
    acc_pages_read = spark.sparkContext.accumulator(0)
    acc_pages_skipped = spark.sparkContext.accumulator(0)

    def rebuild(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        names = tbl.column("column").to_pylist()
        payloads = tbl.column("payload").to_pylist()

        # page-level zone maps: inside surviving chunks, skip whole pages
        # whose [min,max] misses the key range (pages are row-aligned
        # across a partition's columns, so the same subset keeps columns
        # consistent) — the IndexedPageReader/select_pages analog.
        page_keep = None
        has_order = "bounds_order" in tbl.schema.names
        for kcol, lo, hi in krs:
            if kcol not in names:
                continue  # column absent in this (older) partition
            idx = names.index(kcol)
            mins = json.loads(tbl.column("page_mins")[idx].as_py())
            maxs = json.loads(tbl.column("page_maxs")[idx].as_py())
            order = tbl.column("bounds_order")[idx].as_py() if has_order else None
            keep = _page_keep_for_range(mins, maxs, lo, hi, order)
            # AND across predicates: a page must survive every range
            page_keep = keep if page_keep is None else (page_keep & keep)

        # page-level null index: an IS NOT NULL predicate skips all-null
        # pages, IS NULL skips null-free pages (pre-r4 snapshots carry no
        # page_nulls — chunk-level prune + residual stay correct)
        if "page_nulls" in tbl.schema.names and (nn_cols or isnull_cols):
            for c in nn_cols + isnull_cols:
                if c not in names:
                    continue
                idx = names.index(c)
                pn_raw = tbl.column("page_nulls")[idx].as_py()
                if pn_raw is None:
                    continue  # chunk written before the null index existed
                pn = json.loads(pn_raw)
                pr = json.loads(tbl.column("page_rows")[idx].as_py())
                if c in nn_cols:
                    keep = {i for i, (k, r) in enumerate(zip(pn, pr)) if k < r}
                else:
                    keep = {i for i, k in enumerate(pn) if k > 0}
                page_keep = keep if page_keep is None else (page_keep & keep)

        n_pages_part = 0
        if names:
            n_pages_part = len(json.loads(tbl.column("page_rows")[0].as_py()))
        if page_keep is None:
            acc_pages_read.add(n_pages_part)
        else:
            kept = len(page_keep & set(range(n_pages_part)))
            acc_pages_read.add(kept)
            acc_pages_skipped.add(n_pages_part - kept)

        span = None
        if row_spans is not None:
            pid = int(tbl.column("part_id")[0].as_py())
            span = row_spans[pid]

        arrays = {}
        for name, payload in zip(names, payloads):
            ff = field_sel.get(name)
            if span is not None:
                # page offset index selects overlapping pages; residual
                # slice applied per page — never decodes outside the span
                arrays[name] = blob.decode_chunk_rows(
                    payload, span[0], span[1] - span[0], field_filter=ff,
                    combine=False,
                )
            elif page_keep is None:
                arrays[name] = blob.decode_chunk(
                    payload, field_filter=ff, combine=False
                )
            else:
                parts = [
                    a
                    for _, a in blob.iter_chunk_pages(
                        payload, page_filter=lambda i, fr: i in page_keep, field_filter=ff
                    )
                    if a is not None
                ]
                if not parts:
                    arrays[name] = None
                else:
                    arrays[name] = blob.chunk_pages(parts)
        if any(a is None for a in arrays.values()):
            # all pages pruned → typed 0-row table
            arrays = {c: pa.array([], type=expected_pa[c]) for c in need}
        n = len(next(iter(arrays.values()))) if arrays else 0
        cols = []
        for c in need:
            if c not in arrays:
                # column added by a later snapshot (additive schema
                # evolution): this older partition reads it as all-null
                arrays[c] = pa.nulls(n, expected_pa[c])
            a = arrays[c]
            # pages stay CHUNKED end-to-end: pa.table accepts per-column
            # chunk layouts and the Arrow IPC exchange back to Spark
            # slices record batches at chunk boundaries zero-copy — the
            # old combine_chunks() here re-copied every decoded byte
            if len(a) != n:
                raise ValueError(f"column {c} row mismatch {len(a)} != {n}")
            if not a.type.equals(expected_pa[c]):
                # recursive, storage-preserving: naive→tz-aware timestamps
                # (assumed UTC, matching blob's epoch-micros storage),
                # large_string→string, nested children included
                a = a.cast(expected_pa[c])
            cols.append(a)
        return pa.table(dict(zip(need, cols)))

    # EXCHANGE-FREE rebuild (guide §2.4): every chunk file is one
    # partition's rows and one parquet row group (writers emit ≤ ~30
    # rows/file), so a file can never split across scan tasks and a
    # partition's chunk rows arrive CONTIGUOUS in the scan stream — the
    # scan carries no join (partition pruning picked the files it reads)
    # and part_id is constant per file. Splitting the stream at part_id
    # boundaries therefore feeds rebuild() exactly the groups a
    # groupBy(part_id) exchange would build, without shuffling the
    # payload bytes at all (measured: the groupBy plan shuffled every
    # surviving payload byte once and AQE then coalesced the
    # tiny-by-bytes exchange to 1-3 tasks, serializing the decode UDF
    # behind it). iter_key_runs raises if a part_id ever arrives split.
    def rebuild_stream(batches):
        from .encode_job import iter_key_runs

        for tbl in iter_key_runs(batches, "part_id"):
            yield from rebuild(tbl).to_batches()

    out = df.mapInArrow(rebuild_stream, out_schema)
    # the key column rides along for pruning; drop it unless requested.
    # Residual equality filters go through _typed_lit for the same
    # session-tz reason as the bloom probes above.
    if key_eq is not None:
        out = out.filter(F.col(key_eq[0]) == _typed_lit(key_eq[1], schema_map[key_eq[0]]))
    if key_in is not None:
        import datetime as _dt

        in_col, in_vals = key_in
        in_ddl = schema_map[in_col]
        if in_ddl.startswith("timestamp") or in_ddl == "date" or any(
            isinstance(v, (_dt.date, _dt.datetime)) for v in in_vals
        ):
            # residual via broadcast semi-join on the SAME typed probe
            # frame the bloom pass hashed — session-tz-safe like
            # _typed_lit, O(1) expression depth (an N-deep Or tree of
            # typed literals fails codegen for large batch-fetch lists),
            # and unit-correct for epoch-int probes (isin would read an
            # int against a timestamp column as SECONDS)
            pf = in_probe_frame
            out = out.join(
                F.broadcast(pf), out[in_col] == pf["__p2s_probe"], "left_semi"
            )
        else:
            out = out.filter(F.col(in_col).isin(list(in_vals)))
    for pcol, lo, hi in preds:
        # residual row filters: zone maps prune at chunk/page granularity,
        # these make every range exact (not a page-aligned superset)
        ddl = schema_map[pcol]

        def _bound(v, ddl=ddl):
            # ints against timestamp/date columns mean micros/days (the
            # zone-map storage units) — type the literal to match. Naive
            # datetimes are UTC instants everywhere in this engine (the
            # zone maps store UTC micros); F.lit(naive_datetime) would be
            # read in the SESSION timezone instead, silently shifting the
            # residual window — route through the same micros conversion.
            import datetime as _dt

            if isinstance(v, (_dt.date, _dt.datetime)):
                return _typed_lit(v, ddl)
            if isinstance(v, bool) or not isinstance(v, int):
                return F.lit(v)
            if ddl == "timestamp":
                return F.timestamp_micros(F.lit(v))
            if ddl == "timestamp_ntz":
                return _ntz_lit(v)
            if ddl == "date":
                return F.date_from_unix_date(F.lit(v))
            return F.lit(v)

        if lo is not None:
            out = out.filter(F.col(pcol) >= _bound(lo))
        if hi is not None:
            out = out.filter(F.col(pcol) <= _bound(hi))
    for c in nn_cols:
        out = out.filter(F.col(c).isNotNull())
    for c in isnull_cols:
        out = out.filter(F.col(c).isNull())
    out = out.select(*cols)
    # decode metrics ride on the result (read after an action):
    # {"pages_read": acc, "pages_skipped": acc} — accumulator .value
    out.p2s_decode_metrics = {
        "pages_read": acc_pages_read,
        "pages_skipped": acc_pages_skipped,
    }
    return out
