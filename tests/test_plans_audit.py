"""Physical-plan audit (PLANS.md): the scale-critical plan properties are
asserted, not just claimed — pushdown at the scan, broadcast of small
sides, no payload columns in projected ReadSchema."""

from __future__ import annotations

import contextlib
import io
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job, dedup
from parquet2_spark.operators.encode_job import EncodeConfig, encode, plan_partitions
from parquet2_spark.sources import webgen


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def snap(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_snap"))
    encode(spark, webgen.webpages_df(spark, 4000, partitions=4), d,
           EncodeConfig(target_rows=1000, page_rows=200))
    return d


def test_encode_planner_broadcasts_hot_hosts(spark):
    # hot-host salting must never shuffle the data: when hot hosts exist
    # the (eagerly collected) hot table joins as a BROADCAST literal;
    # when none exist (this 4-host input, r6) the join vanishes from the
    # plan entirely — either way no shuffle-side join is acceptable
    df = webgen.webpages_df(spark, 4000, partitions=4)
    planned, _ = plan_partitions(df, EncodeConfig(target_rows=1000))
    plan = _explain(planned)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    if "Join" in plan:
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # a SKEWED input (one hot host) must still produce the broadcast join
    hot_df = webgen.webpages_df(spark, 4000, partitions=4).withColumn(
        "url", F.concat(F.lit("https://hot.example.com/"), F.col("url"))
    )
    planned2, _ = plan_partitions(hot_df, EncodeConfig(target_rows=1000))
    plan2 = _explain(planned2)
    assert "BroadcastHashJoin" in plan2 or "BroadcastNestedLoopJoin" in plan2


def test_decode_projection_pushes_column_filter(spark, snap):
    plan = _explain(decode_job.decode(spark, snap, columns=["url"]))
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(column,url\)", plan)
    # stats/bloom columns pruned from the projected scan's ReadSchema
    rs = re.search(r"ReadSchema: [^\n]*", plan).group(0)
    assert "bloom" not in rs and "min_bin" not in rs


class _PruneSpy:
    """Records the partition-pruning query of every decode() call."""

    def __init__(self, monkeypatch):
        self.frames = []
        real = decode_job._survivor_frame

        def spy(*args, **kwargs):
            self.frames.append(real(*args, **kwargs))
            return self.frames[-1]

        monkeypatch.setattr(decode_job, "_survivor_frame", spy)

    def survivors(self) -> list[int]:
        assert len(self.frames) == 1, "exactly one pruning query per decode"
        return sorted({int(r[0]) for r in self.frames[0].collect()})


def _python_evals(plan: str) -> int:
    return len(re.findall(r"\b(?:ArrowEvalPython|BatchEvalPython)\b", plan))


def test_key_range_pushes_zone_map_filters_to_scan(spark, snap, monkeypatch):
    spy = _PruneSpy(monkeypatch)
    out = decode_job.decode(spark, snap, key_range=("url", "https://host001", "https://host004"))
    survivors = spy.survivors()
    assert survivors
    prune_plan = _explain(spy.frames[0])
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", prune_plan))
    assert "max_bin" in pushed and "min_bin" in pushed  # zone maps AT the scan
    # the pruning job reads metadata only
    assert all("payload" not in rs for rs in re.findall(r"ReadSchema: [^\n]*", prune_plan))
    # the data scan keeps only the survivors' files, picked by a filter on
    # the file name (applied while Spark lists files), and joins nothing
    plan = _explain(out)
    ids = ",".join(str(p) for p in survivors)
    assert re.search(r"Condition : [^\n]*_metadata#\d+\.file_name[^\n]* IN \(" + ids + r"\)", plan)
    assert "Join" not in plan


def test_lsh_census_broadcast_and_smj_candidates(spark):
    docs = spark.createDataFrame(
        [(i, f"text number {i} with words {i * 3}") for i in range(300)],
        "doc_id long, text string",
    )
    plan = _explain(dedup.minhash_lsh_pairs(docs))
    assert "BroadcastHashJoin" in plan  # hot-bucket census
    assert "SortMergeJoin" in plan  # big-big candidate self-join


# ------------------------------------------------------------ partition pruning
# decode() prunes partitions in ONE metadata query (_survivor_frame) and
# scans only the surviving files. The oracle below is the plan this
# replaced: one broadcast semijoin (anti-join for IS NULL) per predicate.


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """Two snapshots: the first has url/k blooms and 4 range partitions of
    k (y null-free in partition 0, mixed in 2, all-null in 1 and 3); the
    second is bloomless, adds column z and has 2 partitions (z all-null in
    the first, null-free in the second)."""
    from parquet2_spark.operators import table

    tdir = str(tmp_path_factory.mktemp("prune_tbl"))

    def cfg(parts, blooms):
        return EncodeConfig(target_rows=100, page_rows=25, sort_by="k", key="k",
                            host_from_key=False, partition_column="_p",
                            num_partitions=parts, bloom_columns=blooms)

    k = F.col("id")
    y = F.when((k < 100) | ((k >= 200) & (k < 300) & (k % 2 == 0)), k * 3)
    b1 = spark.range(400).select(
        k.alias("k"), F.format_string("u%05d", k).alias("url"), y.alias("y"),
        F.floor(k / 100).alias("_p"),
    )
    table.append(spark, b1, tdir, cfg(4, ("url", "k")))
    b2 = spark.range(400, 600).select(
        k.alias("k"), F.format_string("v%05d", k).alias("url"), (k * 3).alias("y"),
        F.when(k >= 500, k).alias("z"), F.floor((k - 400) / 100).alias("_p"),
    )
    table.append(spark, b2, tdir, cfg(2, ()))
    return tdir


def _semijoin_oracle(spark, tdir, key_eq=None, key_in=None, key_range=None,
                     key_ranges=None, not_null=None, is_null=None) -> list[int]:
    from parquet2_spark.plans import bloom as bloom_mod

    ddl = decode_job.lineage(tdir)["schema"]
    df = decode_job.chunks_df(spark, tdir)
    preds = list(key_ranges or []) + ([key_range] if key_range else [])
    if key_eq is not None and key_eq[1] is not None:
        preds.append((key_eq[0], key_eq[1], key_eq[1]))
    if key_in is not None:
        preds.append((key_in[0], min(key_in[1]), max(key_in[1])))
    for pcol, lo, hi in preds:
        keyed = decode_job.prune_by_range(df.filter(F.col("column") == pcol), pcol, lo, hi)
        df = df.join(F.broadcast(keyed.select("part_id").distinct()), "part_id")
    for probe in (key_eq and (key_eq[0], [key_eq[1]]), key_in):
        if not probe:
            continue
        col, vals = probe
        hashes = spark.createDataFrame([(v,) for v in vals], f"v {ddl[col]}").select(
            F.xxhash64("v")).collect()
        hv = np.array([r[0] for r in hashes], dtype=np.int64).view(np.uint64)

        @F.pandas_udf("boolean")
        def might(b: pd.Series) -> pd.Series:
            return pd.Series([bs is None or bool(bloom_mod.might_contain(bs, hv).any()) for bs in b])

        keyed = df.filter(F.col("column") == col).filter(might(F.col("bloom")))
        df = df.join(F.broadcast(keyed.select("part_id").distinct()), "part_id")
    as_list = lambda c: [c] if isinstance(c, str) else list(c or [])  # noqa: E731
    for c in as_list(not_null):
        keep = df.filter((F.col("column") == c) & (F.col("null_count") < F.col("n_rows")))
        df = df.join(F.broadcast(keep.select("part_id").distinct()), "part_id")
    for c in as_list(is_null):
        proven = df.filter((F.col("column") == c) & (F.col("null_count") == 0))
        df = df.join(F.broadcast(proven.select("part_id").distinct()), "part_id", "left_anti")
    return sorted(r[0] for r in df.select("part_id").distinct().collect())


_PRUNE_CASES = [
    {"key_eq": ("url", "u00150")},
    {"key_eq": ("url", "v00450")},  # bloomless snapshot: zone maps only
    {"key_eq": ("url", "absent")},
    {"key_eq": ("url", None)},
    {"key_eq": ("k", 123)},
    {"key_in": ("url", ["u00010", "u00390", "v00555", "nope"])},
    {"key_in": ("k", [5, 450])},
    {"key_range": ("k", 150, 420)},
    {"key_ranges": [("k", 0, 450), ("url", "u00100", "v00500")]},
    {"not_null": "y"},
    {"not_null": "z"},  # snapshot 1 predates z: pruned
    {"is_null": "z"},  # snapshot 1 predates z: kept
    {"is_null": ["y", "z"]},
    {"key_range": ("k", 0, 250), "is_null": "y"},
    {"key_eq": ("url", "u00250"), "not_null": "y"},
    {"key_in": ("url", ["u00050", "v00520"]), "is_null": "z", "not_null": "y"},
]


@pytest.mark.parametrize("case", _PRUNE_CASES, ids=lambda c: "-".join(sorted(c)))
def test_survivors_match_semijoin_oracle(spark, evolved, monkeypatch, case):
    spy = _PruneSpy(monkeypatch)
    decode_job.decode(spark, evolved, **case)
    assert spy.survivors() == _semijoin_oracle(spark, evolved, **case)


def test_key_eq_lookup_is_jvm_only_and_scans_survivors(spark, evolved, monkeypatch):
    spy = _PruneSpy(monkeypatch)
    out = decode_job.decode(spark, evolved, key_eq=("url", "u00150"))
    survivors = spy.survivors()
    assert len(survivors) == 1
    for plan in (_explain(spy.frames[0]), _explain(out)):
        assert _python_evals(plan) == 0
        assert "Join" not in plan
    sc = spark.sparkContext
    group = "p2s-lookup-scan"
    sc.setJobGroup(group, group)
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [r["k"] for r in rows] == [150]
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()
    stages = {s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds}
    tasks = sum(tracker.getStageInfo(s).numTasks for s in stages)
    assert tasks == len(survivors)  # of 6 chunk files, only the survivor's
