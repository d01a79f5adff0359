"""``encode_job.iter_key_runs``: the one splitter behind the encode and
decode plans, on plain Arrow batches (no Spark)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from parquet2_spark.operators.encode_job import iter_key_runs


def _batch(keys, vals=None):
    vals = list(range(len(keys))) if vals is None else vals
    return pa.record_batch({"k": pa.array(keys, pa.int64()), "v": pa.array(vals, pa.int64())})


def _runs(batches):
    return [
        (t.column("k").to_pylist(), t.column("v").to_pylist())
        for t in iter_key_runs(batches, "k")
    ]


def test_run_spanning_batches_is_one_group():
    got = _runs([_batch([1, 1], [0, 1]), _batch([1, 2], [2, 3]), _batch([2, 3], [4, 5])])
    assert got == [([1, 1, 1], [0, 1, 2]), ([2, 2], [3, 4]), ([3], [5])]


def test_empty_batches_are_skipped():
    empty = _batch([])
    got = _runs([empty, _batch([4, 4]), empty, _batch([4, 5]), empty])
    assert [k for k, _ in got] == [[4, 4, 4], [5]]
    assert _runs([empty, empty]) == []
    assert _runs([]) == []


def test_reappearing_key_raises():
    with pytest.raises(ValueError, match="k=1"):
        _runs([_batch([1, 1, 2, 1])])
    with pytest.raises(ValueError, match="k=1"):
        _runs([_batch([1, 1]), _batch([2]), _batch([1])])


def test_slices_share_the_input_buffers():
    rb = _batch([7] * 5 + [8] * 3)
    first, second = iter_key_runs([rb], "k")
    base = rb.column("v").buffers()[1].address
    assert first.column("v").chunk(0).buffers()[1].address == base
    assert second.num_rows == 3
