"""Split-block bloom filter unit tests (reference src/bloom_filter parity)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet2_spark.plans import bloom

RNG = np.random.default_rng(11)


def test_no_false_negatives():
    keys = RNG.integers(0, 1 << 63, size=5000).astype(np.uint64)
    bits = bloom.build(keys, fpp=0.01)
    assert bloom.might_contain(bits, keys).all()


def test_false_positive_rate_reasonable():
    keys = RNG.integers(0, 1 << 62, size=10000).astype(np.uint64)
    other = RNG.integers(1 << 62, 1 << 63, size=10000).astype(np.uint64)
    bits = bloom.build(keys, fpp=0.01)
    fp = bloom.might_contain(bits, other).mean()
    assert fp < 0.05, fp


def test_definitely_absent_is_definite():
    keys = np.array([1, 2, 3], dtype=np.uint64)
    bits = bloom.build(keys, n_blocks=4)
    probe = np.arange(1000, dtype=np.uint64)
    got = bloom.might_contain(bits, probe)
    assert got[1] and got[2] and got[3]


def test_sizing_monotone():
    assert bloom.optimal_num_blocks(100) <= bloom.optimal_num_blocks(100_000)
    assert bloom.optimal_num_blocks(0) == 1


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=1, max_size=400),
        st.integers(min_value=1, max_value=64),
    )
    @settings(max_examples=200, deadline=None)
    def test_property_never_false_negative(keys, n_blocks):
        h = np.array(keys, dtype=np.uint64)
        bits = bloom.build(h, n_blocks=n_blocks)
        assert bloom.might_contain(bits, h).all()

except ImportError:  # pragma: no cover
    pass


def test_bloom_build_tree_merge_matches_flat(spark):
    from parquet2_spark.operators.stats_query import bloom_build, bloom_probe

    df = spark.range(5000).select(F.concat(F.lit("k"), F.col("id")).alias("key")).repartition(20)
    flat = bloom_build(df, "key", n_blocks=64, fanin=1000)   # driver merge only
    tree = bloom_build(df, "key", n_blocks=64, fanin=4)      # executor OR level
    assert flat == tree
    probes = spark.createDataFrame([("k17",), ("absent-key",)], "key string")
    got = {r["key"]: r["might_contain"] for r in bloom_probe(spark, probes, "key", tree).collect()}
    assert got["k17"] is True


# ---------------------------------------------------------------- JVM probe
# ``might_contain_col`` is the Catalyst twin of ``might_contain`` that the
# key_eq partition prune evaluates: it must agree bit for bit, including
# odd block counts (non-power-of-two) and blooms past 2^12 blocks, and a
# null bloom means keep.

_PARITY_BLOCKS = (1, 3, 7, 65, 4097)


@pytest.fixture(scope="module")
def parity_blooms(spark):
    rng = np.random.default_rng(5)
    keys, blooms = {}, []
    for nb in _PARITY_BLOCKS:
        # 64 keys per block: about a third of random probes hit, so the
        # parity checks see both answers
        k = rng.integers(-(1 << 63), (1 << 63) - 1, size=64 * nb, dtype=np.int64)
        keys[nb] = k
        blooms.append(bloom.build(k.view(np.uint64), n_blocks=nb))
    df = spark.createDataFrame([(b,) for b in blooms] + [(None,)], "bloom binary").cache()
    return df, blooms, keys


def _jvm_probe(df, hashes):
    """rows × hashes membership matrix evaluated by Spark (a few hashes
    per select keeps each projection inside the codegen method limit)."""
    out = [[] for _ in range(df.count())]
    for s in range(0, len(hashes), 8):
        part = hashes[s:s + 8]
        got = df.select(
            *[bloom.might_contain_col(F.col("bloom"), h).alias(f"h{i}") for i, h in enumerate(part)]
        ).collect()
        for row, r in zip(out, got):
            row.extend(r[f"h{i}"] for i in range(len(part)))
    return out


def _numpy_probe(blooms, hashes):
    probe = np.array(hashes, dtype=np.int64).view(np.uint64)
    return [[bool(x) for x in bloom.might_contain(b, probe)] for b in blooms] + [[True] * len(hashes)]


def test_jvm_probe_edges_match_numpy(parity_blooms):
    df, blooms, _ = parity_blooms
    edges = [0, 1, -1, -(1 << 63), (1 << 63) - 1, 1 << 32, (1 << 32) - 1, -(1 << 32)]
    rng = np.random.default_rng(6)
    hashes = edges + [int(h) for h in rng.integers(-(1 << 63), (1 << 63) - 1, size=40, dtype=np.int64)]
    want = _numpy_probe(blooms, hashes)
    assert _jvm_probe(df, hashes) == want
    assert 0 < sum(map(sum, want[:-1])) < len(blooms) * len(hashes)  # both answers seen


def test_jvm_probe_never_false_negative(parity_blooms):
    df, blooms, keys = parity_blooms
    for i, nb in enumerate(_PARITY_BLOCKS):
        members = [int(k) for k in keys[nb][:8]]
        got = _jvm_probe(df, members)
        assert all(got[i]), nb  # every key built into bloom i is found
        assert all(got[-1])  # the null bloom keeps


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # the 1-block bloom's keys (the fixture's first draw from the same seed)
    _MEMBERS = [int(k) for k in np.random.default_rng(5).integers(
        -(1 << 63), (1 << 63) - 1, size=64, dtype=np.int64)]

    @given(st.lists(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)
                    | st.sampled_from(_MEMBERS), min_size=1, max_size=16))
    @settings(max_examples=12, deadline=None)
    def test_property_jvm_probe_matches_numpy(parity_blooms, hashes):
        df, blooms, _ = parity_blooms
        assert _jvm_probe(df, hashes) == _numpy_probe(blooms, hashes)

except ImportError:  # pragma: no cover
    pass
