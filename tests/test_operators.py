"""Spark operator tests: roundtrip, dedup, similarity, textstats, bloom,
bucket stats — on small deterministic frames."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet2_spark.functions.selector import DELTA, DICT, FSST
from parquet2_spark.operators import dedup, similarity, textstats
from parquet2_spark.operators.roundtrip import roundtrip
from parquet2_spark.operators.stats_query import bloom_build, bloom_probe, bucket_stats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today", "en"),  # near dup
        (3, "der schnelle braune fuchs springt über den faulen hund und der", "de"),
        (4, "completely different content about spark and columnar encodings", "en"),
        (5, "", "en"),
    ] + [(i, f"unique filler document number {i} with shared boilerplate words", "en") for i in range(6, 40)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string").cache()


def test_roundtrip_forced_codecs(spark, docs):
    out = roundtrip(docs, {"text": FSST, "lang": DICT}).orderBy("doc_id").collect()
    src = docs.orderBy("doc_id").collect()
    assert out == src


def test_roundtrip_delta_ts(spark):
    df = spark.range(1000).select(
        F.col("id"), F.timestamp_micros(F.col("id") * 1000000 + 1700000000000000).alias("ts")
    )
    out = roundtrip(df, {"ts": DELTA}).orderBy("id").collect()
    assert out == df.orderBy("id").collect()


def test_dedup_exact(spark, docs):
    kept = dedup.exact(docs).select("doc_id").toPandas()["doc_id"].tolist()
    assert 0 in kept and 1 not in kept  # doc 1 is the exact dup
    assert len(kept) == docs.count() - 1


def test_dedup_minhash_finds_near_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, bands=32, num_hashes=64).toPandas()
    got = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    assert (0, 1) in got  # exact dup always collides
    assert (0, 2) in got or (1, 2) in got  # near dup should band-collide
    ej = pairs.set_index(["id_a", "id_b"])["est_jaccard"]
    assert ej.loc[(0, 1)] == 1.0


def test_ngram_jaccard_verifies_pairs(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, bands=32, num_hashes=64)
    verified = dedup.ngram_jaccard(docs, pairs.select("id_a", "id_b"), n=2).toPandas()
    v = verified.set_index(["id_a", "id_b"])["jaccard"]
    assert v.loc[(0, 1)] == 1.0
    if (0, 2) in v.index:
        assert 0.2 < v.loc[(0, 2)] < 1.0


def test_shingle_hash_batch_matches_per_doc():
    texts = ["hello world", "a", "", "ab", "the quick brown fox", "x" * 3, "yyyyy"]
    nonempty = [t for t in texts if t]
    h, starts = dedup._shingle_hash_batch(nonempty, 5)
    bounds = np.append(starts, len(h))
    for j, t in enumerate(nonempty):
        ref = dedup._shingle_hashes(t, 5)
        assert np.array_equal(h[bounds[j]:bounds[j + 1]], ref), t


def test_simhash_close_for_near_dups(spark, docs):
    sigs = dedup.simhash_signatures(docs).toPandas().set_index("doc_id")["simhash"]
    assert sigs.loc[0] == sigs.loc[1]
    ham_near = bin(int(sigs.loc[0]) ^ int(sigs.loc[2])).count("1")
    ham_far = bin(int(sigs.loc[0]) ^ int(sigs.loc[4])).count("1")
    assert ham_near < ham_far


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    base[7] = base[3] * 1.001 + 0.001  # near-dup pair (3, 7)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_brute_force_topk_self_first(spark, vectors):
    qs = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.brute_force_topk(vectors, qs, k=3).toPandas()
    first = top[top["rank"] == 1].set_index("query_id")["vec_id"]
    assert all(first.loc[q] == q for q in range(3))  # self is rank 1

def test_ivf_recall_on_near_dup(spark, vectors):
    qs = vectors.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.ivf_topk(vectors, qs, k=2, n_buckets=4, n_probe=2).toPandas()
    assert set(top["vec_id"]) == {3, 7}  # near-dup lands in same coarse bucket


def test_embedding_near_dup(spark, vectors):
    pairs = dedup.embedding_near_dup(vectors, threshold=0.99).toPandas()
    assert {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])} >= {(3, 7)}


def test_quality_metrics_jvm_only(spark, docs):
    out = textstats.quality_metrics(docs).filter(F.col("doc_id") == 0).collect()[0]
    assert out["n_tokens"] == 9
    assert out["stopword_ratio"] == pytest.approx(2 / 9)
    empty = textstats.quality_metrics(docs).filter(F.col("doc_id") == 5).collect()[0]
    assert empty["n_tokens"] == 0 and empty["punct_ratio"] == 0.0


def test_lang_id_heuristic(spark, docs):
    out = textstats.lang_id(docs).filter(F.col("doc_id").isin(0, 3)).toPandas()
    pred = out.set_index("doc_id")["lang_pred"]
    assert pred.loc[0] == "en"
    assert pred.loc[3] == "de"


def test_bloom_spark_roundtrip(spark, docs):
    bits = bloom_build(docs, "doc_id", n_blocks=8)
    probe = bloom_probe(spark, docs.select("doc_id"), "doc_id", bits).toPandas()
    assert probe["might_contain"].all()


def test_bucket_stats_matches_sql(spark, docs):
    got = (
        bucket_stats(docs, F.pmod(F.col("doc_id"), F.lit(4)), "text", "string")
        .orderBy("bucket")
        .toPandas()
    )
    want = (
        docs.groupBy(F.pmod(F.col("doc_id"), F.lit(4)).alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("text").alias("min_v"),
            F.max("text").alias("max_v"),
        )
        .orderBy("bucket")
        .toPandas()
    )
    assert got["n_rows"].tolist() == want["n_rows"].tolist()
    assert got["min_v"].tolist() == want["min_v"].tolist()
    assert got["max_v"].tolist() == want["max_v"].tolist()


def test_bucket_stats_hot_bucket_streams_partials(spark):
    """One mega-bucket spanning many Arrow batches (maxRecordsPerBatch=1000
    in conftest): the partial→final shape must produce exact stats without
    ever materializing the bucket as one frame, and nullable + timestamp
    values must survive the partial typing."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base + dt.timedelta(seconds=i) if i % 7 else None) for i in range(5000)
    ] + [(1, base - dt.timedelta(seconds=i)) for i in range(500)]
    df = spark.createDataFrame(rows, "b long, ts timestamp").repartition(3)
    got = {
        r["bucket"]: r
        for r in bucket_stats(df, F.col("b"), "ts", "timestamp").collect()
    }
    assert got[0]["n_rows"] == 5000
    assert got[0]["null_count"] == len([i for i in range(5000) if i % 7 == 0])
    assert got[0]["min_v"] == base + dt.timedelta(seconds=1)
    assert got[0]["max_v"] == base + dt.timedelta(seconds=4999)
    assert got[1]["min_v"] == base - dt.timedelta(seconds=499)
    assert got[1]["max_v"] == base
