"""Bloom filter unit props: the bounds the partitioned seen-store relies on."""

import numpy as np

from apollo_service_spark.operators.bloom import BloomFilter, hash_columns


def _url_hashes(spark, urls):
    """(h1, h2) numpy arrays from the JVM-side url hash pair the seen store
    persists (bloom.hash_columns)."""
    from pyspark.sql import functions as F

    h1, h2 = hash_columns(F.col("url"))
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select(h1.alias("h1"), h2.alias("h2"))
        .collect()
    )
    return (
        np.array([r["h1"] for r in rows], dtype=np.int64),
        np.array([r["h2"] for r in rows], dtype=np.int64),
    )


def test_bloom_no_false_negatives(spark):
    urls = [f"https://h{i % 7}.com/p{i}" for i in range(2000)]
    bloom = BloomFilter.empty(2000, 0.01)
    bloom.add_batch(*_url_hashes(spark, urls))
    # every true member must be flagged maybe-seen (bloom cannot miss)
    assert bloom.might_contain(*_url_hashes(spark, urls[:500])).all()


def test_bloom_fpp_reasonable(spark):
    bloom = BloomFilter.empty(5000, 0.01)
    bloom.add_batch(*_url_hashes(spark, [f"https://h/{i}" for i in range(5000)]))
    probe = _url_hashes(spark, [f"https://other/{i}" for i in range(5000)])
    fp = int(bloom.might_contain(*probe).sum())
    assert fp / 5000 < 0.05  # generous bound on the 1% target


def test_bloom_local_roundtrip():
    bloom = BloomFilter.empty(1000, 0.01)
    h1 = np.arange(100, dtype=np.int64) * 2654435761
    h2 = np.arange(100, dtype=np.int64) * 40503 + 7
    bloom.add_batch(h1, h2)
    assert bloom.might_contain(h1, h2).all()
