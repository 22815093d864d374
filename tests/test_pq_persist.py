"""Persisted PQ codebook (the IVF persisted-index pattern applied to PQ):
the train/search split must round-trip through the parquet sink with zero
value drift, and the composed halves reproduce pq_kmeans_topk."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ppdb_parser_spark.operators.similarity import (
    pq_build_codebook,
    pq_codes_from_codebook,
    pq_encode,
    pq_kmeans_topk,
    pq_search_codebook,
    pq_topk,
)
from ppdb_parser_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_codebook_shape(spark):
    e = load_table(spark, SF, "embeddings")
    cb = pq_build_codebook(e, 16, 8, dim=64).collect()
    # ≤ m·n_centroids entries (empty clusters drop out), 8-dim subvectors
    assert 0 < len(cb) <= 16 * 8
    assert all(len(r.cvec) == 8 for r in cb)
    assert {r.s for r in cb} == set(range(8))


def test_split_composition_equals_pq_kmeans_topk(spark):
    e = load_table(spark, SF, "embeddings")
    composed = pq_search_codebook(
        e,
        pq_build_codebook(e, 16, 8, dim=64),
        probe_id=1,
        k=10,
        rerank=50,
        dim=64,
        m=8,
    )
    assert _rows(composed) == _rows(
        pq_kmeans_topk(e, probe_id=1, n_centroids=16, m=8, k=10, rerank=50, dim=64)
    )


def test_persisted_search_equals_fresh(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    cb = pq_build_codebook(e, 16, 8, dim=64)
    path = os.path.join(str(tmp_path), "pq_idx")
    cb.write.mode("overwrite").parquet(path)
    loaded = spark.read.parquet(path)
    assert {(r.s, r.c): r.cvec for r in loaded.collect()} == {
        (r.s, r.c): r.cvec for r in cb.collect()
    }
    fresh = pq_search_codebook(e, cb, probe_id=2, k=10, rerank=50, dim=64, m=8)
    persisted = pq_search_codebook(
        e, loaded, probe_id=2, k=10, rerank=50, dim=64, m=8
    )
    assert _rows(persisted) == _rows(fresh)
    assert len(persisted.collect()) == 10


def test_seeded_pq_is_search_over_seed_codebook(spark):
    """pq_encode and pq_topk are the codebook encode and search over the
    SEED codebook: centroid c of subspace s is slice s of vector c."""
    e = load_table(spark, SF, "embeddings")
    seed_cb = (
        e.filter(F.col("vec_id") < 16)
        .crossJoin(spark.range(8).select(F.col("id").cast("int").alias("s")))
        .select(
            "s",
            F.col("vec_id").cast("int").alias("c"),
            F.slice("embedding", F.col("s") * 8 + 1, F.lit(8)).alias("cvec"),
        )
    )
    assert _rows(pq_encode(e, 16, 8, dim=64)) == _rows(
        pq_codes_from_codebook(e, seed_cb, dim=64, m=8)
    )
    assert _rows(pq_topk(e, probe_id=3, dim=64)) == _rows(
        pq_search_codebook(e, seed_cb, probe_id=3, dim=64, m=8)
    )
