"""Persisted LSH signature index (round 13): signing is the expensive
O(n·planes·dim) map, so the banded signature relation is the artifact a
delta-ingest batch loads instead of re-signing the corpus. These tests pin
the contract: the index path emits EXACTLY the full self-join's pairs
restricted to the delta, on both the packed-int64 and wide-signature
first-match paths, and the artifact survives the parquet sink bit-exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

import ppdb_parser_spark.operators.similarity as SIM
from ppdb_parser_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
CUT = 400


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def _split(e):
    return e.filter(F.col("vec_id") < CUT), e.filter(F.col("vec_id") >= CUT)


def test_index_path_equals_delta_restricted_self_join(spark):
    e = load_table(spark, SF, "embeddings")
    base, delta = _split(e)
    want = {
        p
        for p in _pairs(
            SIM.lsh_similarity_join_exact(
                e, threshold=0.35, n_planes=16, n_bands=8, seed=42, dim=64
            )
        )
        if p[1] >= CUT
    }
    got = _pairs(
        SIM.lsh_pairs_from_index(
            SIM.lsh_banded_sigs(base, 16, 8, 42, dim=64),
            SIM.lsh_banded_sigs(delta, 16, 8, 42, dim=64),
            e,
            0.35,
            16,
            8,
        )
    )
    assert got == want and len(got) > 0


def test_index_survives_parquet_roundtrip(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    base, delta = _split(e)
    idx = SIM.lsh_banded_sigs(base, 16, 8, 42, dim=64)
    path = str(tmp_path / "lshsig")
    idx.write.mode("overwrite").parquet(path)
    loaded = spark.read.parquet(path)
    assert sorted(map(tuple, loaded.collect())) == sorted(
        map(tuple, idx.collect())
    )
    db = SIM.lsh_banded_sigs(delta, 16, 8, 42, dim=64)
    assert _pairs(
        SIM.lsh_pairs_from_index(loaded, db, e, 0.35, 16, 8)
    ) == _pairs(SIM.lsh_pairs_from_index(idx, db, e, 0.35, 16, 8))


def test_index_path_wide_signature_fallback(spark):
    """> 62 signature bits routes the first-match decision through the
    band-sig-array fallback; the index path must inherit it."""
    e = load_table(spark, SF, "embeddings").limit(300)
    base = e.filter(F.col("vec_id") < 200)
    delta = e.filter(F.col("vec_id") >= 200)
    want = {
        p
        for p in _pairs(
            SIM._lsh_band_candidates(
                e, 72, 8, 42, "vec_id", "embedding", 64
            )
        )
        if p[1] >= 200
    }
    got = _pairs(
        SIM._first_match_join(
            SIM.lsh_banded_sigs(base, 72, 8, 42, dim=64).unionByName(
                SIM.lsh_banded_sigs(delta, 72, 8, 42, dim=64)
            ),
            SIM.lsh_banded_sigs(delta, 72, 8, 42, dim=64),
            8,
            9,
            "vec_id",
        )
    )
    assert got == want


def test_semantic_incremental_tiers_equal_full_filtered(spark):
    """Incremental SemDeDup (delta_min_id) emits exactly the FULL form's
    rows restricted to the delta — the dominance kernel's suffix-tile
    start is pruning-only."""
    from ppdb_parser_spark.operators.similarity import semantic_dedup

    e = load_table(spark, SF, "embeddings")
    full = semantic_dedup(e, n_cells=8, threshold=0.35)
    want = sorted(tuple(r) for r in full.collect() if r.vec_id >= CUT)
    got = sorted(
        tuple(r)
        for r in semantic_dedup(
            e, n_cells=8, threshold=0.35, delta_min_id=CUT
        ).collect()
    )
    assert got == want
    assert len(want) > 0
