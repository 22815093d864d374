"""Persisted IVF index (VERDICT r12 next-round #8): the train/search split
must round-trip through the S5 parquet sink with zero value drift — the
search over a LOADED index returns exactly the search over the in-memory
centroids, and the composed halves reproduce ivf_kmeans_topk."""

from __future__ import annotations

import os

from ppdb_parser_spark.operators.similarity import (
    ivf_build_centroids,
    ivf_kmeans_topk,
    ivf_search_centroids,
    ivf_topk,
)
from ppdb_parser_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_build_centroids_shape(spark):
    e = load_table(spark, SF, "embeddings")
    cents = ivf_build_centroids(e, n_cells=8).collect()
    assert len(cents) == 8
    assert sorted(r.cell_id for r in cents) == list(range(8))
    dim = len(e.select("embedding").first()[0])
    assert all(len(r.semb) == dim for r in cents)


def test_split_composition_equals_kmeans_topk(spark):
    e = load_table(spark, SF, "embeddings")
    composed = ivf_search_centroids(
        e, ivf_build_centroids(e, n_cells=8), probe_id=1, n_probe=2, k=5
    )
    assert _rows(composed) == _rows(
        ivf_kmeans_topk(e, n_cells=8, probe_id=1, n_probe=2, k=5)
    )


def test_seeded_ivf_is_search_over_seed_centroids(spark):
    """ivf_topk is ivf_search_centroids over the seed index: the vectors
    with id < n_cells as the centroid relation."""
    from pyspark.sql import functions as F

    e = load_table(spark, SF, "embeddings")
    seeds = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell_id"),
        F.col("embedding").alias("semb"),
    )
    assert _rows(ivf_topk(e, n_cells=8, probe_id=3)) == _rows(
        ivf_search_centroids(e, seeds, probe_id=3)
    )


def test_persisted_search_equals_fresh(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    cents = ivf_build_centroids(e, n_cells=8)
    path = os.path.join(str(tmp_path), "ivf_idx")
    cents.write.mode("overwrite").parquet(path)
    loaded = spark.read.parquet(path)
    # the artifact itself is bit-exact: arrays of double round-trip
    assert {r.cell_id: r.semb for r in loaded.collect()} == {
        r.cell_id: r.semb for r in cents.collect()
    }
    fresh = ivf_search_centroids(e, cents, probe_id=2, n_probe=2, k=5)
    persisted = ivf_search_centroids(e, loaded, probe_id=2, n_probe=2, k=5)
    assert _rows(persisted) == _rows(fresh)
    assert len(persisted.collect()) == 5


def test_persisted_index_staleness_guard(spark, tmp_path):
    """An index stamped against an older corpus snapshot must REBUILD,
    never silently serve stale centroids (queries/similarity.py
    _load_persisted_index)."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.queries.similarity import _load_persisted_index

    e = load_table(spark, SF, "embeddings")
    path = os.path.join(str(tmp_path), "guarded_idx")
    builds = []

    def build():
        builds.append(1)
        return ivf_build_centroids(e, n_cells=8)

    first = _load_persisted_index(spark, e, path, build)
    assert len(builds) == 1 and first.count() == 8
    # same corpus -> cached artifact, no rebuild
    again = _load_persisted_index(spark, e, path, build)
    assert again.count() == 8
    assert len(builds) == 1
    # corpus changed (one row appended) -> count mismatch -> rebuild
    grown = e.unionByName(
        e.limit(1).withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )
    _load_persisted_index(spark, grown, path, build)
    assert len(builds) == 2


def test_persisted_index_fingerprint_guard(spark, tmp_path):
    """Same row COUNT, different source content → must rebuild (ADVICE
    r13: the count-only guard silently served a stale index over a
    regenerated same-cardinality corpus). The fingerprint hashes file
    sizes + mtimes, so a touched/replaced source flips it with no data
    scan."""
    from ppdb_parser_spark.queries.similarity import _load_persisted_index

    e = load_table(spark, SF, "embeddings")
    path = os.path.join(str(tmp_path), "fp_idx")
    builds = []

    def build():
        builds.append(1)
        return ivf_build_centroids(e, n_cells=8)

    _load_persisted_index(spark, e, path, build, fingerprint="fp-v1")
    assert len(builds) == 1
    # unchanged fingerprint -> cached
    _load_persisted_index(spark, e, path, build, fingerprint="fp-v1")
    assert len(builds) == 1
    # same count, new fingerprint (dataset regenerated in place) -> rebuild
    _load_persisted_index(spark, e, path, build, fingerprint="fp-v2")
    assert len(builds) == 2


def test_index_rebuilds_when_engine_source_changes(spark, tmp_path, monkeypatch):
    """Same corpus, same fingerprint, different engine source → both
    loaders must rebuild: an index built by older code is never served
    by newer code (the engine digest is stamped beside the artifact)."""
    from pyspark.sql import functions as F

    import ppdb_parser_spark.queries.similarity as SQ

    e = load_table(spark, SF, "embeddings")
    n_max = e.agg(F.max("vec_id")).first()[0]
    builds = []

    def build():
        builds.append("persisted")
        return e.select("vec_id")

    def build_base():
        builds.append("base")
        return e.filter(F.col("vec_id") < 400).select("vec_id")

    def load_both():
        SQ._load_persisted_index(
            spark, e, os.path.join(str(tmp_path), "p"), build, fingerprint="fp"
        )
        return SQ._load_appended_index(
            spark,
            os.path.join(str(tmp_path), "a"),
            "fp",
            400,
            n_max,
            build_base,
            lambda lo: e.filter(F.col("vec_id") >= lo).select("vec_id"),
        )

    load_both()
    assert builds == ["persisted", "base"]
    load_both()
    assert builds == ["persisted", "base"]
    monkeypatch.setattr(SQ, "_engine_digest", lambda: "edited-engine")
    appended = load_both()
    assert builds == ["persisted", "base"] * 2
    assert appended.count() == e.count()


def test_index_dir_distinguishes_same_basename():
    """Two dataset roots sharing a basename must never share an index
    directory (ADVICE r13: _index_dir keyed on basename alone)."""
    from ppdb_parser_spark.queries.similarity import _index_dir

    a = _index_dir("/tmp/gen_a/sf0.1", "ivf_c8_lloyd1")
    b = _index_dir("/tmp/gen_b/sf0.1", "ivf_c8_lloyd1")
    assert a != b
    # stable for the same path
    assert a == _index_dir("/tmp/gen_a/sf0.1", "ivf_c8_lloyd1")


def test_source_fingerprint_tracks_mtime(tmp_path):
    """The fingerprint must change when the source file is rewritten,
    even at identical size/row count (mtime component)."""
    import time

    from ppdb_parser_spark.queries.similarity import _source_fingerprint

    src = tmp_path / "embeddings.parquet"
    src.write_bytes(b"x" * 64)
    fp1 = _source_fingerprint(str(tmp_path))
    time.sleep(0.01)
    src.write_bytes(b"y" * 64)  # same size, new content/mtime
    fp2 = _source_fingerprint(str(tmp_path))
    assert fp1 != fp2
