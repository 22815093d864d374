"""Similarity-search queries over `embeddings` (SURVEY.md §2.9 L1/L2).

The fixture embeddings are isotropic random vectors (no planted clusters;
max pairwise cosine ≈ 0.5), so thresholds are set at ~0.35 to produce
non-degenerate result sets. Oracle twins compute dot products via
unnest + generate_subscripts joins — order-independent modulo the 1e-6
rounding grid both sides share.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as SIM
from ..sources.tables import load_table
from .registry import query

#: dot/norm oracle CTEs against a probe row (vec_id = 0).
_PROBE_SQL = """
    probe AS (
      SELECT unnest(embedding) AS pv, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0
    ),
    probe_norm AS (
      SELECT sqrt(SUM(CAST(pv AS DOUBLE) * CAST(pv AS DOUBLE))) AS np FROM probe
    ),
    cand AS (
      SELECT vec_id, label,
             unnest(embedding) AS cv, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id <> 0
    ),
    scored AS (
      SELECT c.vec_id, any_value(c.label) AS label,
             SUM(CAST(c.cv AS DOUBLE) * CAST(p.pv AS DOUBLE)) AS dot,
             sqrt(SUM(CAST(c.cv AS DOUBLE) * CAST(c.cv AS DOUBLE))) AS nc
      FROM cand c JOIN probe p ON c.i = p.i
      GROUP BY c.vec_id
    )
"""


# --------------------------------------------------------------------------
# L1: exact cosine top-k against a probe vector (brute-force baseline; the
# probe is an IN-PLAN 1-row broadcast context — zero driver-side jobs at
# plan-construction time — then narrow map → TakeOrderedAndProject).
# --------------------------------------------------------------------------
@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH {_PROBE_SQL}
    SELECT vec_id, label, round(dot / (nc * np), 6) AS cosine
    FROM scored, probe_norm
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
    tags=("L1", "X4", "O2"),
    bench=True,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk_by_id(e, probe_id=0, k=10)


# --------------------------------------------------------------------------
# Embedding near-dup: exact all-pairs cosine ≥ t (the O(n²) correctness
# baseline for L2; the LSH query below is the scale path).
# --------------------------------------------------------------------------
@query(
    "sim_pairwise_cosine",
    oracle="""
    WITH v AS (
      SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM v GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             SUM(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
      FROM v a JOIN v b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON dots.id_a = na.vec_id
    JOIN norms nb ON dots.id_b = nb.vec_id
    WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.35
    """,
    tags=("L2", "J9"),
    tier="oracle-baseline",
)
def sim_pairwise_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-BASELINE TIER — intentionally O(n²). This is the exact
    all-pairs ground truth that RECALL.md's recall measurements and the
    LSH precision tests compare against; it is NOT a scale path (a true
    cartesian over the vector relation). At scale use
    ``sim_lsh_pairs_checked`` (grid-exact banded LSH,
    operators/similarity.py::lsh_similarity_join_exact) — same output
    contract, sub-quadratic candidate generation."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.pairwise_cosine_pairs(e, threshold=0.35)


# NOTE (round 7, VERDICT r6 item 2): the rows-only `sim_lsh_pairs` entry
# was RETIRED in favor of its grid-exact twin `sim_lsh_pairs_checked`
# below — identical planes, banding and threshold, but with int64-grid
# projections so the candidate set itself is reproducible in SQL and the
# L2 LSH tier carries a full value-hash oracle instead of a rows-only
# check. The float-HOF operator (SIM.lsh_similarity_join) remains the
# engine's throughput default and is still exercised by the dedup_*_lsh
# queries and the recall sweeps in RECALL.md.


# --------------------------------------------------------------------------
# Cross-modal join: embedding-space neighbors of a probe joined back to the
# document relation (vec_id ↔ doc_id) — retrieval feeding a relational
# pipeline, the standard RAG-ingest shape.
# --------------------------------------------------------------------------
@query(
    "sim_neighbors_docs",
    oracle="""
    WITH probe AS (
      SELECT unnest(embedding) AS pv, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id = 0
    ),
    probe_norm AS (
      SELECT sqrt(SUM(CAST(pv AS DOUBLE) * CAST(pv AS DOUBLE))) AS np FROM probe
    ),
    cand AS (
      SELECT vec_id, unnest(embedding) AS cv, generate_subscripts(embedding, 1) AS i
      FROM embeddings WHERE vec_id <> 0
    ),
    scored AS (
      SELECT c.vec_id,
             SUM(CAST(c.cv AS DOUBLE) * CAST(p.pv AS DOUBLE)) AS dot,
             sqrt(SUM(CAST(c.cv AS DOUBLE) * CAST(c.cv AS DOUBLE))) AS nc
      FROM cand c JOIN probe p ON c.i = p.i
      GROUP BY c.vec_id
    ),
    topk AS (
      SELECT vec_id, round(dot / (nc * np), 6) AS cosine
      FROM scored, probe_norm
      ORDER BY cosine DESC, vec_id LIMIT 20
    )
    SELECT t.vec_id AS doc_id, d.lang AS lang, t.cosine AS cosine,
           CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM topk t JOIN documents d ON t.vec_id = d.doc_id
    """,
    tags=("L1", "L6", "J1"),
)
def sim_neighbors_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    topk = SIM.cosine_topk_by_id(e, probe_id=0, k=20, keep_cols=()).select(
        "vec_id", "cosine"
    )
    docs = load_table(spark, sf_dir, "documents")
    return topk.join(docs, topk.vec_id == docs.doc_id).select(
        "doc_id",
        "lang",
        "cosine",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# IVF with one relational k-means (Lloyd) refinement: seeds → assign →
# exact-grid centroid means → re-assign → probe top-2 centroid cells →
# exact top-k. The centroid sums run as int64 on the embedding's 1e-8
# decimal grid (order-independent), so the refined centroids are
# bit-identical cross-engine and the whole index construction is
# hash-checked — not just the final neighbors.
# --------------------------------------------------------------------------
def _ivf_kmeans_oracle(probe_id: int = 1, n_probe: int = 2, k: int = 5) -> str:
    """IVF+1-Lloyd oracle, parameterized on the probe/route/top-k knobs so
    the persisted-index twin (different probe) shares the exact centroid
    CTEs with ``sim_ivf_kmeans_topk``."""
    return f"""
    WITH v AS (
      SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id, sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
      FROM v GROUP BY vec_id
    ),
    sv AS (SELECT vec_id AS cell_id, x, i FROM v WHERE vec_id < 8),
    a1d AS (
      SELECT v.vec_id, s.cell_id, SUM(CAST(v.x AS DOUBLE) * CAST(s.x AS DOUBLE)) AS dot
      FROM v JOIN sv s ON v.i = s.i GROUP BY 1, 2
    ),
    a1 AS (
      SELECT vec_id, cell_id FROM (
        SELECT a1d.vec_id, a1d.cell_id,
               ROW_NUMBER() OVER (PARTITION BY a1d.vec_id
                 ORDER BY round(a1d.dot / (nv.nrm * ns.nrm), 6) DESC,
                          a1d.cell_id) AS rk
        FROM a1d
        JOIN norms nv ON a1d.vec_id = nv.vec_id
        JOIN norms ns ON a1d.cell_id = ns.vec_id
      ) WHERE rk = 1
    ),
    cent AS (
      SELECT a1.cell_id, v.i,
             CAST(SUM(CAST(ROUND(CAST(v.x AS DOUBLE) * 100000000) AS BIGINT)) AS BIGINT)
               / (COUNT(*) * 100000000.0) AS c
      FROM v JOIN a1 ON v.vec_id = a1.vec_id GROUP BY 1, 2
    ),
    cnorm AS (SELECT cell_id, sqrt(SUM(c * c)) AS nc FROM cent GROUP BY 1),
    pv AS (SELECT x, i FROM v WHERE vec_id = {probe_id}),
    pnorm AS (SELECT nrm AS np FROM norms WHERE vec_id = {probe_id}),
    pd AS (
      SELECT cent.cell_id, SUM(cent.c * CAST(pv.x AS DOUBLE)) AS dot
      FROM cent JOIN pv ON cent.i = pv.i GROUP BY 1
    ),
    pcells AS (
      SELECT cell_id FROM (
        SELECT pd.cell_id,
               ROW_NUMBER() OVER (ORDER BY round(pd.dot / (pnorm.np * cnorm.nc), 6)
                                  DESC, pd.cell_id) AS rk
        FROM pd JOIN cnorm USING (cell_id), pnorm
      ) WHERE rk <= {n_probe}
    ),
    a2d AS (
      SELECT v.vec_id, cent.cell_id, SUM(CAST(v.x AS DOUBLE) * cent.c) AS dot
      FROM v JOIN cent ON v.i = cent.i GROUP BY 1, 2
    ),
    a2 AS (
      SELECT vec_id, cell_id FROM (
        SELECT a2d.vec_id, a2d.cell_id,
               ROW_NUMBER() OVER (PARTITION BY a2d.vec_id
                 ORDER BY round(a2d.dot / (nv.nrm * cn.nc), 6) DESC,
                          a2d.cell_id) AS rk
        FROM a2d
        JOIN norms nv ON a2d.vec_id = nv.vec_id
        JOIN cnorm cn ON a2d.cell_id = cn.cell_id
      ) WHERE rk = 1
    ),
    cand AS (SELECT a2.vec_id FROM a2 JOIN pcells USING (cell_id)
             WHERE a2.vec_id <> {probe_id}),
    fd AS (
      SELECT v.vec_id, SUM(CAST(v.x AS DOUBLE) * CAST(pv.x AS DOUBLE)) AS dot
      FROM v JOIN pv ON v.i = pv.i JOIN cand ON v.vec_id = cand.vec_id
      GROUP BY 1
    )
    SELECT fd.vec_id AS vec_id, e.label AS label,
           round(fd.dot / (nv.nrm * pnorm.np), 6) AS cosine
    FROM fd
    JOIN norms nv ON fd.vec_id = nv.vec_id
    JOIN embeddings e ON e.vec_id = fd.vec_id, pnorm
    ORDER BY cosine DESC, vec_id
    LIMIT {k}
"""


_IVF_KMEANS_ORACLE = _ivf_kmeans_oracle()


@query(
    "sim_ivf_kmeans_topk",
    oracle=_IVF_KMEANS_ORACLE,
    tags=("L1", "L2", "W1", "A1"),
)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_kmeans_topk(e, n_cells=8, probe_id=1, n_probe=2, k=5)


# --------------------------------------------------------------------------
# Persisted IVF index (VERDICT r12 next-round #8): the real user workflow
# is build-ONCE / search-MANY — retraining the codebook per query throws
# the training cost away. `sim_ivf_persist_build` trains the 1-Lloyd
# centroids and writes them through the S5 parquet sink (arrays of double
# round-trip bit-exact; norms are derived data, recomputed on load, so a
# persisted index cannot go stale against its own vectors);
# `sim_ivf_persisted_topk` loads the index (building it if absent — the
# driver may sample the queries in any order) and runs only the SEARCH
# half: assign → probe-route → exact top-k. At 100 TB the index is a few
# KB per thousand cells — a broadcast-side artifact — while the corpus
# scan it saves is the whole training pass per query.
# --------------------------------------------------------------------------
def _index_dir(sf_dir: str, name: str) -> str:
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    resolved = os.path.realpath(sf_dir)
    sf = os.path.basename(resolved)
    # Hash of the RESOLVED dataset path in the directory name (ADVICE r13):
    # two sf_dirs sharing a basename (e.g. /a/sf0.1 vs /b/sf0.1) must never
    # share an index directory.
    loc = hashlib.sha256(resolved.encode()).hexdigest()[:8]
    return os.path.join(repo, ".cache", "indexes", f"{name}_{sf}_{loc}")


def _source_fingerprint(sf_dir: str, table: str = "embeddings") -> str:
    """Content fingerprint of a source parquet table: name, byte size and
    mtime of every file under the table path (a directory for partitioned
    sinks, a single file for the fixtures). Regenerating a dataset in
    place changes size and/or mtime even when the row COUNT is identical
    (ADVICE r13: the count-only guard served a stale index over a swapped
    same-cardinality corpus) — metadata-only, no data scan at any corpus
    scale."""
    root = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(root):
        for dirpath, _dirnames, filenames in sorted(os.walk(root)):
            for fn in sorted(filenames):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}"
                )
    else:
        st = os.stat(root)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


#: parameters of the persisted index are part of its directory name, so a
#: knob change can never read a stale artifact.
_IVF_INDEX_NAME = "ivf_c8_lloyd1"


@functools.cache
def _engine_digest() -> str:
    """sha256 over the engine's own source — the relative path and bytes
    of every ``.py`` file of the ``ppdb_parser_spark`` package, computed
    once per process. Both index loaders stamp it next to the artifact
    and rebuild on a mismatch, so an index is never served by code other
    than the code that built it (an edited builder invalidates every
    persisted artifact — coarse, but never stale, and nothing to bump by
    hand)."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, pkg).encode() + b"\0")
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _read_meta(meta_path: str):
    """The 1-row meta stamp, read DRIVER-SIDE via pyarrow — control-plane
    work at plan-build time, exactly like the parquet-footer row counts
    the call sites already use (round 16): a ``spark.read.parquet`` job
    on a 1-row stamp measured ~0.15 s of pure job-scheduling overhead,
    and the 37 loader call sites pay it on every declared-query build.
    Returns the stamp row as a dict, or ``None`` when absent/unreadable
    (both loaders treat that as stale, same as the old ``first() is
    None``). pyarrow ignores ``_SUCCESS`` (default ``_``/``.`` prefix
    exclusion), so the directory layout is read identically."""
    import pyarrow.parquet as pq

    try:
        rows = pq.read_table(meta_path).to_pylist()
    except Exception:
        return None
    return rows[0] if rows else None


def _load_persisted_index(
    spark, corpus, path, build, force=False, fingerprint="", n_corpus=None
):
    """Load a persisted index relation, (re)building it when absent OR
    STALE. Freshness contract: the corpus row count, a source-file
    content fingerprint (``_source_fingerprint`` — sizes + mtimes, no
    data scan) and the engine source digest (:func:`_engine_digest`)
    are stamped next to the artifact at build time (``<path>_meta``)
    and re-checked on every load. The count over
    parquet is answered from footer metadata, so the guard costs one
    metadata job at any corpus scale; the fingerprint catches a
    regenerated dataset whose row count happens to match (ADVICE r13).
    An index built against an older corpus snapshot can then never
    silently serve wrong centroids — it rebuilds. (Both guards are
    control-plane work at plan-BUILD time, deliberately outside the
    returned DataFrame's lineage; the data path stays zero-driver-side.)

    ``n_corpus``: callers loading SEVERAL artifacts over the SAME corpus
    (e.g. MinHash bands + sets) pass the count once instead of paying
    the guard's count job per artifact (round 16).
    """
    meta_path = path + "_meta"
    if n_corpus is None:
        n_corpus = corpus.count()
    stale = True
    if not force and os.path.exists(
        os.path.join(path, "_SUCCESS")
    ) and os.path.exists(os.path.join(meta_path, "_SUCCESS")):
        meta = _read_meta(meta_path)
        stale = (
            meta is None
            or meta.get("n_corpus") != n_corpus
            # older stamps lack the column; treat them as stale once
            or ("fingerprint" not in meta)
            or meta["fingerprint"] != fingerprint
            or meta.get("engine") != _engine_digest()
        )
    if stale:
        build().write.mode("overwrite").parquet(path)
        # JVM-side literal row (see _load_appended_index._stamp)
        spark.range(1).select(
            F.lit(n_corpus).cast("long").alias("n_corpus"),
            F.lit(fingerprint).alias("fingerprint"),
            F.lit(_engine_digest()).alias("engine"),
        ).coalesce(1).write.mode("overwrite").parquet(meta_path)
    return spark.read.parquet(path)


def _load_appended_index(
    spark,
    path: str,
    fingerprint: str,
    cutoff_id: int,
    max_id: int,
    build_base,
    build_delta,
    extra_part_cols: tuple[str, ...] = (),
):
    """Persisted index with APPEND maintenance — the batch-accept commit
    of an incremental ingest pipeline. Where :func:`_load_persisted_index`
    REBUILDS whenever its corpus changes, this variant treats the corpus
    as append-only (the dense-doc_id ingest contract shared by every
    ``delta_min_id`` query): index entries for rows at or below the
    stamped high-water mark are immutable, and advancing the mark signs
    ONLY the new rows — per-batch cost O(delta), never O(corpus).

    Layout / commit protocol:

    - the artifact is partitioned by a ``seg`` column (the first id of
      the batch that produced the segment, plus any ``extra_part_cols``);
      appending a batch writes exactly its own ``seg=<start>`` partition
      through dynamic partition overwrite, so a RETRIED append replaces
      its own segment instead of duplicating rows;
    - the meta stamp (source fingerprint + high-water mark ``max_id``)
      is overwritten only AFTER the segment lands. A crash between the
      two leaves the mark behind, and the next load re-appends the same
      segment idempotently. On a production lake this data+meta pair is
      one Delta/Iceberg transaction; parquet-dir + stamp is the
      fixture-scale equivalent.
    - freshness needs ZERO Spark jobs: cutoff/max ids come from parquet
      footer metadata at the call sites and the stamp is a 1-row read —
      unlike the count() guard of the rebuild-style loader (ADVICE r13).

    States on load: fresh (fingerprint match, mark == ``max_id``) →
    read-only load; behind (fingerprint match, mark < ``max_id``) →
    ``build_delta(mark + 1)`` and advance; absent, foreign fingerprint
    or another engine digest (:func:`_engine_digest`) → ``build_base()``
    then the delta. The fingerprint covers the whole
    source table here (static fixtures); on a real append-only lake it
    would cover only the base snapshot's files, which appends leave
    untouched.

    Multi-artifact queries (e.g. MinHash bands + sets) load each
    artifact through this function in the same invocation, so BOTH are
    advanced to the current mark before any serve plan is built — a
    crash between two artifacts' appends leaves them at different marks
    only until the next load, which brings each current independently
    (per-artifact idempotency; no cross-artifact transaction needed
    because serves never read a stamped artifact without loading it).
    """
    meta_path = path + "_meta"
    mark = None
    if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
        os.path.join(meta_path, "_SUCCESS")
    ):
        meta = _read_meta(meta_path)
        if (
            meta is not None
            and "fingerprint" in meta
            and meta["fingerprint"] == fingerprint
            and meta.get("engine") == _engine_digest()
            and "max_id" in meta
        ):
            mark = meta["max_id"]

    def _stamp(new_mark: int) -> None:
        # range(1).select(lit...) not createDataFrame: writing a
        # local-relation frame pays a ~5 s python-side task spin-up per
        # stamp (measured r14); the JVM-side literal row writes in ~0.3 s
        spark.range(1).select(
            F.lit(fingerprint).alias("fingerprint"),
            F.lit(_engine_digest()).alias("engine"),
            F.lit(new_mark).cast("long").alias("max_id"),
        ).coalesce(1).write.mode("overwrite").parquet(meta_path)

    def _write_seg(df: DataFrame, seg: int, truncate: bool = False) -> None:
        w = df.withColumn("seg", F.lit(seg).cast("long")).write.mode(
            "overwrite"
        )
        if not truncate:
            # replace only this batch's own seg=<start> partition
            w = w.option("partitionOverwriteMode", "dynamic")
        # truncate=True (base rebuild): STATIC overwrite — a foreign-
        # fingerprint artifact may hold segments this write doesn't touch,
        # and dynamic mode would leave them behind as stale rows.
        w.partitionBy("seg", *extra_part_cols).parquet(path)

    if mark is None:
        _write_seg(build_base(), 0, truncate=True)
        mark = cutoff_id - 1
        _stamp(mark)
    if mark < max_id:
        _write_seg(build_delta(mark + 1), mark + 1)
        mark = max_id
        _stamp(mark)
    return spark.read.parquet(path).drop("seg")


def compact_appended_index(
    spark,
    path: str,
    extra_part_cols: tuple[str, ...] = (),
    max_segments: int = 8,
) -> bool:
    """Compact an appendable index's accumulated batch segments back to
    ONE ``seg=0`` partition — the LSM-style maintenance step. Every
    accepted batch adds a segment directory; at nightly-batch cadence
    that is the small-files problem (a year of batches = 365 segment
    dirs, each holding per-partition files), and scan/listing cost grows
    with segment count even though row count doesn't. Compaction rewrites
    the artifact with identical rows (byte-identical values — the index
    entries are immutable, only their physical layout moves) whenever
    more than ``max_segments`` segments have accumulated; the meta stamp
    (fingerprint + high-water mark) is untouched because compaction
    changes no logical content.

    Protocol: stage the rewrite to a sibling directory, then swap via
    atomic-enough directory renames (driver-side control-plane; on a
    production lake this is the table format's OPTIMIZE/rewrite
    transaction). A crash before the swap leaves the artifact untouched;
    a crash between the two renames is recovered by the retry (the
    staged dir is rebuilt from scratch each run). Returns True iff a
    compaction ran."""
    import shutil

    seg_dirs = (
        [
            d
            for d in os.listdir(path)
            if d.startswith("seg=")
            and os.path.isdir(os.path.join(path, d))
        ]
        if os.path.isdir(path)
        else []
    )
    if len(seg_dirs) <= max_segments:
        return False
    staged = path + "_compacting"
    shutil.rmtree(staged, ignore_errors=True)
    (
        spark.read.parquet(path)
        .drop("seg")
        .withColumn("seg", F.lit(0).cast("long"))
        .write.mode("overwrite")
        .partitionBy("seg", *extra_part_cols)
        .parquet(staged)
    )
    old = path + "_precompact"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def _ivf_centroids_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the persisted centroid relation, training + persisting it
    first iff the index directory does not exist yet or is stale against
    the current corpus (see :func:`_load_persisted_index`)."""
    e = load_table(spark, sf_dir, "embeddings")
    return _load_persisted_index(
        spark,
        e,
        _index_dir(sf_dir, _IVF_INDEX_NAME),
        lambda: SIM.ivf_build_centroids(e, n_cells=8),
        fingerprint=_source_fingerprint(sf_dir),
    )


def _ivf_build_oracle() -> str:
    """Centroid-relation oracle: the exact centroid CTEs of
    ``_ivf_kmeans_oracle`` (sliced, not duplicated — the two must never
    drift), projected as (cell_id, pos, c) scalar rows."""
    base = _ivf_kmeans_oracle()
    cut = base.index("cnorm AS")
    head = base[:cut].rstrip().rstrip(",")
    return (
        head
        + "\n    SELECT CAST(cell_id AS BIGINT) AS cell_id,"
        + " CAST(i AS BIGINT) AS pos, c FROM cent"
    )


@query(
    "sim_ivf_persist_build",
    oracle=_ivf_build_oracle(),
    tags=("L1", "S5", "A1"),
)
def sim_ivf_persist_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF centroids, persist via the parquet sink, read BACK,
    and emit the loaded index as scalar rows — the oracle hash-checks the
    on-disk artifact itself, not just the in-memory relation."""
    e = load_table(spark, sf_dir, "embeddings")
    loaded = _load_persisted_index(
        spark,
        e,
        _index_dir(sf_dir, _IVF_INDEX_NAME),
        lambda: SIM.ivf_build_centroids(e, n_cells=8),
        force=True,
        fingerprint=_source_fingerprint(sf_dir),
    )
    return loaded.select(
        F.col("cell_id").cast("long").alias("cell_id"),
        F.posexplode("semb").alias("pos", "c"),
    ).select(
        "cell_id",
        (F.col("pos") + 1).cast("long").alias("pos"),
        # NO round(): c is int64-grid-sum / (count · 1e8) — the same int
        # numerator and double denominator on both engines, so the IEEE
        # division is bit-identical as-is, while round(c, 6) can land on
        # an exact .xxxxxx5 half-way point where HALF_UP and binary
        # rounding disagree (hit at sf0.001; the verify-skill gotcha).
        F.col("c"),
    )


@query(
    "sim_ivf_persisted_topk",
    oracle=_ivf_kmeans_oracle(probe_id=2),
    tags=("L1", "L2", "W1", "S5"),
    bench=True,
)
def sim_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-only IVF top-k against the persisted index (amortized
    path): zero training work when the index exists — one corpus scan,
    one broadcast of the ≤8-row centroid relation, exact top-k in the
    probed cells. Different probe (vec_id=2) than ``sim_ivf_kmeans_topk``
    so the two results are independently checkable."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids_persisted(spark, sf_dir)
    return SIM.ivf_search_centroids(e, cents, probe_id=2, n_probe=2, k=5)


# --------------------------------------------------------------------------
# The IVF INVERTED-LIST serving path (round 14): `sim_ivf_persisted_topk`
# amortizes training but still re-assigns the whole corpus per query —
# at 100 TB the corpus-wide assignment map IS the search cost. This query
# persists the assignment relation itself (vector stored WITH its cell,
# the FAISS inverted-file layout), partitioned by cell_id and maintained
# through the appendable commit path: between centroid retrains, an
# accepted batch ASSIGNS ONLY ITSELF to the fixed centroids and lands as
# its own segment. A search then routes the probe (bounded control-plane
# job over the ≤8-row centroid index + pushed-filter probe lookup) and
# scans ONLY the probed cells' partition directories — n_probe/n_cells
# of the data. Assignments and centroids invalidate together: both stamp
# the same embeddings-source fingerprint, so a centroid rebuild can
# never pair with stale lists. Probe vec_id=3 so the result is
# independently checkable from the kmeans (1) and persisted (2) twins.
# --------------------------------------------------------------------------
@query(
    "sim_ivf_append_topk",
    oracle=_ivf_kmeans_oracle(probe_id=3),
    tags=("L1", "L2", "O2", "S5"),
    bench=True,
)
def sim_ivf_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    e = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids_persisted(spark, sf_dir)
    n = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    c0 = n - 100  # the repo-wide 100-row ingest-batch convention
    fp = _source_fingerprint(sf_dir)

    def _slice(lo: int | None) -> DataFrame:
        cond = (
            F.col("vec_id") < c0 if lo is None else F.col("vec_id") >= lo
        )
        return e.filter(cond)

    assignments = _load_appended_index(
        spark,
        _index_dir(sf_dir, f"ivfassign_{_IVF_INDEX_NAME}"),
        fp,
        c0,
        n - 1,
        lambda: SIM.ivf_assignments(_slice(None), cents),
        lambda lo: SIM.ivf_assignments(_slice(lo), cents),
        extra_part_cols=("cell_id",),
    )
    return SIM.ivf_topk_from_assignments(
        assignments, e, cents, probe_id=3, n_probe=2, k=5
    )


# --------------------------------------------------------------------------
# Product quantization (TPAMI'11): codes for every vector (the compressed
# index a 100 TB serving scan reads), then ADC top-k with exact rerank.
# All float reductions run on the int64 PQ_GRID → hash-exact oracles.
# --------------------------------------------------------------------------

#: shared element-level CTEs: per-(vector, position) values, subspace id
#: (m=8 subspaces of 8 dims), grid norms, centroid elements (ids < 16).
_PQ_EL_SQL = """
    el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x,
             CAST((i - 1) // 8 AS INT) AS s, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    vn AS (
      SELECT vec_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS vnorm
      FROM el GROUP BY 1
    ),
    cel AS (SELECT vec_id AS c, x, s, i FROM el WHERE vec_id < 16),
    d2 AS (
      SELECT e.vec_id, c.c, e.s,
             CAST(SUM(CAST(round((e.x - c.x) * (e.x - c.x) * 1000000000.0)
                           AS BIGINT)) AS BIGINT) AS d2g
      FROM el e JOIN cel c ON e.i = c.i
      GROUP BY 1, 2, 3
    ),
    code AS (
      SELECT vec_id, s, c FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2g, c) AS rk
        FROM d2
      ) WHERE rk = 1
    )
"""


@query(
    "sim_pq_encode",
    oracle=f"""
    WITH {_PQ_EL_SQL}
    SELECT code.vec_id, e.label,
           string_agg(code.c, '-' ORDER BY code.s) AS codes, vn.vnorm
    FROM code
    JOIN vn USING (vec_id)
    JOIN embeddings e ON e.vec_id = code.vec_id
    GROUP BY code.vec_id, e.label, vn.vnorm
    """,
    tags=("L1", "L2", "X4", "U6"),
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    enc = SIM.pq_encode(e, n_centroids=16, m=8, dim=64)
    # codes as a dash-joined string: the engine keeps array<int> (pq_topk
    # consumes it), but the driver's row canonicalizer sorts on every
    # column and list cells sort engine-dependently — a scalar string is
    # the stable cross-engine surface.
    return enc.select(
        "vec_id",
        "label",
        F.array_join(F.col("codes"), "-").alias("codes"),
        "vnorm",
    )


@query(
    "sim_pq_topk",
    oracle=f"""
    WITH {_PQ_EL_SQL},
    pel AS (SELECT x, s, i FROM el WHERE vec_id = 1),
    qn AS (
      SELECT round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS qnorm
      FROM pel
    ),
    pt AS (
      SELECT c.c, c.s,
             CAST(SUM(CAST(round(p.x * c.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS tg
      FROM pel p JOIN cel c ON p.i = c.i
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT code.vec_id, CAST(SUM(tg) AS BIGINT) AS adcg
      FROM code JOIN pt USING (s, c) GROUP BY 1
    ),
    scored AS (
      SELECT a.vec_id,
             round((adcg / 1000000000.0) / (vnorm * qnorm), 6) AS adc_cosine
      FROM adc a JOIN vn USING (vec_id), qn
      WHERE a.vec_id <> 1
    ),
    cand AS (SELECT * FROM scored ORDER BY adc_cosine DESC, vec_id LIMIT 50),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(round(e.x * p.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS exg
      FROM el e JOIN pel p ON e.i = p.i
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1
    )
    SELECT c.vec_id, emb.label, c.adc_cosine,
           round((ex.exg / 1000000000.0) / (vn.vnorm * qn.qnorm), 6) AS cosine
    FROM cand c
    JOIN ex USING (vec_id)
    JOIN vn USING (vec_id)
    JOIN embeddings emb ON emb.vec_id = c.vec_id, qn
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
    """,
    tags=("L1", "L2", "W1", "O2"),
    bench=True,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_topk(e, probe_id=1, n_centroids=16, m=8, k=10, rerank=50, dim=64)


def _pq_kmeans_oracle(probe_id: int = 1) -> str:
    """PQ+1-Lloyd oracle, parameterized on the probe so the
    persisted-codebook twin (different probe) shares the exact codebook
    CTEs with ``sim_pq_kmeans_topk``."""
    return f"""
    WITH {_PQ_EL_SQL},
    rc AS (
      SELECT e.s, code.c AS c0, e.i,
             CAST(FLOOR((CAST(SUM(CAST(round(e.x * 1000000000.0) AS BIGINT))
                              AS BIGINT) * 2 + COUNT(*))
                        / (COUNT(*) * 2.0)) AS BIGINT)
               / 1000000000.0 AS cx
      FROM el e JOIN code ON e.vec_id = code.vec_id AND e.s = code.s
      GROUP BY 1, 2, 3
    ),
    d2r AS (
      SELECT e.vec_id, rc.c0, e.s,
             CAST(SUM(CAST(round((e.x - rc.cx) * (e.x - rc.cx)
                                 * 1000000000.0) AS BIGINT)) AS BIGINT) AS d2g
      FROM el e JOIN rc ON e.i = rc.i
      GROUP BY 1, 2, 3
    ),
    code1 AS (
      SELECT vec_id, s, c0 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2g, c0) AS rk
        FROM d2r
      ) WHERE rk = 1
    ),
    pel AS (SELECT x, s, i FROM el WHERE vec_id = {probe_id}),
    qn AS (
      SELECT round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS qnorm
      FROM pel
    ),
    ptr AS (
      SELECT rc.c0, rc.s,
             CAST(SUM(CAST(round(p.x * rc.cx * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS tg
      FROM pel p JOIN rc ON p.i = rc.i
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT code1.vec_id, CAST(SUM(tg) AS BIGINT) AS adcg
      FROM code1 JOIN ptr ON code1.s = ptr.s AND code1.c0 = ptr.c0
      GROUP BY 1
    ),
    scored AS (
      SELECT a.vec_id,
             round((adcg / 1000000000.0) / (vnorm * qnorm), 6) AS adc_cosine
      FROM adc a JOIN vn USING (vec_id), qn
      WHERE a.vec_id <> {probe_id}
    ),
    cand AS (SELECT * FROM scored ORDER BY adc_cosine DESC, vec_id LIMIT 50),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(round(e.x * p.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS exg
      FROM el e JOIN pel p ON e.i = p.i
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1
    )
    SELECT c.vec_id, emb.label, c.adc_cosine,
           round((ex.exg / 1000000000.0) / (vn.vnorm * qn.qnorm), 6) AS cosine
    FROM cand c
    JOIN ex USING (vec_id)
    JOIN vn USING (vec_id)
    JOIN embeddings emb ON emb.vec_id = c.vec_id, qn
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
    """


@query(
    "sim_pq_kmeans_topk",
    oracle=_pq_kmeans_oracle(),
    tags=("L1", "L2", "W1", "A1"),
)
def sim_pq_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.pq_kmeans_topk(
        e, probe_id=1, n_centroids=16, m=8, k=10, rerank=50, dim=64
    )


# --------------------------------------------------------------------------
# Persisted PQ codebook — the PQ counterpart of the persisted IVF index
# (VERDICT r12 next-round #8): train the 1-Lloyd-refined per-subspace
# codebook once, persist through the S5 parquet sink, and serve searches
# from the loaded artifact (re-encode + ADC + exact rerank only). At
# 100 TB the codebook is m·n_centroids rows — broadcast-side — while the
# training pass it amortizes away is a full corpus scan + two aggregates.
# --------------------------------------------------------------------------
_PQ_INDEX_NAME = "pq_m8_c16_lloyd1"


def _pq_codebook_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return _load_persisted_index(
        spark,
        e,
        _index_dir(sf_dir, _PQ_INDEX_NAME),
        lambda: SIM.pq_build_codebook(e, 16, 8, dim=64),
        fingerprint=_source_fingerprint(sf_dir),
    )


def _pq_codebook_oracle() -> str:
    """Codebook-relation oracle: the exact codebook CTEs of
    ``_pq_kmeans_oracle`` (sliced, not duplicated), projected as
    (s, c, pos, cx) scalar rows; ``pos`` is the 1-based element index
    WITHIN the subspace (global i = s·8 + pos)."""
    base = _pq_kmeans_oracle()
    cut = base.index("d2r AS")
    head = base[:cut].rstrip().rstrip(",")
    return (
        head
        + "\n    SELECT CAST(s AS BIGINT) AS s, CAST(c0 AS BIGINT) AS c,"
        + " CAST(i - s * 8 AS BIGINT) AS pos, cx FROM rc"
    )


@query(
    "sim_pq_persist_codebook",
    oracle=_pq_codebook_oracle(),
    tags=("L1", "S5", "A1"),
)
def sim_pq_persist_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the PQ codebook, persist via the parquet sink, read BACK,
    and emit the loaded artifact as scalar rows — the oracle hash-checks
    the on-disk codebook itself."""
    e = load_table(spark, sf_dir, "embeddings")
    loaded = _load_persisted_index(
        spark,
        e,
        _index_dir(sf_dir, _PQ_INDEX_NAME),
        lambda: SIM.pq_build_codebook(e, 16, 8, dim=64),
        force=True,
        fingerprint=_source_fingerprint(sf_dir),
    )
    return loaded.select(
        F.col("s").cast("long").alias("s"),
        F.col("c").cast("long").alias("c"),
        F.posexplode("cvec").alias("pos", "cx"),
    ).select(
        "s",
        "c",
        (F.col("pos") + 1).cast("long").alias("pos"),
        F.col("cx"),
    )


@query(
    "sim_pq_persisted_topk",
    oracle=_pq_kmeans_oracle(probe_id=2),
    tags=("L1", "L2", "W1", "S5"),
    bench=True,
)
def sim_pq_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-only PQ top-k against the persisted codebook (amortized
    path): zero training work when the codebook exists — one corpus
    scan through the Arrow encode/ADC kernel, broadcast rerank.
    Different probe (vec_id=2) than ``sim_pq_kmeans_topk`` so the two
    results are independently checkable."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebook_persisted(spark, sf_dir)
    return SIM.pq_search_codebook(e, cb, probe_id=2, k=10, rerank=50, dim=64, m=8)


# --------------------------------------------------------------------------
# The PQ CODES-SCAN serving path (round 14): `sim_pq_persisted_topk`
# amortizes codebook training but still re-ENCODES the corpus per query —
# the per-row distance argmin is the search cost. This query persists the
# codes relation itself (the ~9-byte/vector table ARCHITECTURE.md's PQ
# row says a 100 TB scan should read), maintained through the appendable
# commit path: between codebook retrains an accepted batch encodes only
# itself against the fixed codebook. A search is then an integer GATHER
# over the codes scan (probe dot-table built once per block from the
# broadcast codebook) + the rerank-row exact tail — the float embeddings
# are touched only for the probe lookup and the 50 reranked rows. Codes
# and codebook stamp the same source fingerprint, so a codebook rebuild
# can never pair with stale codes. Probe vec_id=3, independently
# checkable from the kmeans (1) and persisted (2) twins.
# --------------------------------------------------------------------------
@query(
    "sim_pq_append_topk",
    oracle=_pq_kmeans_oracle(probe_id=3),
    tags=("L1", "L2", "O2", "S5", "U4"),
    bench=True,
)
def sim_pq_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow.parquet as pq

    e = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebook_persisted(spark, sf_dir)
    n = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    c0 = n - 100  # the repo-wide 100-row ingest-batch convention
    fp = _source_fingerprint(sf_dir)

    def _slice(lo: int | None) -> DataFrame:
        cond = (
            F.col("vec_id") < c0 if lo is None else F.col("vec_id") >= lo
        )
        return e.filter(cond)

    codes = _load_appended_index(
        spark,
        _index_dir(sf_dir, f"pqcodes_{_PQ_INDEX_NAME}"),
        fp,
        c0,
        n - 1,
        lambda: SIM.pq_codes_from_codebook(_slice(None), cb, dim=64, m=8),
        lambda lo: SIM.pq_codes_from_codebook(_slice(lo), cb, dim=64, m=8),
    )
    return SIM.pq_topk_from_codes(
        codes, e, cb, probe_id=3, k=10, rerank=50, dim=64, m=8
    )


# --------------------------------------------------------------------------
# Hyperplane LSH, hash-exact twin: grid-exact projections + the plane
# constants embedded as a VALUES relation make the CANDIDATE SET itself
# reproducible in SQL, so the approximate tier earns a full value-hash
# oracle. The float-HOF variant (SIM.lsh_similarity_join) stays the
# engine throughput default — recall numbers in RECALL.md apply to both
# (same planes, same banding); its registry entry was retired round 7.
# --------------------------------------------------------------------------
def _lsh_planes_values_sql() -> str:
    rows = ", ".join(
        f"({p}, {j}, {x!r})"
        for p, plane in enumerate(SIM.lsh_planes(16, 64))
        for j, x in enumerate(plane)
    )
    return f"(SELECT * FROM (VALUES {rows}) AS pl(p, j, h))"


@query(
    "sim_lsh_pairs_checked",
    oracle=f"""
    WITH el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    vn AS (
      SELECT vec_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS vnorm
      FROM el GROUP BY 1
    ),
    proj AS (
      SELECT e.vec_id, pl.p,
             CAST(SUM(CAST(round(e.x * pl.h * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS g
      FROM el e JOIN {_lsh_planes_values_sql()} pl ON pl.j = e.i - 1
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT vec_id, p // 2 AS band,
             string_agg(CASE WHEN g >= 0 THEN '1' ELSE '0' END, ''
                        ORDER BY p) AS band_sig
      FROM proj GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CAST(round(ea.x * eb.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM cand c
      JOIN el ea ON ea.vec_id = c.id_a
      JOIN el eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY 1, 2
    )
    SELECT d.id_a, d.id_b,
           round((dg / 1000000000.0) / (na.vnorm * nb.vnorm), 6) AS cosine
    FROM dots d
    JOIN vn na ON d.id_a = na.vec_id
    JOIN vn nb ON d.id_b = nb.vec_id
    WHERE round((dg / 1000000000.0) / (na.vnorm * nb.vnorm), 6) >= 0.35
    """,
    tags=("L2", "J2", "A1"),
    bench=True,
)
def sim_lsh_pairs_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_similarity_join_exact(
        e, threshold=0.35, n_planes=16, n_bands=8, seed=42, dim=64
    )


@query(
    "sim_ivf_batch_topk",
    oracle="""
    WITH el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    vn AS (
      SELECT vec_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS vnorm
      FROM el GROUP BY 1
    ),
    sdot AS (
      SELECT e.vec_id, s.vec_id AS cell_id,
             CAST(SUM(CAST(round(e.x * s.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM el e JOIN el s ON s.i = e.i AND s.vec_id < 8
      GROUP BY 1, 2
    ),
    scos AS (
      SELECT d.vec_id, d.cell_id,
             round((dg / 1000000000.0) / (v.vnorm * sn.vnorm), 6) AS cosg
      FROM sdot d
      JOIN vn v ON v.vec_id = d.vec_id
      JOIN vn sn ON sn.vec_id = d.cell_id
    ),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cosg DESC, cell_id) AS rk
        FROM scos
      ) WHERE rk = 1
    ),
    pcells AS (
      SELECT vec_id AS probe_id, cell_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cosg DESC, cell_id) AS rk
        FROM scos WHERE vec_id % 100 = 1
      ) WHERE rk <= 2
    ),
    cand AS (
      SELECT p.probe_id, a.vec_id
      FROM assign a JOIN pcells p ON a.cell_id = p.cell_id
      WHERE a.vec_id <> p.probe_id
    ),
    cd AS (
      SELECT c.probe_id, c.vec_id,
             CAST(SUM(CAST(round(ea.x * eb.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM cand c
      JOIN el ea ON ea.vec_id = c.vec_id
      JOIN el eb ON eb.vec_id = c.probe_id AND eb.i = ea.i
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT cd.probe_id, cd.vec_id, emb.label,
             round((dg / 1000000000.0) / (va.vnorm * vb.vnorm), 6) AS cosine
      FROM cd
      JOIN vn va ON va.vec_id = cd.vec_id
      JOIN vn vb ON vb.vec_id = cd.probe_id
      JOIN embeddings emb ON emb.vec_id = cd.vec_id
    )
    SELECT probe_id, vec_id, label, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
    tags=("L1", "J1", "W1", "W2"),
    bench=True,
)
def sim_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF serving (operators/similarity.py::ivf_batch_topk):
    every vector with vec_id % 100 == 1 is a probe; ONE corpus scan +
    cell assignment answers all of them, candidates come from an
    equi-join of assigned rows against the broadcast (probed_cell,
    probe) relation, and the per-probe top-5 is one window. Grid-exact
    cosines end-to-end, so the full batch is value-hash checked."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_batch_topk(
        e,
        probe_pred=F.col("vec_id") % 100 == 1,
        n_cells=8,
        n_probe=2,
        k=5,
    )


def _jl_screened_oracle() -> str:
    from ..operators.linalg import jl_project_sql
    from ..operators.similarity import jl_screen_bound

    bound = jl_screen_bound(0.35)
    return f"""
    WITH el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    vn AS (
      SELECT vec_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS vnorm
      FROM el GROUP BY 1
    ),
    proj AS (
      SELECT e.vec_id, pl.p,
             CAST(SUM(CAST(round(e.x * pl.h * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS g
      FROM el e JOIN {_lsh_planes_values_sql()} pl ON pl.j = e.i - 1
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT vec_id, p // 2 AS band,
             string_agg(CASE WHEN g >= 0 THEN '1' ELSE '0' END, ''
                        ORDER BY p) AS band_sig
      FROM proj GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.vec_id < b.vec_id
    ),
    jls AS (
      SELECT vec_id, {jl_project_sql('embedding')} AS jl FROM embeddings
    ),
    scr AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN jls a ON a.vec_id = c.id_a
      JOIN jls b ON b.vec_id = c.id_b
      WHERE list_sum(list_transform(range(1, 17), j ->
              CAST(a.jl[j] - b.jl[j] AS HUGEINT)
              * CAST(a.jl[j] - b.jl[j] AS HUGEINT)))
            <= CAST({bound} AS HUGEINT)
    ),
    dots AS (
      SELECT c.id_a, c.id_b,
             CAST(SUM(CAST(round(ea.x * eb.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM scr c
      JOIN el ea ON ea.vec_id = c.id_a
      JOIN el eb ON eb.vec_id = c.id_b AND eb.i = ea.i
      GROUP BY 1, 2
    )
    SELECT d.id_a, d.id_b,
           round((dg / 1000000000.0) / (na.vnorm * nb.vnorm), 6) AS cosine
    FROM dots d
    JOIN vn na ON d.id_a = na.vec_id
    JOIN vn nb ON d.id_b = nb.vec_id
    WHERE round((dg / 1000000000.0) / (na.vnorm * nb.vnorm), 6) >= 0.35
    """


@query(
    "sim_lsh_jl_screened_pairs",
    oracle=_jl_screened_oracle(),
    tags=("L2", "J2", "X4"),
    bench=True,
)
def sim_lsh_jl_screened_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded-LSH pair join with the 16-dim integer JL screen between
    banding and the dim-64 exact refine (operators/similarity.py::
    lsh_jl_screened_pairs): the pair-stage exchange carries 16 int64s
    instead of 64 doubles and the exact refine runs only on screen
    survivors. Same planes/bands/threshold as `sim_lsh_pairs_checked`,
    so the two queries' outputs measure the screen's recall directly —
    pinned in tests/test_operators.py::test_jl_screened_lsh_pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_jl_screened_pairs(
        e, threshold=0.35, n_planes=16, n_bands=8, seed=42, dim=64
    )


@query(
    "sim_ivfpq_topk",
    oracle=f"""
    WITH {_PQ_EL_SQL},
    cellv AS (SELECT vec_id AS cell_id, x, i FROM el WHERE vec_id < 8),
    cn AS (
      SELECT cell_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS cnorm
      FROM cellv GROUP BY 1
    ),
    cdots AS (
      SELECT e.vec_id, c.cell_id,
             CAST(SUM(CAST(round(e.x * c.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM el e JOIN cellv c ON e.i = c.i
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT d.vec_id, d.cell_id,
             ROW_NUMBER() OVER (
               PARTITION BY d.vec_id
               ORDER BY round((dg / 1000000000.0)
                              / (vn.vnorm * cn.cnorm), 6) DESC, d.cell_id
             ) AS rk
      FROM cdots d
      JOIN vn ON d.vec_id = vn.vec_id
      JOIN cn ON d.cell_id = cn.cell_id
    ),
    assign AS (SELECT vec_id, cell_id FROM ranked WHERE rk = 1),
    pcells AS (SELECT cell_id FROM ranked WHERE vec_id = 1 AND rk <= 2),
    routed AS (
      SELECT a.vec_id FROM assign a JOIN pcells USING (cell_id)
      WHERE a.vec_id <> 1
    ),
    pel AS (SELECT x, s, i FROM el WHERE vec_id = 1),
    qn AS (
      SELECT round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS qnorm
      FROM pel
    ),
    pt AS (
      SELECT c.c, c.s,
             CAST(SUM(CAST(round(p.x * c.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS tg
      FROM pel p JOIN cel c ON p.i = c.i
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT code.vec_id, CAST(SUM(tg) AS BIGINT) AS adcg
      FROM code JOIN pt USING (s, c) JOIN routed USING (vec_id)
      GROUP BY 1
    ),
    scored AS (
      SELECT a.vec_id,
             round((adcg / 1000000000.0) / (vnorm * qnorm), 6) AS adc_cosine
      FROM adc a JOIN vn USING (vec_id), qn
    ),
    cand AS (SELECT * FROM scored ORDER BY adc_cosine DESC, vec_id LIMIT 50),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(round(e.x * p.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS exg
      FROM el e JOIN pel p ON e.i = p.i
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1
    )
    SELECT c.vec_id, emb.label, c.adc_cosine,
           round((ex.exg / 1000000000.0) / (vn.vnorm * qn.qnorm), 6) AS cosine
    FROM cand c
    JOIN ex USING (vec_id)
    JOIN vn USING (vec_id)
    JOIN embeddings emb ON emb.vec_id = c.vec_id, qn
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
    """,
    tags=("L1", "L2", "W1", "O2"),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivfpq_topk(
        e, probe_id=1, n_cells=8, n_probe=2, n_centroids=16, m=8, k=10,
        rerank=50, dim=64,
    )


# --------------------------------------------------------------------------
# IVFADC with RESIDUAL codes (TPAMI'11 §V, the paper-faithful refinement
# of sim_ivfpq_topk's raw-vector simplification): codes quantize v − c(v);
# inner-product ADC decomposes exactly as dot(q,v) = dot(q,c) + dot(q,r).
# Every reduction on the int64 PQ_GRID → the full composition (coarse
# assignment, residuals, residual codebook, codes, ADC, rerank) is
# hash-exact. On the isotropic synthetic fixture residuals don't beat raw
# codes (residual distribution ≈ raw distribution); on clustered real
# embeddings they are the standard precision win — the SHAPE is the
# contract here.
# --------------------------------------------------------------------------
_IVFPQ_RES_ORACLE = """
    WITH el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x,
             CAST((i - 1) // 8 AS INT) AS s, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    vn AS (
      SELECT vec_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS vnorm
      FROM el GROUP BY 1
    ),
    cl AS (SELECT vec_id AS cell, x, s, i FROM el WHERE vec_id < 8),
    ad AS (
      SELECT e.vec_id, c.cell,
             CAST(SUM(CAST(round(e.x * c.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM el e JOIN cl c ON e.i = c.i
      GROUP BY 1, 2
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT ad.vec_id, ad.cell,
               ROW_NUMBER() OVER (PARTITION BY ad.vec_id
                 ORDER BY round((ad.dg / 1000000000.0)
                                / (nv.vnorm * nc.vnorm), 6) DESC,
                          ad.cell) AS rk
        FROM ad
        JOIN vn nv ON ad.vec_id = nv.vec_id
        JOIN vn nc ON ad.cell = nc.vec_id
      ) WHERE rk = 1
    ),
    res AS (
      SELECT e.vec_id, e.x - c.x AS x, e.s, e.i
      FROM el e
      JOIN assign a ON e.vec_id = a.vec_id
      JOIN cl c ON c.cell = a.cell AND c.i = e.i
    ),
    rcb AS (SELECT vec_id AS cid, x, s, i FROM res WHERE vec_id < 16),
    d2 AS (
      SELECT r.vec_id, c.cid, r.s,
             CAST(SUM(CAST(round((r.x - c.x) * (r.x - c.x) * 1000000000.0)
                           AS BIGINT)) AS BIGINT) AS d2g
      FROM res r JOIN rcb c ON r.i = c.i
      GROUP BY 1, 2, 3
    ),
    code AS (
      SELECT vec_id, s, cid FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                     ORDER BY d2g, cid) AS rk
        FROM d2
      ) WHERE rk = 1
    ),
    pel AS (SELECT x, s, i FROM el WHERE vec_id = 1),
    qn AS (SELECT vnorm AS qnorm FROM vn WHERE vec_id = 1),
    pcells AS (
      SELECT cell FROM (
        SELECT ad.cell,
               ROW_NUMBER() OVER (
                 ORDER BY round((ad.dg / 1000000000.0)
                                / (qn.qnorm * nc.vnorm), 6) DESC,
                          ad.cell) AS rk
        FROM ad JOIN vn nc ON ad.cell = nc.vec_id, qn
        WHERE ad.vec_id = 1
      ) WHERE rk <= 2
    ),
    dqc AS (
      SELECT c.cell,
             CAST(SUM(CAST(round(p.x * c.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM pel p JOIN cl c ON p.i = c.i
      GROUP BY 1
    ),
    pt AS (
      SELECT c.cid, c.s,
             CAST(SUM(CAST(round(p.x * c.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS tg
      FROM pel p JOIN rcb c ON p.i = c.i
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT code.vec_id,
             CAST(SUM(pt.tg) AS BIGINT) + ANY_VALUE(dqc.dg) AS adcg
      FROM code
      JOIN pt USING (s, cid)
      JOIN assign ON code.vec_id = assign.vec_id
      JOIN dqc ON assign.cell = dqc.cell
      GROUP BY 1
    ),
    scored AS (
      SELECT a.vec_id,
             round((a.adcg / 1000000000.0) / (vn.vnorm * qn.qnorm), 6)
               AS adc_cosine
      FROM adc a
      JOIN vn USING (vec_id)
      JOIN assign ON a.vec_id = assign.vec_id
      JOIN pcells ON assign.cell = pcells.cell, qn
      WHERE a.vec_id <> 1
    ),
    cand AS (SELECT * FROM scored ORDER BY adc_cosine DESC, vec_id LIMIT 50),
    ex AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(round(e.x * p.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS exg
      FROM el e JOIN pel p ON e.i = p.i
      WHERE e.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY 1
    )
    SELECT c.vec_id, emb.label, c.adc_cosine,
           round((ex.exg / 1000000000.0) / (vn.vnorm * qn.qnorm), 6) AS cosine
    FROM cand c
    JOIN ex USING (vec_id)
    JOIN vn USING (vec_id)
    JOIN embeddings emb ON emb.vec_id = c.vec_id, qn
    ORDER BY cosine DESC, c.vec_id
    LIMIT 10
"""


@query(
    "sim_ivfpq_residual_topk",
    oracle=_IVFPQ_RES_ORACLE,
    tags=("L1", "L2", "W1", "O2"),
)
def sim_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivfpq_residual_topk(
        e, probe_id=1, n_cells=8, n_probe=2, n_centroids=16, m=8, k=10,
        rerank=50, dim=64,
    )


# --------------------------------------------------------------------------
# Multi-probe LSH (Lv et al. VLDB'07): one signature table (8 planes →
# 256 buckets), probed at the query bucket and all ≤2-bit perturbations
# (37 probes) — recall without index replication. Grid-exact sign bits →
# the probed bucket set and the candidate relation are reproducible in
# SQL → full hash oracle.
# --------------------------------------------------------------------------
@query(
    "sim_lsh_multiprobe_topk",
    oracle=f"""
    WITH el AS (
      SELECT vec_id, CAST(x AS DOUBLE) AS x, i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    vn AS (
      SELECT vec_id,
             round(sqrt(CAST(SUM(CAST(round(x * x * 1000000000.0) AS BIGINT))
                             AS BIGINT) / 1000000000.0), 6) AS vnorm
      FROM el GROUP BY 1
    ),
    proj AS (
      SELECT e.vec_id, pl.p,
             CAST(SUM(CAST(round(e.x * pl.h * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS g
      FROM el e JOIN {_lsh_planes_values_sql()} pl ON pl.j = e.i - 1
      WHERE pl.p < 8
      GROUP BY 1, 2
    ),
    sigs AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN g >= 0
                           THEN CAST(1 AS BIGINT) << p ELSE 0 END)
                  AS BIGINT) AS sig
      FROM proj GROUP BY 1
    ),
    qsig AS (SELECT sig FROM sigs WHERE vec_id = 1),
    probeset AS (
      SELECT sig FROM qsig
      UNION
      SELECT xor(qsig.sig, CAST(1 AS BIGINT) << CAST(f.range AS INTEGER))
      FROM qsig, range(8) f
      UNION
      SELECT xor(qsig.sig,
                 (CAST(1 AS BIGINT) << CAST(f1.range AS INTEGER))
                 | (CAST(1 AS BIGINT) << CAST(f2.range AS INTEGER)))
      FROM qsig, range(8) f1, range(8) f2
      WHERE f1.range < f2.range
    ),
    cand AS (
      SELECT s.vec_id FROM sigs s JOIN probeset p ON s.sig = p.sig
      WHERE s.vec_id <> 1
    ),
    pel AS (SELECT x, i FROM el WHERE vec_id = 1),
    qn AS (SELECT vnorm AS qnorm FROM vn WHERE vec_id = 1),
    dots AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(round(e.x * p.x * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS dg
      FROM el e JOIN pel p ON e.i = p.i
      JOIN cand c ON e.vec_id = c.vec_id
      GROUP BY 1
    )
    SELECT d.vec_id, emb.label,
           round((dg / 1000000000.0) / (vn.vnorm * qn.qnorm), 6) AS cosine
    FROM dots d
    JOIN vn USING (vec_id)
    JOIN embeddings emb ON emb.vec_id = d.vec_id, qn
    ORDER BY cosine DESC, d.vec_id
    LIMIT 10
    """,
    tags=("L1", "L2", "W1", "O2"),
    bench=True,
)
def sim_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_multiprobe_topk(
        e, probe_id=1, n_planes=8, seed=42, k=10, max_flips=2, dim=64
    )


# --------------------------------------------------------------------------
# In-engine distributed PCA (operators/linalg.py): exact int64-grid
# covariance via Arrow-batched numpy partials (one dim^2 partial per
# partition — the only thing that ever crosses the wire), then a fixed
# 12-step power iteration evaluated in-plan on the 1-row context. The
# oracle replays the identical arithmetic: exact integer M/S/n sums via
# unnest, then the same left-fold float sequences (list_reduce with a
# prepended 0.0 init == Spark's aggregate(arr, 0.0, ...)).
# --------------------------------------------------------------------------
def _pca_oracle(dim: int = 64, iters: int = 12) -> str:
    d2 = dim * dim
    head = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                            x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv
      FROM embeddings
    ),
    mi AS (
      SELECT k, SUM(qv[k // {dim} + 1] * qv[k % {dim} + 1]) AS mv
      FROM q, (SELECT unnest(range({d2})) AS k)
      GROUP BY k
    ),
    mm AS (SELECT list(mv ORDER BY k) AS m FROM mi),
    si AS (
      SELECT i, SUM(qv[i + 1]) AS sv
      FROM q, (SELECT unnest(range({dim})) AS i)
      GROUP BY i
    ),
    ss AS (SELECT list(sv ORDER BY i) AS s FROM si),
    nn AS (SELECT COUNT(*) AS n FROM q),
    it0 AS (
      SELECT list_transform(range({d2}),
               k -> (CAST(m[k + 1] AS DOUBLE)
                     - CAST(s[k // {dim} + 1] AS DOUBLE)
                       * CAST(s[k % {dim} + 1] AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / CAST(n AS DOUBLE)) AS c,
             list_transform(range({dim}),
               i -> CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE)
                         ELSE CAST(0.0 AS DOUBLE) END) AS v
      FROM mm, ss, nn
    )"""
    matvec = (
        f"list_transform(range({dim}), i -> list_reduce("
        f"list_prepend(CAST(0.0 AS DOUBLE), list_transform(range({dim}), "
        f"j -> c[i * {dim} + j + 1] * v[j + 1])), (acc, x) -> acc + x))"
    )
    norm_of_w = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(w, y -> y * y)), (acc, x) -> acc + x))"
    )
    steps = []
    for t in range(1, iters + 1):
        prev = "it0" if t == 1 else f"it{t - 1}"
        steps.append(f"w{t} AS (SELECT c, {matvec} AS w FROM {prev})")
        steps.append(
            f"it{t} AS (SELECT c, list_transform(w, x -> x / "
            f"{norm_of_w}) AS v FROM w{t})"
        )
    final = f"""
    wf AS (SELECT c, v, {matvec} AS w FROM it{iters}),
    eig AS (
      SELECT v,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range({dim}), i -> v[i + 1] * w[i + 1])),
               (acc, x) -> acc + x) / (1048576.0 * 1048576.0) AS ev
      FROM wf
    )
    SELECT CAST(i AS INTEGER) AS dim_idx,
           round(v[i + 1], 6) AS comp_6,
           round(ev, 6) AS eigval_6
    FROM eig, (SELECT unnest(range({dim})) AS i)
    """
    return head + ",\n" + ",\n".join(steps) + "," + final


@query(
    "sim_pca_top_component",
    oracle=_pca_oracle(),
    tags=("L1", "U4", "X3", "X4"),
)
def sim_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linalg import pca_top_component

    e = load_table(spark, sf_dir, "embeddings")
    return pca_top_component(e, "embedding", dim=64, iters=12)


# --------------------------------------------------------------------------
# Signed Johnson–Lindenstrauss projection (operators/linalg.jl_project):
# the 100 TB dimensionality pre-filter — one shuffle-free narrow map that
# cuts every downstream pair/dot evaluation dim_in/dim_out (here 4×).
# --------------------------------------------------------------------------
def _jl_sig_oracle() -> str:
    from ..operators.linalg import jl_project_sql

    return f"""
    SELECT vec_id,
           array_to_string(
             list_transform({jl_project_sql('embedding')},
                            v -> CAST(v AS VARCHAR)), '-') AS jl_sig
    FROM embeddings
    """


@query(
    "sim_jl_project",
    oracle=_jl_sig_oracle(),
    tags=("L1", "X4"),
)
def sim_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact int64 JL signatures for every vector — the md5-derived ±1
    sign matrix and the 1e-7 quantize-once grid are shared verbatim with
    the oracle (operators/linalg.jl_signs / jl_project_sql), so the
    16-dim projection is value-hash exact cross-engine."""
    from ..operators.linalg import jl_project

    e = load_table(spark, sf_dir, "embeddings")
    return jl_project(e, "embedding").select(
        "vec_id",
        F.concat_ws(
            "-", F.transform("jl", lambda x: x.cast("string"))
        ).alias("jl_sig"),
    )


def _jl_topk_oracle() -> str:
    from ..operators.linalg import jl_project_sql

    p = jl_project_sql("embedding")
    return f"""
    WITH pr AS (
      SELECT {p} AS pjl FROM embeddings WHERE vec_id = 0
    ),
    cd AS (
      SELECT vec_id, label, {p} AS cjl FROM embeddings WHERE vec_id <> 0
    )
    SELECT vec_id, label,
           CAST(list_sum(list_transform(range(1, 17), j ->
             CAST(cjl[j] - pjl[j] AS HUGEINT)
             * CAST(cjl[j] - pjl[j] AS HUGEINT))) AS DOUBLE) AS d2
    FROM cd, pr
    ORDER BY d2, vec_id
    LIMIT 10
    """


@query(
    "sim_jl_topk",
    oracle=_jl_topk_oracle(),
    tags=("L1", "O2", "X4"),
)
def sim_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbors of probe 0 in PROJECTED space: exact integer
    squared-L2 over the 16-dim JL signatures (diffs cast to decimal
    before squaring — |diff|² · 16 overflows int64 at the 1e-7 grid, and
    the DECIMAL(38,0) sum is exact where a double sum would rank by
    ulp), then the one cross-engine-safe emission: the exact integer
    cast to double (correctly rounded from the same integer on both
    sides). TakeOrderedAndProject over a narrow map — the probe is a
    1-row broadcast, no shuffle of the candidate relation.

    At 100 TB this ordering is the coarse candidate stage: project once
    (4× smaller), take top-C in projected space, re-rank only the C
    survivors with exact cosine. The recall of that composition is
    MEASURED, not assumed (tests/test_operators.py::
    test_jl_projection_distortion_and_recall): on concentrated isotropic
    unit vectors dout=16 retains 0.204 of exact top-5 at C=20 and 0.552
    at C=100 — so C must be ≳20–30× k here, and high-recall serving
    belongs to the IVF tiers (recommend_ann_tier). The projection's
    distance estimates themselves are unbiased (distortion mean 1.017,
    p05/p95 0.50/1.65), which is what makes it a sound blocking key."""
    from ..operators.linalg import jl_project

    e = load_table(spark, sf_dir, "embeddings")
    proj = jl_project(e, "embedding")
    probe = (
        proj.filter(F.col("vec_id") == 0)
        .select(F.col("jl").alias("pjl"))
        .limit(1)  # provably 1-row broadcast context (cartesian sweep)
    )
    cand = proj.filter(F.col("vec_id") != 0)
    diff2 = F.aggregate(
        F.zip_with(
            F.col("jl"),
            F.col("pjl"),
            lambda c, p: (
                (c - p).cast("decimal(19,0)") * (c - p).cast("decimal(19,0)")
            ),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    return (
        cand.crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            diff2.cast("double").alias("d2"),
        )
        .orderBy("d2", "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of a lexical BM25 arm and a
# semantic cosine arm (Cormack, Clarke & Büttcher 2009, "Reciprocal Rank
# Fusion outperforms Condorcet and individual rank learning methods").
# Each arm contributes its deterministic top-50 ranking (rank = integer
# row_number with a doc_id tiebreak over the arm's rounded-6 score, both
# already hash-exact surfaces); RRF is folded on an integer grid —
# 10^6 div (60 + rank), absent-from-arm contributes 0 — so the fused
# ordering never touches float summation. The 100 TB shape is two
# independent TakeOrderedAndProject arms (each the already-documented
# zero-shuffle-until-topk pattern) fused by a 50∪50-row join: the fusion
# itself costs nothing at any scale.
# --------------------------------------------------------------------------
_RRF_K = 60
_RRF_POOL = 50
_RRF_SCALE = 1_000_000

from .text_analysis import bm25_scored_sql as _bm25_scored_sql  # noqa: E402

_HYBRID_RRF_ORACLE = f"""
    WITH lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
      FROM ({_bm25_scored_sql()})
      ORDER BY bm25 DESC, doc_id LIMIT {_RRF_POOL}
    ),
    {_PROBE_SQL.strip()},
    sem AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (ORDER BY round(dot / (nc * np), 6) DESC,
                                vec_id) AS rank_sem
      FROM scored, probe_norm
      ORDER BY round(dot / (nc * np), 6) DESC, vec_id LIMIT {_RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.rank_lex, s.rank_sem,
             COALESCE({_RRF_SCALE} // ({_RRF_K} + l.rank_lex), 0)
               + COALESCE({_RRF_SCALE} // ({_RRF_K} + s.rank_sem), 0)
               AS rrf_score
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, rank_lex, rank_sem, CAST(rrf_score AS BIGINT) AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
"""


@query(
    "sim_hybrid_rrf",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("L1", "L4", "O2", "W2", "J3"),
    bench=True,
)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators import text_analysis as TA
    from .text_analysis import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = (
        TA.bm25_topk(docs, terms=_BM25_TERMS, k=_RRF_POOL, keep_cols=())
        .withColumn(
            "rank_lex",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
            ),
        )
        .select("doc_id", "rank_lex")
    )
    sem = (
        SIM.cosine_topk_by_id(emb, probe_id=0, k=_RRF_POOL, keep_cols=())
        .withColumn(
            "rank_sem",
            F.row_number().over(
                Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
            ),
        )
        .select(F.col("vec_id").alias("doc_id"), "rank_sem")
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_sem",
        (
            F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank_lex)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{_RRF_SCALE} div ({_RRF_K} + rank_sem)"), F.lit(0)
            )
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id")).limit(10)
