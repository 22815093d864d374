"""16x scale-up smoke for the round-2 families (the 100x-claim evidence,
same methodology as the round-1 flagship smoke recorded in BASELINE_HISTORY.md):
feed key-shifted unions of the sf0.1 tables through the IDENTICAL plans
the registered queries use, and compare wall-clock + plan shape.

- events 16x (event_id-shifted, same time span): gap-fill/LOCF grid stays
  3600 slots with 16x rows per slot — tests that the aggregate absorbs the
  growth and the window input stays bounded by the grid, not the data.
- documents 16x (doc_id-shifted, text unchanged): every document gains 16
  exact copies — the curation pipeline's cheap content-hash stage must
  collapse them BEFORE the expensive near-dup join, so the Jaccard stage
  sees the same ~2.3k survivors as 1x and total time grows far sub-16x.

Run: ``python tools/scaleup_smoke.py``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def timed(label: str, df) -> float:
    df.count()  # warm
    t0 = time.perf_counter()
    n = df.count()
    dt = time.perf_counter() - t0
    print(f"{label}: {dt:.2f} s ({n} rows)")
    return dt


def forced(build):
    """Forced-methodology timing (bench-v2): force every output column
    with the bit_xor(xxhash64(struct(*))) reduction, warm codegen/JIT on
    one pass, then time a FRESHLY-built plan (re-collecting the same df
    lets the scheduler skip every map stage whose shuffle files the warm
    pass wrote — the per-row work these ladders measure is exactly what
    gets skipped)."""

    def agg(df):
        return df.select(F.bit_xor(F.xxhash64(F.struct("*"))).alias("h"))

    warm = build()
    warm.count()  # row-count sanity / warm scan
    agg(warm).collect()  # warm (codegen + JIT)
    t0 = time.perf_counter()
    agg(build()).collect()  # fresh lineage: no stage skipping
    return time.perf_counter() - t0


def _shifted_union(df, key_col: str, k: int):
    """k key-shifted copies of df (text/payload unchanged)."""
    out = df
    for i in range(1, k):
        out = out.unionByName(
            df.withColumn(key_col, F.col(key_col) + F.lit(i * 10_000_000))
        )
    return out


def _fresh_vocab_union(docs, k: int):
    """k copies of the corpus with DISJOINT vocabularies: every token of
    copy i is prefixed ``w{i}_``, so copies share zero shingles and the
    per-universe document-frequency profile is preserved. This models a
    corpus whose vocabulary grows with its size (the realistic web-scale
    shape for a standalone near-dup join, where exact copies would instead
    be collapsed by the content-hash stage first) — with plain text copies
    the smoke would measure a degenerate everything-matches-everything
    near-dup cluster, not scale-up."""
    out = docs
    for i in range(1, k):
        out = out.unionByName(
            docs.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
            ).withColumn(
                "text",
                F.concat(
                    F.lit(f"w{i}_"),
                    F.regexp_replace(F.col("text"), " ", f" w{i}_"),
                ),
            )
        )
    return out


def _block_bytes_check(proj, what):
    """Assert the bytes-aware kernel block sizing at this rung: with
    n_blocks = max(2x parallelism, ceil(est/128MB)) the per-block bytes
    can never exceed the 128 MB target whenever Catalyst can price the
    plan (VERDICT r10 weak #1 done-criterion)."""
    from ppdb_parser_spark.operators.similarity import (
        KERNEL_BLOCK_BYTES,
        kernel_block_count,
    )

    nb = kernel_block_count(proj)
    try:
        est = int(
            str(
                proj._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
        )
    except Exception:
        print(f"  -> {what}: plan stats unavailable, floor n_blocks={nb}")
        return
    per = est / nb
    assert per <= KERNEL_BLOCK_BYTES, (
        f"{what}: {per/1e6:.1f} MB/block exceeds the 128 MB target "
        f"(est {est/1e6:.1f} MB, n_blocks {nb})"
    )
    print(
        f"  -> {what}: n_blocks={nb} from est {est/1e6:.1f} MB "
        f"-> {per/1e6:.2f} MB/block (target 128)"
    )


def main() -> None:
    import sys as _sys

    from ppdb_parser_spark.operators.dedup import jaccard_pairs_prefix
    from ppdb_parser_spark.operators.similarity import ivf_kmeans_topk, ivf_topk
    from ppdb_parser_spark.queries.pipeline import curate_documents
    from ppdb_parser_spark.queries.timeseries import filled_hourly_frame
    from ppdb_parser_spark.session import get_spark
    from ppdb_parser_spark.sources.tables import load_table

    only = set(_sys.argv[1:])  # e.g. `python tools/scaleup_smoke.py prefix ivf`

    spark = get_spark(app_name="scaleup-smoke")
    sf = "/root/testdata/sf0.1"

    ev = load_table(spark, sf, "events")
    docs = load_table(spark, sf, "documents")

    def gapfill(frame):
        filled = filled_hourly_frame(frame)
        return filled.select(
            "event_type", "h",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )

    if not only or "gapfill" in only:
        t1 = timed("gapfill 1x", gapfill(ev))
        for k in (16, 64):
            tk = timed(f"gapfill {k}x", gapfill(_shifted_union(ev, "event_id", k)))
            print(f"  -> {tk / t1:.1f}x time for {k}x data")

    if not only or "curation" in only:
        c1 = timed("curation 1x", curate_documents(docs))
        for k in (16, 64):
            ck = timed(
                f"curation {k}x", curate_documents(_shifted_union(docs, "doc_id", k))
            )
            print(f"  -> {ck / c1:.1f}x time for {k}x data "
                  "(content-hash dedup collapses the copies pre-Jaccard)")

    if not only or "governance" in only:
        # the round-5 composed governance lineage (quality → decontaminate
        # → mixture → dedup → split): key-shifted copies, so the narrow
        # hash-bucket stages shrink the corpus BEFORE the dedup exchanges
        # and the content-hash stage collapses the copies pre-Jaccard
        from ppdb_parser_spark.queries.training_data import govern_documents

        g1 = timed("governance_v2 1x", govern_documents(docs))
        for k in (16,):
            gk = timed(
                f"governance_v2 {k}x",
                govern_documents(_shifted_union(docs, "doc_id", k)),
            )
            print(f"  -> {gk / g1:.1f}x time for {k}x data")

    if not only or "prefix" in only:
        # standalone exact near-dup join at growing corpus size (verdict
        # r2 #7): fresh-vocab copies so the join's candidate structure
        # scales like a real corpus, not like one giant duplicate cluster
        p1 = timed("jaccard_prefix 1x", jaccard_pairs_prefix(docs, 0.5, 2))
        for k in (16, 64):
            pk = timed(
                f"jaccard_prefix {k}x",
                jaccard_pairs_prefix(_fresh_vocab_union(docs, k), 0.5, 2),
            )
            print(f"  -> {pk / p1:.1f}x time for {k}x data "
                  "(expected ~linear: per-universe candidate work is "
                  "constant, universes are disjoint)")

    if not only or "ivf" in only:
        # IVF at realistic cell counts (verdict r2 #6): 16x embeddings
        # (32k vectors), n_cells 64/256. Broadcast context = seeds array:
        # n_cells x dim x 8B (256 x 64 -> ~131 kB) — still trivially
        # broadcastable; per-row assignment stays O(n_cells * dim).
        emb = load_table(spark, sf, "embeddings")
        emb16 = _shifted_union(emb, "vec_id", 16)
        print(f"embeddings 16x={emb16.count()}")
        for cells in (8, 64, 256):
            ctx_kb = cells * 64 * 8 / 1024
            t = timed(
                f"ivf_topk 16x cells={cells}",
                ivf_topk(emb16, n_cells=cells, n_probe=2, k=5),
            )
            tk = timed(
                f"ivf_kmeans_topk 16x cells={cells}",
                ivf_kmeans_topk(emb16, n_cells=cells, n_probe=2, k=5),
            )
            print(f"  -> broadcast seeds context ~{ctx_kb:.0f} kB")

    if "ivflists" in only:
        # Inverted-list serving growth law (round 14): the per-query cost
        # of `ivf_search_centroids` is the corpus-wide assignment map
        # (O(n·cells·dim) per query, Arrow kernel or not), while
        # `ivf_topk_from_assignments` reads ONLY the probed cells'
        # partition directories of the PERSISTED assignment relation —
        # n_probe/n_cells of the data and zero assignment arithmetic.
        # Both walls grow ~linearly in k at fixed n_cells; the rung pins
        # the widening absolute gap (the work a 100 TB query skips).
        # Assignments build OUTSIDE the timed region (they are the
        # persisted artifact; their build cost is the appendscale story).
        import shutil as _sh

        from ppdb_parser_spark.operators.similarity import (
            ivf_assignments,
            ivf_build_centroids,
            ivf_search_centroids,
            ivf_topk_from_assignments,
        )

        emb = load_table(spark, sf, "embeddings")
        for k in (16, 64):
            ek = _shifted_union(emb, "vec_id", k).localCheckpoint(
                eager=True
            )
            cents = ivf_build_centroids(ek, n_cells=8).localCheckpoint(
                eager=True
            )
            path = f"/tmp/ivflists_{k}"
            _sh.rmtree(path, ignore_errors=True)
            ivf_assignments(ek, cents).write.partitionBy(
                "cell_id"
            ).parquet(path)
            lists = spark.read.parquet(path)
            t_scan = forced(
                lambda: ivf_search_centroids(
                    ek, cents, probe_id=3, n_probe=2, k=5
                )
            )
            print(f"ivflists {k}x corpus-reassign search: {t_scan:.2f} s")
            t_srv = forced(
                lambda: ivf_topk_from_assignments(
                    lists, ek, cents, probe_id=3, n_probe=2, k=5
                )
            )
            print(
                f"ivflists {k}x pruned list serve:       {t_srv:.2f} s"
                f"  -> serve saves {t_scan / t_srv:.2f}x"
            )
            _sh.rmtree(path, ignore_errors=True)

    if "pqcodes" in only:
        # PQ codes-scan serving growth law (round 14): per-query cost of
        # `pq_search_codebook` is the corpus re-ENCODE (per-row distance
        # argmin, the pqgemm ladder's subject) + ADC; `pq_topk_from_codes`
        # replaces both with an integer gather over the persisted
        # ~9-byte/vector codes relation. Codes build OUTSIDE the timed
        # region (the appendscale story). Both walls grow in k; the rung
        # pins the widening gap — the encode work a serving query skips.
        import shutil as _sh

        from ppdb_parser_spark.operators.similarity import (
            pq_build_codebook,
            pq_codes_from_codebook,
            pq_search_codebook,
            pq_topk_from_codes,
        )

        emb = load_table(spark, sf, "embeddings")
        for k in (16, 64, 256):
            ek = _shifted_union(emb, "vec_id", k).localCheckpoint(
                eager=True
            )
            cb = pq_build_codebook(
                ek, n_centroids=16, m=8, dim=64
            ).localCheckpoint(eager=True)
            path = f"/tmp/pqcodes_{k}"
            _sh.rmtree(path, ignore_errors=True)
            pq_codes_from_codebook(ek, cb, dim=64, m=8).write.parquet(
                path
            )
            codes = spark.read.parquet(path)
            t_enc = forced(
                lambda: pq_search_codebook(
                    ek, cb, probe_id=3, k=10, rerank=50, dim=64, m=8
                )
            )
            print(f"pqcodes {k}x re-encode search: {t_enc:.2f} s")
            t_srv = forced(
                lambda: pq_topk_from_codes(
                    codes, ek, cb, probe_id=3, k=10, rerank=50,
                    dim=64, m=8,
                )
            )
            print(
                f"pqcodes {k}x codes-scan serve: {t_srv:.2f} s"
                f"  -> serve saves {t_enc / t_srv:.2f}x"
            )
            _sh.rmtree(path, ignore_errors=True)

    if "pqgemm" in only or "pqgemm256" in only:
        # PQ encode (Arrow/GEMM code assignment) growth law at 64
        # centroids. Forced methodology, fresh lineage per measurement.
        from ppdb_parser_spark.operators.similarity import pq_encode

        emb = load_table(spark, sf, "embeddings")
        pq_ks = (1, 16, 64, 256) if "pqgemm256" in only else (1, 16, 64)
        for k in pq_ks:
            ek = emb if k == 1 else _shifted_union(emb, "vec_id", k)
            ek = ek.localCheckpoint(eager=True)
            n = ek.count()
            _block_bytes_check(
                ek.select("vec_id", "label", "embedding"), f"pqgemm {k}x"
            )
            wall = forced(lambda ek=ek: pq_encode(ek, 64, 8, dim=64))
            print(f"pq_encode {k}x ({n} rows) centroids=64: {wall:.2f} s")

    if "lshgemm" in only:
        # LSH SIGNATURE map (shuffle-free Arrow map) growth law. Times
        # the signature relation ONLY: on shifted-union copies
        # (identical vectors → identical signatures) the band join's
        # candidate volume grows quadratically, which would swamp the
        # map being measured (a first attempt at 64× timed out on
        # exactly that).
        from ppdb_parser_spark.operators.similarity import (
            gemm_lsh_bits,
            lsh_planes,
        )

        emb = load_table(spark, sf, "embeddings")
        planes = lsh_planes(16, 64, 42)
        for k in (1, 16, 64):
            ek = emb if k == 1 else _shifted_union(emb, "vec_id", k)
            ek = ek.localCheckpoint(eager=True)
            n = ek.count()
            wall = forced(
                lambda ek=ek: gemm_lsh_bits(
                    ek, planes, id_col="vec_id", vec_col="embedding"
                ).select("vec_id", "bits")
            )
            print(f"lsh_signatures {k}x ({n} rows) planes=16: {wall:.2f} s")

    if "ivfgemm" in only or "ivfgemm256" in only:
        # single-probe ivf_topk at a realistic 256-cell count so the
        # O(n·cells·dim) GEMM ASSIGNMENT map dominates the wall (one
        # probe → the candidate/top-k tail stays tiny at every rung).
        # Forced-methodology timing (fresh lineage per measurement — the
        # block-shuffle files must not be reused).
        emb = load_table(spark, sf, "embeddings")
        cells = 256
        ks = (1, 16, 64, 256) if "ivfgemm256" in only else (1, 16, 64)
        for k in ks:
            ek = emb if k == 1 else _shifted_union(emb, "vec_id", k)
            ek = ek.localCheckpoint(eager=True)  # isolate from union cost
            n = ek.count()
            _block_bytes_check(
                ek.select("vec_id", "label", "embedding"), f"ivfgemm {k}x"
            )
            wall = forced(
                lambda ek=ek: ivf_topk(ek, n_cells=cells, n_probe=2, k=5)
            )
            print(f"ivf_topk {k}x ({n} rows) cells={cells}: {wall:.2f} s")

    if not only or "winnow" in only or "winnow256" in only:
        # winnowing + fingerprint match at growing corpus size: fresh-vocab
        # copies (disjoint k-gram universes) — fingerprint df stays tiny per
        # universe, so the match join must scale ~linearly like the prefix
        # join, not quadratically. `winnow256` extends to 256x (~3.2M docs)
        # to find the first superlinear knee (VERDICT r5 item 7).
        from ppdb_parser_spark.operators.dedup import winnow_match

        ks = (16, 64, 256) if "winnow256" in only else (16, 64)
        w1 = timed("winnow_match 1x", winnow_match(docs))
        prev_k, prev_t = 1, w1
        for k in ks:
            wk = timed(
                f"winnow_match {k}x", winnow_match(_fresh_vocab_union(docs, k))
            )
            step = (wk / prev_t) / (k / prev_k)
            print(
                f"  -> {wk / w1:.1f}x time for {k}x data "
                f"(step efficiency {prev_k}x->{k}x: {step:.2f}; >1 = "
                "superlinear knee)"
            )
            prev_k, prev_t = k, wk

    if not only or "repetition" in only:
        from ppdb_parser_spark.operators.text_analysis import repetition_stats

        r1 = timed("repetition 1x", repetition_stats(docs))
        for k in (16,):
            rk = timed(
                f"repetition {k}x",
                repetition_stats(_shifted_union(docs, "doc_id", k)),
            )
            print(f"  -> {rk / r1:.1f}x time for {k}x data "
                  "(pure aggregation cascade: expected ~linear)")

    if not only or "textrank" in only:
        # token-graph PageRank: 16x key-shifted docs leave the VOCABULARY
        # (node set) unchanged — edge weights grow 16x but the graph and
        # the 3 fixed join+agg rounds are constant-size, so the cost is
        # the bigram count pass, ~linear in tokens
        from ppdb_parser_spark.queries.registry import REGISTRY as _R

        t1 = timed("textrank 1x", _R["text_textrank"].fn(spark, sf))
        # 16x: inline the same edge build over the shifted union
        from ppdb_parser_spark.queries.text_analysis import text_textrank as _tt
        import ppdb_parser_spark.sources.tables as _tab

        import ppdb_parser_spark.queries.text_analysis as _ta_mod

        orig = _tab.load_table
        # capture the restore target BEFORE entering try: an exception in
        # the try body must not turn the finally into a NameError that
        # masks it
        saved = _ta_mod.load_table
        try:
            _tab_load = lambda s, d, t: (
                _shifted_union(orig(s, d, t), "doc_id", 16)
                if t == "documents"
                else orig(s, d, t)
            )
            _ta_mod.load_table = _tab_load
            t16 = timed("textrank 16x", _tt(spark, sf))
        finally:
            _ta_mod.load_table = saved
        print(f"  -> {t16 / t1:.1f}x time for 16x data")

    if not only or "pq" in only:
        from ppdb_parser_spark.operators.similarity import pq_topk

        emb = load_table(spark, sf, "embeddings")
        e16 = _shifted_union(emb, "vec_id", 16)
        q1 = timed("pq_topk 1x", pq_topk(emb, dim=64))
        q16 = timed("pq_topk 16x", pq_topk(e16, dim=64))
        print(f"  -> {q16 / q1:.1f}x time for 16x vectors "
              "(codes scan linear; rerank fixed at R)")


    if not only or "semdedup" in only:
        # SemDeDup scale claim: candidate-pair cost is Σ|cell|², so
        # n_cells must grow ∝ n to keep per-cell quadratic cost flat.
        # 16x embeddings (vec_id-shifted, dim-0 perturbed so copies are
        # near- but not exact-dups and spread across cells) timed with
        # FIXED cells (8 — per-cell size grows 16x, pairs ~256x) vs
        # PROPORTIONAL cells (128 — per-cell size constant, pairs ~16x).
        from ppdb_parser_spark.operators.similarity import semantic_dedup

        emb = load_table(spark, sf, "embeddings")
        s1 = timed("semantic_dedup 1x cells=8", semantic_dedup(emb, n_cells=8))
        e16 = _shifted_union(emb, "vec_id", 16).withColumn(
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(
                    i == 0,
                    x + (F.col("vec_id") / 10_000_000 % 16) * 0.11,
                ).otherwise(x),
            ),
        )
        sf16 = timed(
            "semantic_dedup 16x cells=8 (FIXED)", semantic_dedup(e16, n_cells=8)
        )
        sp16 = timed(
            "semantic_dedup 16x cells=128 (∝n)",
            semantic_dedup(e16, n_cells=128),
        )
        print(
            f"  -> fixed cells {sf16 / s1:.1f}x vs proportional "
            f"{sp16 / s1:.1f}x time for 16x vectors (proportional cells "
            "keep per-cell pair cost flat)"
        )

    if "semdedup256" in only:
        # Round-7 extension of the 16x scale law (VERDICT r6 item 4): 64x
        # and 256x embeddings with cells ∝ n. Σ|cell|² ∝ n when cells
        # grow with n, so the PAIR JOIN should stay ~linear; what this
        # smoke also exposes is the other term — per-row cell ASSIGNMENT
        # is O(n_cells · dim)/row, so with cells ∝ n assignment cost is
        # O(n²/const)·dim and eventually becomes the binding resource
        # (the remedy at cluster scale is hierarchical 2-level
        # assignment, exactly IVF's coarse quantizer story).
        from ppdb_parser_spark.operators.similarity import semantic_dedup

        emb = load_table(spark, sf, "embeddings")

        def perturbed_union(e, k):
            return _shifted_union(e, "vec_id", k).withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(
                        i == 0,
                        x + (F.col("vec_id") / 10_000_000 % k) * 0.11,
                    ).otherwise(x),
                ),
            )

        s1 = timed("semantic_dedup 1x cells=8", semantic_dedup(emb, n_cells=8))
        prev_k, prev_t = 1, s1
        for k in (16, 64, 256):
            ek = perturbed_union(emb, k)
            # seeds must exist: vec_id < n_cells ⊆ original id range
            cells = 8 * k
            tk = timed(
                f"semantic_dedup {k}x cells={cells} (∝n)",
                semantic_dedup(ek, n_cells=cells),
            )
            step = (tk / prev_t) / (k / prev_k)
            print(
                f"  -> {tk / s1:.1f}x time for {k}x vectors "
                f"(step efficiency {prev_k}x->{k}x: {step:.2f}; "
                "assignment term grows with cells — watch for the knee)"
            )
            prev_k, prev_t = k, tk

    if "semdedup256h2" in only or "semdedupgemmh2" in only:
        # Round-8 (VERDICT r7 item 5): the SAME cells ∝ n ladder through
        # 256x, but with the hierarchical two-level coarse assignment
        # (n_super = round(sqrt(cells))) — per-row assignment work drops
        # from O(cells) dots to O(sqrt(cells)) (supers + one super's
        # children), so the step efficiency that climbed 0.20→0.53→0.88
        # on the single-level ladder (BASELINE.md §SemDeDup-256x) should
        # fall back out of its knee. Output is the h2 assignment (a
        # different, coarser-routed partition than flat argmax — that is
        # the point); sanity: one row per vector, all kept/dropped
        # decisions boolean.
        import math as _math

        from ppdb_parser_spark.operators.similarity import (
            semantic_dedup_two_level,
        )

        emb = load_table(spark, sf, "embeddings")

        # ROUND-8 FIXTURE FIX: the original perturbation shifted
        # coordinate 0 by ~0.11·universe — at 64x the largest shift is
        # ~7.0, which routes 85,191 of 128,000 rows into ONE cell
        # (measured), so the dominance tail goes quadratic and the smoke
        # measures fixture skew, not the ladder. The fixed fixture (a)
        # shifts a DIFFERENT coordinate per universe (i == u % 64) by a
        # constant 0.45, so universes separate without a global gradient,
        # and (b) seeds cells per universe (cells ∝ n via cells/k seeds
        # from EACH universe, remapped to dense ids) — per-cell occupancy
        # then stays flat by construction, the SemDeDup contract.
        _U = 10_000_000

        def perturbed_union_h2(e, k):
            u = (F.col("vec_id") / _U).cast("long")
            return _shifted_union(e, "vec_id", k).withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"),
                    lambda x, i: F.when(
                        i == (u % 64).cast("int"), x + F.lit(0.45)
                    ).otherwise(x),
                ),
            )

        def seeds_for(pu, cells, k):
            cpu = max(1, cells // k)
            u = (F.col("vec_id") / _U).cast("long")
            return pu.filter(F.col("vec_id") % _U < cpu).withColumn(
                "vec_id", u * cpu + F.col("vec_id") % _U
            )

        # count() timing is WRONG here (the bench-v2 finding): the kept
        # left join preserves cardinality, so Catalyst prunes the
        # dominance pair scan AND the per-row argmax projections under a
        # count — both ladders would mostly time the scan+union. Force
        # every output column with the bench.py reduction instead. And
        # the timed pass must run on a FRESH plan build (like bench.py's
        # per-run spec.fn call): re-collecting the SAME DataFrame lets
        # the scheduler skip every map stage whose shuffle files the
        # warm pass already wrote — the per-row assignment work this
        # ladder exists to measure is exactly what gets skipped
        # (observed: flat 16x "0.09s, step efficiency 0.05").
        from ppdb_parser_spark.operators.similarity import (
            semantic_dedup,
            semantic_dedup_gemm,
        )

        n1 = emb.count()
        # Ladder budget (measured round 8, forced methodology): the
        # interpreted nested-HOF argmax costs ~1 ms/row at 512 cells
        # (150 s assignment-only at 64x), so flat and h2 stop at 16x —
        # their 16x rows already show the trend (flat superlinear, h2
        # ~2x better). The GEMM tier (Arrow int64 Q@S.T; the dominance
        # tail reads its assignment once) is the one that ladders to 256x.
        all_tiers = (
            (
                "gemm_h2",
                (16, 64, 256),
                lambda e, c, s, sd: semantic_dedup_gemm(
                    e,
                    n_cells=c,
                    seeds_from=sd,
                    two_level=True,
                    n_super=s,
                ),
            ),
            (
                "gemm",
                (16, 64, 256),
                lambda e, c, s, sd: semantic_dedup_gemm(
                    e, n_cells=c, seeds_from=sd
                ),
            ),
            (
                "h2",
                (16,),
                lambda e, c, s, sd: semantic_dedup_two_level(
                    e, n_cells=c, n_super=s, seeds_from=sd
                ),
            ),
            (
                "flat",
                (16,),
                lambda e, c, s, sd: semantic_dedup(
                    e, n_cells=c, seeds_from=sd
                ),
            ),
        )
        # `semdedupgemmh2` re-runs ONLY the composed tier (the other
        # three rows are recorded in BASELINE_HISTORY.md round-8)
        tiers = (
            [t for t in all_tiers if t[0] == "gemm_h2"]
            if "semdedupgemmh2" in only and "semdedup256h2" not in only
            else all_tiers
        )
        for label, ks, fit in tiers:
            s1 = forced(lambda: fit(emb, 8, 3, None))
            print(f"semantic_dedup[{label}] 1x cells=8: {s1:.2f} s")
            prev_k, prev_t = 1, s1
            for k in ks:
                cells = 8 * k
                sup = round(_math.sqrt(cells))

                def build(k=k, cells=cells, sup=sup):
                    pu = perturbed_union_h2(emb, k)
                    return fit(pu, cells, sup, seeds_for(pu, cells, k))

                tk = forced(build)
                step = (tk / prev_t) / (k / prev_k)
                print(
                    f"semantic_dedup[{label}] {k}x cells={cells}"
                    f"{' super=' + str(sup) if label == 'h2' else ''}: "
                    f"{tk:.2f} s -> {tk / s1:.1f}x time for {k}x vectors "
                    f"(step efficiency {prev_k}x->{k}x: {step:.2f})"
                )
                prev_k, prev_t = k, tk

    if "jlscreen" in only:
        # Round-8: wall-clock value of the 16-int64 JL screen inside the
        # banded-LSH near-dup join at 16x (32.5k vectors, τ=0.9 — the
        # deployment regime). Banding is scale-tuned (32 planes / 4
        # bands = 8 bits/band; the fixture default 2-bit bands collide
        # quadratically at this n) and 500 jittered duplicates are
        # planted with a deterministic in-plan perturbation so the
        # output is non-degenerate. Both tiers share the identical
        # candidate stage; the only difference is whether candidates pay
        # the 16-int screen before the dim-64 grid refine.
        from ppdb_parser_spark.operators.similarity import (
            lsh_jl_screened_pairs,
            lsh_similarity_join_exact,
        )

        emb = load_table(spark, sf, "embeddings")
        dups = (
            emb.filter(F.col("vec_id") < 500)
            .withColumn(
                "embedding",
                F.transform(
                    F.col("embedding"),
                    lambda x, i: x
                    + (
                        F.pmod(F.xxhash64(F.col("vec_id"), i), F.lit(1000))
                        / 1000.0
                        - 0.5
                    )
                    * 0.04,
                ),
            )
            .withColumn("vec_id", F.col("vec_id") + F.lit(900_000_000))
        )
        base = _shifted_union(emb, "vec_id", 16).unionByName(
            dups.select("vec_id", "label", "embedding")
        )
        n = base.count()
        for name, fn in (
            (
                "unscreened",
                lambda: lsh_similarity_join_exact(
                    base, threshold=0.9, n_planes=32, n_bands=4, dim=64
                ),
            ),
            (
                "jl-screened",
                lambda: lsh_jl_screened_pairs(
                    base, threshold=0.9, n_planes=32, n_bands=4, dim=64
                ),
            ),
        ):
            t = forced(fn)
            npairs = fn().count()
            print(
                f"jlscreen 16x ({n} vectors, tau=0.9) {name}: "
                f"{t:.2f} s ({npairs} pairs)"
            )

    if "semdedupcluster" in only:
        # Round-8: the gemm_h2 POSITIVE case. Two prior fixtures showed
        # two-stage routing COLLAPSING occupancy: on the quasi-isotropic
        # perturbed union the stage-1-winning super also wins stage 2
        # (max 7,169/128k in the supers' own cells); on a 1-level
        # clustered fixture the pure CENTER beats every fellow cluster
        # member under cosine argmax (max 2,996, median 2) — with
        # cosine, a cluster's mean direction dominates its members, so
        # children can only win if they are SUB-cluster centroids, i.e.
        # the data must be hierarchical two levels deep (exactly the
        # residual-IVFADC law RECALL.md measured: the coarse level must
        # resolve real structure). This fixture IS 2-level: row =
        # 0.6·center_c + 0.3·sub_{c,t} + 0.15·own; supers = the pure
        # centers; children = the 0.6·center + 0.3·sub blends. cos(row,
        # own child) ≈ 0.98 > cos(row, center) ≈ 0.87, so stage 2 has
        # signal. Expected: bounded occupancy and h2's O(n·√cells)
        # assignment flops beating flat's O(n·cells) at the 256x rung
        # (flat's measured step efficiency there: 2.42).
        import math as _math

        from ppdb_parser_spark.operators.similarity import (
            semantic_dedup_gemm,
        )

        emb = load_table(spark, sf, "embeddings")
        n_base = emb.count()

        def _geom(cells):
            n_sup = round(_math.sqrt(cells))
            nsub = max(1, (cells - n_sup) // n_sup)
            return n_sup, nsub, n_sup + n_sup * nsub  # cells_eff

        def _sub_bid(j):
            # deterministic base vector behind child id j (injective
            # enough: gcd(17, n_base)=1 for the 2000-row fixture)
            return (j * 17) % n_base

        def blend3(cvec, svec, ovec=None):
            two = F.zip_with(cvec, svec, lambda c, s: 0.6 * c + 0.3 * s)
            if ovec is None:
                return two
            return F.zip_with(two, ovec, lambda t, x: t + 0.15 * x)

        def clustered(e, k, cells):
            n_sup, nsub, _ = _geom(cells)
            pu = _shifted_union(e, "vec_id", k)
            centers = e.filter(F.col("vec_id") < n_sup).select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cvec"),
            )
            bases = e.select(
                F.col("vec_id").alias("bid"),
                F.col("embedding").alias("svec"),
            )
            rows = (
                pu.withColumn(
                    "cid", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_sup))
                )
                .withColumn(
                    "t",
                    F.pmod(
                        F.xxhash64(F.col("vec_id"), F.lit(7)), F.lit(nsub)
                    ),
                )
                # child id j = n_sup + cid + n_sup*t -> its base vector
                .withColumn(
                    "bid",
                    (
                        (F.lit(n_sup) + F.col("cid") + F.lit(n_sup) * F.col("t"))
                        * 17
                    )
                    % n_base,
                )
                .join(F.broadcast(centers), "cid")
                .join(F.broadcast(bases), "bid")
            )
            return rows.select(
                "vec_id",
                blend3(
                    F.col("cvec"), F.col("svec"), F.col("embedding")
                ).alias("embedding"),
            )

        def cluster_seeds(e, cells):
            n_sup, nsub, cells_eff = _geom(cells)
            sup = e.filter(F.col("vec_id") < n_sup).select(
                "vec_id", "embedding"
            )
            centers = e.filter(F.col("vec_id") < n_sup).select(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
            )
            bases = e.select(
                F.col("vec_id").alias("bid"), F.col("embedding").alias("svec")
            )
            childs = (
                spark.range(n_sup, cells_eff)
                .select(F.col("id").alias("vec_id"))
                .withColumn("cid", (F.col("vec_id") - n_sup) % n_sup)
                .withColumn("bid", (F.col("vec_id") * 17) % n_base)
                .join(F.broadcast(centers), "cid")
                .join(F.broadcast(bases), "bid")
                .select(
                    "vec_id",
                    blend3(F.col("cvec"), F.col("svec")).alias("embedding"),
                )
            )
            return sup.unionByName(childs)

        for label, fit in (
            (
                "gemm_h2",
                lambda e, c, s, sd: semantic_dedup_gemm(
                    e, n_cells=c, seeds_from=sd,
                    two_level=True, n_super=s,
                ),
            ),
            (
                "gemm_flat",
                lambda e, c, s, sd: semantic_dedup_gemm(
                    e, n_cells=c, seeds_from=sd
                ),
            ),
        ):
            prev_k, prev_t, s1 = 1, None, None
            for k in (1, 16, 64, 256):
                cells = 8 * k
                n_sup, nsub, cells_eff = _geom(cells)

                def build(k=k, cells=cells, n_sup=n_sup, ce=cells_eff):
                    cl = clustered(emb, k, cells)
                    return fit(cl, ce, n_sup, cluster_seeds(emb, cells))

                tk = forced(build)
                if s1 is None:
                    s1 = tk
                    print(f"semdedup-clustered[{label}] 1x cells=8: {tk:.2f} s")
                else:
                    step = (tk / prev_t) / (k / prev_k)
                    occ = (
                        build()
                        .groupBy("cell_id")
                        .count()
                        .agg(
                            F.max("count").alias("mx"),
                            F.expr("percentile(count, 0.5)").alias("med"),
                        )
                        .collect()[0]
                    )
                    print(
                        f"semdedup-clustered[{label}] {k}x cells={cells_eff} "
                        f"super={n_sup}: {tk:.2f} s -> {tk / s1:.1f}x time "
                        f"for {k}x vectors (step eff {prev_k}x->{k}x: "
                        f"{step:.2f}; occupancy max {occ.mx} med {occ.med})"
                    )
                prev_k, prev_t = k, tk

    if "starcc" in only:
        # Round-7 (VERDICT r6 item 4): star CC on a 64x-edges near-dup
        # graph. Universe-shifted copies of the sf0.1 exact-Jaccard edge
        # set: component structure per universe is preserved, so rounds
        # should stay ~flat (log of the LARGEST component, not of |E|)
        # while wall grows with the edge volume.
        from ppdb_parser_spark.operators.dedup import jaccard_pairs_prefix
        from ppdb_parser_spark.operators.graph import connected_components_star

        edges1 = (
            jaccard_pairs_prefix(docs, 0.5, 2)
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        n_e1 = edges1.count()
        print(f"edge set 1x: {n_e1} edges")

        def star_run(label, e):
            t0 = time.perf_counter()
            labels, rounds = connected_components_star(e)
            n = labels.count()
            dt = time.perf_counter() - t0
            print(f"{label}: {dt:.2f} s ({n} labels, {rounds} star rounds)")
            return dt

        s1 = star_run("star CC 1x", edges1)
        e64 = edges1
        for i in range(1, 64):
            e64 = e64.unionByName(
                edges1.select(
                    (F.col("id_a") + i * 10_000_000).alias("id_a"),
                    (F.col("id_b") + i * 10_000_000).alias("id_b"),
                )
            )
        e64 = e64.localCheckpoint(eager=True)
        print(f"edge set 64x: {e64.count()} edges")
        s64 = star_run("star CC 64x", e64)
        print(
            f"  -> star {s64 / s1:.1f}x wall for 64x edges "
            "(rounds flat: per-universe diameter unchanged)"
        )

    if "v3" in only:
        # Round-7 marquee (VERDICT r6 item 5): the full 9-stage corpus
        # pipeline at 16x exact duplication — id-shifted copies of every
        # document, embeddings unchanged. Stage 0 (content-hash collapse)
        # must absorb the growth BEFORE any fingerprint/pair stage, so
        # the 16x output is IDENTICAL to 1x (asserted) and wall grows by
        # ~the one md5-keyed collapse shuffle, not by 16x of the join
        # tiers.
        from ppdb_parser_spark.queries.training_data import govern_documents_v3

        emb = load_table(spark, sf, "embeddings")
        t0 = time.perf_counter()
        out1 = sorted(
            map(tuple, govern_documents_v3(docs, emb).collect())
        )
        t1 = time.perf_counter() - t0
        print(f"v3 1x: {t1:.2f} s ({len(out1)} shard rows)")
        d16 = _shifted_union(docs, "doc_id", 16)
        t0 = time.perf_counter()
        out16 = sorted(
            map(tuple, govern_documents_v3(d16, emb).collect())
        )
        t16 = time.perf_counter() - t0
        print(f"v3 16x: {t16:.2f} s ({len(out16)} shard rows)")
        assert out16 == out1, (
            "v3 16x exact-duplication output DIFFERS from 1x — stage-0 "
            "collapse failed to absorb the copies"
        )
        print(
            f"  -> {t16 / t1:.1f}x time for 16x exact-duplicated corpus; "
            "output identical to 1x (asserted)"
        )

    if "gemm16" in only:
        # VERDICT r7 item 6: the blocked-GEMM brute tier with the B side
        # sharded into a block-pair grid, at 16x embeddings (32k x 64-dim
        # = ~17.5 MB serialized as ONE collect_list row — past Spark's
        # own 10 MB default broadcast threshold, the realistic budget for
        # a single broadcast row). The shard count derives from the B
        # side's plan bytes against BROADCAST_ROW_BYTES; patched to 10 MB
        # it must yield > 1 shard, and the grid must emit EXACTLY the
        # single-broadcast tier's pairs (asserted).
        from ppdb_parser_spark.operators import similarity as SIM

        emb = load_table(spark, sf, "embeddings")
        e16 = _shifted_union(emb, "vec_id", 16)
        n16 = emb.count() * 16
        one = SIM._b_shard_count(e16, "vec_id", "embedding")
        t0 = time.perf_counter()
        single = sorted(
            map(
                tuple,
                SIM.brute_cosine_pairs_blocked(e16, threshold=0.35).collect(),
            )
        )
        ts = time.perf_counter() - t0
        print(
            f"gemm16 n={n16} vectors, {one} B-shard(s) at the "
            f"{SIM.BROADCAST_ROW_BYTES / 1e6:.1f} MB budget: {ts:.2f} s "
            f"({len(single)} pairs)"
        )
        default_budget = SIM.BROADCAST_ROW_BYTES
        SIM.BROADCAST_ROW_BYTES = 10 * 1024 * 1024
        try:
            shards = SIM._b_shard_count(e16, "vec_id", "embedding")
            t0 = time.perf_counter()
            grid = sorted(
                map(
                    tuple,
                    SIM.brute_cosine_pairs_blocked(
                        e16, threshold=0.35
                    ).collect(),
                )
            )
            tg = time.perf_counter() - t0
        finally:
            SIM.BROADCAST_ROW_BYTES = default_budget
        print(
            f"gemm16 block-pair grid ({shards} B-shards at 10 MB): "
            f"{tg:.2f} s ({len(grid)} pairs)"
        )
        assert shards > one, "10 MB budget derived no extra B-shard"
        assert grid == single, "sharded grid pairs differ from single-B"
        print(
            f"  -> {tg / ts:.2f}x wall vs {one} B-shard(s); pair sets "
            "identical (asserted)"
        )

    if not only or "ppl" in only:
        from ppdb_parser_spark.operators.text_analysis import bigram_perplexity

        b1 = timed(
            "bigram_ppl 1x", bigram_perplexity(docs, F.col("lang") == "en")
        )
        for k in (16,):
            bk = timed(
                f"bigram_ppl {k}x",
                bigram_perplexity(
                    _shifted_union(docs, "doc_id", k), F.col("lang") == "en"
                ),
            )
            print(f"  -> {bk / b1:.1f}x time for {k}x data "
                  "(reference counts grow, scoring join stays uniform-keyed)")

    if not only or "minhash" in only:
        from ppdb_parser_spark.operators.dedup import minhash_match

        m1 = timed("minhash_match 1x", minhash_match(docs))
        for k in (16,):
            mk = timed(
                f"minhash_match {k}x",
                minhash_match(_fresh_vocab_union(docs, k)),
            )
            print(f"  -> {mk / m1:.1f}x time for {k}x data "
                  "(fresh vocab: band buckets stay per-universe)")

    if "v364" in only:
        # Round-8 extension of the 16x v3 smoke (VERDICT r7 item 4 "64x if
        # wall permits"): same identity contract — 64 exact id-shifted
        # copies must collapse at stage 0, output byte-identical to 1x.
        from ppdb_parser_spark.queries.training_data import govern_documents_v3

        emb = load_table(spark, sf, "embeddings")
        t0 = time.perf_counter()
        out1 = sorted(map(tuple, govern_documents_v3(docs, emb).collect()))
        t1 = time.perf_counter() - t0
        print(f"v3 1x: {t1:.2f} s ({len(out1)} shard rows)")
        d64 = _shifted_union(docs, "doc_id", 64)
        t0 = time.perf_counter()
        out64 = sorted(map(tuple, govern_documents_v3(d64, emb).collect()))
        t64 = time.perf_counter() - t0
        print(f"v3 64x: {t64:.2f} s ({len(out64)} shard rows)")
        assert out64 == out1, (
            "v3 64x exact-duplication output DIFFERS from 1x — stage-0 "
            "collapse failed to absorb the copies"
        )
        print(
            f"  -> {t64 / t1:.1f}x time for 64x exact-duplicated corpus; "
            "output identical to 1x (asserted)"
        )

    if "spanscale" in only:
        # dedup_substring_spans growth law: fresh-vocab copies multiply
        # the span table ~k-fold with disjoint span universes, so the one
        # window exchange should scale ~linearly (same cost class as the
        # winnow/minhash shuffles) — no superlinear candidate blowup is
        # POSSIBLE here because there is no pair join at all.
        from ppdb_parser_spark.operators.dedup import word_shingles
        from pyspark.sql import Window as W

        def span_report(frame):
            sh = word_shingles(frame, n=12)
            n_docs = F.count(F.lit(1)).over(W.partitionBy("shingle"))
            return (
                sh.withColumn("n_docs", n_docs)
                .groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).alias("n_spans"),
                    F.count(F.when(F.col("n_docs") >= 2, 1)).alias("n_dup"),
                )
                .filter(F.col("n_dup") > 0)
            )

        s1 = timed("substring_spans 1x", span_report(docs))
        for k in (16, 64):
            sk = timed(
                f"substring_spans {k}x",
                span_report(_fresh_vocab_union(docs, k)),
            )
            print(f"  -> {sk / s1:.1f}x time for {k}x fresh-vocab corpus")

    if "scrubscale" in only:
        # span_scrub growth law (the C4-style scrub, round 11): fresh-
        # vocab copies keep per-universe duplication structure while
        # sharing zero spans across copies, so both corpus-sized
        # exchanges — the span-key owner window and the (doc_id, pos)
        # anti join — should scale ~linearly. The ×n position expansion
        # touches only the duplicated mass, which also grows ~k-fold.
        from ppdb_parser_spark.operators.dedup import span_scrub

        def scrub_report(frame):
            return span_scrub(frame, n=12)

        c1 = timed("span_scrub 1x", scrub_report(docs))
        for k in (16, 64):
            ck = timed(
                f"span_scrub {k}x",
                scrub_report(_fresh_vocab_union(docs, k)),
            )
            print(f"  -> {ck / c1:.1f}x time for {k}x fresh-vocab corpus")

    if "pairscale" in only:
        # LSH pair-join growth law in the DEPLOYMENT regime (round 12):
        # τ=0.9, 100 planted jittered duplicates, and — the part fixed
        # bands cannot give — plane count grown with n so per-band
        # bucket occupancy stays constant (64/80/96 planes over 8 bands
        # → 256/1024/4096 buckets at 1×/4×/16×; the ≥64-plane rungs
        # exercise the wide-signature first-match fallback). Copies are
        # SIGNED PERMUTATIONS of the base vectors: orthogonal, so every
        # copy carries the identical intra-copy pair structure (cosines
        # invariant), while cross-copy signatures decorrelate and
        # buckets stay uniformly occupied. Expected: wall ~linear in n
        # (candidates ∝ n at constant occupancy; the τ=0.9 JL screen
        # kills ~99% of collisions before any dim-64 work).
        import random as _random

        import numpy as _np

        from ppdb_parser_spark.operators.similarity import (
            lsh_jl_screened_pairs,
        )

        emb = load_table(spark, sf, "embeddings")
        pdf = emb.select("vec_id", "embedding").toPandas()
        X = _np.stack(pdf.embedding.to_numpy()).astype(float)
        rng = _np.random.default_rng(3)
        idx = rng.integers(0, len(X), 100)
        D = X[idx] + 0.05 * rng.normal(size=(100, X.shape[1]))
        D /= _np.linalg.norm(D, axis=1, keepdims=True)
        rows = [
            (int(i), [float(v) for v in X[i]]) for i in range(len(X))
        ] + [
            (1_000_000 + k, [float(v) for v in D[k]])
            for k in range(100)
        ]
        base = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        dim = X.shape[1]

        def perm_union(k):
            parts = []
            for c in range(k):
                if c == 0:
                    parts.append(base)
                    continue
                r = _random.Random(7000 + c)
                perm = list(range(dim))
                r.shuffle(perm)
                signs = [r.choice((-1.0, 1.0)) for _ in range(dim)]
                vec = F.array(
                    *[
                        F.lit(signs[j])
                        * F.element_at(F.col("embedding"), perm[j] + 1)
                        for j in range(dim)
                    ]
                )
                parts.append(
                    base.select(
                        (F.col("vec_id") + c * 10_000_000).alias("vec_id"),
                        vec.alias("embedding"),
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out

        prev_k, prev_t = None, None
        # 64× rung added round 13 (VERDICT r12 next-round #7): 128 planes
        # keeps occupancy ∝ const AND exercises the wide-signature
        # fallback's bounded zip_with/exists — the newest interpreted
        # construct on the scale path — at the largest corpus.
        # 256× rung added round 14 (VERDICT r13 #9): 144 planes (18
        # bits/band) holds per-band occupancy at the 64× rung's ~2
        # vectors/bucket exactly where bucket occupancy next doubles —
        # the knee the ladder exists to rule out.
        for k, planes in ((1, 64), (4, 80), (16, 96), (64, 128), (256, 144)):
            ek = perm_union(k)
            tk = timed(
                f"lsh_jl_pairs tau=0.9 {k}x planes={planes} (∝log n)",
                lsh_jl_screened_pairs(
                    ek, threshold=0.9, n_planes=planes, n_bands=8,
                    seed=42, dim=dim,
                ),
            )
            if prev_t is not None:
                step = (tk / prev_t) / (k / prev_k)
                print(
                    f"  -> step efficiency {step:.2f} "
                    f"(1.0 = perfectly linear in n)"
                )
            prev_k, prev_t = k, tk

    if "winnowscale" in only:
        # Winnow incremental growth law (VERDICT r13 #7): at sf0.1 the
        # incremental/full walls tie (0.39 vs 0.45 s) because the
        # window-backed fingerprint stage dominates and is SHARED — the
        # delta conjunct prunes only the pair join. This rung scales the
        # corpus with EXACT copies (text unchanged, ids shifted): every
        # fingerprint's df multiplies by k, so the candidate join's
        # Σ df² fan-out grows k² while fingerprinting grows k — at 16×
        # the join IS the knee, and the delta-tile saving the conjunct
        # buys becomes measurable. max_doc_freq scales with k (the
        # fixture's max df is 4 at 1×) so the df cap doesn't silently
        # drop the very fingerprints whose fan-out we're measuring —
        # same knob on both sides, fair comparison.
        from ppdb_parser_spark.operators.dedup import winnow_match

        n_docs = docs.count()
        for k in (16, 64):
            big = _shifted_union(docs, "doc_id", k)
            cap = 4 * k
            cutoff = (k - 1) * 10_000_000 + (n_docs - 100)
            t_full = forced(
                lambda: winnow_match(big, max_doc_freq=cap)
            )
            print(f"winnow_match full {k}x (cap={cap}): {t_full:.2f} s")
            t_inc = forced(
                lambda: winnow_match(
                    big, max_doc_freq=cap, delta_min_id=cutoff
                )
            )
            print(
                f"winnow_match incremental {k}x (100-doc delta): "
                f"{t_inc:.2f} s"
            )
            print(f"  -> incremental saving {t_full / t_inc:.2f}x")

    if "appendscale" in only:
        # Appendable-index growth law (round 14): the batch-accept commit
        # signs ONLY the delta, so as the corpus grows with the batch
        # size fixed, the base BUILD wall must grow ~k while the append
        # COMMIT wall stays ~flat — the gap IS the O(delta)-vs-O(corpus)
        # claim. Fresh-vocab copies (disjoint shingle universes) keep the
        # signature stage the thing being measured: exact copies would
        # multiply every shingle's df and the band-group sizes instead.
        # Serve walls are deliberately NOT compared here — both the
        # index path and the recompute twin pay the identical candidate
        # join, which this fixture's growth would dominate.
        import shutil

        from ppdb_parser_spark.operators.dedup import (
            minhash_banded_sigs,
            minhash_packed_sets,
        )
        from ppdb_parser_spark.queries.similarity import (
            _load_appended_index,
        )

        n_docs = docs.count()
        for k in (4, 16):
            big = _fresh_vocab_union(docs, k).localCheckpoint(eager=True)
            max_id = (k - 1) * 10_000_000 + (n_docs - 1)
            cutoff = (k - 1) * 10_000_000 + (n_docs - 100)
            root = f"/tmp/appendscale_{k}"

            def _sl(lo):
                cond = (
                    F.col("doc_id") < cutoff
                    if lo is None
                    else F.col("doc_id") >= lo
                )
                return big.filter(cond)

            def _load(upto):
                b = _load_appended_index(
                    spark, f"{root}/bands", f"k{k}", cutoff, upto,
                    lambda: minhash_banded_sigs(_sl(None), 16, 8),
                    lambda lo: minhash_banded_sigs(_sl(lo), 16, 8),
                )
                s = _load_appended_index(
                    spark, f"{root}/sets", f"k{k}", cutoff, upto,
                    lambda: minhash_packed_sets(_sl(None)),
                    lambda lo: minhash_packed_sets(_sl(lo)),
                )
                return b, s

            def _clear():
                for sub in ("bands", "bands_meta", "sets", "sets_meta"):
                    shutil.rmtree(f"{root}/{sub}", ignore_errors=True)

            _clear()
            t0 = time.perf_counter()
            _load(cutoff - 1)
            t_build = time.perf_counter() - t0
            print(f"appendscale {k}x base build: {t_build:.2f} s")
            walls = []
            for _ in range(2):
                _clear()
                _load(cutoff - 1)
                t0 = time.perf_counter()
                _load(max_id)
                walls.append(time.perf_counter() - t0)
            t_app = min(walls)
            print(
                f"appendscale {k}x append commit (100-doc batch): "
                f"{t_app:.2f} s  -> build/append {t_build / t_app:.2f}x"
            )
            _clear()

    if "ccscale" in only:
        # Incremental connected-components growth law (round 14): the
        # dedup-maintenance story is a persisted labeling + per-batch
        # delta merges, so the honest comparison is incremental_components
        # (star-contracted base + delta edges) vs BOTH full-recompute
        # paths — connected_components (the driver tier at these sizes)
        # and large/small-star (O(log n) rounds) — over the same edge
        # set. Fixture: chains of 32 nodes (diameter 31, the shape of
        # long dup-chains), 100-edge delta attaching new nodes and
        # merging a few existing chains. The base labeling builds
        # OUTSIDE the timed region (it is the persisted artifact).
        from ppdb_parser_spark.operators.graph import (
            connected_components,
            connected_components_star,
            incremental_components,
        )

        for k in (16, 64):
            n_nodes = 2_000 * k
            base_edges = (
                spark.range(n_nodes - 1)
                .select(
                    F.col("id").alias("id_a"),
                    (F.col("id") + 1).alias("id_b"),
                )
                .filter((F.col("id_b") % 32) != 0)  # chains of 32
                .localCheckpoint(eager=True)
            )
            # delta: 100 new nodes, each attached to a deterministic
            # existing node; every 10th also bridges two chains
            delta_edges = (
                spark.range(100)
                .select(
                    ((F.col("id") * 997) % n_nodes).alias("id_a"),
                    (F.col("id") + n_nodes).alias("id_b"),
                )
                .unionByName(
                    spark.range(10).select(
                        ((F.col("id") * 3201) % n_nodes).alias("id_a"),
                        ((F.col("id") * 7411) % n_nodes).alias("id_b"),
                    ).filter(F.col("id_a") != F.col("id_b"))
                )
                .localCheckpoint(eager=True)
            )
            base_labels = connected_components(base_edges).localCheckpoint(
                eager=True
            )
            # fresh cut: unioning two checkpointed frames directly trips
            # a Spark attribute-id remap inside the star variant's own
            # checkpoint ("key not found: a#...") — materialize the
            # union once and hand both consumers the same clean scan
            all_edges = (
                base_edges.unionByName(delta_edges)
                .localCheckpoint(eager=True)
            )

            t0 = time.perf_counter()
            connected_components(all_edges).count()
            t_full = time.perf_counter() - t0
            print(f"cc full driver tier {k}x ({n_nodes} nodes): {t_full:.2f} s")

            t0 = time.perf_counter()
            labels, rounds = connected_components_star(all_edges)
            labels.count()
            t_star = time.perf_counter() - t0
            print(
                f"cc full star {k}x: {t_star:.2f} s ({rounds} rounds)"
            )

            t0 = time.perf_counter()
            incremental_components(base_labels, delta_edges).count()
            t_inc = time.perf_counter() - t0
            print(
                f"cc incremental {k}x (110-edge delta): {t_inc:.2f} s"
                f" -> {t_full / t_inc:.1f}x vs driver tier,"
                f" {t_star / t_inc:.1f}x vs star"
            )

    if "cascadescale" in only:
        # pipeline_scrub_cascade growth law (round 12, VERDICT r11
        # next-round #8): the COMPOSED lineage — intra-doc scrub (n=3)
        # feeding cross-doc span scrub (n=12) on the rebuilt text, then
        # the per-language report join — must inherit the components'
        # sublinear law, not multiply their exchanges. Fresh-vocab
        # copies again keep duplication structure per universe while
        # sharing zero spans across copies. The intra output is
        # checkpointed exactly as the registered query does it, so the
        # rung measures the production lineage shape.
        from ppdb_parser_spark.operators.dedup import (
            span_scrub,
            span_scrub_intra,
        )

        def cascade_report(frame):
            mp = spark.sparkContext.defaultParallelism
            intra = span_scrub_intra(
                frame, n=3, min_partitions=mp
            ).localCheckpoint(eager=True)
            cross = span_scrub(
                intra.select(
                    "doc_id", F.col("scrub_text").alias("text")
                ),
                n=12,
            )
            return (
                intra.select(
                    "doc_id",
                    F.col("n_removed").alias("intra_removed"),
                )
                .join(
                    cross.select(
                        "doc_id",
                        F.col("n_removed").alias("cross_removed"),
                        F.col("scrub_text").alias("text2"),
                    ),
                    "doc_id",
                )
                .join(frame.select("doc_id", "lang"), "doc_id")
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.sum("intra_removed").alias("sum_intra"),
                    F.sum("cross_removed").alias("sum_cross"),
                    F.count_distinct(F.col("text2")).alias("n_texts"),
                )
            )

        k1 = timed("scrub_cascade 1x", cascade_report(docs))
        for k in (16, 64):
            kk = timed(
                f"scrub_cascade {k}x",
                cascade_report(_fresh_vocab_union(docs, k)),
            )
            print(f"  -> {kk / k1:.1f}x time for {k}x fresh-vocab corpus")

    if "semdeconscale" in only:
        # semantic_decontaminate growth law (round 11): the eval side is
        # FIXED (collected once, broadcast once) while the train side
        # grows k-fold via id-shifted copies — the realistic shape (the
        # benchmark suite does not grow with the corpus). The per-row
        # train side runs as block GEMMs against the broadcast eval
        # matrix, so wall should scale ~linearly in train rows with a
        # constant broadcast term.
        from ppdb_parser_spark.operators.similarity import (
            semantic_decontaminate,
        )

        emb = load_table(spark, sf, "embeddings")
        # only BASE-copy ids are eval-eligible (shifted ids sit above
        # the 10M offset), so the eval row count is identical at every
        # rung and only the train side grows
        is_eval = (
            F.substring(
                F.md5(
                    F.concat(F.lit("eval:"), F.col("vec_id").cast("string"))
                ),
                1,
                4,
            )
            < "0ccc"
        ) & (F.col("vec_id") < 10_000_000)

        def decon_report(frame):
            return (
                semantic_decontaminate(frame, is_eval, threshold=0.35)
                .groupBy("contaminated")
                .count()
            )

        m1 = timed("semantic_decontaminate 1x", decon_report(emb))
        for k in (16, 64, 256):
            mk = timed(
                f"semantic_decontaminate {k}x",
                decon_report(_shifted_union(emb, "vec_id", k)),
            )
            print(f"  -> {mk / m1:.1f}x time for {k}x train side "
                  "(eval side fixed)")

    if "dsirscale" in only:
        # DSIR importance reweighting under corpus growth: the 4096-row
        # bucket-weight table is corpus-size-independent (broadcast), so
        # the cost is one token map + one map-side-combining aggregate —
        # expected ~linear wall in corpus copies.
        from ppdb_parser_spark.queries.governance import dsir_weights_report

        d1 = timed("dsir 1x", dsir_weights_report(docs))
        for k in (16, 64):
            dk = timed(
                f"dsir {k}x",
                dsir_weights_report(_shifted_union(docs, "doc_id", k)),
            )
            print(f"  -> {dk / d1:.1f}x time for {k}x corpus "
                  "(weight table stays 4096 rows)")

    if "trianglescale" in only:
        # triangle counting under fresh-vocab growth: disjoint vocab
        # universes keep cluster structure constant per universe, so
        # path generation (Σ deg² within clusters) scales linearly with
        # corpus copies — the law that distinguishes this two-path join
        # from an all-pairs blowup.
        from ppdb_parser_spark.operators.dedup import simhash_near_pairs
        from ppdb_parser_spark.operators.graph import triangle_counts

        def tri_report(frame):
            return triangle_counts(
                simhash_near_pairs(frame, max_hamming=3, n_bands=4)
            )

        t1w = timed("triangles 1x", tri_report(docs))
        for k in (16,):
            tk = timed(
                f"triangles {k}x", tri_report(_fresh_vocab_union(docs, k))
            )
            print(f"  -> {tk / t1w:.1f}x time for {k}x fresh-vocab corpus")

    if "triskew" in only:
        # Degree-ordered orientation on a planted skewed cluster
        # (VERDICT r8 item 3): H mid-id hub nodes each touching N leaves
        # (half the leaf ids below the hubs, half above — a
        # template/boilerplate doc matching thousands of
        # near-singletons), plus a chain through the low leaves so the
        # graph has real triangles. Lexicographic orientation would
        # pivot on the MIDDLE id of each path, so every hub would
        # generate (N/2 in-edges) x (N/2 out-edges) = H*N^2/4 candidate
        # two-paths that almost never close; degree ordering directs
        # every hub edge INTO the hub (outdeg 0), so candidate paths
        # collapse to the leaf-chain neighborhood. The count is exact,
        # not a wall.
        from ppdb_parser_spark.operators.graph import (
            oriented_triangles,
            triangle_counts,
        )

        H, N = 4, 4000
        lo = spark.range(N // 2).select(F.col("id").alias("leaf"))
        hi = spark.range(N // 2).select(
            (F.col("id") + 1_000_000).alias("leaf")
        )
        hubs = spark.range(H).select((F.col("id") + 500_000).alias("hub"))
        spokes = (
            lo.unionByName(hi)
            .crossJoin(F.broadcast(hubs))  # N x H = 16k rows, hub side tiny
            .select(F.col("hub").alias("id_a"), F.col("leaf").alias("id_b"))
        )
        chain = spark.range(N // 2 - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        edges = spokes.unionByName(chain).localCheckpoint(eager=True)

        # the PRODUCTION orientation/pivot helpers (graph.py) — the smoke
        # counts their candidate relation so the measured fan-out cannot
        # drift from the operator (ADVICE r9)
        from ppdb_parser_spark.operators.graph import (
            _degree_oriented_edges,
            _degree_two_paths,
        )

        und = edges.select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        ).distinct()
        n_deg = _degree_two_paths(_degree_oriented_edges(und)).count()
        t_deg = timed("triangles degree", triangle_counts(edges))
        n_tri = oriented_triangles(edges, a_col="id_a", b_col="id_b").count()
        print(
            f"  -> candidate two-paths: degree {n_deg:,} for {n_tri:,} "
            f"triangles (lex pivot would be ~{H * N * N // 4:,}); "
            f"wall {t_deg:.2f}s"
        )

    if "bloomscale" in only:
        # Bloom vs exact decontamination as the EVAL SET grows: fresh-vocab
        # copies multiply the distinct eval shingle set ~k-fold, so the
        # exact arm's broadcast build side grows k-fold while the Bloom
        # word table stays ≤ ceil(m/60) rows at every rung — the
        # structural claim the operator makes for 100 TB eval suites.
        from ppdb_parser_spark.queries.governance import (
            decontaminate_bloom_report,
        )
        from ppdb_parser_spark.queries.training_data import _EVAL_MAX as _EM
        from ppdb_parser_spark.queries.training_data import _bucket as _bk
        from ppdb_parser_spark.operators.dedup import word_shingles

        def eval_shingle_count(frame):
            return (
                word_shingles(frame, n=8)
                .withColumn("is_eval", _bk("eval:") < _EM)
                .filter("is_eval")
                .select("shingle")
                .distinct()
                .count()
            )

        from ppdb_parser_spark.queries.governance import _B_M, _B_K, _B_WORD

        def fp_summary(report_df):
            r = report_df.agg(
                F.sum("n_train").alias("t"),
                F.sum("n_bloom_flagged").alias("b"),
                F.sum("n_exact_flagged").alias("e"),
                F.sum("n_false_pos").alias("fp"),
            ).collect()[0]
            clean = r["t"] - r["e"]
            return r, (r["fp"] / clean if clean else 0.0)

        words = _B_M // _B_WORD + 1
        b1 = timed("bloom_decon 1x", decontaminate_bloom_report(docs))
        r1, fpr1 = fp_summary(decontaminate_bloom_report(docs))
        n1 = eval_shingle_count(docs)
        print(
            f"  -> 1x: {r1['b']}/{r1['t']} bloom-flagged vs {r1['e']} "
            f"exact, {r1['fp']} false pos (doc-level FPR {fpr1:.4f})"
        )
        for k in (16,):
            dk = _fresh_vocab_union(docs, k)
            nk = eval_shingle_count(dk)
            bk_t = timed(
                f"bloom_decon {k}x", decontaminate_bloom_report(dk)
            )
            rk, fprk = fp_summary(decontaminate_bloom_report(dk))
            print(
                f"  -> {bk_t / b1:.1f}x time for {k}x fresh-vocab corpus; "
                f"exact arm's broadcast side grew {n1} -> {nk} shingles "
                f"({nk / n1:.1f}x) while the Bloom word table stays <= "
                f"{words} int64 rows (m={_B_M}, k={_B_K} from "
                "recommend_bloom_bits) at every rung"
            )
            print(
                f"  -> {k}x: {rk['b']}/{rk['t']} bloom-flagged vs "
                f"{rk['e']} exact, {rk['fp']} false pos (doc-level FPR "
                f"{fprk:.4f}; kn/m = {_B_K * nk / _B_M:.2f})"
            )

    if "sketchscale" in only:
        # HLL / Count-Min under k exact copies: the distinct set is
        # unchanged and every count scales exactly k, so the HLL output
        # must be IDENTICAL and the CMS relative overestimate invariant —
        # while the only exchange stays O(registers), not O(tokens).
        from ppdb_parser_spark.queries.sketches import (
            hll_estimate,
            hll_registers,
        )

        def run(frame):
            toks = frame.select(
                "lang", F.explode(F.split("text", " ")).alias("token")
            )
            return hll_estimate(hll_registers(toks, ["lang"], "token"), ["lang"])

        t0 = time.perf_counter()
        h1 = sorted(map(tuple, run(docs).collect()))
        t1 = time.perf_counter() - t0
        print(f"hll 1x: {t1:.2f} s ({h1})")
        for k in (16, 64):
            dk = _shifted_union(docs, "doc_id", k)
            t0 = time.perf_counter()
            hk = sorted(map(tuple, run(dk).collect()))
            tk = time.perf_counter() - t0
            assert hk == h1, f"HLL output changed under {k}x exact copies"
            print(
                f"hll {k}x: {tk:.2f} s -> {tk / t1:.1f}x time for {k}x "
                "tokens; output identical (asserted — shuffle carries "
                "registers, not tokens)"
            )


if __name__ == "__main__":
    main()
