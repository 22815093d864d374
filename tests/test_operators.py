"""Operator-level unit tests (SURVEY.md §5.3 layer 3): edge semantics that
the oracle-parity sweep can't isolate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ppdb_parser_spark.operators.joins import asof_join, band_join
from ppdb_parser_spark.queries import REGISTRY


def test_asof_join_tie_and_missing(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 50, "p2"), (2, 10, "p3")], "uid long, t long, pid string"
    )
    right = spark.createDataFrame(
        [(1, 100, "exact-tie"), (1, 40, "older"), (3, 5, "other-key")],
        "uid long, rt long, tag string",
    )
    out = {
        r["pid"]: r["tag"]
        for r in asof_join(
            left, right, by=["uid"], left_on="t", right_on="rt",
            right_cols=["rt", "tag"], how="left",
        ).collect()
    }
    assert out["p1"] == "exact-tie"  # right row at equal t IS visible
    assert out["p2"] == "older"      # takes latest at-or-before, not newest
    assert out["p3"] is None         # no right row for uid=2 -> NULL

    inner = asof_join(
        left, right, by=["uid"], left_on="t", right_on="rt",
        right_cols=["rt", "tag"], how="inner",
    )
    assert {r["pid"] for r in inner.collect()} == {"p1", "p2"}


def test_band_join_boundaries(spark):
    fact = spark.createDataFrame(
        [(1, 0.0), (2, 499.99), (3, 500.0), (4, -0.01)], "id long, v double"
    )
    bands = spark.createDataFrame(
        [("neg", -100.0, 0.0), ("lo", 0.0, 500.0), ("hi", 500.0, 1000.0)],
        "band string, lo double, hi double",
    )
    got = {
        r["id"]: r["band"]
        for r in band_join(fact, "v", bands, bucket_width=500.0).collect()
    }
    # [lo, hi) semantics: 0.0 in 'lo' not 'neg'; 500.0 rolls to 'hi'
    assert got == {1: "lo", 2: "lo", 3: "hi", 4: "neg"}


def test_lsh_precision_subset(spark, sf_dir):
    exact = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["sim_pairwise_cosine"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["sim_lsh_pairs_checked"].fn(spark, sf_dir).collect()
    }
    assert lsh <= exact          # 100% precision (refinement is exact)
    assert len(lsh) > 0          # and it actually finds pairs


def test_minhash_int64_sig_mapping_roundtrip(spark):
    """The round-15 order-preserving int64 signature mapping: for any
    16-hex-char md5 prefix, _hex16_ord_long is a monotone bijection
    (MIN over ints == MIN over strings) and _ord_long_hex16 inverts it
    byte-exactly — including the extremes and sign-boundary values."""
    from pyspark.sql import Row

    from ppdb_parser_spark.operators.dedup import (
        _hex16_ord_long,
        _ord_long_hex16,
    )

    import hashlib
    import random

    rng = random.Random(7)
    hexes = [
        "0000000000000000",
        "ffffffffffffffff",
        "7fffffffffffffff",
        "8000000000000000",
        "00000000ffffffff",
        "ffffffff00000000",
    ] + [hashlib.md5(str(i).encode()).hexdigest()[:16] for i in range(200)]
    rng.shuffle(hexes)
    df = spark.createDataFrame([Row(h=h) for h in hexes])
    rows = df.select(
        "h",
        _hex16_ord_long(F.col("h")).alias("v"),
        _ord_long_hex16(_hex16_ord_long(F.col("h"))).alias("rt"),
    ).collect()
    for r in rows:
        assert r["rt"] == r["h"], (r["h"], r["rt"])
    by_str = sorted(rows, key=lambda r: r["h"])
    by_int = sorted(rows, key=lambda r: r["v"])
    assert [r["h"] for r in by_str] == [r["h"] for r in by_int]


def test_minhash_matches_exact_jaccard(spark, sf_dir):
    exact = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_jaccard_pairs"].fn(spark, sf_dir).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    # approx-join pairs at distance<=0.7 must cover the exact j>=0.3 pairs
    assert exact <= mh or len(exact - mh) <= max(1, len(exact) // 10)


def test_session_live_subset_of_batch(spark, sf_dir):
    batch = REGISTRY["stream_session_batch"].fn(spark, sf_dir)
    live = REGISTRY["stream_session_live"].fn(spark, sf_dir)
    bkeys = {
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in batch.collect()
    }
    lkeys = {
        (r["user_id"], r["session_start_us"], r["n_events"])
        for r in live.collect()
    }
    # append-mode emits only watermark-closed sessions: subset, near-complete
    assert lkeys <= bkeys
    assert len(lkeys) >= len(bkeys) - 25


def test_approx_distinct_rsd(spark, sf_dir):
    """Round 6 made the query SELF-CHECKING: it emits the exact count and
    a within_3rsd boolean (the driver's oracle hashes both). Locally
    assert every group's boolean is true and the exact counts are sane."""
    rows = REGISTRY["agg_approx_distinct"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_3rsd"] is True
        assert r["exact_parts"] > 0


def test_multimodal_decode_stub_raises(spark):
    import pandas as pd

    from ppdb_parser_spark.operators.multimodal import decode_meta

    bad = spark.createDataFrame(
        pd.DataFrame({"path": ["/x/fake.jpg"], "content": [b"\xff\xd8JPEGDATA"]})
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        decode_meta(bad).collect()


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF searches 2 of 8 cells — recall@5 vs brute force should still be
    high for a probe whose neighbors concentrate in its own cells."""
    from ppdb_parser_spark.operators.similarity import cosine_topk
    from ppdb_parser_spark.queries import REGISTRY
    from ppdb_parser_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    ivf = [r["vec_id"] for r in REGISTRY["sim_ivf_topk"].fn(spark, sf_dir).collect()]
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 1)
    probe = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 1)
        .first()["embedding"]
    ]
    brute = [r["vec_id"] for r in cosine_topk(e, probe, k=5).collect()]
    assert len(ivf) == 5
    assert len(set(ivf) & set(brute)) >= 2  # isotropic data: partial recall OK


def test_salted_agg_equals_plain(spark, sf_dir):
    from ppdb_parser_spark.operators.skew import salted_agg_sum_count
    from ppdb_parser_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    salted = {
        r["lang"]: (r["n_rows"], r["total_value"])
        for r in salted_agg_sum_count(
            d, "lang", F.col("n_chars").cast("long"), "doc_id", 16
        ).collect()
    }
    plain = {
        r["lang"]: (r["n"], r["v"])
        for r in d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("n_chars").cast("long")) / 100.0).alias("v"),
        )
        .collect()
    }
    assert salted == plain


def test_connected_components_chain(spark):
    """A 5-node chain needs multiple propagation rounds; two disjoint
    components must keep distinct labels."""
    from ppdb_parser_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_warns_on_non_convergence(spark, monkeypatch):
    """If the round budget runs out before the graph converges the labels
    are not final — the operator must fail instead of returning them.
    The budget belongs to the star rounds (the driver tier always
    converges), so the size bound is lowered to pin that path."""
    from ppdb_parser_spark.operators import graph
    from ppdb_parser_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    monkeypatch.setattr(graph, "STAR_MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges)


def test_connected_components_driver_tier_one_collect(spark):
    """A 64-node chain (diameter 63) is solved on the driver: exact
    labels and at most 3 Spark jobs, collecting the labels included (the
    decision scan and the Arrow collect; the star rounds pay several
    jobs per round)."""
    from ppdb_parser_spark.operators.graph import connected_components

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    group = "test-cc-driver-tier"
    sc.setJobGroup(group, group)
    try:
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == dict.fromkeys(range(64), 0)
    assert n_jobs <= 3, f"driver tier ran {n_jobs} Spark jobs"


@pytest.mark.parametrize(
    "schema, rows, bound, want",
    [
        (
            "id_a string, id_b string",
            [("c", "b"), ("x", "y")],
            None,
            {"b": "b", "c": "b", "x": "x", "y": "x"},
        ),
        (
            "id_a long, id_b long",
            [(2, 1), (2, None), (3, 4)],
            None,
            {1: 1, 2: 1, 3: 3, 4: 3},
        ),
        ("id_a long, id_b long", [(2, 1), (7, 8)], 1, {1: 1, 2: 1, 7: 7, 8: 7}),
    ],
    ids=["string_ids", "null_id", "over_bound"],
)
def test_connected_components_fallback_to_distributed(
    spark, monkeypatch, schema, rows, bound, want
):
    """Non-integral ids, a null id and an edge count over the driver
    bound each take the star rounds, never the driver collect."""
    from unittest import mock

    from ppdb_parser_spark.operators import graph

    def no_driver(pairs):
        raise AssertionError("driver tier taken")

    monkeypatch.setattr(graph, "_driver_components", no_driver)
    if bound is not None:
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", bound)
    edges = spark.createDataFrame(rows, schema)
    with mock.patch.object(
        graph, "_star_rounds", wraps=graph._star_rounds
    ) as star:
        labels = graph.connected_components(edges)
    assert star.call_count == 1
    got = {
        r["node"]: r["component"]
        for r in labels.collect()
        if r["node"] is not None
    }
    assert got == want


def test_components_read_input_once_and_cache_nothing(spark, monkeypatch):
    """Both component operators cut their input once: a UDF upstream of
    the edges runs once per edge row across building and collecting the
    labels, and no cached relation is left behind — for the star rounds,
    the driver tier, and the star fallback of connected_components."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators import graph

    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    raw = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 3), (7, 8)], "id_a long, id_b long"
    )

    def labels(run):
        calls = sc.accumulator(0)

        def ident(x):
            calls.add(1)
            return x

        edges = raw.withColumn("id_a", F.udf(ident, "long")("id_a"))
        got = {(r["node"], r["component"]) for r in run(edges).collect()}
        assert calls.value == 4, f"upstream evaluated {calls.value} times"
        assert cache.isEmpty()
        return got

    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    assert labels(lambda e: graph.connected_components_star(e)[0]) == want
    assert labels(graph.connected_components) == want
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    assert labels(graph.connected_components) == want


def test_jaccard_variants_identical_pairs(spark, sf_dir):
    """The bitmap (packed-set intersection) and prefix-filter (AllPairs/
    PPJoin) paths must return the exact pair set of the baseline
    shingle-stream join — the whole point is same answer, less shuffle."""
    from ppdb_parser_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_bitmap,
        jaccard_pairs_prefix,
    )
    from ppdb_parser_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"])
            for r in df.collect()
        )

    for t in (0.3, 0.6):
        base = key(jaccard_pairs(docs, threshold=t, n=2))
        assert key(jaccard_pairs_bitmap(docs, threshold=t, n=2)) == base
        assert key(jaccard_pairs_prefix(docs, threshold=t, n=2)) == base
        assert len(base) > 0


def test_lsh_recall_floor(spark, sf_dir):
    """The tuned (16 planes, 8 bands) hyperplane-LSH default must keep
    ≥ 0.95 pair recall vs the exact all-pairs path at t = 0.35
    (measured 0.98; deterministic: fixed seed + fixture — see RECALL.md).
    The old (16, 4) default measured 0.48 and would fail this floor."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in SIM.pairwise_cosine_pairs(e, threshold=0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in SIM.lsh_similarity_join(
            e, threshold=0.35, seed=42, dim=64
        ).collect()
    }
    assert lsh <= exact  # precision 1.0 (exact refinement)
    assert len(lsh & exact) / len(exact) >= 0.95


def _corrupt_pngs():
    """Adversarial PNG fixtures derived from a known-good fixture image:
    (label, bytes, expected exception type, message fragment)."""
    import struct
    import zlib

    from ppdb_parser_spark.operators import multimodal as MM

    good = MM.png_bytes(3)
    w, h = MM.png_dims(3)
    sig_len = len(good) - len(good[8:])  # 8
    after_ihdr = good[8 + 12 + 13:]  # sig + IHDR chunk (12 overhead + 13 payload)

    def ihdr_variant(bit_depth, color_type, interlace):
        ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
        return good[:sig_len] + MM._png_chunk(b"IHDR", ihdr) + after_ihdr

    badcrc = bytearray(good)
    badcrc[45] ^= 0xFF  # inside IDAT payload, CRC left stale
    return [
        ("truncated_idat", good[: len(good) // 2], ValueError, "truncated"),
        ("bad_crc", bytes(badcrc), ValueError, "CRC mismatch"),
        ("interlaced", ihdr_variant(8, 2, 1), NotImplementedError, "interlac"),
        ("bit16", ihdr_variant(16, 2, 0), NotImplementedError, "8-bit RGB"),
        ("not_png", b"GIF89a" + bytes(64), ValueError, "not a PNG"),
        (
            "garbage_idat",
            good[:sig_len]
            + MM._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + MM._png_chunk(b"IDAT", b"notdeflate")
            + MM._png_chunk(b"IEND", b""),
            ValueError,
            "inflate failed",
        ),
        (
            "wrong_scanlines",
            good[:sig_len]
            + MM._png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 5))
            + MM._png_chunk(b"IEND", b""),
            ValueError,
            "wrong length",
        ),
    ]


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc embedded in a much longer one: containment 1.0 but
    Jaccard well under any useful threshold — the reason the containment
    measure exists alongside the Jaccard family."""
    from ppdb_parser_spark.operators.dedup import containment_pairs, jaccard_pairs

    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(10))  # strict prefix slice
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text)], "doc_id int, text string"
    )
    cont = containment_pairs(docs, threshold=0.9, n=2).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    # same pair under symmetric Jaccard: 9 common of 39+9-9 -> ~0.23
    jac = jaccard_pairs(docs, threshold=0.5, n=2).collect()
    assert jac == []


def test_bmp_wav_adversarial_inputs():
    """BMP/WAV header parsers and the BMP pixel decoder reject malformed
    input with raised errors (never silent garbage) — the non-PNG half of
    the media negative-fixture suite."""
    import struct

    import pytest as _pytest

    from ppdb_parser_spark.operators import multimodal as MM

    with _pytest.raises(ValueError, match="not a BMP"):
        MM.parse_bmp_header(b"XX" + bytes(40))
    with _pytest.raises(ValueError, match="not a BMP"):
        MM.parse_bmp_header(b"BM" + bytes(10))  # shorter than the header
    good_bmp = MM.bmp_bytes(2)
    with _pytest.raises(Exception):
        MM.bmp_pixels(good_bmp[: len(good_bmp) // 2])  # truncated pixel data

    with _pytest.raises(ValueError, match="not a WAV"):
        MM.parse_wav_header(b"RIFF" + bytes(4) + b"AVI " + bytes(16))
    # RIFF/WAVE with a fmt chunk but no data chunk
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    no_data = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    with _pytest.raises(ValueError, match="missing fmt/data"):
        MM.parse_wav_header(no_data)


def test_png_adversarial_inputs():
    """The stdlib PNG decoder must reject malformed input with a clear,
    typed error (round-4 verdict, What's missing #5) — truncated IDAT,
    stale CRC, Adam7 interlace, 16-bit depth, non-PNG, corrupt deflate
    stream, and wrong scanline payload length."""
    import pytest as _pytest

    from ppdb_parser_spark.operators.multimodal import png_pixels

    for label, data, exc_type, frag in _corrupt_pngs():
        with _pytest.raises(exc_type, match=frag):
            png_pixels(data)
        assert exc_type in (ValueError, NotImplementedError), label


def test_png_quarantine_mode(spark):
    """P6 discipline for the PNG ingest: on_error='quarantine' keeps good
    rows flowing and routes each malformed blob to a null-feature row
    carrying the decode error, instead of failing the task."""
    import pandas as pd

    from ppdb_parser_spark.operators import multimodal as MM

    bad = _corrupt_pngs()
    rows = [("good-0.png", MM.png_bytes(0)), ("good-1.png", MM.png_bytes(1))]
    rows += [(f"{label}.png", bytes(data)) for label, data, _, _ in bad]
    blobs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["path", "content"])
    )
    out = MM.extract_png_features(blobs, on_error="quarantine").toPandas()
    assert len(out) == len(rows)
    ok = out[out.error.isna()]
    quarantined = out[out.error.notna()]
    assert set(ok.file_name) == {"good-0.png", "good-1.png"}
    assert len(quarantined) == len(bad)
    assert ok.pixels_sha256.notna().all()
    assert quarantined.pixels_sha256.isna().all()
    # each quarantined row names its decode failure
    for label, _, exc_type, frag in bad:
        (err,) = quarantined[quarantined.file_name == f"{label}.png"].error
        assert exc_type.__name__ in err and frag.split()[0] in err

    # strict mode still fails fast on the same input
    import pytest as _pytest

    with _pytest.raises(Exception):
        MM.extract_png_features(blobs).collect()


def test_jaccard_prefix_positional_bound_sound(spark):
    """Adversarial regression for the PPJoin c-bound: doc A's shingle set
    strictly contains doc B's (6 vs 4 bigrams, J = 4/6 ≥ 0.5). The
    rounds-3/4 prefix-LENGTH bound c + min(n_a − pl_a, n_b − pl_b) scores
    this qualifying pair 2 + min(2, 1) = 3 < α = 4 and wrongly prunes it;
    the sound last-match-POSITION bound keeps it. The random fixture
    corpora never produce this containment shape — this test does."""
    from ppdb_parser_spark.operators.dedup import jaccard_pairs, jaccard_pairs_prefix

    docs = spark.createDataFrame(
        [
            # bigrams: (x1 x2) (x2 w1) unique to A + B's four
            (1, "x1 x2 w1 w2 w3 w4 w5"),
            # bigrams: (w1 w2) (w2 w3) (w3 w4) (w4 w5)
            (2, "w1 w2 w3 w4 w5"),
        ],
        "doc_id int, text string",
    )

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"])
            for r in df.collect()
        )

    base = key(jaccard_pairs(docs, threshold=0.5, n=2))
    assert base == [(1, 2, 4, 6, 4)]
    assert key(jaccard_pairs_prefix(docs, threshold=0.5, n=2)) == base


def test_jaccard_prefix_kernel_equals_join(spark):
    """The two candidate stages of the prefix join (round 16) emit the
    exact pairs: the Arrow pair-partials kernel (full self-join) against
    the fp-keyed self-join that ``delta_min_id`` selects — at cutoff 0
    it restricts no pair, so rows AND schema must be equal (the kernel
    must emit the INPUT id dtype, int32 here). The delta and two-corpus
    (``cross_min_id``) modes match the shingle-stream ``jaccard_pairs``
    filtered to the pairs each mode keeps. The fixture has repeated
    shared shingles, containment pairs and sub-n docs."""
    from ppdb_parser_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    rows = []
    words = ["w%d" % i for i in range(12)]
    for d in range(24):
        # overlapping sliding vocabularies force shared prefixes at
        # several set sizes; every third doc is a near-copy of d-1
        if d % 3 == 2:
            rows.append((d, rows[-1][1] + " z%d" % d))
        else:
            toks = [words[(d + j) % 12] for j in range(4 + d % 5)]
            rows.append((d, " ".join(toks)))
    rows.append((24, "solo"))  # < n tokens: no shingles
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"])
            for r in df.collect()
        )

    kernel = jaccard_pairs_prefix(docs, threshold=0.5, n=2)
    join = jaccard_pairs_prefix(docs, threshold=0.5, n=2, delta_min_id=0)
    assert kernel.schema == join.schema
    assert sorted(map(tuple, kernel.collect())) == sorted(
        map(tuple, join.collect())
    )
    full = key(jaccard_pairs(docs, threshold=0.5, n=2))
    assert key(kernel) == full
    for kw, keep in (
        ({"delta_min_id": 12}, lambda a, b: b >= 12),
        ({"cross_min_id": 12}, lambda a, b: a < 12 <= b),
    ):
        want = [p for p in full if keep(p[0], p[1])]
        assert want, f"degenerate fixture: no pairs for {kw}"
        got = key(jaccard_pairs_prefix(docs, threshold=0.5, n=2, **kw))
        assert got == want, f"{kw}: {got} vs {want}"


def test_selectexpr_twins_equal_column_forms(spark):
    """The round-16 selectExpr strings (one py4j round trip instead of
    hundreds — see the call-site comments) parse to the same values as
    the Column reference forms they replaced: the 16 minhash seed-hash
    projections, the band posexplode, and the k-seed Bloom positions."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.dedup import (
        _hex16_ord_long,
        _mh_band_exprs,
        _mh_band_posexplode_sql,
        _mh_hash_exprs_sql,
    )
    from ppdb_parser_spark.queries.governance import (
        _B_SEEDS,
        _bloom_pos,
        _bloom_pos_explode_sql,
    )

    sh = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",), ("",)], "shingle string"
    )

    def key(df):
        return sorted(tuple(r) for r in df.collect())

    # 16 seed-hash projections
    col_form = sh.select(
        "shingle",
        *[
            _hex16_ord_long(
                F.substring(
                    F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))), 1, 16
                )
            ).alias(f"h{s}")
            for s in range(16)
        ],
    )
    assert key(sh.selectExpr("shingle", *_mh_hash_exprs_sql(16))) == key(
        col_form
    )

    # band posexplode over known signatures
    sigs = col_form.selectExpr(
        "shingle", *[f"h{s} as sig{s}" for s in range(16)]
    )
    bands_col = sigs.select(
        F.col("shingle"),
        F.posexplode(F.array(*_mh_band_exprs(16, 8))).alias(
            "band", "band_sig"
        ),
    )
    bands_sql = sigs.selectExpr("shingle", _mh_band_posexplode_sql(16, 8))
    assert key(bands_sql) == key(bands_col)

    # bloom positions
    pos_col = sh.select(
        "shingle",
        F.explode(
            F.array(*[_bloom_pos(F.col("shingle"), s) for s in _B_SEEDS])
        ).alias("p"),
    )
    pos_sql = sh.selectExpr("shingle", _bloom_pos_explode_sql())
    assert key(pos_sql) == key(pos_col)


def test_span_scrub_minority_rebuild_identity(spark):
    """The covered-docs-only rebuild (round 16) equals the
    rebuild-everything form on every edge the equivalence argument
    leans on: uncovered docs (split+rejoin identity, incl. doubled
    spaces), a doc scrubbed to empty, NULL and empty texts, and
    same-doc repeats left alone by the cross-doc rule."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.dedup import span_scrub, span_scrub_intra

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # owner of the shared span
            (2, "a b c d e f g h"),          # scrubbed to EMPTY (full copy)
            (3, "x y  z"),                   # uncovered, doubled space
            (4, None),                       # NULL text
            (5, ""),                         # empty text
            (6, "p q r s t u v w a b c d e f g h"),  # suffix copy, partial scrub
            (7, "m m m m m m m m m m"),      # intra-doc repeats only
        ],
        "doc_id int, text string",
    )

    def old_form(df, covered, id_col="doc_id", text_col="text"):
        toks = df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "token"),
        ).select(id_col, (F.col("pos0") + 1).alias("pos"), "token")
        kept = toks.join(covered, [id_col, "pos"], "left_anti")
        rebuilt = kept.groupBy(id_col).agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s["token"],
                ),
            ).alias("scrub_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        base = df.select(
            F.col(id_col),
            F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
        )
        return base.join(rebuilt, id_col, "left").select(
            id_col,
            "n_tok",
            (F.col("n_tok") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("scrub_text"), F.lit("")).alias("scrub_text"),
        )

    from pyspark.sql import Window

    from ppdb_parser_spark.operators.dedup import word_shingles_pos

    def key(df):
        return sorted(tuple(r) for r in df.collect())

    # cross-doc rule at n=8
    occ = word_shingles_pos(docs, 8)
    owner = F.min("doc_id").over(Window.partitionBy("shingle"))
    covered = (
        occ.withColumn("owner", owner)
        .filter(F.col("doc_id") != F.col("owner"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(7))
            ).alias("pos"),
        )
        .distinct()
    )
    new = key(span_scrub(docs, n=8))
    assert new == key(old_form(docs, covered))
    by_id = {r[0]: r for r in new}
    assert by_id[2][2] == 8 and by_id[2][3] == ""  # scrubbed to empty
    assert by_id[3][3] == "x y  z" and by_id[3][2] == 0
    assert by_id[7][2] == 0  # intra repeats untouched by the cross rule

    # intra-doc rule at n=3
    first = F.min("start").over(Window.partitionBy("doc_id", "shingle"))
    occ3 = word_shingles_pos(docs, 3)
    covered3 = (
        occ3.withColumn("first_start", first)
        .filter(F.col("start") != F.col("first_start"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(2))
            ).alias("pos"),
        )
        .distinct()
    )
    new3 = key(span_scrub_intra(docs, n=3))
    assert new3 == key(old_form(docs, covered3))
    assert {r[0]: r for r in new3}[7][2] > 0  # intra repeats now scrubbed


def test_span_scrub_rejects_helper_column_names(spark):
    """The scrub rebuild joins its own helper columns onto the caller's
    frame, so an id or text column with one of those names would
    silently collide: both scrub operators reject it at plan time."""
    from ppdb_parser_spark.operators.dedup import (
        _SCRUB_HELPER_COLS,
        span_scrub,
        span_scrub_intra,
    )

    for id_col, text_col in (("doc_id", "__text"), ("n_tok", "text")):
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c d")], [id_col, text_col]
        )
        for fn in (span_scrub, span_scrub_intra):
            with pytest.raises(ValueError, match="collide"):
                fn(df, n=2, id_col=id_col, text_col=text_col)
    assert {"__cov", "__text", "n_tok", "n_kept", "scrub_text", "pos",
            "token"} <= set(_SCRUB_HELPER_COLS)


def test_no_tier_selector_parameters():
    """One implementation per operator: no public operator takes an A/B
    implementation selector (``tier``, ``*_tier``, ``assign``,
    ``encode``, ``orientation``). Where an operator has two paths, an
    observable property of the input picks, not a parameter. Physical
    layout is the engine's decision too: no public operator takes a
    block, shard or bucket count or a JL screen shape (``n_blocks``,
    ``n_b_shards``, ``target_block_bytes``, ``n_buckets``, ``jl_dim``,
    ``slack_num``, ``slack_den``)."""
    import importlib
    import inspect
    import pkgutil

    import ppdb_parser_spark.operators as ops

    bad = []
    for info in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{ops.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            for p in inspect.signature(fn).parameters:
                if p in (
                    "tier", "assign", "encode", "orientation",
                    "n_blocks", "n_b_shards", "target_block_bytes",
                    "n_buckets", "jl_dim", "slack_num", "slack_den",
                ) or p.endswith("_tier"):
                    bad.append(f"{mod.__name__}.{name}({p})")
    assert not bad, bad


def test_media_headers_roundtrip():
    """BMP/WAV generators and hand parsers agree for every fixture index,
    including odd-length WAV data chunks (RIFF word alignment)."""
    from ppdb_parser_spark.operators import multimodal as MM

    for i in range(MM.N_BMP):
        b = MM.bmp_bytes(i)
        assert b[:2] == b"BM"
        w, h = MM.parse_bmp_header(b)
        assert w == 4 + (i * 3) % 29 and h == 2 + (i * 5) % 17
    for i in range(MM.N_WAV):
        b = MM.wav_bytes(i)
        ch, sr, ns = MM.parse_wav_header(b)
        assert ch == 1 + i % 2 and sr == 8000 * (1 + i % 3)
        assert ns == 40 + (i * 9) % 173
    # negative (top-down) BMP height is normalized to its magnitude
    import struct

    b = bytearray(MM.bmp_bytes(0))
    w0, h0 = MM.parse_bmp_header(bytes(b))
    struct.pack_into("<i", b, 22, -h0)
    assert MM.parse_bmp_header(bytes(b)) == (w0, h0)


def test_decode_media_meta_rejects_unknown_format(spark, tmp_path):
    """Compressed codec formats are a deliberate stub: decoding must fail
    loudly, not return garbage."""
    import pytest

    from ppdb_parser_spark.operators import multimodal as MM

    (tmp_path / "x.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    blobs = spark.read.format("binaryFile").load(str(tmp_path / "*.jpg"))
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        MM.decode_media_meta(blobs).collect()


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """Self-checking form (round 6): the within_2pct boolean carries the
    approx-vs-exact contract; the exact median ships as BIGINT half-cents
    so the driver hash is float-grid-safe."""
    rows = REGISTRY["agg_approx_percentile"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_2pct"] is True
        assert r["exact_median_halfcents"] > 0


def test_bmp_pixels_resize_roundtrip():
    """Pixel decode inverts the generator formula (orientation included)
    and nearest-neighbor resize picks the floor-mapped source pixel."""
    import numpy as np

    from ppdb_parser_spark.operators import multimodal as MM

    i = 3
    arr = MM.bmp_pixels(MM.bmp_bytes(i))
    w, h = MM.bmp_dims(i)
    assert arr.shape == (h, w, 3)
    # display row r = generator row h-1-r
    for r, c in [(0, 0), (h - 1, w - 1), (h // 2, w // 3)]:
        assert tuple(int(v) for v in arr[r, c]) == MM._gen_pixel(i, c, h - 1 - r)
    out = MM.resize_nearest(arr, 8, 8)
    assert out.shape == (8, 8, 3)
    assert np.array_equal(out[2, 5], arr[(2 * h) // 8, (5 * w) // 8])
    # re-encode -> decode is the identity
    assert np.array_equal(MM.bmp_pixels(MM.encode_bmp(out)), out)


def test_wav_sample_meta_matches_numpy_decode():
    """Analytic int16 formula agrees with a numpy little-endian decode."""
    import numpy as np

    from ppdb_parser_spark.operators import multimodal as MM

    for i in (0, 1, 7):
        data = MM.wav_bytes(i)
        ch, _sr, n_frames = MM.parse_wav_header(data)
        pcm = np.frombuffer(data[-n_frames * ch * 2 :], dtype="<i2")
        for k in (0, 1, len(pcm) - 1):
            assert int(pcm[k]) == MM._gen_wav_sample(i, k)


def test_embedding_dedup_lsh_precision(spark, sf_dir):
    """Every vector the LSH dedup drops is also dropped by the exact
    all-pairs dedup (precision property; recall may be lower)."""
    from ppdb_parser_spark.queries import REGISTRY

    exact = REGISTRY["dedup_embedding"].fn(spark, sf_dir).toPandas()
    lsh = REGISTRY["dedup_embedding_lsh"].fn(spark, sf_dir).toPandas()
    exact_dropped = set(exact[exact.status == "dropped"].vec_id)
    lsh_dropped = set(lsh[lsh.status == "dropped"].vec_id)
    assert lsh_dropped <= exact_dropped
    assert len(exact) == len(lsh)


def test_custom_datasource_partition_per_shard(spark):
    """The ppdbpack connector's scan parallelism contract: one input
    partition per shard file, rows produced on executors."""
    from ppdb_parser_spark.sources.custom_datasource import register
    from ppdb_parser_spark.sources.ppdb_pack import ensure_pack

    register(spark)
    df = (
        spark.read.format("ppdbpack")
        .option("path", ensure_pack())
        .load()
    )
    assert df.rdd.getNumPartitions() == 4  # the fixture pack has 4 shards
    shards = {r[0] for r in df.select("shard").distinct().collect()}
    assert len(shards) == 4


def test_ivf_kmeans_recall_vs_bruteforce(spark, sf_dir):
    """The k-means-refined IVF's neighbors are a subset of the exact
    brute-force top list (cells can only miss, never invent), and at
    fixture scale the refined index keeps useful recall."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    probe = (
        e.filter("vec_id = 1").select("embedding").first()[0]
    )
    exact = {
        r["vec_id"]
        for r in SIM.cosine_topk(
            e.filter("vec_id <> 1"), [float(x) for x in probe], k=20
        ).collect()
    }
    approx = {
        r["vec_id"]
        for r in SIM.ivf_kmeans_topk(e, n_cells=8, probe_id=1, n_probe=2, k=5)
        .collect()
    }
    assert len(approx) == 5
    assert len(approx & exact) >= 2  # non-trivial overlap with the true top-20


def test_png_roundtrip_pixel_exact_all_filters():
    """Fixture PNGs decode pixel-exact against the generator formula, and
    the fixture set exercises ALL FIVE scanline filter types — a decoder
    that mishandled any unfilter branch would fail here (and the analytic
    hash oracle in mm_png_features)."""
    from ppdb_parser_spark.operators import multimodal as MM

    used = set()
    for i in range(MM.N_PNG):
        data = MM.png_bytes(i)
        w, h = MM.parse_png_header(data)
        arr = MM.png_pixels(data)
        assert arr.shape == (h, w, 3)
        for y in range(h):
            used.add(MM.png_filter_for_row(i, y))
        # spot-check full pixel equality on a diagonal + corners
        for x, y in [(0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1)] + [
            (k % w, k % h) for k in range(7)
        ]:
            assert tuple(arr[y, x]) == MM._png_gen_pixel(i, x, y)
    assert used == {0, 1, 2, 3, 4}


def test_png_decoder_rejects_unsupported():
    from ppdb_parser_spark.operators import multimodal as MM
    import pytest as _pytest
    import struct
    import zlib

    with _pytest.raises(ValueError, match="not a PNG"):
        MM.png_pixels(b"JFIF....")
    # grayscale (color type 0) is outside the supported 8-bit RGB subset
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bad = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", zlib.compress(b"\x00" * 20))
        + MM._png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        MM.png_pixels(bad)


def test_repetition_stats_known_values(spark):
    """Hand-computed Gopher repetition signals on a 2-doc corpus."""
    from ppdb_parser_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y x y x y")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    r1 = rows[1]
    # tokens: a×3 b×1; bigrams: "a a"×2 "a b"×1; trigrams: "a a a","a a b"
    assert r1["n_tokens"] == 4
    assert r1["top_token_frac"] == 3 / 4
    assert r1["top_bigram_frac"] == 2 / 3
    assert r1["dup_trigram_frac"] == 0.0
    r2 = rows[2]
    # tokens: x×3 y×3; bigrams: "x y"×3 "y x"×2; trigrams: "x y x"×2 "y x y"×2
    assert r2["n_tokens"] == 6
    assert r2["top_token_frac"] == 3 / 6
    assert r2["top_bigram_frac"] == 3 / 5
    assert r2["dup_trigram_frac"] == 1.0


def test_repetition_kernel_equals_agg(spark):
    """repetition_stats (zero-shuffle Arrow kernel) equals a pure-Python
    gram count per document — including split-semantics edges (empty
    text → [''], doubled/trailing spaces keep empty tokens), short docs
    (NULL bigram/trigram fractions below 2/3 tokens), NULL text (doc
    vanishes), and the no-duplicate-trigram 0.0 case."""
    from collections import Counter

    from ppdb_parser_spark.operators.text_analysis import repetition_stats

    docs = [
        (1, "a a a b"),
        (2, "x y x y x y"),
        (3, ""),                    # split('') = [''] -> 1 token
        (4, "a  b "),               # empties kept: ['a','','b','']
        (5, "solo"),                # 1 token: bigram/trigram NULL
        (6, "two toks"),            # 2 tokens: trigram NULL
        (7, None),                  # NULL text: absent from output
        (8, "p q r"),               # 3 tokens, no dup trigram -> 0.0
    ]

    def reference(text):
        t = text.split(" ")
        n = len(t)
        c1 = Counter(t)
        c2 = Counter(zip(t, t[1:]))
        c3 = Counter(zip(t, t[1:], t[2:]))
        return {
            "n_tokens": n,
            "top_token_frac": max(c1.values()) / n,
            "top_bigram_frac": max(c2.values()) / (n - 1) if n >= 2 else None,
            "dup_trigram_frac": (
                sum(c for c in c3.values() if c > 1) / (n - 2)
                if n >= 3
                else None
            ),
        }

    want = {d: reference(t) for d, t in docs if t is not None}
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: {c: r[c] for c in want[1]}
        for r in repetition_stats(df).collect()
    }
    assert got == want


def test_winnow_kernel_equals_window(spark):
    """winnow_fingerprints (zero-shuffle Arrow kernel) equals a
    pure-Python winnowing replay (md5 16-hex-char prefix per word
    k-gram, MIN of every full w-window, one whole-doc window for docs
    with fewer than w k-grams) — including split-semantics edges (empty
    text, kept empty tokens from doubled spaces), docs shorter than k
    (no rows), exact-w docs, and NULL text (doc vanishes)."""
    import hashlib

    from ppdb_parser_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    long_a = " ".join(f"t{i % 7}" for i in range(40))
    docs = [
        (1, long_a),                   # many windows, repeats
        (2, long_a + " tail words x"), # shared run with doc 1
        (3, "a b c"),                  # < k tokens: no k-gram
        (4, "a b c d"),                # exactly one k-gram (g < w)
        (5, "a b c d e f g h"),        # g = 5 = w: one full window
        (6, ""),                       # split('') = [''] -> no gram
        (7, "p  q r  s t u"),          # doubled spaces keep empties
        (8, None),                     # NULL text: absent
    ]

    def reference(kk, ww):
        out = set()
        for d, text in docs:
            if text is None:
                continue
            t = text.split(" ")
            h = [
                hashlib.md5(" ".join(t[i : i + kk]).encode()).hexdigest()[:16]
                for i in range(len(t) - kk + 1)
            ]
            if not h:
                continue
            starts = range(max(1, len(h) - ww + 1))
            out |= {(d, min(h[i : i + ww])) for i in starts}
        return out

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for kk, ww in ((4, 5), (2, 3)):
        got = {
            (r["doc_id"], r["fingerprint"])
            for r in winnow_fingerprints(df, k=kk, w=ww).collect()
        }
        assert got == reference(kk, ww), (kk, ww)
        assert got, "edge fixture produced no fingerprints at all"


def test_winnowing_guarantee_and_match(spark):
    """Winnowing guarantee (SIGMOD'03): two docs sharing a run of
    w + k - 1 = 8 tokens share at least one fingerprint; an exact copy
    shares all of them (overlap 1.0 in winnow_match)."""
    from ppdb_parser_spark.operators.dedup import winnow_match
    from ppdb_parser_spark.operators.text_analysis import winnow_fingerprints

    shared_run = "q1 q2 q3 q4 q5 q6 q7 q8"
    doc1 = "alpha beta gamma " + shared_run + " delta epsilon zeta"
    doc2 = "one two three four " + shared_run + " five six seven"
    doc3 = doc1  # exact copy of doc1
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2), (3, doc3)], ["doc_id", "text"]
    )
    fps = (
        winnow_fingerprints(df)
        .groupBy("doc_id")
        .agg(F.collect_set("fingerprint").alias("s"))
        .collect()
    )
    sets = {r["doc_id"]: set(r["s"]) for r in fps}
    assert sets[1] & sets[2], "shared 8-token run must yield a shared fingerprint"
    assert sets[1] == sets[3], "identical docs have identical fingerprint sets"

    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in winnow_match(df, min_shared=1).collect()
    }
    assert pairs[(1, 3)]["overlap"] == 1.0
    assert (1, 2) in pairs and (2, 3) in pairs


def test_pq_recall_floor_and_codes_shape(spark, sf_dir):
    """PQ ADC + rerank=100 must keep >= 0.7 recall@10 vs the exact scan at
    fixture scale (measured 0.8-1.0 across probes, RECALL.md; deterministic:
    seeded codebook + grid sums). Codes must be m small ints -- the
    compressed index contract."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    enc = SIM.pq_encode(e, n_centroids=16, m=8, dim=64)
    row = enc.filter(F.col("vec_id") == 3).first()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])
    # centroid vectors encode to their own id in every subspace
    self_row = enc.filter(F.col("vec_id") == 5).first()
    assert self_row["codes"] == [5] * 8

    exact = [r["vec_id"] for r in SIM.cosine_topk_by_id(e, 1, k=10).collect()]
    pq = [
        r["vec_id"]
        for r in SIM.pq_topk(e, probe_id=1, k=10, rerank=100, dim=64).collect()
    ]
    assert len(set(exact) & set(pq)) / 10 >= 0.7


def test_left_interval_join_live_consistent_with_batch(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: matched pairs must equal the
    batch join exactly; null-padded purchases may be held back by the final
    watermark but every emitted one must also be null-padded in batch."""
    batch = REGISTRY["stream_left_interval_join_batch"].fn(spark, sf_dir).collect()
    live = REGISTRY["stream_left_interval_join_live"].fn(spark, sf_dir).collect()
    b_matched = {(r["purchase_id"], r["click_id"]) for r in batch
                 if r["click_id"] is not None}
    l_matched = {(r["purchase_id"], r["click_id"]) for r in live
                 if r["click_id"] is not None}
    assert l_matched == b_matched
    b_null = {r["purchase_id"] for r in batch if r["click_id"] is None}
    l_null = {r["purchase_id"] for r in live if r["click_id"] is None}
    assert l_null <= b_null
    assert live  # the drained run actually emitted rows


def test_asof_join_forward_tie_and_missing(spark):
    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 150, "p2"), (2, 10, "p3")], "uid long, t long, pid string"
    )
    right = spark.createDataFrame(
        [(1, 100, "exact-tie"), (1, 120, "next"), (3, 5, "other-key")],
        "uid long, rt long, tag string",
    )
    from ppdb_parser_spark.operators.joins import asof_join_forward

    out = {
        r["pid"]: r["tag"]
        for r in asof_join_forward(
            left, right, by=["uid"], left_on="t", right_on="rt",
            right_cols=["rt", "tag"], how="left",
        ).collect()
    }
    assert out["p1"] == "exact-tie"  # right row at equal t IS visible
    assert out["p2"] is None         # nothing at-or-after 150 for uid=1
    assert out["p3"] is None         # no right rows for uid=2


def test_pagerank_hub_and_mass(spark):
    """Star graph: the hub must outrank leaves; total rank mass ~= 1."""
    from ppdb_parser_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("hub", leaf, 1.0) for leaf in ("a", "b", "c", "d")]
        + [(leaf, "hub", 1.0) for leaf in ("a", "b", "c", "d")],
        "src string, dst string, w double",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    assert all(ranks["hub"] > ranks[leaf] for leaf in "abcd")
    assert len({ranks[leaf] for leaf in "abcd"}) == 1  # symmetric leaves tie


def test_observation_metrics_no_extra_scan(spark, sf_dir):
    """The Observation API collects pipeline quality metrics (row counts,
    null counts, sums) DURING the main action — at 100 TB this replaces
    separate count() jobs that would each rescan the corpus."""
    from pyspark.sql import Observation
    from ppdb_parser_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("quality")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        F.count(F.when(F.col("lang").isNull(), 1)).alias("null_langs"),
    )
    out = observed.filter(F.col("n_chars") > 0).count()
    m = obs.get
    assert m["n_rows"] >= out > 0
    assert m["total_chars"] > 0
    assert m["null_langs"] == 0


def test_minhash_relational_precision_and_recall(spark, sf_dir):
    """md5-MinHash candidates refined exactly => precision 1.0 (subset of
    the exact J>=0.3 pair set); banding recall 1-(1-J^2)^8 should capture
    a solid majority of true pairs at fixture scale."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_jaccard_pairs"].fn(spark, sf_dir).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["dedup_minhash_relational"].fn(spark, sf_dir).collect()
    }
    assert mh <= exact
    assert len(mh) >= len(exact) // 2


def test_text_ops_degenerate_inputs(spark):
    """Empty and single-token documents must flow through the gram-based
    operators without errors: no grams -> no rows (winnow/chunk tail
    behavior pinned), never an exception from slice/sequence edge math."""
    from ppdb_parser_spark.operators.text_analysis import (
        repetition_stats,
        winnow_fingerprints,
    )
    from ppdb_parser_spark.queries.registry import REGISTRY

    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "a b c d e f g h i j")], ["doc_id", "text"]
    )
    rep = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # "" splits to [''] -> 1 token, no bigrams/trigrams -> NULL fractions
    assert rep[1]["n_tokens"] == 1 and rep[1]["top_bigram_frac"] is None
    assert rep[2]["n_tokens"] == 1
    assert rep[3]["dup_trigram_frac"] == 0.0

    fp = winnow_fingerprints(df)
    counts = {r["doc_id"]: 1 for r in fp.collect()}
    assert 1 not in counts and 2 not in counts  # < k tokens -> no k-grams
    assert fp.filter(F.col("doc_id") == 3).count() > 0


@pytest.mark.parametrize(
    "qname",
    ["flagship", "dedup_jaccard_prefix", "sim_pq_topk", "sim_pq_kmeans_topk",
     "sim_ivfpq_topk", "text_textrank", "dedup_minhash_relational",
     "sim_lsh_pairs_checked", "dedup_components_star",
     "sim_ivfpq_residual_topk", "dedup_semantic"],
)
def test_results_invariant_to_execution_config(spark, sf_dir, qname):
    """Marquee results must be bit-identical with AQE disabled and a
    different shuffle-partition count — catching any hidden dependence on
    partition order, coalescing, or tie-break luck. (The determinism the
    oracle gate needs on a 1000-executor cluster, tested locally.)"""
    def run():
        pdf = REGISTRY[qname].fn(spark, sf_dir).toPandas()
        return sorted(map(tuple, pdf.astype(str).values.tolist()))

    baseline = run()
    saved = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert run() == baseline
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_lsh_exact_twin_matches_float_variant(spark, sf_dir):
    """The grid-exact LSH twin must produce the identical pair set as the
    float-HOF engine default (same planes, same banding) — so RECALL.md's
    measured numbers transfer to the oracled query."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {
        (r.id_a, r.id_b)
        for r in SIM.lsh_similarity_join(emb, 0.35, 16, 8, 42, dim=64).collect()
    }
    b = {
        (r.id_a, r.id_b)
        for r in SIM.lsh_similarity_join_exact(
            emb, 0.35, 16, 8, 42, dim=64
        ).collect()
    }
    assert a == b and a


def test_pq_codebook_contiguity_assert_fires(spark, sf_dir):
    """Positional ADC lookup is only sound for 0-based contiguous seed ids
    (ADVICE r5): on a filtered relation (id 0 removed) the codebook ids are
    1..15, and the in-plan contiguity assert must fail LOUDLY instead of
    silently shifting every adc score."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") >= 1)
    with pytest.raises(Exception, match="0-based"):
        SIM.pq_encode(e, n_centroids=16, m=8, dim=64).collect()
    with pytest.raises(Exception, match="0-based"):
        SIM.pq_topk(e, probe_id=1, dim=64).collect()
    with pytest.raises(Exception, match="0-based"):
        SIM.ivfpq_topk(e, probe_id=1, dim=64).collect()
    with pytest.raises(Exception, match="0-based"):
        SIM.ivfpq_residual_topk(e, probe_id=1, dim=64).collect()


def test_pagerank_fractional_weights_partition_invariant(spark):
    """wdeg accumulates on the int64 grid (ADVICE r5): with fractional
    weights whose double sum is order-dependent, ranks must still be
    bit-identical across partition layouts."""
    from ppdb_parser_spark.operators.graph import pagerank

    rows = [
        (f"n{i}", f"n{(i * 7 + j) % 23}", 0.1 + 0.3 * ((i * j) % 5))
        for i in range(23)
        for j in range(1, 4)
    ]
    edges = spark.createDataFrame(rows, "src string, dst string, w double")
    r1 = {
        r["node"]: r["rank"]
        for r in pagerank(edges.repartition(1)).collect()
    }
    r13 = {
        r["node"]: r["rank"]
        for r in pagerank(edges.repartition(13)).collect()
    }
    assert r1 == r13 and abs(sum(r1.values()) - 1.0) < 1e-6


def test_star_components_logn_rounds_on_path(spark):
    """The large-star/small-star variant must label a 512-node PATH graph
    (diameter 511) correctly in O(log n) rounds — the certificate that it
    does not degrade to diameter-bound propagation like min-label
    (VERDICT r5 item 4)."""
    from ppdb_parser_spark.operators.graph import connected_components_star

    n = 512
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels, rounds = connected_components_star(edges)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 2 * n.bit_length() + 2, (
        f"star CC took {rounds} rounds on a {n}-path — not O(log n)"
    )


def test_star_components_match_min_label(spark):
    """The star rounds and connected_components' driver tier (numpy
    min-label propagation) share the unique fixpoint (component = min
    reachable id) on a multi-component graph with duplicate and reversed
    edges."""
    from ppdb_parser_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    raw = [
        (5, 2), (2, 5), (2, 9), (9, 14), (14, 5),   # cycle component -> 2
        (30, 31), (31, 30),                          # pair -> 30
        (100, 40), (40, 77), (77, 100), (40, 41),    # mixed -> 40
        (7, 7),                                      # self loop (dropped)
        (7, 8),                                      # pair -> 7
    ]
    edges = spark.createDataFrame(raw, "id_a long, id_b long")
    star, _ = connected_components_star(edges)
    plain = connected_components(edges)
    s = {(r["node"], r["component"]) for r in star.collect()}
    p = {(r["node"], r["component"]) for r in plain.collect()}
    assert s == p and {c for _, c in s} == {2, 30, 40, 7}


def test_semantic_dedup_dominance_and_cells(spark):
    """SemDeDup semantics on a constructed fixture: cell assignment is
    argmax cosine vs the seed vectors, and a vector is dropped iff a
    SMALLER id in the SAME cell is within the cosine threshold (dominance,
    not transitive grouping). Cross-cell near-dups are intentionally not
    caught — that is the paper's recall/cost trade."""
    from ppdb_parser_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # seed of cell 0 -> kept
        (1, [0.0, 1.0, 0.0, 0.0]),    # seed of cell 1 -> kept
        (2, [1.0, 0.01, 0.0, 0.0]),   # cell 0, ~dup of 0 -> dropped
        (3, [0.0, 0.10, 1.0, 0.0]),   # cell 1, far from 1 -> kept
        (4, [0.0, 0.12, 1.0, 0.0]),   # cell 1, ~dup of 3 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cell_id"], r["kept"])
        for r in semantic_dedup(df, n_cells=2, threshold=0.9).collect()
    }
    assert out == {
        0: (0, True),
        1: (1, True),
        2: (0, False),
        3: (1, True),
        4: (1, False),
    }


def test_semantic_dedup_two_level_routing_and_dominance(spark):
    """Two-level SemDeDup on a constructed fixture: rows route super →
    child (so a row lands in the best child OF ITS SUPER, even when a
    child of another super is globally closer), every super parents
    itself, and the within-cell dominance rule is unchanged."""
    from ppdb_parser_spark.operators.similarity import (
        semantic_dedup_two_level,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # super 0 / child 0
        (1, [0.0, 1.0, 0.0, 0.0]),     # super 1 / child 1
        (2, [0.9, 0.0, 0.5, 0.0]),     # child 2 -> parent 0
        (3, [0.0, 0.9, 0.0, 0.5]),     # child 3 -> parent 1
        # near child 2 but ALSO mildly near child 3's axis: its super
        # argmax picks super 0, so only children {0, 2} are candidates
        (4, [0.88, 0.1, 0.52, 0.0]),   # -> cell 2, dup of 2 -> dropped
        (5, [0.0, 0.88, 0.0, 0.52]),   # -> cell 3, dup of 3 -> dropped
        (6, [0.6, 0.0, -0.8, 0.0]),    # cell 0 region, far -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["cell_id"], r["kept"])
        for r in semantic_dedup_two_level(
            df, n_cells=4, n_super=2, threshold=0.95
        ).collect()
    }
    # seeds keep themselves; 4/5 are dominated inside their routed cells
    assert out[0] == (0, True)
    assert out[1] == (1, True)
    assert out[2] == (2, True)
    assert out[3] == (3, True)
    assert out[4] == (2, False)
    assert out[5] == (3, False)
    assert out[6][1] is True


def test_sem_quant_overflow_guard_raises(spark):
    """_sem_quant's int64 bound (|x| ≤ ~37 at dim 64) is ENFORCED: an
    out-of-range element fails loudly instead of silently wrapping the
    grid dot (ADVICE r7)."""
    import pytest

    from ppdb_parser_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1e9, 1.0]),  # would wrap round(x*1e7)² in int64
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="quantization overflow"):
        semantic_dedup(df, n_cells=2, threshold=0.9).collect()


def test_round6_half_up_matches_spark_round(spark):
    """The GEMM kernel's rounding helper must agree with F.round(x, 6)
    (BigDecimal-on-shortest-repr HALF_UP) on adversarial doubles — the
    exact divergence class ADVICE r7 flagged for floor(x·1e6 + 0.5):
    shortest reprs ending in '5' whose binary value sits below the
    decimal midpoint."""
    from ppdb_parser_spark.operators.similarity import _round6_half_up

    vals = [
        0.1234565,   # repr ends in 5, binary below midpoint
        0.1234575,
        0.9999995,
        0.3500005,
        0.0000005,
        0.1234564999999,
        0.12345650000001,
        -0.1234565,
        0.35, 1.0, 0.0,
    ]
    df = spark.createDataFrame(
        [(v,) for v in vals], "x double"
    ).select(F.col("x"), F.round("x", 6).alias("r"))
    for row in df.collect():
        assert _round6_half_up(row["x"]) == row["r"], row["x"]


def test_brute_blocked_matches_declarative_and_string_ids(spark):
    """blocked-GEMM tier == declarative tier pair-for-pair AND
    cosine-for-cosine on a dim-2 fixture (at dim 2 both engines' dot and
    norm are single-addition float ops — bit-identical — so the test
    isolates the ROUNDING semantics), and non-numeric ids now work
    (blocking rides xxhash64(id); pmod(id, n) silently NULLed them —
    ADVICE r7)."""
    import random

    from ppdb_parser_spark.operators.similarity import (
        brute_cosine_pairs_blocked,
        pairwise_cosine_pairs,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1), rng.uniform(-1, 1)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in brute_cosine_pairs_blocked(df, threshold=0.5).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in pairwise_cosine_pairs(df, threshold=0.5).collect()
    }
    assert got == want and len(want) > 50

    sdf = spark.createDataFrame(
        [(f"doc-{i:03d}", v) for i, v in rows],
        "vec_id string, embedding array<double>",
    )
    sgot = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in brute_cosine_pairs_blocked(sdf, threshold=0.5).collect()
    }
    assert sgot == {
        (f"doc-{a:03d}", f"doc-{b:03d}"): c for (a, b), c in want.items()
    }


def test_ivfpq_residual_recall_and_decomposition(spark, sf_dir):
    """IVFADC residual variant: final cosines must be EXACT (rerank), the
    recall floor holds, and the inner-product decomposition is verified —
    adc reconstructed from dot(q,c) + quantized dot(q,r) must equal the
    operator's adc for a hand-checked row (same grid arithmetic)."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    res = SIM.ivfpq_residual_topk(e, probe_id=1, dim=64, rerank=100).collect()
    assert len(res) == 10
    exact = {
        r["vec_id"]: r["cosine"]
        for r in SIM.cosine_topk_by_id(e, 1, k=200).collect()
    }
    # every returned cosine is the true cosine (exact rerank contract)
    for r in res:
        assert r["vec_id"] in exact and exact[r["vec_id"]] == r["cosine"]
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    recall = len({v for v, _ in top10} & {r["vec_id"] for r in res}) / 10
    assert recall >= 0.6, f"residual IVFADC recall@10 collapsed: {recall}"


def test_weighted_sample_matches_python_reference(spark, sf_dir):
    """pipeline_weighted_sample recomputed in plain Python (hashlib md5 →
    52-bit uniform → -ln(u)/w key → per-lang top-5) must pick the same
    documents — pinning the Efraimidis-Spirakis key derivation end to
    end, not just cross-engine agreement."""
    import hashlib
    import math
    from collections import defaultdict

    from ppdb_parser_spark.sources.tables import load_table

    got = {
        (r["lang"], r["doc_id"], r["rk"])
        for r in REGISTRY["pipeline_weighted_sample"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    ).collect()
    by_lang = defaultdict(list)
    for r in docs:
        h = int(
            hashlib.md5(f"ws:{r['doc_id']}".encode()).hexdigest()[:13], 16
        )
        u = (h + 1) / 4503599627370497.0
        key = round(-math.log(u) / max(r["n_chars"], 1), 9)
        by_lang[r["lang"]].append((key, r["doc_id"]))
    want = {
        (lang, doc_id, rk + 1)
        for lang, items in by_lang.items()
        for rk, (_, doc_id) in enumerate(sorted(items)[:5])
    }
    assert got == want and len(got) > 0


def test_lsh_multiprobe_expands_candidates_and_is_exact(spark, sf_dir):
    """Multi-probe LSH: the probed bucket set strictly contains the
    query's own bucket, so its candidate set (and hence recall) can only
    grow vs single-bucket probing; every returned cosine must be the
    exact cosine (candidates are ranked exactly, no ADC)."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    multi = SIM.lsh_multiprobe_topk(e, probe_id=1, k=10, dim=64).collect()
    assert len(multi) == 10
    exact = {
        r["vec_id"]: r["cosine"]
        for r in SIM.cosine_topk_by_id(e, 1, k=500).collect()
    }
    for r in multi:
        assert exact[r["vec_id"]] == r["cosine"]
    top10 = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    recall = len({v for v, _ in top10} & {r["vec_id"] for r in multi}) / 10
    assert recall >= 0.2, f"multiprobe recall collapsed: {recall}"


def test_ivfpq_residual_trained_codebook_is_live_and_exact(spark, sf_dir):
    """train_codebook=True (one relational Lloyd pass on the residuals,
    Jégou §V) must actually change the ADC table — trained adc_cosine
    values differ from the seeded codebook's — while the exact-rerank
    contract (returned cosines are TRUE cosines) holds for both, and the
    top-k id set stays deterministic across reruns."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    seeded = SIM.ivfpq_residual_topk(e, probe_id=1, dim=64).collect()
    trained = SIM.ivfpq_residual_topk(
        e, probe_id=1, dim=64, train_codebook=True
    ).collect()
    assert len(trained) == 10
    exact = {
        r["vec_id"]: r["cosine"]
        for r in SIM.cosine_topk_by_id(e, 1, k=500).collect()
    }
    for r in trained:
        assert exact[r["vec_id"]] == r["cosine"]
    # the trained codebook is live: at least one candidate's ADC estimate
    # moved (identical tables would make the option dead code)
    assert {(r["vec_id"], r["adc_cosine"]) for r in seeded} != {
        (r["vec_id"], r["adc_cosine"]) for r in trained
    }
    rerun = SIM.ivfpq_residual_topk(
        e, probe_id=1, dim=64, train_codebook=True
    ).collect()
    assert [r["vec_id"] for r in rerun] == [r["vec_id"] for r in trained]


def test_semantic_dedup_seeds_from_preserves_cell_geometry(spark):
    """seeds_from: deduping a FILTERED subset that lost a seed row must
    keep the unrestricted relation's cell geometry (the composed-pipeline
    case — upstream stages may drop ids < n_cells). Row 0 (seed of cell
    0) is filtered out of df: with seeds_from the remaining rows keep
    their original cells, and row 2 — previously dominated by row 0 —
    becomes kept because its dominator is gone from the DATA while the
    cell frame is unchanged."""
    from ppdb_parser_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, [0.0, 0.10, 1.0, 0.0]),
        (4, [0.0, 0.12, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sub = df.filter(F.col("vec_id") != 0)
    out = {
        r["vec_id"]: (r["cell_id"], r["kept"])
        for r in semantic_dedup(
            sub, n_cells=2, threshold=0.9, seeds_from=df
        ).collect()
    }
    assert out == {
        1: (1, True),
        2: (0, True),
        3: (1, True),
        4: (1, False),
    }


def test_corpus_curation_v3_absorbs_exact_duplication(spark, sf_dir):
    """The marquee v3 lineage's stage-0 contract: an input corpus with
    every document exactly duplicated 4x (id-shifted copies, embeddings
    unchanged) must produce BIT-IDENTICAL shard manifests to the 1x run —
    the content-hash collapse absorbs exact duplication before any
    fingerprint or pair tier sees it."""
    from ppdb_parser_spark.queries.training_data import govern_documents_v3
    from ppdb_parser_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    d4 = docs
    for i in range(1, 4):
        d4 = d4.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        )
    out1 = sorted(map(tuple, govern_documents_v3(docs, emb).collect()))
    out4 = sorted(map(tuple, govern_documents_v3(d4, emb).collect()))
    assert out1 == out4 and len(out1) > 0


def test_brute_cosine_blocked_matches_declarative(spark, sf_dir, monkeypatch):
    """The blocked-GEMM kernel must emit EXACTLY the declarative
    baseline's pairs — same ids, same 1e-6-rounded cosines — across the
    whole fixture (the vectorized tier is a physical rewrite, not a
    semantic variant), and block boundaries must not lose cross-block
    pairs (5 row blocks don't divide the id space evenly)."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    monkeypatch.setattr(SIM, "BRUTE_ROW_BLOCKS", 5)
    e = load_table(spark, sf_dir, "embeddings")
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in SIM.pairwise_cosine_pairs(e, threshold=0.35).collect()
    }
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in SIM.brute_cosine_pairs_blocked(e, threshold=0.35).collect()
    }
    assert got == want and len(got) > 0


def test_recommend_ann_tier_pinned_to_recall_md():
    """recommend_ann_tier encodes RECALL.md's MEASURED serving rule
    (VERDICT r7 item 8) — each branch asserted against the table row
    that justifies it, so guidance cannot drift from the evidence."""
    from ppdb_parser_spark.operators import similarity as SIM

    r = SIM.recommend_ann_tier

    # small corpus: exact scan, no index (recall 1.0 by definition)
    assert r(500, 64, clusters_hint=16)["tier"] == "cosine_topk"

    # clustered + vectors fit I/O: ivf_kmeans (mog16 measured 0.92,
    # the best of every tier in RECALL.md §clustered)
    best = r(2_000_000, 64, clusters_hint=16)
    assert best["tier"] == "ivf_kmeans_topk"

    # clustered + vectors exceed budget: RAW-code PQ, never residual
    # (raw 0.68-0.80 vs residual 0.22-0.60 at practical budgets)
    tight = r(2_000_000, 64, clusters_hint=16, bytes_per_vector_budget=64)
    assert tight["tier"] == "ivfpq_topk"

    # isotropic/unknown: ivf_topk with the n_probe knob; hyperplane
    # buckets (lsh_multiprobe measured 0.30 isotropic) never appear
    iso = r(2_000_000, 64)
    assert iso["tier"] == "ivf_topk" and iso["params"]["n_probe"] >= 2
    for case in (best, tight, iso):
        assert "lsh" not in case["tier"]

    # residual gate: only when the coarse quantizer OVER-resolves the
    # clusters (n_cells >= 2x), and then only with a trained codebook
    # (offline ceiling crossover: raw 0.78 vs residual 0.83 at 32 cells
    # over 16 true clusters; at 16 cells residual loses 0.22 vs 0.72)
    assert not r(2_000_000, 64, clusters_hint=16, n_cells=16)["residual_ok"]
    under = r(2_000_000, 64, clusters_hint=16, n_cells=31)
    assert not under["residual_ok"]
    over = r(2_000_000, 64, clusters_hint=16, n_cells=32)
    assert over["residual_ok"]
    assert over["residual_requires"] == {"train_codebook": True}


def test_brute_blocked_b_shards_pair_identical(spark, sf_dir, monkeypatch):
    """The block-pair GRID (B sharded into column blocks, VERDICT r7
    item 6) must emit EXACTLY the single-broadcast tier's pairs — each
    (a, b) lands in exactly one (row-block × B-shard) cell, so sharding
    is a pure physical decomposition. The shard count derives from the
    B side's plan bytes: the fixture fits one broadcast row, and a
    shrunken budget derives >= 3 shards. 5 row blocks and the derived
    shard count are coprime to the id space, so both boundaries are
    exercised."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    monkeypatch.setattr(SIM, "BRUTE_ROW_BLOCKS", 5)
    e = load_table(spark, sf_dir, "embeddings")
    assert SIM._b_shard_count(e, "vec_id", "embedding") == 1
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in SIM.brute_cosine_pairs_blocked(e, threshold=0.35).collect()
    }
    budget = SIM.BROADCAST_ROW_BYTES
    while SIM._b_shard_count(e, "vec_id", "embedding") < 3:
        budget //= 2
        monkeypatch.setattr(SIM, "BROADCAST_ROW_BYTES", budget)
    assert 3 <= SIM._b_shard_count(e, "vec_id", "embedding") < 6
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in SIM.brute_cosine_pairs_blocked(e, threshold=0.35).collect()
    }
    assert got == want and len(got) > 0


def test_ols_fit_matches_numpy_and_guards_singular(spark):
    """The in-plan Cramer solve must agree with numpy's lstsq on a
    well-conditioned integer fixture (to float tolerance — numpy uses
    SVD, we use exact normal equations), and a collinear feature must
    raise the embedded singular-matrix guard rather than emit NaNs."""
    import numpy as np

    from ppdb_parser_spark.operators.regression import ols_fit_2f

    rows = [
        (int(f1), int(f2), int(3 + 2 * f1 - 5 * f2 + (i % 7) - 3))
        for i, (f1, f2) in enumerate(
            (i * 13 % 40, i * 7 % 23) for i in range(200)
        )
    ]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y long")
    got = ols_fit_2f(df).collect()[0]
    X = np.array([[1.0, f1, f2] for f1, f2, _ in rows])
    yv = np.array([float(y) for *_, y in rows])
    want, *_ = np.linalg.lstsq(X, yv, rcond=None)
    assert abs(got["b0"] - want[0]) < 1e-8
    assert abs(got["b1"] - want[1]) < 1e-8
    assert abs(got["b2"] - want[2]) < 1e-8

    import pytest as _pytest

    collinear = spark.createDataFrame(
        [(i, 2 * i, i + 1) for i in range(50)], "f1 long, f2 long, y long"
    )
    with _pytest.raises(Exception, match="singular"):
        ols_fit_2f(collinear).collect()


def test_grouped_ols_matches_per_group_numpy(spark):
    """ols_fit_2f_by must equal an independent numpy lstsq per group —
    grouped fitting is N exact fits in one aggregation, not an
    approximation."""
    import numpy as np

    from ppdb_parser_spark.operators.regression import ols_fit_2f_by

    rows = []
    for g, (a, b, c) in enumerate([(3, 2, -5), (-1, 4, 2), (10, -3, 1)]):
        for i in range(120):
            f1, f2 = (i * 13 + g) % 40, (i * 7 + 2 * g) % 23
            rows.append(
                (f"g{g}", f1, f2, a + b * f1 + c * f2 + (i % 5) - 2)
            )
    df = spark.createDataFrame(rows, "k string, f1 long, f2 long, y long")
    got = {
        r["k"]: (r["b0"], r["b1"], r["b2"])
        for r in ols_fit_2f_by(df, ["k"]).collect()
    }
    for g in ("g0", "g1", "g2"):
        sub = [r for r in rows if r[0] == g]
        X = np.array([[1.0, f1, f2] for _, f1, f2, _ in sub])
        yv = np.array([float(y) for *_, y in sub])
        want, *_ = np.linalg.lstsq(X, yv, rcond=None)
        for gi, wi in zip(got[g], want):
            assert abs(gi - wi) < 1e-8, (g, got[g], want)


def test_logit_fit_matches_numpy_irls_and_guards_singular(spark):
    """logit_fit_2f must reproduce an independent numpy implementation of
    the SAME fixed procedure (2 Newton steps from b=0, rational-sigmoid
    link, 2^20 weight quantization) to float tolerance, and its decision
    direction must track the planted signal. Collinear features raise the
    singular guard."""
    import numpy as np

    from ppdb_parser_spark.operators.regression import logit_fit_2f

    rows = [
        (
            int(f1),
            int(f2),
            int(1 if (2 * f1 - 3 * f2 + ((i * 11) % 9) - 4) > 10 else 0),
        )
        for i, (f1, f2) in enumerate(
            ((i * 13) % 40, (i * 7) % 23) for i in range(400)
        )
    ]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y long")
    got = logit_fit_2f(df).collect()[0]

    X = np.array([[1.0, f1, f2] for f1, f2, _ in rows])
    yv = np.array([float(y) for *_, y in rows])
    # step 1: b = 4 (X'X)^-1 X'(y - 1/2)
    b = 4.0 * np.linalg.solve(X.T @ X, X.T @ (yv - 0.5))
    # step 2: quantized IRLS re-fit
    z = X @ b
    s = 0.5 + z / (2.0 * (1.0 + np.abs(z)))
    wq = np.floor(s * (1 - s) * 1048576)
    vq = np.floor((s * (1 - s) * z + (yv - s)) * 1048576)
    H = X.T @ (X * wq[:, None])
    rhs = X.T @ vq
    want = np.linalg.solve(H, rhs)
    assert abs(got["b0"] - want[0]) < 1e-6
    assert abs(got["b1"] - want[1]) < 1e-6
    assert abs(got["b2"] - want[2]) < 1e-6
    # direction: planted rule is +f1 / -f2
    assert got["b1"] > 0 and got["b2"] < 0

    collinear = spark.createDataFrame(
        [(i, 2 * i, i % 2) for i in range(50)], "f1 long, f2 long, y long"
    )
    with pytest.raises(Exception, match="singular"):
        logit_fit_2f(collinear).collect()


def test_heavy_hitters_exact_vs_naive_and_partition_adversarial(spark):
    """heavy_hitters must equal the naive GROUP BY/HAVING result exactly,
    including when a heavy value's occurrences are SPREAD thin across
    many partitions (the case where a per-partition top-k would miss it
    but the Misra-Gries ratio guarantee cannot)."""
    from ppdb_parser_spark.operators.sketch import heavy_hitters

    # 10 partitions, heavy values spread evenly (MG sees per-partition
    # RATIOS, so spreading cannot hide a global heavy hitter); the
    # adversarial part is the long tail of distinct filler values
    # churning the bounded counter set.
    rows = []
    for i in range(5000):
        if i % 8 == 0:
            rows.append(("hot",))
        elif i % 9 == 0:
            rows.append(("warm",))
        else:
            rows.append((f"rare_{i}",))
    df = spark.createDataFrame(rows, "v string").repartition(10)
    got = {
        (r["value"], r["freq"], r["n"])
        for r in heavy_hitters(df, "v", theta=20).collect()
    }
    from collections import Counter

    c = Counter(v for (v,) in rows)
    n = sum(c.values())
    want = {(v, f, n) for v, f in c.items() if f * 20 >= n}
    assert got == want and len(want) >= 2


def test_waterfill_alloc_invariants(spark):
    """waterfill_alloc must hit the budget EXACTLY, respect caps,
    saturate exactly the low-ratio prefix, and level the unsaturated
    sources to within one token of proportional fairness."""
    from ppdb_parser_spark.operators.allocation import waterfill_alloc

    rows = [
        ("s0", 50, 10),     # tiny cap, big weight -> saturates
        ("s1", 10_000, 1),
        ("s2", 7_000, 7),
        ("s3", 12_345, 5),
        ("s4", 400, 4),     # saturates
        ("s5", 9_999, 3),
        ("s6", 9_999, 3),   # exact tie with s5
    ]
    df = spark.createDataFrame(rows, "source string, cap long, weight long")
    for budget in (17, 5_000, 20_000, 49_793, 10**9):
        out = {
            r["source"]: r
            for r in waterfill_alloc(df, budget).collect()
        }
        total_cap = sum(c for _, c, _ in rows)
        assert sum(r["alloc"] for r in out.values()) == min(
            budget, total_cap
        ), budget
        for _, c, _ in rows:
            pass
        for name, c, w in rows:
            r = out[name]
            assert 0 <= r["alloc"] <= c, (budget, name)
            if r["saturated"]:
                assert r["alloc"] == c, (budget, name)
        # every saturated ratio <= every unsaturated ratio
        sat_keys = [
            c * 1_000_000 // w
            for name, c, w in rows
            if out[name]["saturated"]
        ]
        unsat = [(name, c, w) for name, c, w in rows
                 if not out[name]["saturated"]]
        if sat_keys and unsat:
            assert max(sat_keys) <= min(
                c * 1_000_000 // w for _, c, w in unsat
            ), budget
        # pairwise fairness among unsaturated: allocs proportional to
        # weights within one-token floor/residual granularity
        for i, (na, ca, wa) in enumerate(unsat):
            for nb, cb, wb in unsat[i + 1:]:
                aa, ab = out[na]["alloc"], out[nb]["alloc"]
                assert abs(aa * wb - ab * wa) <= wa + wb, (
                    budget, na, nb, aa, ab,
                )


def test_pca_top_component_matches_numpy_eigh(spark):
    """pca_top_component's fixed-iteration power method must land on
    numpy's true top eigenvector (|cos| >= 0.999) and eigenvalue (rel
    1e-3) for a spectrum with a clear gap — quantization at 2^20 and 12
    iterations are ample for embedding-scale data."""
    import numpy as np

    from ppdb_parser_spark.operators.linalg import pca_top_component

    rng = np.random.RandomState(7)
    dim = 16
    # anisotropic cloud: dominant direction u with sigma 5x the rest
    u = rng.randn(dim)
    u /= np.linalg.norm(u)
    X = rng.randn(800, dim) * 0.3 + np.outer(rng.randn(800) * 1.5, u)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(6)
    out = pca_top_component(df, "embedding", dim=dim, iters=12).collect()
    got = np.array([r["comp_6"] for r in sorted(out, key=lambda r: r["dim_idx"])])
    eig = out[0]["eigval_6"]

    C = np.cov(X.T, bias=True)
    w, V = np.linalg.eigh(C)
    top = V[:, -1]
    assert abs(float(got @ top)) >= 0.999, float(got @ top)
    assert abs(eig - w[-1]) <= max(1e-3 * w[-1], 5e-3), (eig, w[-1])


def test_jl_projection_distortion_and_recall(spark):
    """Pins jl_project's MEASURED quality claims (the numbers its
    docstring cites) on the deterministic sf0.001 fixture:

    - pairwise distortion ratio ‖P(x−y)‖²/(dout·‖x−y‖²) over 2k seeded
      random pairs is unbiased (mean ≈ 1.017) with p05/p95 ≈ 0.50/1.65
      at dout=16 — the real JL guarantee;
    - top-5-in-top-C recall on concentrated isotropic unit vectors is
      intrinsically low: ≈0.20 at C=20, ≈0.55 at C=100 (50 probes).
      An earlier ≥0.9-at-C=20 claim was falsified by this measurement.

    Also checks the projection is the exact integer the sign matrix
    implies on a hand vector."""
    import numpy as np

    from ppdb_parser_spark.operators.linalg import jl_project, jl_signs
    from ppdb_parser_spark.sources.tables import load_table

    # hand-check: one vector, exact integer expectation
    v = [0.5, -1.25] + [0.0] * 62
    hand = spark.createDataFrame([(1, v)], "vec_id long, embedding array<double>")
    got = jl_project(hand, "embedding").select("jl").head()[0]
    S = jl_signs()
    q = [round(x * 10_000_000) for x in v]
    want = [sum(qi * row[i] for i, qi in enumerate(q)) for row in S]
    assert got == want

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pdf = (
        jl_project(emb, "embedding")
        .select("vec_id", "embedding", "jl")
        .orderBy("vec_id")
        .toPandas()
    )
    X = np.stack(pdf["embedding"].to_numpy())
    P = np.stack(pdf["jl"].to_numpy()).astype(np.float64) / 1e7

    # distortion: unbiased, heavy tails at dout=16 (deterministic seed)
    rng = np.random.default_rng(0)
    ii = rng.integers(0, len(X), 2000)
    jj = rng.integers(0, len(X), 2000)
    m = ii != jj
    ii, jj = ii[m], jj[m]
    d2 = ((X[ii] - X[jj]) ** 2).sum(axis=1)
    p2 = ((P[ii] - P[jj]) ** 2).sum(axis=1) / 16.0
    ratio = p2 / d2
    assert 0.95 <= ratio.mean() <= 1.08, ratio.mean()
    assert np.quantile(ratio, 0.05) >= 0.45
    assert np.quantile(ratio, 0.95) <= 1.75

    # recall curve: measured 0.204 (C=20), 0.552 (C=100) — pin lower
    # bounds just under the measured values, and an UPPER bound at C=20
    # so the docstring's "intrinsically low" statement stays honest.
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cos = Xn @ Xn.T
    np.fill_diagonal(cos, -np.inf)
    rec = {}
    for C in (20, 100):
        hits = total = 0
        for qi in range(50):
            exact5 = np.argsort(-cos[qi])[:5]
            dd = ((P - P[qi]) ** 2).sum(axis=1)
            dd[qi] = np.inf
            hits += len(set(np.argsort(dd)[:C]) & set(exact5))
            total += 5
        rec[C] = hits / total
    assert rec[20] >= 0.18, rec
    assert rec[20] <= 0.45, rec
    assert rec[100] >= 0.50, rec


def test_jl_guard_raises_out_of_grid(spark):
    from ppdb_parser_spark.operators.linalg import jl_project

    bad = spark.createDataFrame(
        [(1, [50.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="int64-safe grid"):
        jl_project(bad, "embedding").collect()


def test_jl_screened_lsh_pairs(spark):
    """Pins lsh_jl_screened_pairs' measured two-regime contract:

    near-dup regime (τ=0.9, 100 planted jittered duplicates over the
    sf0.001 embeddings): the 16-dim integer JL screen kills ≥99% of the
    ~161k band candidates and the screened ladder still finds EVERY pair
    the unscreened checked join finds (recall 1.0).

    bulk-overlap regime (τ=0.35, isotropic fixture): screened output is
    a strict subset of the unscreened output with recall ≥ 0.99 (the
    screen is honest — it drops only slack-tail pairs), but selectivity
    is weak (~20%) because 2(1−τ)·slack exceeds the bulk distance."""
    import numpy as np

    from ppdb_parser_spark.operators.linalg import jl_project
    from ppdb_parser_spark.operators.similarity import (
        _lsh_band_candidates,
        jl_screen_bound,
        lsh_jl_screened_pairs,
        lsh_similarity_join_exact,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    X = np.stack(pdf.embedding.to_numpy())
    rng = np.random.default_rng(3)
    idx = rng.integers(0, len(X), 100)
    D = X[idx] + 0.05 * rng.normal(size=(100, 64))
    D /= np.linalg.norm(D, axis=1, keepdims=True)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(len(X))] + [
        (1000 + k, [float(v) for v in D[k]]) for k in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # near-dup regime: selectivity + perfect recall at tau=0.9
    cand = _lsh_band_candidates(df, 16, 8, 42, "vec_id", "embedding", 64)
    n_cand = cand.count()
    jl = jl_project(df.select("vec_id", "embedding"), "embedding").select(
        "vec_id", "jl"
    )
    from pyspark.sql import functions as F

    d2 = F.aggregate(
        F.zip_with(
            "jla",
            "jlb",
            lambda x, y: (x - y).cast("decimal(19,0)")
            * (x - y).cast("decimal(19,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda a, v: a + v,
    )
    surv = (
        cand.join(
            jl.select(F.col("vec_id").alias("id_a"), F.col("jl").alias("jla")),
            "id_a",
        )
        .join(
            jl.select(F.col("vec_id").alias("id_b"), F.col("jl").alias("jlb")),
            "id_b",
        )
        .filter(d2 <= F.lit(jl_screen_bound(0.9)).cast("decimal(38,0)"))
        .count()
    )
    assert n_cand > 100_000, n_cand
    assert surv / n_cand <= 0.01, (surv, n_cand)
    s = lsh_jl_screened_pairs(df, threshold=0.9, dim=64).toPandas()
    u = lsh_similarity_join_exact(df, threshold=0.9, dim=64).toPandas()
    sp = set(zip(s.id_a, s.id_b))
    up = set(zip(u.id_a, u.id_b))
    assert len(up) == 100 and sp == up, (len(sp), len(up))

    # bulk-overlap regime on the raw fixture: subset + recall >= 0.99
    s2 = lsh_jl_screened_pairs(emb, threshold=0.35, dim=64).toPandas()
    u2 = lsh_similarity_join_exact(emb, threshold=0.35, dim=64).toPandas()
    sp2 = set(zip(s2.id_a, s2.id_b))
    up2 = set(zip(u2.id_a, u2.id_b))
    assert sp2 <= up2
    assert len(sp2) / len(up2) >= 0.99, (len(sp2), len(up2))


def test_ivf_batch_topk_matches_numpy(spark):
    """ivf_batch_topk's full batch (assignment, probed cells, per-probe
    top-k, grid-exact round-6 cosines) equals an independent numpy
    reimplementation of the same semantics on the sf0.001 fixture."""
    import numpy as np

    from ppdb_parser_spark.operators.similarity import ivf_batch_topk
    from ppdb_parser_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = (
        ivf_batch_topk(
            emb, probe_pred=F.col("vec_id") % 100 == 1, n_cells=8, n_probe=2, k=5
        )
        .orderBy("probe_id", F.desc("cosine"), "vec_id")
        .collect()
    )

    pdf = emb.select("vec_id", "embedding").orderBy("vec_id").toPandas()
    ids = pdf.vec_id.to_numpy()
    X = np.stack(pdf.embedding.to_numpy())

    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        # F.round semantics: HALF_UP on the shortest decimal repr —
        # Python's round() is half-even on the binary value and diverges
        # on exact .xxxxx5 boundaries.
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    def gdot(a, b):
        return int(np.round(a * b * 1e9).sum())

    def gnorm6(a):
        return r6(np.sqrt(gdot(a, a) / 1e9))

    norms = {int(i): gnorm6(X[j]) for j, i in enumerate(ids)}
    vec = {int(i): X[j] for j, i in enumerate(ids)}
    seeds = [i for i in sorted(vec) if i < 8]

    def seed_rank(v, nrm):
        cs = [
            (r6((gdot(v, vec[s]) / 1e9) / (nrm * norms[s])), s)
            for s in seeds
        ]
        return sorted(cs, key=lambda t: (-t[0], t[1]))

    assign = {i: seed_rank(vec[i], norms[i])[0][1] for i in vec}
    want = []
    for p in sorted(i for i in vec if i % 100 == 1):
        cells = {s for _, s in seed_rank(vec[p], norms[p])[:2]}
        cand = [
            (
                r6((gdot(vec[i], vec[p]) / 1e9) / (norms[i] * norms[p])),
                i,
            )
            for i in vec
            if assign[i] in cells and i != p
        ]
        for c, i in sorted(cand, key=lambda t: (-t[0], t[1]))[:5]:
            want.append((p, i, c))

    got_t = [(r.probe_id, r.vec_id, r.cosine) for r in got]
    assert got_t == want, (got_t[:3], want[:3])


def test_semantic_dedup_gemm_two_level_requires_super(spark):
    from ppdb_parser_spark.operators.similarity import semantic_dedup_gemm
    from ppdb_parser_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="n_super"):
        semantic_dedup_gemm(e, n_cells=16, two_level=True)


def test_recommend_semantic_dedup_tier_pinned_to_baseline_md():
    """Each branch of recommend_semantic_dedup_tier asserts against the
    round-8 measured rows (BASELINE_HISTORY.md SemDeDup ladders) that justify
    it, so the guidance cannot drift from the evidence."""
    from ppdb_parser_spark.operators.similarity import (
        recommend_semantic_dedup_tier as r,
    )

    # local fixture scale: interpreted assignment negligible -> in-plan
    small = r(2_000, 8)
    assert small["tier"] == "semantic_dedup"

    # 128k x 512 cells = the measured 150s interpreted wall -> gemm
    big = r(128_000, 512)
    assert big["tier"] == "semantic_dedup_gemm"
    assert big["params"]["two_level"] is False
    assert "cells_advice" in big

    # hierarchy ONLY with real 2-level structure (measured 0.75 vs 1.82
    # step efficiency at 256x; occupancy collapse without it)
    h = r(512_000, 2048, hierarchical_hint=True)
    assert h["tier"] == "semantic_dedup_gemm"
    assert h["params"]["two_level"] is True
    flat = r(512_000, 2048)
    assert flat["params"]["two_level"] is False


def test_semantic_dedup_gemm_matches_python_reimplementation(spark):
    """The GEMM kernel's full deterministic rule (F.round-exact element
    quantization, round-6 norms, unrounded-double argmax with smaller-id
    ties, round-6 dominance) reproduced independently in pure Python over
    seeded random inputs — flat AND two_level paths, including n >> rows
    per block and non-fixture geometry."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    from ppdb_parser_spark.operators.similarity import semantic_dedup_gemm

    def rq(x, q):
        return Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)

    def quant(v):
        return [int(rq(x * 10_000_000.0, Decimal("1"))) for x in v]

    def norm6(qv):
        qd = sum(a * a for a in qv)
        return float(rq((qd ** 0.5) / 10_000_000.0, Decimal("0.000001")))

    def r6(x):
        return float(rq(x, Decimal("0.000001")))

    for seed, (n_cells, two_level, n_super) in (
        (0, (4, False, None)),
        (1, (6, True, 2)),
        (2, (5, False, None)),
    ):
        rng = np.random.default_rng(seed)
        n, dim = 40, 8
        X = rng.normal(size=(n, dim)) * 0.5
        rows = [(i, [float(v) for v in X[i]]) for i in range(n)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r.vec_id: (r.cell_id, r.kept)
            for r in semantic_dedup_gemm(
                df,
                n_cells=n_cells,
                threshold=0.6,
                two_level=two_level,
                n_super=n_super,
            ).collect()
        }

        qv = {i: quant(X[i]) for i in range(n)}
        nm = {i: norm6(qv[i]) for i in range(n)}
        seeds = list(range(n_cells))

        def ucos(a, s):
            d = sum(x * y for x, y in zip(qv[a], qv[s]))
            return float(d) / ((nm[a] * nm[s]) * 1e14)

        def argmax_cells(i, cands):
            best = max(cands, key=lambda s: (ucos(i, s), -s))
            return best

        if not two_level:
            assign = {i: argmax_cells(i, seeds) for i in range(n)}
        else:
            sups = [s for s in seeds if s < n_super]
            parent = {c: argmax_cells(c, sups) for c in seeds}
            assign = {}
            for i in range(n):
                s = argmax_cells(i, sups)
                ch = [c for c in seeds if parent[c] == s]
                assign[i] = argmax_cells(i, ch)

        kept = {}
        for i in range(n):
            dom = any(
                j < i
                and assign[j] == assign[i]
                and r6(
                    (float(sum(x * y for x, y in zip(qv[i], qv[j]))) / 1e14)
                    / (nm[i] * nm[j])
                )
                >= 0.6
                for j in range(n)
            )
            kept[i] = not dom
        want = {i: (assign[i], kept[i]) for i in range(n)}
        assert got == want, (seed, {k: (got[k], want[k]) for k in got if got[k] != want[k]})


def test_triangle_orientations_agree(spark):
    """Degree-ordered orientation (round 9, VERDICT r8 item 3) counts
    exactly the triangles a pure-Python enumeration finds, on a graph
    with hubs (skew), a clique, a chain, tie degrees, and isolated
    edges."""
    import random
    from collections import Counter

    from ppdb_parser_spark.operators.graph import triangle_counts

    rng = random.Random(9)
    edges = set()
    # hub 900 touching 40 leaves; clique on 0..7; chain 100..140; noise
    edges |= {(900, 1000 + i) for i in range(40)}
    edges |= {(i, j) for i in range(8) for j in range(i + 1, 8)}
    edges |= {(100 + i, 101 + i) for i in range(40)}
    edges |= {
        tuple(sorted(rng.sample(range(200, 260), 2))) for _ in range(120)
    }
    df = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long"
    )
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = Counter()
    for u, v in edges:  # every edge is stored once with u < v
        for w in adj[u] & adj[v]:
            if w > v:
                want.update((u, v, w))
    deg = sorted(map(tuple, triangle_counts(df).collect()))
    assert deg == sorted(want.items())
    # the 8-clique alone guarantees triangles exist
    got = dict(deg)
    for v in range(8):
        assert got[v] >= 21  # C(7,2) triangles within the clique per vertex


def test_gemm_assign_round_fastpath_matches_f_round(spark):
    """gemm_assign_cells replicates ``F.round`` on a double with
    sign-aware half-away-from-zero arithmetic on the EXACT fraction
    (``_np_round_half_away``). Pin the equivalence on the adversarial
    inputs: exact half-integers (positive AND negative — HALF_UP rounds
    away from zero), values one ulp off a half boundary (where the naive
    ``floor(v+0.5)`` is wrong: 0.49999999999999994+0.5 rounds up to 1.0),
    and large magnitudes near the documented |term| ≤ 6.4e10 bound."""
    import math

    import numpy as np

    from ppdb_parser_spark.operators.similarity import _np_round_half_away

    vals = [
        0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.0, -0.0,
        math.nextafter(0.5, 0), math.nextafter(0.5, 1),
        math.nextafter(-0.5, 0), math.nextafter(-0.5, -1),
        1234567.5, -1234567.5, 6.4e10 - 0.5, -(6.4e10 - 0.5),
        math.nextafter(6.4e10 - 0.5, 0), 0.49999999999999994,
    ]
    v = np.array(vals, dtype=np.float64)
    fast = _np_round_half_away(v)
    jvm = (
        spark.createDataFrame([(x,) for x in vals], "v double")
        .select(F.round(F.col("v")).cast("long").alias("r"))
        .collect()
    )
    assert [int(x) for x in fast] == [r["r"] for r in jvm]


def _oracle_check_salted(spark, sf_dir, tmp_dir, salted, names):
    """Run the registered queries ``names`` on a copy of the ``sf_dir``
    fixture whose ``embeddings`` table is replaced by ``salted``, and
    check each against its DuckDB oracle on the same copy — the oracle
    parity sweep, pointed at edge inputs the fixture does not contain."""
    import os

    import pyarrow.parquet as pq

    from ppdb_parser_spark.plans.oracle import compare_frames, duck_connect
    from ppdb_parser_spark.sources.tables import TABLE_NAMES, table_path

    out = str(tmp_dir)
    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(table_path(sf_dir, t), table_path(out, t))
    pq.write_table(
        salted.select("vec_id", "embedding", "label").toArrow(),
        table_path(out, "embeddings"),
    )
    con = duck_connect(out)
    for name in names:
        spec = REGISTRY[name]
        got = spec.fn(spark, out).toPandas()
        assert len(got) > 0, name
        r = compare_frames(name, got, con.execute(spec.oracle).df())
        assert r.ok, (name, r.detail)


def _round_half_away(v):
    """Independent numpy replay of ``F.round(v, 0)`` (half away from
    zero on the double's exact value): the fractional part of a double
    is exact, so the half-compare never rounds."""
    import numpy as np

    t = np.trunc(v)
    return (t + np.where(np.abs(v - t) >= 0.5, np.sign(v), 0.0)).astype(
        np.int64
    )


def test_ivf_family_gemm_equals_hof(spark, sf_dir, tmp_path):
    """The IVF family's GEMM cell assignment matches the DuckDB oracles
    of every ``sim_ivf*`` query on a corpus salted with (a) duplicated
    seed vectors, which tie each other in every top-k (vec_id
    tiebreak), and (b) normalized midpoints of seed pairs, whose
    cosines to the two seeds agree to float32 precision — round-6 ties
    across cells that take the kernel's Decimal fallback and its
    smaller-cell-id tiebreak."""
    import numpy as np
    from pyspark.sql import functions as F

    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dupes = (
        emb.filter(F.col("vec_id") == 3)
        .crossJoin(spark.range(5).select((F.col("id") + 90000).alias("nid")))
        .select(F.col("nid").alias("vec_id"), "label", "embedding")
    )
    seeds = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    mids = spark.createDataFrame(
        [
            (
                91000 + i,
                0,
                [
                    float(x)
                    for x in (
                        seeds[a] / np.linalg.norm(seeds[a])
                        + seeds[b] / np.linalg.norm(seeds[b])
                    ).astype(np.float32)
                ],
            )
            for i, (a, b) in enumerate(
                ((3, 5), (1, 2), (0, 7), (4, 6), (1, 6), (2, 5))
            )
        ],
        "vec_id long, label int, embedding array<float>",
    )
    salted = (
        emb.select("vec_id", "label", "embedding")
        .unionByName(dupes)
        .unionByName(mids)
    )
    _oracle_check_salted(
        spark,
        sf_dir,
        tmp_path,
        salted,
        (
            "sim_ivf_topk",
            "sim_ivf_batch_topk",
            "sim_ivf_kmeans_topk",
            "sim_ivfpq_topk",
            "sim_ivfpq_residual_topk",
        ),
    )


def test_pq_encode_gemm_equals_hof(spark, sf_dir, tmp_path):
    """pq_encode's Arrow/GEMM code assignment matches the ``sim_pq_encode``
    DuckDB oracle on a corpus salted with exact copies of centroid 5:
    every subspace distance is 0, so the argmin must still pick
    centroid 5 by integer-tie first-index."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dupes = (
        emb.filter(F.col("vec_id") == 5)
        .crossJoin(spark.range(4).select((F.col("id") + 80000).alias("nid")))
        .select(F.col("nid").alias("vec_id"), "label", "embedding")
    )
    salted = emb.select("vec_id", "label", "embedding").unionByName(dupes)
    _oracle_check_salted(spark, sf_dir, tmp_path, salted, ("sim_pq_encode",))


def test_pq_argmin_chunk_invariant(spark, sf_dir, monkeypatch):
    """The PQ nearest-centroid argmin bounds its distance tensor at
    ``PQ_ARGMIN_CHUNK`` elements. A chunk of 1000 elements (7 rows of
    16 centroids x 8 dims) splits every block mid-way; the codes and the
    ADC ints must equal the default run's, and the chunked numpy argmin
    must equal the unchunked one, integer ties included."""
    import numpy as np

    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.sources.tables import load_table

    rng = np.random.default_rng(7)
    C = rng.integers(-3, 4, size=(16, 8)) / 4.0
    Qs = np.vstack([C[[5, 5, 2]], rng.integers(-3, 4, size=(40, 8)) / 4.0])
    full = np.argmin(
        _round_half_away(((Qs[:, None, :] - C[None]) ** 2) * 1e9).sum(axis=2),
        axis=1,
    )
    for chunk in (1, 129, 1000, SIM.PQ_ARGMIN_CHUNK):
        assert (SIM._np_pq_argmin(Qs, C, chunk) == full).all()

    e = load_table(spark, sf_dir, "embeddings")

    def run():
        codes = {
            r.vec_id: list(r.codes)
            for r in SIM.pq_encode(e, 16, 8, dim=64).collect()
        }
        ctx = SIM._probe_row(
            e, 1, "vec_id", "embedding", SIM._grid_norm6
        ).crossJoin(
            SIM._pq_seed_cents(e, 16, 8, 64, "vec_id", "embedding", "chunk")
        )
        adc = SIM._pq_scan(
            e.select("vec_id", "embedding"),
            ctx,
            src_col="embedding",
            out_col="adc_dot_grid",
            out_cols=["vec_id", "adc_dot_grid"],
            m=8,
            sub=8,
            id_col="vec_id",
        )
        return codes, {r.vec_id: r.adc_dot_grid for r in adc.collect()}

    want = run()
    monkeypatch.setattr(SIM, "PQ_ARGMIN_CHUNK", 1000)
    assert run() == want


def test_lsh_sig_gemm_equals_hof(spark, sf_dir, tmp_path):
    """The Arrow signature map (gemm_lsh_bits) yields exactly the band
    candidates of an independent numpy replay of the grid-exact sign
    bits (bit = Σ round(x·h·1e9) ≥ 0), and multiprobe top-k matches its
    DuckDB oracle — including a zero vector lying on every hyperplane
    (projection 0 counts as sign 1: >= 0)."""
    from collections import defaultdict

    import numpy as np
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.similarity import (
        _lsh_band_candidates,
        lsh_planes,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    zero = spark.createDataFrame(
        [(70001, 0, [0.0] * 64)], "vec_id long, label int, embedding array<double>"
    ).select(
        "vec_id", "label", F.col("embedding").cast("array<float>").alias("embedding")
    )
    salted = emb.select("vec_id", "label", "embedding").unionByName(zero)

    rows = salted.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    X = np.array(
        [np.asarray(r.embedding, dtype=np.float32) for r in rows], np.float64
    )
    H = np.array(lsh_planes(16, 64, 42), dtype=np.float64)
    grid = _round_half_away((X[:, None, :] * H[None, :, :]) * 1e9).sum(axis=2)
    bits = grid >= 0
    assert bits[ids.index(70001)].all()
    buckets = defaultdict(list)
    for i, b in zip(ids, bits):
        for band in range(8):
            buckets[(band, tuple(b[2 * band : 2 * band + 2]))].append(i)
    want = set()
    for members in buckets.values():
        members = sorted(members)
        for a in range(len(members)):
            for c in range(a + 1, len(members)):
                want.add((members[a], members[c]))
    got = [
        tuple(r)
        for r in _lsh_band_candidates(
            salted, 16, 8, 42, "vec_id", "embedding", 64
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want
    _oracle_check_salted(
        spark, sf_dir, tmp_path, salted, ("sim_lsh_multiprobe_topk",)
    )


def test_pq_kmeans_adc_gemm_equals_hof(spark, sf_dir, tmp_path):
    """pq_kmeans_topk's trained-codebook re-encode + ADC kernel matches
    the ``sim_pq_kmeans_topk`` DuckDB oracle when training DROPS a
    cluster: vec 3 is salted to equal vec 2, so every subspace's
    centroid 3 ties centroid 2 and loses every member — the kernel must
    key centroids by their actual (non-contiguous) ids, not positions."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.similarity import pq_build_codebook
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v2 = emb.filter(F.col("vec_id") == 2).select(
        F.col("embedding").alias("e2")
    )
    salted = (
        emb.crossJoin(F.broadcast(v2))
        .select(
            "vec_id",
            "label",
            F.when(F.col("vec_id") == 3, F.col("e2"))
            .otherwise(F.col("embedding"))
            .alias("embedding"),
        )
        .localCheckpoint()
    )
    cb = pq_build_codebook(salted, 16, 8, dim=64)
    assert not cb.filter(F.col("c") == 3).count(), "cluster 3 not dropped"
    _oracle_check_salted(
        spark, sf_dir, tmp_path, salted, ("sim_pq_kmeans_topk",)
    )


def test_jl_project_gemm_equals_hof(spark, sf_dir):
    """jl_project's Arrow map equals an independent numpy replay of the
    exact projection (q = round(x·1e7) half away from zero, then the
    int64 q @ signsᵀ) element for element, and enforces the |x| <= 37
    overflow guard."""
    import numpy as np

    from ppdb_parser_spark.operators.linalg import JL_QSCALE, jl_project, jl_signs
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = jl_project(emb, "embedding").select("vec_id", "embedding", "jl").collect()
    X = np.array(
        [np.asarray(r.embedding, dtype=np.float32) for r in rows], np.float64
    )
    S = np.array(jl_signs(64, 16), dtype=np.int64)
    want = _round_half_away(X * float(JL_QSCALE)) @ S.T
    got = np.array([r.jl for r in rows], dtype=np.int64)
    assert got.shape == want.shape == (len(rows), 16)
    assert (got == want).all()

    bad = spark.createDataFrame(
        [(1, [100.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="int64-safe grid bound"):
        jl_project(bad, "embedding").collect()


def test_gemm_assign_nan_mirror(spark, sf_dir):
    """Zero-norm input (a cosine denominator of 0) must FAIL LOUDLY
    (ADVICE r10 medium: the kernel's candidate mask once treated such
    rows as ncand==0 and emitted uninitialized cell ids). The engine
    session runs Spark 4's default ANSI mode, so an in-plan cosine
    divide raises DIVIDE_BY_ZERO — NaN ordering is unreachable in-plan;
    the kernel mirrors the contract with a pre-argmax ValueError on any
    zero denominator, on BOTH arithmetic flavors and for both a
    zero-norm ROW and a zero-norm SEED."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.operators.similarity import (
        _norm,
        gemm_assign_cells,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    zero = F.array_repeat(F.lit(0.0), 64)
    base_cols = emb.select("vec_id", "label", "embedding")
    zero_row = spark.range(1).select(
        F.lit(91000).cast("long").alias("vec_id"),
        F.lit(0).cast("long").alias("label"),
        zero.alias("embedding"),
    )
    # (a) zero-norm corpus ROW; (b) zero-norm SEED (vec_id 6 < n_cells)
    salted_row = base_cols.unionByName(zero_row)
    salted_seed = base_cols.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 6, zero).otherwise(F.col("embedding")),
    )

    for salted in (salted_row, salted_seed):
        # the pre-argmax guard, or (zero-ROW case) the downstream
        # in-plan cosine's own ANSI divide, whose stage can evaluate
        # first
        with pytest.raises(
            Exception, match="zero cosine denominator|DIVIDE_BY_ZERO"
        ):
            SIM.ivf_topk(
                salted, n_cells=8, probe_id=1, n_probe=2, k=7
            ).collect()

    # direct kernel calls (no downstream division) pin the kernel's own
    # guard message, on both arithmetic flavors and both salt shapes
    for salted, dot, nrm in (
        (salted_seed, "grid", SIM._grid_norm6),
        (salted_row, "grid", SIM._grid_norm6),
        (salted_seed, "float", _norm),
        (salted_row, "float", _norm),
    ):
        seeds_row = (
            salted.filter(F.col("vec_id") < 8)
            .select(
                F.col("vec_id").cast("int").alias("cell_id"),
                F.col("embedding").alias("semb"),
                nrm(F.col("embedding")).alias("snorm"),
            )
            .agg(
                F.collect_list(
                    F.struct("cell_id", "semb", "snorm")
                ).alias("seeds")
            )
        )
        with pytest.raises(Exception, match="zero cosine denominator"):
            gemm_assign_cells(
                salted.withColumn("__nrm", nrm(F.col("embedding"))),
                seeds_row,
                id_col="vec_id",
                vec_col="embedding",
                nrm_col="__nrm",
                dot=dot,
            ).collect()

    # and the semantic kernel's _ucos guard
    with pytest.raises(Exception, match="zero cosine denominator"):
        SIM.semantic_dedup_gemm(salted_seed, n_cells=8).collect()


def test_kernel_block_count_bytes_aware(spark, monkeypatch):
    """The kernel family's block count derives from Catalyst's plan-size
    estimate, floored by 2x parallelism (VERDICT r10 weak #1): one block
    materializes as a single collect_list array in one executor task, so
    at scale the count must grow with BYTES, not stay pinned to cores.
    Checked by shrinking KERNEL_BLOCK_BYTES until the estimate dominates
    the floor — the same arithmetic a 100 TB corpus triggers at the
    128 MB default."""
    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.operators.similarity import (
        KERNEL_BLOCK_BYTES,
        kernel_block_count,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    floor = spark.sparkContext.defaultParallelism * 2

    # fixture scale: estimate << 128 MB, the parallelism floor holds
    assert kernel_block_count(emb) == floor
    # when bytes dominate, the count scales with ceil(est / target):
    # halving the target doubles the block count
    est = int(
        str(
            emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    )
    assert est > 0
    tgt = max(1, est // (4 * floor))  # force the bytes regime
    monkeypatch.setattr(SIM, "KERNEL_BLOCK_BYTES", tgt)
    got = kernel_block_count(emb)
    assert got == -(-est // tgt) and got > floor
    monkeypatch.setattr(SIM, "KERNEL_BLOCK_BYTES", max(1, tgt // 2))
    got2 = kernel_block_count(emb)
    assert got2 >= got * 2 - 2  # ceil granularity
    assert KERNEL_BLOCK_BYTES == 128 << 20


def test_cosine_topk_fold_kernel_equivalence(spark, sf_dir):
    """cosine_topk_by_id's in-plan F.aggregate fold equals an independent
    numpy replay of the same arithmetic — left-fold float sums
    accumulated dimension by dimension, sqrt, divide, F.round-exact
    round-6 — on the fixture salted with two exact copies of the probe:
    they tie at cosine 1.0 and must order by id."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators import similarity as SIM
    from ppdb_parser_spark.operators.similarity import _round6_half_up
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dupes = (
        emb.filter(F.col("vec_id") == 0)
        .crossJoin(spark.range(2).select((F.col("id") + 95000).alias("nid")))
        .select(F.col("nid").alias("vec_id"), "label", "embedding")
    )
    salted = emb.select("vec_id", "label", "embedding").unionByName(dupes)
    rows = salted.collect()
    X = np.array(
        [np.asarray(r.embedding, dtype=np.float32) for r in rows], np.float64
    )
    p = X[[r.vec_id for r in rows].index(0)]
    dot = np.zeros(len(rows))
    ssq = np.zeros(len(rows))
    for t in range(X.shape[1]):
        dot += X[:, t] * p[t]
        ssq += X[:, t] * X[:, t]
    pn = 0.0
    for t in range(X.shape[1]):
        pn += p[t] * p[t]
    pn = math.sqrt(pn)
    want = sorted(
        (
            (r.vec_id, r.label, _round6_half_up(d / (math.sqrt(s) * pn)))
            for r, d, s in zip(rows, dot, ssq)
            if r.vec_id != 0
        ),
        key=lambda t: (-t[2], t[0]),
    )[:25]
    got = [
        tuple(r)
        for r in SIM.cosine_topk_by_id(salted, probe_id=0, k=25).collect()
    ]
    assert got == want
    assert [g[0] for g in got[:2]] == [95000, 95001]


def test_span_scrub_semantics(spark):
    """span_scrub on a constructed corpus: cross-doc duplicated n-grams
    are deleted from every non-canonical carrier only; same-doc repeats
    and sub-threshold docs are untouched; a doc that is one big
    duplicated span scrubs to empty but STAYS in the output (total)."""
    from ppdb_parser_spark.operators.dedup import span_scrub

    docs = spark.createDataFrame(
        [
            # owner of the shared trigrams "a b c" and "b c tail"
            (1, "a b c tail one"),
            # non-owner: both shared trigrams cover positions 1-4
            (2, "a b c tail two"),
            # exactly the span and nothing else -> scrubbed to empty
            (3, "a b c"),
            # same-doc repeat, span unique to this doc -> untouched
            (4, "x y z x y z"),
            # shorter than n -> no spans, untouched
            (5, "p q"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tok"], r["n_removed"], r["scrub_text"])
        for r in span_scrub(docs, n=3).collect()
    }
    assert out[1] == (5, 0, "a b c tail one")  # canonical keeps all
    assert out[2] == (5, 4, "two")
    assert out[3] == (3, 3, "")  # total: present though empty
    assert out[4] == (6, 0, "x y z x y z")  # cross-doc rule only
    assert out[5] == (2, 0, "p q")
    # overlap: doc 7 shares BOTH trigrams of doc 6's "w1 w2 w3 w4";
    # covered positions union (1-3)+(2-4) = all four -> empty
    docs2 = spark.createDataFrame(
        [(6, "w1 w2 w3 w4"), (7, "w1 w2 w3 w4 uniq")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: (r["n_removed"], r["scrub_text"])
        for r in span_scrub(docs2, n=3).collect()
    }
    assert out2[6] == (0, "w1 w2 w3 w4")
    assert out2[7] == (4, "uniq")


def test_semantic_decontaminate_planted(spark):
    """semantic_decontaminate on planted vectors: a train vector
    identical to an eval vector flags (cos 1.0), an orthogonal one does
    not, an ANTI-parallel one does not (cosine -1 < tau), and eval rows
    never appear in the output."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.similarity import semantic_decontaminate

    rows = [
        (0, [1.0, 0.0, 0.0]),   # eval
        (1, [0.0, 1.0, 0.0]),   # eval
        (10, [1.0, 0.0, 0.0]),  # train == eval 0 -> contaminated
        (11, [0.0, 0.0, 1.0]),  # train orthogonal -> clean
        (12, [-1.0, 0.0, 0.0]), # train anti-parallel -> clean
        (13, [0.7, 0.7, 0.0]),  # cos ~0.707 to both evals -> contaminated
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {
        r["vec_id"]: r["contaminated"]
        for r in semantic_decontaminate(
            emb, F.col("vec_id") < 2, threshold=0.35
        ).collect()
    }
    assert out == {10: True, 11: False, 12: False, 13: True}


def test_span_scrub_intra_semantics(spark):
    """span_scrub_intra: later same-doc occurrences removed, first kept;
    cross-doc duplication untouched; single-pass coverage on original
    positions (a span overlapping a removed region still keeps its own
    first occurrence)."""
    from ppdb_parser_spark.operators.dedup import span_scrub_intra

    docs = spark.createDataFrame(
        [
            # "x y z" repeats at starts 1 and 4 -> positions 4-6 removed
            (1, "x y z x y z"),
            # same text in another doc: intra rule treats docs alone
            (2, "x y z x y z"),
            # no intra repeats -> untouched
            (3, "a b c d"),
            # shorter than n -> untouched
            (4, "p q"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_tok"], r["n_removed"], r["scrub_text"])
        for r in span_scrub_intra(docs, n=3).collect()
    }
    assert out[1] == (6, 3, "x y z")
    assert out[2] == (6, 3, "x y z")
    assert out[3] == (4, 0, "a b c d")
    assert out[4] == (2, 0, "p q")


def test_semantic_decontaminate_tier_equivalence(spark, sf_dir):
    """semantic_decontaminate (Arrow int64 GEMM + max-decides-EXISTS)
    flags exactly the train rows an independent pure-Python replay
    flags — some eval vector with round6(cos) >= threshold on the
    quantize-once grid — at several thresholds including ones near the
    observed cosine mass."""
    import hashlib

    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.similarity import semantic_decontaminate
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    is_eval = (
        F.substring(
            F.md5(F.concat(F.lit("eval:"), F.col("vec_id").cast("string"))),
            1,
            4,
        )
        < "0ccc"
    )
    qv = _sem_reference_quant(emb)
    ev = {
        i
        for i in qv
        if hashlib.md5(f"eval:{i}".encode()).hexdigest()[:4] < "0ccc"
    }
    assert ev and len(ev) < len(qv)
    best = {
        t: max(_sem_reference_cos(qv[t], qv[e]) for e in ev)
        for t in qv
        if t not in ev
    }
    for thr in (0.2, 0.35, 0.5, 0.9):
        got = {
            r["vec_id"]: r["contaminated"]
            for r in semantic_decontaminate(
                emb, is_eval, threshold=thr
            ).collect()
        }
        assert got == {t: b >= thr for t, b in best.items()}, thr
    assert len({b >= 0.2 for b in best.values()}) == 2


def test_np_round6_matches_f_round(spark):
    """The vectorized round-6 (_np_round6, the pair-refine kernel's
    output path) is bit-identical to ``F.round(x, 6)`` on adversarial
    doubles: exact 1e-6 half-boundaries both signs (the Decimal
    fallback band), one-ulp-off-boundary values (where naive
    floor(y+0.5) flips), shortest-repr '5'-enders whose binary value
    sits below the decimal midpoint, tiny negatives (BigDecimal has no
    signed zero -> +0.0), and ordinary cosines."""
    import math

    import numpy as np

    from ppdb_parser_spark.operators.similarity import _np_round6

    vals = [
        0.1234565, -0.1234565, 0.3500005, -0.3500005,
        math.nextafter(0.3500005, 0), math.nextafter(0.3500005, 1),
        0.9999995, -0.9999995, 1.0, -1.0, 0.0, -0.0,
        -0.0000001, 0.0000001, -0.0000005, 0.0000005,
        0.35, 0.349999949999, 0.728318, -0.55555549999,
        0.49999999999999994e-6,
    ]
    fast = _np_round6(np.array(vals, dtype=np.float64))
    jvm = (
        spark.createDataFrame([(x,) for x in vals], "v double")
        .select(F.round(F.col("v"), 6).alias("r"))
        .collect()
    )
    got = [float(x) for x in fast]
    want = [r["r"] for r in jvm]
    assert got == want
    # signed-zero normalization matches the JVM (+0.0, never -0.0)
    assert all(math.copysign(1.0, g) > 0 for g in got if g == 0.0)


def test_pair_refine_gemm_equals_hof(spark, sf_dir):
    """The Arrow pair-refine kernel (gemm_pair_cosine_refine) behind the
    checked LSH join keeps exactly the band candidates an independent
    numpy replay keeps — grid cosine round6((Σ round(va·vb·1e9) / 1e9)
    / (na·nb)) >= τ, grid norms round6(√(Σ round(x²·1e9) / 1e9)) — with
    identical cosines; the JL-screened join emits a non-empty subset of
    those pairs with the same cosines; and the kernel fails loudly on a
    zero-norm vector instead of emitting a NaN decision."""
    import math

    import numpy as np
    from pyspark.errors import PythonException

    from ppdb_parser_spark.operators.similarity import (
        _lsh_band_candidates,
        _round6_half_up,
        lsh_jl_screened_pairs,
        lsh_similarity_join_exact,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    pos = {r.vec_id: i for i, r in enumerate(rows)}
    X = np.array(
        [np.asarray(r.embedding, dtype=np.float32) for r in rows], np.float64
    )
    nrm = np.array(
        [
            _round6_half_up(
                math.sqrt(float(int(_round_half_away((x * x) * 1e9).sum())) / 1e9)
            )
            for x in X
        ]
    )
    cand = np.array(
        [
            (pos[r.id_a], pos[r.id_b], r.id_a, r.id_b)
            for r in _lsh_band_candidates(
                emb, 16, 8, 42, "vec_id", "embedding", 64
            ).collect()
        ],
        dtype=np.int64,
    )
    want = {}
    for lo in range(0, len(cand), 20_000):
        c = cand[lo : lo + 20_000]
        dg = _round_half_away((X[c[:, 0]] * X[c[:, 1]]) * 1e9).sum(axis=1)
        cos = (dg.astype(np.float64) / 1e9) / (nrm[c[:, 0]] * nrm[c[:, 1]])
        # round-6 is monotone: only pairs within 1e-6 below τ can round up
        for i in np.nonzero(cos >= 0.35 - 1e-6)[0]:
            r6 = _round6_half_up(cos[i])
            if r6 >= 0.35:
                want[(int(c[i, 2]), int(c[i, 3]))] = r6
    assert want
    kw = dict(threshold=0.35, n_planes=16, n_bands=8, seed=42, dim=64)
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in lsh_similarity_join_exact(emb, **kw).collect()
    }
    assert got == want
    screened = {
        (r.id_a, r.id_b): r.cosine
        for r in lsh_jl_screened_pairs(emb, **kw).collect()
    }
    assert screened and all(want[p] == c for p, c in screened.items())

    # zero-norm mirror: the kernel raises (never a silent NaN decision)
    zero = spark.createDataFrame(
        [(70001, [0.0] * 64)], "vec_id long, embedding array<double>"
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    salted = emb.select("vec_id", "embedding").unionByName(zero)
    with pytest.raises(PythonException, match="zero cosine denominator"):
        lsh_similarity_join_exact(salted, **kw).collect()


def test_lsh_first_match_candidates_match_reference(spark):
    """First-matching-band emission (the round-12 distinct-free pair
    dedup) returns EXACTLY the distinct band-collision pair set — each
    pair once — verified against an independent Python bucketing of the
    kernel signatures."""
    from collections import defaultdict

    from ppdb_parser_spark.operators.similarity import (
        _lsh_band_candidates,
        gemm_lsh_bits,
        lsh_planes,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = (
        gemm_lsh_bits(
            emb, lsh_planes(16, 64), id_col="vec_id", vec_col="embedding"
        )
        .select("vec_id", "bits")
        .collect()
    )
    buckets = defaultdict(list)
    for r in rows:
        for band in range(8):
            buckets[(band, tuple(r.bits[band * 2 : band * 2 + 2]))].append(
                r.vec_id
            )
    ref = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ref.add((ids[i], ids[j]))
    got = [
        (r.id_a, r.id_b)
        for r in _lsh_band_candidates(
            emb, 16, 8, 42, "vec_id", "embedding", 64
        ).collect()
    ]
    assert len(got) == len(set(got))  # multiplicity exactly 1
    assert set(got) == ref


def test_jl_screen_gemm_matches_decimal_at_bound(spark):
    """The guarded-float JL screen kernel (gemm_jl_screen) decides
    EXACTLY like the DECIMAL(38) fold — pinned on synthetic sketches
    placed exactly AT, one-unit BELOW, and one-unit ABOVE the integer
    bound (inside the float guard band, forcing the exact-int
    fallback), plus far-side values decided by the fast path."""
    from ppdb_parser_spark.operators.similarity import gemm_jl_screen

    bound = 4_160_000_000_000_000  # jl_screen_bound(0.35)
    import math

    base = int(math.isqrt(bound // 16))
    cases = []
    # (delta on one coordinate) -> d2 = 15*base^2 + (base+delta)^2
    d2_15 = 15 * base * base
    for k, delta in enumerate(range(-3, 4)):
        d = base + delta
        cases.append((k, d2_15 + d * d))
    # exact-at-bound: craft a last coordinate hitting bound precisely
    rem = bound - d2_15
    r = int(math.isqrt(rem))
    hit = r if r * r == rem else None
    rows = []
    for k, d2 in cases:
        # jla = the difference vector, jlb = zeros
        diff = [base] * 15 + [int(math.isqrt(d2 - d2_15))]
        rows.append((k, k + 1000, diff, [0] * 16))
    if hit is not None:
        rows.append((999, 1999, [base] * 15 + [hit], [0] * 16))
    df = spark.createDataFrame(
        rows,
        "id_a long, id_b long, jla array<long>, jlb array<long>",
    )
    got = {
        r.id_a
        for r in gemm_jl_screen(df, bound, id_type="bigint").collect()
    }
    want = {
        ida
        for (ida, idb, jla, jlb) in rows
        if sum((a - b) ** 2 for a, b in zip(jla, jlb)) <= bound
    }
    assert got == want


def test_semantic_decontaminate_zero_norm_both_tiers_raise(spark):
    """semantic_decontaminate fails loudly on zero-norm TRAIN and EVAL
    vectors (the kernel's ValueError mirrors the DIVIDE_BY_ZERO an
    in-plan cosine divide raises under ANSI — never a NaN decision),
    and rejects a threshold off the 1e-6 grid at plan time."""
    from pyspark.sql import functions as F

    from ppdb_parser_spark.operators.similarity import semantic_decontaminate

    zero_train = spark.createDataFrame(
        [(1, [1.0] * 4, True), (2, [1.0] * 4, False), (3, [0.0] * 4, False)],
        "vec_id long, embedding array<double>, ev boolean",
    )
    zero_eval = spark.createDataFrame(
        [(1, [0.0] * 4, True), (2, [1.0] * 4, False)],
        "vec_id long, embedding array<double>, ev boolean",
    )
    for df in (zero_train, zero_eval):
        with pytest.raises(Exception, match="zero"):
            semantic_decontaminate(df, F.col("ev"), threshold=0.35).collect()
    # non-grid threshold rejected at plan time (the kernel's fast path
    # cannot represent its decision boundary)
    with pytest.raises(ValueError, match="1e-6 grid"):
        semantic_decontaminate(
            zero_train.filter(F.col("vec_id") < 3),
            F.col("ev"),
            threshold=0.1234567,
        )


def test_lsh_first_match_wide_signature_fallback(spark):
    """n_bands*bits_per_band > 62 overflows the packed-int64 emission
    trick (conv to a signed long wraps) — wide configs, the scale
    deployment shape where plane count grows with log n, must route
    through the band-sig-array zip_with/exists fallback and still emit
    EXACTLY the distinct collision set. Verified against an independent
    Python bucketing at 64 planes (8-bit bands)."""
    from collections import defaultdict

    from ppdb_parser_spark.operators.similarity import (
        _lsh_band_candidates,
        gemm_lsh_bits,
        lsh_planes,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_planes, n_bands = 64, 8
    bpb = n_planes // n_bands
    rows = (
        gemm_lsh_bits(
            emb, lsh_planes(n_planes, 64), id_col="vec_id", vec_col="embedding"
        )
        .select("vec_id", "bits")
        .collect()
    )
    buckets = defaultdict(list)
    for r in rows:
        for band in range(n_bands):
            buckets[
                (band, tuple(r.bits[band * bpb : band * bpb + bpb]))
            ].append(r.vec_id)
    ref = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                ref.add((ids[i], ids[j]))
    got = [
        (r.id_a, r.id_b)
        for r in _lsh_band_candidates(
            emb, n_planes, n_bands, 42, "vec_id", "embedding", 64
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == ref


def _sem_reference_quant(emb):
    """id -> (quantized int64 vector, round-6 norm): an independent numpy
    replay of ``_sem_quant`` / ``_sem_qnorm6``."""
    import math

    import numpy as np

    from ppdb_parser_spark.operators.similarity import (
        SEM_QSCALE,
        _round6_half_up,
    )

    out = {}
    for r in emb.select("vec_id", "embedding").collect():
        q = _round_half_away(
            np.asarray(r.embedding, dtype=np.float32).astype(np.float64)
            * float(SEM_QSCALE)
        )
        out[r.vec_id] = (
            q,
            _round6_half_up(math.sqrt(float(int(q @ q))) / SEM_QSCALE),
        )
    return out


def _sem_reference_cos(qa, qb):
    """round(cos, 6) on the quantize-once grid, with the in-plan
    parenthesization ``(dot / 1e14) / (na · nb)``."""
    from ppdb_parser_spark.operators.similarity import (
        SEM_QSCALE,
        _round6_half_up,
    )

    (a, na), (b, nb) = qa, qb
    return _round6_half_up(
        (float(int(a @ b)) / float(SEM_QSCALE) ** 2) / (na * nb)
    )


def test_sem_dominance_gemm_equals_hof(spark, sf_dir):
    """The per-cell dominance kernel (_sem_cell_dominance) keeps exactly
    the rows an independent pure-Python replay keeps — a row is dropped
    iff a strictly-smaller id in the SAME cell has round6(cos) >=
    threshold on the quantize-once int64 grid — for every SemDeDup
    family member (flat, two-level, gemm-assigned, gemm two-level) and
    for an OFF-GRID threshold (the kernel rounds every pair exactly, so
    no 1e-6-grid restriction applies to dominance). The cell assignment
    is taken from the operator's output; the registered dedup_semantic*
    queries pin it against their DuckDB oracles."""
    from collections import defaultdict

    from ppdb_parser_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_gemm,
        semantic_dedup_two_level,
    )
    from ppdb_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _sem_reference_quant(emb)

    def check(df, thr):
        rows = [tuple(r) for r in df.collect()]
        cells = defaultdict(list)
        for vid, cell, _ in rows:
            cells[cell].append(vid)
        want = {}
        for members in cells.values():
            members.sort()
            for k, b in enumerate(members):
                want[b] = not any(
                    _sem_reference_cos(qv[a], qv[b]) >= thr
                    for a in members[:k]
                )
        assert {vid: kept for vid, _, kept in rows} == want
        assert not all(want.values()), "fixture dropped nothing"

    for fn, kw in (
        (semantic_dedup, {}),
        (semantic_dedup_two_level, {"n_super": 4}),
        (semantic_dedup_gemm, {}),
        (semantic_dedup_gemm, {"two_level": True, "n_super": 4}),
    ):
        check(fn(emb, n_cells=16, threshold=0.35, **kw), 0.35)
    check(semantic_dedup(emb, n_cells=8, threshold=0.1234567), 0.1234567)


def test_jaccard_prefix_cross_corpus_mode(spark, sf_dir):
    """cross_min_id (two-corpus decontamination mode) returns EXACTLY
    the full prefix join's pairs that straddle the cutoff — no within-
    corpus pair on either side, nothing lost. Drives the
    pipeline_decontaminate_jaccard tier."""
    from pyspark.sql import functions as F

    import ppdb_parser_spark.operators.dedup as DD
    from ppdb_parser_spark.queries.training_data import _EVAL_MAX, _bucket
    from ppdb_parser_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    S = 1_000_000_000
    is_eval = _bucket("eval:") < _EVAL_MAX
    tagged = docs.select(
        F.when(is_eval, F.col("doc_id") + S)
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        "text",
    )
    full = sorted(
        map(
            tuple,
            DD.jaccard_pairs_prefix(tagged, threshold=0.5, n=2, min_partitions=8)
            .filter((F.col("id_a") < S) & (F.col("id_b") >= S))
            .collect(),
        )
    )
    cross = sorted(
        map(
            tuple,
            DD.jaccard_pairs_prefix(
                tagged, threshold=0.5, n=2, min_partitions=8, cross_min_id=S
            ).collect(),
        )
    )
    assert cross == full
    assert len(cross) > 0  # non-degenerate on the fixture
    # every pair straddles: train side below, eval side at/above
    assert all(a < S <= b for (a, b, *_rest) in cross)


def test_simhash_incremental_matches_filtered_full(spark):
    """delta_min_id on the SimHash tier (VERDICT r13 #3): the incremental
    pair set must equal the full run filtered to pairs whose larger id is
    in the delta — the family contract every other near-dup tier pins."""
    from ppdb_parser_spark.operators.dedup import simhash_near_pairs

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base + f" extra{i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    full = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(docs, max_hamming=8, n_bands=4).collect()
    }
    inc = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(
            docs, max_hamming=8, n_bands=4, delta_min_id=9
        ).collect()
    }
    assert inc == {p for p in full if p[1] >= 9}
    assert inc, "delta fixture must be non-degenerate"
    assert inc != full, "delta must actually prune old×old pairs"


def test_containment_incremental_matches_filtered_full(spark):
    """Same contract on the containment tier."""
    from ppdb_parser_spark.operators.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, long_text),
        (2, " ".join(f"w{i}" for i in range(10))),
        (3, " ".join(f"w{i}" for i in range(12))),
        (4, " ".join(f"w{i}" for i in range(20, 35))),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    full = {
        (r.id_a, r.id_b)
        for r in containment_pairs(docs, threshold=0.9, n=2).collect()
    }
    inc = {
        (r.id_a, r.id_b)
        for r in containment_pairs(
            docs, threshold=0.9, n=2, delta_min_id=3
        ).collect()
    }
    assert inc == {p for p in full if p[1] >= 3}
    assert inc and inc != full


def test_minhash_index_path_equals_delta_self_join(spark):
    """The persisted-index delta path (minhash_pairs_from_index over
    minhash_banded_sigs + minhash_packed_sets) must emit exactly the
    pairs of the self-join form run with delta_min_id — the contract
    that lets dedup_minhash_incremental_indexed share the incremental
    oracle (VERDICT r13 #4)."""
    from ppdb_parser_spark.operators.dedup import (
        minhash_banded_sigs,
        minhash_match,
        minhash_packed_sets,
        minhash_pairs_from_index,
    )

    base_text = " ".join(f"tok{i}" for i in range(25))
    rows = [(i, base_text + f" tail{i % 4}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    c0 = 7
    base = docs.filter(f"doc_id < {c0}")
    delta = docs.filter(f"doc_id >= {c0}")

    def key(rs):
        return {
            (r.id_a, r.id_b, r.n_common, r.n_a, r.n_b, round(r.jaccard, 9))
            for r in rs
        }

    want = key(
        minhash_match(docs, threshold=0.3, delta_min_id=c0).collect()
    )
    got = key(
        minhash_pairs_from_index(
            minhash_banded_sigs(base),
            minhash_packed_sets(base),
            delta,
            threshold=0.3,
        ).collect()
    )
    assert got == want
    assert want, "delta fixture must be non-degenerate"


def test_simhash_index_path_equals_delta_self_join(spark):
    """The persisted-index delta path (simhash_pairs_from_index over
    simhash_banded) must emit exactly the pairs of the self-join form
    run with delta_min_id — the contract that lets
    dedup_simhash_incremental_indexed share the incremental oracle."""
    from ppdb_parser_spark.operators.dedup import (
        simhash_banded,
        simhash_near_pairs,
        simhash_pairs_from_index,
    )

    base_text = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base_text + f" extra{i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    c0 = 9
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(
            docs, max_hamming=8, n_bands=4, delta_min_id=c0
        ).collect()
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_from_index(
            simhash_banded(docs.filter(f"doc_id < {c0}"), n_bands=4),
            docs.filter(f"doc_id >= {c0}"),
            max_hamming=8,
            n_bands=4,
        ).collect()
    }
    assert got == want
    assert want, "delta fixture must be non-degenerate"


def test_winnow_index_path_equals_delta_self_join(spark):
    """The persisted-posting delta path (winnow_pairs_from_index) must
    emit exactly the self-join form's pairs at the same cutoff —
    INCLUDING the df-cap semantics: the cap re-derives over
    index ∪ delta postings, because a fingerprint's df can cross the
    cap when the delta lands."""
    from ppdb_parser_spark.operators.dedup import (
        winnow_match,
        winnow_pairs_from_index,
    )
    from ppdb_parser_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    base_text = " ".join(f"tok{i}" for i in range(40))
    rows = [(i, base_text + f" end{i % 2}") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    c0 = 6

    def key(rs):
        return {
            (r.doc_a, r.doc_b, r.n_shared, round(r.overlap, 9)) for r in rs
        }

    want = key(winnow_match(docs, delta_min_id=c0).collect())
    got = key(
        winnow_pairs_from_index(
            winnow_fingerprints(docs.filter(f"doc_id < {c0}")),
            docs.filter(f"doc_id >= {c0}"),
            delta_min_id=c0,
        ).collect()
    )
    assert got == want
    assert want, "delta fixture must be non-degenerate"


def test_containment_index_path_equals_delta_self_join(spark):
    """Same contract for the containment posting index."""
    from ppdb_parser_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_from_index,
        containment_postings,
    )

    long_text = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, long_text),
        (2, " ".join(f"w{i}" for i in range(10))),
        (3, " ".join(f"w{i}" for i in range(12))),
        (4, " ".join(f"w{i}" for i in range(20, 35))),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    c0 = 3

    def key(rs):
        return {(r.id_a, r.id_b, r.n_common, r.n_a, r.n_b) for r in rs}

    want = key(
        containment_pairs(docs, threshold=0.9, n=2, delta_min_id=c0).collect()
    )
    got = key(
        containment_pairs_from_index(
            containment_postings(docs.filter(f"doc_id < {c0}"), n=2),
            docs.filter(f"doc_id >= {c0}"),
            delta_min_id=c0,
            threshold=0.9,
            n=2,
        ).collect()
    )
    assert got == want
    assert want, "delta fixture must be non-degenerate"


def test_incremental_components_equals_from_scratch(spark, monkeypatch):
    """Star-edge contraction (incremental_components): merging delta
    edges into a persisted base labeling must reach the identical
    min-label fixpoint as running CC from scratch over base ∪ delta
    edges — including a delta edge that MERGES two existing base
    components and a brand-new node chained through the delta."""
    from ppdb_parser_spark.operators import graph
    from ppdb_parser_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    base_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a int, id_b int"
    )
    # delta: merges {1,2,3} with {5,6} via 3-5, adds new node 9 via 6-9
    delta_edges = spark.createDataFrame(
        [(3, 5), (6, 9)], "id_a int, id_b int"
    )
    # the driver tier (default bound), then the star rounds
    for bound in (graph.DRIVER_MAX_EDGES, -1):
        monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", bound)
        want = {
            (r.node, r.component)
            for r in connected_components(
                base_edges.unionByName(delta_edges)
            ).collect()
        }
        base_labels = connected_components(base_edges)
        got = {
            (r.node, r.component)
            for r in incremental_components(base_labels, delta_edges).collect()
        }
        assert got == want
        # everything merged into one component rooted at 1
        assert {c for _, c in got} == {1}


def test_semantic_index_path_equals_delta_self_contained(spark):
    """The persisted-assignment delta path (semantic_dedup_from_index)
    must emit exactly the self-contained incremental form's rows —
    including correct dominance against BASE rows whose assignment (and
    quantized vectors/norms) came from the loaded index rather than a
    fresh quantization pass."""
    import numpy as np

    from ppdb_parser_spark.operators.similarity import (
        sem_assigned_relation,
        semantic_dedup,
        semantic_dedup_from_index,
    )

    rng = np.random.default_rng(11)
    base_vecs = rng.normal(size=(12, 8))
    rows = [(i, [float(v) for v in base_vecs[i]]) for i in range(12)]
    # plant a near-dup of row 2 inside the delta
    rows.append((12, [float(v) for v in base_vecs[2] * 1.01]))
    rows.append((13, [float(v) for v in rng.normal(size=8)]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c0 = 12
    want = {
        (r.vec_id, r.cell_id, r.kept)
        for r in semantic_dedup(
            e, n_cells=4, threshold=0.9, delta_min_id=c0
        ).collect()
    }
    base = e.filter(f"vec_id < {c0}")
    delta = e.filter(f"vec_id >= {c0}")
    got = {
        (r.vec_id, r.cell_id, r.kept)
        for r in semantic_dedup_from_index(
            sem_assigned_relation(base, 4, seeds_from=e),
            delta,
            delta_min_id=c0,
            n_cells=4,
            threshold=0.9,
            seeds_from=e,
        ).collect()
    }
    assert got == want
    assert want, "delta fixture must be non-degenerate"
    # the planted near-dup must actually be dropped
    dropped = {vid for vid, _, kept in want if not kept}
    assert 12 in dropped


def test_jaccard_index_path_equals_delta_self_join(spark):
    """The persisted packed-base delta path (jaccard_pairs_from_index)
    must emit exactly the self-join prefix form's pairs at the same
    cutoff — document frequencies and the canonical (df, fp) prefix
    order re-derive over index ∪ delta, because df is corpus-global."""
    from ppdb_parser_spark.operators.dedup import (
        jaccard_packed_base,
        jaccard_pairs_from_index,
        jaccard_pairs_prefix,
    )

    rows = [
        (i, " ".join(f"w{j}" for j in range(i % 5, i % 5 + 20)))
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    c0 = 9

    def key(rs):
        return {
            (r.id_a, r.id_b, r.n_common, r.n_a, r.n_b,
             round(r.jaccard, 9))
            for r in rs
        }

    want = key(
        jaccard_pairs_prefix(docs, threshold=0.5, delta_min_id=c0).collect()
    )
    got = key(
        jaccard_pairs_from_index(
            jaccard_packed_base(docs.filter(f"doc_id < {c0}")),
            docs.filter(f"doc_id >= {c0}"),
            delta_min_id=c0,
            threshold=0.5,
        ).collect()
    )
    assert got == want
    assert want, "delta fixture must be non-degenerate"
