"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.7 O5–O6 +
north-star dedup family: exact, n-gram Jaccard, SimHash, MinHash-LSH).

Scale shapes:

- exact: hash-aggregate on a content fingerprint — one shuffle keyed by the
  hash, no skew (md5 is uniform).
- shingle Jaccard: candidate generation via an equi join on shared shingles
  (only pairs sharing ≥1 shingle are materialized), then exact refinement.
  At 100 TB the candidate join is the bottleneck → cap fan-out by dropping
  ubiquitous shingles (document-frequency ceiling) exactly like a
  stopword filter; the LSH variants below are the sub-quadratic path.
- SimHash: per-token 60-bit hashes → per-bit majority vote → one 60-bit
  signature per doc. Pure integer bit arithmetic (md5-derived), identical
  in both engines → strong oracle despite being a "sketch".
- MinHash-LSH: pyspark.ml MinHashLSH with fixed seed; approximate →
  rows-only driver check, Jaccard-threshold property asserted in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ppdb_parser_spark.session import shuffle_width

from .text_analysis import exploded_tokens

#: Number of SimHash bits (60 = 15 hex chars, safely inside int64).
SIMHASH_BITS = 60


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content hash: one row per distinct content with the
    canonical (min) id and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_partitions: int | None = None,
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built with array higher-order functions (slice over the token array),
    not a window over exploded tokens — shingling is a narrow per-row map
    with ZERO shuffles: per-document uniqueness is ``array_distinct``
    BEFORE the explode (a distinct over (id, shingle) rows would be a
    full extra shuffle for the same result, since shingles only need
    deduping within a document).

    Shingling is CPU-heavy relative to its input bytes (every token is
    written n times), so a source that collapses to a handful of splits —
    e.g. one small parquet file — serializes the map. ``min_partitions``
    (explicit, driver-side constant — never an ``.rdd`` partition probe,
    which would materialize the plan) asks for a round-robin repartition
    of the raw docs first; callers reading small local fixtures pass the
    session parallelism, while at real scale the scan already has enough
    splits and callers leave it ``None`` (no shuffle added).
    """
    if min_partitions:
        df = df.repartition(min_partitions)
    toks = F.split(F.col(text_col), " ")
    # guard: sequence(1, 0) would step DOWNWARD; docs shorter than n
    # tokens have no shingles
    shingles = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(F.col(id_col), F.explode(shingles).alias("shingle"))


def word_shingles_pos(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_partitions: int | None = None,
) -> DataFrame:
    """EVERY word n-gram occurrence with its 1-based start position:
    (id, start, shingle).

    The positioned sibling of :func:`word_shingles` — no per-doc
    ``array_distinct``, because span-scrub consumers need each
    occurrence individually (a span repeated inside one document has
    several starts, each independently removable). Same narrow-map
    shape: zero shuffles, one struct-transform + explode per row, so
    it scales exactly like the distinct form (output rows ~ token
    count, CPU-heavy per input byte — hence the same
    ``min_partitions`` escape hatch for few-split local fixtures).
    """
    if min_partitions:
        df = df.repartition(min_partitions)
    toks = F.split(F.col(text_col), " ")
    spans = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                i.alias("start"),
                F.array_join(F.slice(toks, i, n), " ").alias("shingle"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,shingle:string>>"))
    ex = df.select(F.col(id_col), F.explode(spans).alias("s"))
    return ex.select(id_col, F.col("s.start").alias("start"), F.col("s.shingle").alias("shingle"))


def span_scrub(
    df: DataFrame,
    n: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_partitions: int | None = None,
) -> DataFrame:
    """C4/ExactSubstr-style span REMOVAL with text reconstruction.

    The scrubbing complement of the span-mass report
    (queries/governance.py::dedup_substring_spans, Lee et al. 2022
    arXiv:2107.06499): every ``n``-token span occurring in ≥2 documents
    keeps only its canonical carrier (min id); every occurrence in any
    OTHER document has its ``n`` token positions deleted, and the
    surviving tokens are re-joined in order. Same-document repeats are
    deliberately untouched (self-repetition is text_repetition's
    domain; C4's rule is cross-document).

    Returns one row per input document: (id, n_tok, n_removed,
    scrub_text) — total over the input, including docs shorter than
    ``n`` tokens (nothing removable) and docs scrubbed to empty
    (scrub_text '').

    Plan shape / 100 TB notes: two corpus-sized exchanges — (1) the
    span-key window electing the min-id owner (same cost class as the
    winnow/minhash/span-mass shuffles), (2) the (id, pos) anti join
    deleting covered positions. The ×n position expansion happens only
    on NON-owner duplicated occurrences, i.e. the duplicated mass
    itself, not the corpus. Deliberately an anti join on exploded
    token positions rather than an ``array_contains`` filter over a
    per-doc covered-position array: the latter is O(tokens × covered)
    per document — quadratic on exactly the boilerplate-heavy
    documents this operator exists to clean. At 100 TB the span join
    key becomes xxhash64-int64 and ubiquitous spans get the same
    document-frequency cap the prefix-Jaccard tier documents; the raw
    string key here is the md5-friendly form the DuckDB oracle shares.
    (An int64 window key was A/B'd round 16 at sf0.1 and is a wash
    locally — 0.77 vs 0.73-0.82 s on the covered subtree — so the
    oracle-shared string stays until a measured corpus needs it.)

    Token rebuild is restricted to COVERED documents (round 16, guide
    §8 "move heavy bytes only for rows that need it"): only docs that
    lose ≥1 position need the explode → anti-join → re-join pass;
    every other document's scrubbed text IS its input text (splitting
    on single spaces and re-joining is the identity, empties included)
    with n_removed = 0. Measured at sf0.1: 236 of 5,000 docs covered —
    the rebuild explode/collect shrank from corpus-sized to
    duplicated-mass-sized. Isolated min-of-4 A/B: 1.77 → 1.65 s here,
    1.67 → 1.45 s on the intra variant — modest locally because the
    final report join and the base scan dominate at 5k docs, but the
    explode/collect mass removed is corpus-sized at scale (guide §8).
    """
    occ = word_shingles_pos(
        df, n, id_col, text_col, min_partitions=min_partitions
    )
    from pyspark.sql import Window

    owner = F.min(id_col).over(Window.partitionBy("shingle"))
    covered = (
        occ.withColumn("owner", owner)
        .filter(F.col(id_col) != F.col("owner"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    return _scrub_rebuild(df, covered, id_col, text_col)


#: Helper columns :func:`_scrub_rebuild` joins onto the caller's frame.
_SCRUB_HELPER_COLS = (
    "__cov", "__text", "n_tok", "n_kept", "scrub_text", "pos", "pos0",
    "token",
)


def _scrub_rebuild(
    df: DataFrame, covered: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild scrubbed text for the covered-document MINORITY and pass
    every other document through untouched — shared by
    :func:`span_scrub` and :func:`span_scrub_intra`.

    Exact equivalence with the rebuild-everything form (pinned in
    tests/test_operators.py::test_span_scrub_minority_rebuild_identity):
    for an uncovered document the old pipeline re-joined its own split
    tokens — ``concat_ws(' ', split(text, ' '))`` is the identity for
    every string including empty-token runs — and counted
    n_kept = size(split(text)), giving n_removed = n_tok − n_tok = 0
    (NULL-text docs produced no token rows in BOTH forms: n_removed
    n_tok − 0 with n_tok NULL, scrub_text ''). Covered docs run the
    identical explode → anti-join → ordered re-join, including the
    scrubbed-to-empty case (no kept rows → '' and n_removed = n_tok).
    """
    clash = sorted({id_col, text_col} & set(_SCRUB_HELPER_COLS))
    if clash:
        raise ValueError(
            f"span scrub: column name(s) {clash} collide with the "
            f"rebuild's helper columns {_SCRUB_HELPER_COLS}; rename "
            "id_col/text_col"
        )
    covered = covered.localCheckpoint(eager=False)  # two consumers below
    cd = covered.select(id_col).distinct()
    toks = (
        df.join(cd, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias(
                "pos0", "token"
            ),
        )
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "token")
    )
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
    n_tok = F.size(F.split(F.col(text_col), " ")).cast("long")
    base = df.select(
        F.col(id_col), n_tok.alias("n_tok"), F.col(text_col).alias("__text")
    )
    hit = base.join(
        cd.withColumn("__cov", F.lit(True)), id_col, "left"
    ).join(rebuilt, id_col, "left")
    return hit.select(
        id_col,
        "n_tok",
        F.when(
            F.col("__cov"),
            F.col("n_tok") - F.coalesce(F.col("n_kept"), F.lit(0)),
        )
        .otherwise(F.col("n_tok") - F.coalesce(F.col("n_tok"), F.lit(0)))
        .alias("n_removed"),
        F.when(F.col("__cov"), F.coalesce(F.col("scrub_text"), F.lit("")))
        .otherwise(F.coalesce(F.col("__text"), F.lit("")))
        .alias("scrub_text"),
    )


def span_scrub_intra(
    df: DataFrame,
    n: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_partitions: int | None = None,
) -> DataFrame:
    """Intra-document repeated-span removal (the RefinedWeb/C4
    line-dedup analog at n-gram granularity): within EACH document,
    every ``n``-token span keeps only its FIRST occurrence — later
    occurrences have their token positions deleted — and the surviving
    tokens re-join in order. Cross-document duplication is untouched
    (that is :func:`span_scrub`'s rule); the two compose.

    Overlap subtlety (deliberate, mirrored by the oracle): positions
    covered by the first occurrence of one span may still be deleted by
    a LATER occurrence of a DIFFERENT span — coverage is the union over
    all non-first occurrences, computed on the original text's
    positions (single-pass semantics, not iterated to fixpoint).

    Plan shape: one exchange keyed by (id, shingle) for the min-start
    window, one (id, pos) anti join — both corpus-sized, the same cost
    class as :func:`span_scrub`; at 100 TB the shingle key becomes
    xxhash64-int64 exactly as documented there. The token rebuild runs
    only over covered documents (:func:`_scrub_rebuild`, round 16).
    """
    from pyspark.sql import Window

    occ = word_shingles_pos(
        df, n, id_col, text_col, min_partitions=min_partitions
    )
    first = F.min("start").over(
        Window.partitionBy(id_col, "shingle")
    )
    covered = (
        occ.withColumn("first_start", first)
        .filter(F.col("start") != F.col("first_start"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    return _scrub_rebuild(df, covered, id_col, text_col)


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """All document pairs with shingle-Jaccard ≥ threshold (exact).

    candidate pairs = equi join on shared shingles (never a cross join);
    jaccard = |A∩B| / (|A|+|B|-|A∩B|) — an int/int rational, so the
    threshold comparison is deterministic cross-engine.

    ``max_doc_freq``: drop shingles appearing in more than this many
    documents BEFORE pairing (and before set sizes are computed — the
    Jaccard is then over the filtered shingle sets, mirrored identically
    in the oracle). The candidate join costs Σ_shingle df² — ubiquitous
    shingles contribute quadratically while carrying no dedup signal, so
    a DF ceiling is the standard scale control (same role as LSH banding).
    """
    sh = word_shingles(df, n, id_col, text_col, min_partitions=min_partitions)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        keep = freq.filter(F.col("df") <= max_doc_freq).select("shingle")
        sh = sh.join(keep, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def jaccard_pairs_bitmap(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
    min_partitions: int | None = None,
) -> DataFrame:
    """Same pairs as :func:`jaccard_pairs`, with the intersection counted
    on packed per-document fingerprint sets instead of the pair×shingle
    stream (round-1 verdict #10 "bitmap Jaccard").

    The baseline shuffles the full candidate stream — one row per shared
    (shingle, docA, docB), Σ_shingle df² rows — into a groupBy(id_a,id_b)
    count. Here that stream carries NO payload and collapses to *distinct
    pairs* (map-side combine dedups before the exchange); |A∩B| is then
    ``size(array_intersect)`` over each doc's sorted 64-bit shingle
    fingerprints (a roaring-bitmap stand-in: Spark has no native bitmap
    type, and a sorted distinct int64 array gives the same O(|A|+|B|)
    merge-intersection JVM-side). Candidate pairs that share many shingles
    — exactly the near-duplicates the operator exists to find — shrink
    from k rows to 1, which is where the shuffle-volume win comes from.

    64-bit fingerprint collisions could in principle merge two shingles
    (p ≈ n²/2⁶⁵ — negligible at any realistic shingle count); equality
    with the exact path is regression-tested.
    """
    sh = word_shingles(df, n, id_col, text_col, min_partitions=min_partitions)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        keep = freq.filter(F.col("df") <= max_doc_freq).select("shingle")
        sh = sh.join(keep, "shingle")
    fp = sh.select(F.col(id_col), F.xxhash64("shingle").alias("fp"))
    sets = fp.groupBy(id_col).agg(
        F.sort_array(F.collect_set("fp")).alias("fps")
    )
    a, b = fp.alias("a"), fp.alias("b")
    cand = (
        a.join(b, "fp")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("fps").alias("fps_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("fps").alias("fps_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("fps_a", "fps_b")).cast("long").alias("n_common"),
            F.size("fps_a").cast("long").alias("n_a"),
            F.size("fps_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def jaccard_packed_base(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
) -> DataFrame:
    """The PERSISTABLE prefix-Jaccard base: (id, n, fps) — per-doc
    sorted distinct shingle xxhash64 arrays plus their size. Everything
    downstream of the prefix machinery (df count, canonical ordering,
    prefix slice, candidate join, packed-set verification) is a pure
    function of this relation, so persisting it through the S5 sink
    means a delta-ingest batch never re-shingles the corpus — it packs
    only its delta and unions with the loaded relation
    (:func:`jaccard_pairs_from_index`); document frequencies re-derive
    over the union, preserving the full-corpus canonical order exactly."""
    if min_partitions:
        df = df.repartition(min_partitions)
    toks = F.split(F.col(text_col), " ")
    sh_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                )
            ),
            lambda s: F.xxhash64(s),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return df.select(F.col(id_col), F.sort_array(sh_arr).alias("fps")).select(
        id_col, F.size("fps").alias("n"), "fps"
    )


def jaccard_pairs_from_index(
    index_base: DataFrame,
    delta_df: DataFrame,
    delta_min_id: int,
    threshold: float = 0.5,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
) -> DataFrame:
    """Delta-ingest prefix-Jaccard pairs against the persisted packed
    base: only the delta is shingled and packed; the df count, canonical
    (df, fp) ordering, prefix slice and verification sets all derive
    from index ∪ delta — bit-identical to the self-join incremental
    form at the same cutoff (set equality pinned in
    tests/test_operators.py), so it shares the
    ``dedup_jaccard_incremental`` oracle. The index read replaces the
    corpus re-shingle (CPU-heavy per input byte) with a three-column
    columnar scan."""
    delta_base = jaccard_packed_base(
        delta_df, n, id_col, text_col, min_partitions=min_partitions
    )
    nparts = min_partitions or shuffle_width(index_base.sparkSession)
    base = (
        index_base.unionByName(delta_base)
        .repartition(nparts, F.col(id_col))
        .localCheckpoint(eager=False)
    )
    return _jaccard_prefix_tail(
        base, threshold, id_col,
        delta_min_id=delta_min_id, cross_min_id=None, nparts=nparts,
    )


def jaccard_pairs_full_from_index(
    index_base: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    min_partitions: int | None = None,
) -> DataFrame:
    """Full-corpus prefix-Jaccard pairs served ENTIRELY from the
    persisted packed base — the steady-state read path of an appendable
    packed-base index (queries/similarity._load_appended_index): no
    document text is scanned, no shingling runs. Document frequencies,
    canonical order, prefixes and verification sets all derive from the
    loaded relation, so results are byte-identical to
    :func:`jaccard_pairs_prefix` over the live corpus (the
    dedup_jaccard_prefix oracle applies verbatim)."""
    nparts = min_partitions or shuffle_width(index_base.sparkSession)
    base = (
        index_base.repartition(nparts, F.col(id_col))
        .localCheckpoint(eager=False)
    )
    return _jaccard_prefix_tail(
        base, threshold, id_col,
        delta_min_id=None, cross_min_id=None, nparts=nparts,
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
    delta_min_id: int | None = None,
    cross_min_id: int | None = None,
) -> DataFrame:
    """Exact Jaccard-join via prefix filtering (AllPairs / PPJoin family —
    Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity Search",
    WWW 2007): the EXACT same pairs as :func:`jaccard_pairs`, with the
    candidate join restricted to each document's *prefix* of rarest
    shingles.

    Principle: order every document's shingles by a global canonical order
    (here (document-frequency asc, fingerprint asc) — no global dense rank
    needed, the sort key itself is the order, so there is no
    single-partition ranking step). If J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉,
    so by pigeonhole A and B must share an element inside their first
    |X| − ⌈t·|X|⌉ + 1 shingles. Joining prefix-against-prefix therefore
    loses no qualifying pair, while ubiquitous shingles — the df² cost
    bombs — land in almost no prefix (every doc that has anything rarer
    pushes them out). Candidates are verified exactly with a packed-set
    ``array_intersect``.

    Unlike ``max_doc_freq`` capping this needs NO semantic compromise
    (capping changes the measured Jaccard; the prefix filter does not),
    which makes it the preferred 100 TB path for exact near-dup joins.

    Plan shape (round-5 rewrite — every exchange is keyed on an 8-byte
    int64, never a shingle string, and per-doc state is computed in-row):

    - shingle → xxhash64 fingerprint INSIDE the per-row shingling map, so
      every document's set size ``n`` and its sorted verification set
      ``fps`` come out of the scan as narrow columns — ZERO shuffles (the
      old plan derived both from a doc-keyed exchange of the occurrence
      stream, then shuffled the same strings twice more for the df join).
    - one fp-keyed exchange of (doc, fp, n) feeds BOTH the document-
      frequency aggregate and the occurrence⋈df join (reused exchange);
    - one doc-keyed exchange builds the rarest-first prefix;
    - the candidate equi-join exchanges prefix rows by fp (both sides the
      same lineage → one exchange, reused);
    - the pair aggregate map-side-combines the join stream to distinct
      pairs before its exchange; c-bound survivors hit the set-attach
      verification joins, whose doc-sets side is small per-partition (the
      packed arrays, ~n·8 B/doc) — AQE broadcasts it at local scale.

    Pruning-power note (measured at sf0.1, 5,000 docs over a 931-shingle
    hot vocabulary with max df 338): 5.49M distinct candidate pairs leave
    the prefix join; the sound positional c-bound keeps 1.52M — nearly all
    with true J ≈ 0.1, which no sound prefix/positional bound can reject
    (their matches include early-prefix rare shingles). On a Zipfian
    real-text corpus the prefix filter's df-ordering is far more
    selective; this fixture is close to the filter's worst case.

    The xxhash64 fingerprinting shares the bitmap variant's collision
    exposure (two distinct shingles colliding merges them — p ≈ n²/2⁶⁵,
    negligible; equality with the string-exact path is regression-tested).

    ``delta_min_id``: incremental-ingest mode. With ids assigned
    append-only (every new doc's id exceeds every existing id — the
    standard ingest contract), passing the first new id restricts the
    candidate join to pairs whose LARGER id is in the delta: old×new and
    new×new pairs, never old×old — exactly the pairs an incremental dedup
    must evaluate. The restriction is a conjunct in the join condition
    (not a filtered input), so both join sides still read the ONE shared
    prefix exchange; the pair-aggregate input shrinks from Σ df² to
    Σ df·df_delta, making re-ingest cost proportional to the delta, not
    the corpus. Results equal the full join filtered to id_b ≥ the
    cutoff (oracle-checked by dedup_jaccard_incremental).
    """
    # the doc-keyed exchange of (id, n, fps) is the plan's ONE reuse
    # barrier: four consumers read it (df count, occurrence⋈df join, and
    # the two verification-set sides), so the upstream lineage — which in
    # pipeline_corpus_curation is a quality join + dedup window, not just
    # a scan — executes exactly once. The exchanged payload is the packed
    # int64 arrays (~n·8 B/doc), smaller than both the raw text and the
    # old plan's exploded shingle-string stream.
    # explicit partition count: a keyed repartition WITHOUT one is fair
    # game for AQE coalescing, which sees the few-MB exchange and folds it
    # to 1 partition — serializing the CPU-heavy candidate join downstream
    # (measured 11.9 s vs 4.4 s at sf0.1, tools/prefix_ab.py)
    nparts = min_partitions or shuffle_width(df.sparkSession)
    # LAZY cut point (round 12): the doc-keyed repartition below was
    # DOCUMENTED as the plan's reuse barrier for its four consumers
    # (df count, occurrence⋈df join, both verification-set sides) — but
    # the executed plan shows ZERO exchange reuse and SIX file scans:
    # Catalyst re-inlines the scan + shingling into every consumer. The
    # non-eager localCheckpoint makes the sharing real (materialized
    # once), which also collapses the upstream lineage — in
    # pipeline_corpus_curation that is a quality join + dedup window,
    # not just a scan. With AQE on, the call runs the repartition's
    # shuffle-map stage as a job at build time.
    base = (
        jaccard_packed_base(
            df, n, id_col, text_col, min_partitions=min_partitions
        )
        .repartition(nparts, F.col(id_col))
        .localCheckpoint(eager=False)
    )
    return _jaccard_prefix_tail(
        base, threshold, id_col,
        delta_min_id=delta_min_id, cross_min_id=cross_min_id,
        nparts=nparts,
    )


def _prefix_pair_partials_kernel(
    pref: DataFrame,
    threshold: float,
    id_col: str,
    nparts: int,
) -> DataFrame:
    """Per-partition candidate-pair PARTIALS for the PPJoin tail — the
    Arrow tier of the prefix candidate stage (round 16; guide §4.2).

    The join tier materializes the fp-keyed self-join's full output
    (Σ df_pref² rows — 12.76 M at sf0.1, measured ~3.6 s of the 3.6 s
    full-cold `dedup_jaccard_prefix` wall) through JVM codegen before
    its partial hash aggregate. The volume is irreducible for a sound
    prefix filter (three A/B'd negative results, rounds 14-16), but the
    per-row cost is not: ONE hash repartition by fp puts every
    occurrence of a prefix fingerprint in one partition, and a
    ``mapInArrow`` kernel generates the within-group pairs and
    partially aggregates them vectorized — numpy pair-index arithmetic
    + one sort + ``maximum.reduceat`` instead of the pair join (a
    BroadcastHashJoin of pref against itself in the committed
    before-plan; an SMJ at scale) feeding a row-at-a-time codegen
    aggregate.

    Emits per-partition partials (id_a, id_b, c, ia, ib, na, nb) with
    the join tier's conjuncts applied EXACTLY: rows are sorted by
    (fp, id) so within-group pair generation yields id_a < id_b for
    free (ids are distinct within an fp group — a document's prefix is
    a set); the PPJoin length filter ``t·n_a ≤ n_b ∧ t·n_b ≤ n_a`` is
    the same float64 comparison the JVM evaluates. The caller's final groupBy merges partials (SUM(c), MAX(ia/ib)) —
    identical to what the join tier's partial+final hash aggregate
    computes, so the candidate SET is bit-identical (parity pinned in
    tests; the exchanged row volume is also identical — the join tier's
    map-side partial aggregate sat on the same fp-clustered stream).

    Scale notes: partition memory is O(pairs in partition) — bounded by
    shuffle partition sizing exactly like the join tier's per-task
    aggregate hash map; the prefix filter's df-ordering bounds
    per-fingerprint fan-out on Zipfian corpora. One residual trade: AQE
    skew-join splitting applied to the join tier but cannot split a
    kernel partition — one hot fingerprint holds all its pairs in one
    task (the hot-key bound is ROADMAP direction 5)."""
    dtypes = dict(pref.dtypes)
    out_schema = (
        f"id_a {dtypes[id_col]}, id_b {dtypes[id_col]}, c bigint, "
        f"ia {dtypes['pos']}, ib {dtypes['pos']}, "
        f"na {dtypes['n']}, nb {dtypes['n']}"
    )
    t = float(threshold)

    def pair_batches(batches):
        import numpy as np
        import pyarrow as pa

        chunks: list[list] = [[], [], [], []]
        for rb in batches:
            if rb.num_rows == 0:
                continue
            for i in range(4):
                col = rb.column(i)
                if col.null_count:
                    # structurally unreachable (pref derives every column
                    # from non-null expressions), but a null would make
                    # to_numpy silently widen to float64/NaN and corrupt
                    # the pair keys — fail loudly instead
                    raise ValueError(
                        "prefix pair kernel: null in input column "
                        f"{rb.schema.names[i]!r}"
                    )
                chunks[i].append(col.to_numpy(zero_copy_only=False))
        if not chunks[0]:
            return
        ids = np.concatenate(chunks[0])
        n = np.concatenate(chunks[1])
        pos = np.concatenate(chunks[2])
        fp = np.concatenate(chunks[3])
        N = len(ids)
        # canonical (fp, id) sort: one fp's occurrences become one
        # contiguous run with ids ascending, so every within-run (i < j)
        # pair has id_a < id_b by construction
        order = np.lexsort((ids, fp))
        ids_s = ids[order]
        n_s = n[order]
        pos_s = pos[order]
        fp_s = fp[order]
        new = np.empty(N, dtype=bool)
        new[0] = True
        np.not_equal(fp_s[1:], fp_s[:-1], out=new[1:])
        gstart = np.flatnonzero(new)[np.cumsum(new) - 1]
        rank = np.arange(N, dtype=np.int64) - gstart
        P = int(rank.sum())
        if P == 0:
            return
        # each row (effective rank q) closes q pairs against the FIRST q
        # rows of its run: b-index repeats the row, a-indices are the
        # contiguous range [gstart, gstart+q) — index arithmetic, no loop
        idx_b = np.repeat(np.arange(N, dtype=np.int64), rank)
        block = np.cumsum(rank) - rank
        idx_a = (
            np.arange(P, dtype=np.int64)
            - np.repeat(block, rank)
            + np.repeat(gstart, rank)
        )
        na = n_s[idx_a]
        nb = n_s[idx_b]
        keep = (t * na <= nb) & (t * nb <= na)
        idx_a = idx_a[keep]
        idx_b = idx_b[keep]
        M = len(idx_a)
        if M == 0:
            return
        ia_id = ids_s[idx_a]
        ib_id = ids_s[idx_b]
        pa_pos = pos_s[idx_a]
        pb_pos = pos_s[idx_b]
        # partial aggregate by (id_a, id_b): sort-based — packed int64
        # key when both ids fit 31 bits (always true for the fixture id
        # spaces; exact, order-preserving), lexsort otherwise
        a64 = ia_id.astype(np.int64, copy=False)
        b64 = ib_id.astype(np.int64, copy=False)
        if (
            a64.min() >= 0
            and b64.min() >= 0
            and max(int(a64.max()), int(b64.max())) < 2**31
        ):
            o2 = np.argsort(a64 << np.int64(32) | b64, kind="stable")
        else:
            o2 = np.lexsort((b64, a64))
        a_s = ia_id[o2]
        b_s = ib_id[o2]
        nw = np.empty(M, dtype=bool)
        nw[0] = True
        nw[1:] = (a_s[1:] != a_s[:-1]) | (b_s[1:] != b_s[:-1])
        bnd = np.flatnonzero(nw)
        cols = [
            a_s[bnd],
            b_s[bnd],
            np.diff(np.append(bnd, M)).astype(np.int64),
            np.maximum.reduceat(pa_pos[o2], bnd),
            np.maximum.reduceat(pb_pos[o2], bnd),
            n_s[idx_a][o2][bnd],
            n_s[idx_b][o2][bnd],
        ]
        names = ["id_a", "id_b", "c", "ia", "ib", "na", "nb"]
        # emit in bounded slices: one giant partition (a skewed prefix
        # fingerprint at corpus scale) must not become one multi-GB
        # record batch held whole on the JVM side
        step = 1 << 22
        for lo in range(0, len(bnd), step):
            yield pa.RecordBatch.from_arrays(
                [pa.array(c[lo : lo + step]) for c in cols], names
            )

    return (
        pref.select(id_col, "n", "pos", "fp")
        .repartition(nparts, F.col("fp"))
        .mapInArrow(pair_batches, out_schema)
    )


def _jaccard_prefix_tail(
    base: DataFrame,
    threshold: float,
    id_col: str,
    *,
    delta_min_id: int | None,
    cross_min_id: int | None,
    nparts: int | None = None,
) -> DataFrame:
    """df count → canonical prefix slice → PPJoin candidate join with
    the positional c-bound → packed-set verification, shared by the
    self-join and persisted-index prefix-Jaccard forms. ``base`` arrives
    doc-keyed behind a lazy cut point (four consumers read it).

    The candidate stage depends on the candidate VOLUME (round-16 A/B,
    isolate_bench min-of-4). Full self-joins (Σ df_pref² pairs —
    12.76 M at sf0.1) compute the pair stream + its partial aggregate in
    :func:`_prefix_pair_partials_kernel` (dedup_jaccard_prefix
    4.99 → 3.47 s, index-append full serve 4.59 → 3.23 s).
    Delta/cross-restricted calls emit only Σ df·df_delta pairs, where
    the kernel's fixed Python-boundary cost exceeds the per-pair win
    (dedup_jaccard_incremental_indexed 1.58 → 2.04 s under the kernel —
    the same delta-sized lesson as round 16's ``dict_width=0``), so they
    run the fp-keyed self-join + hash aggregate, whose join condition
    carries the id restriction. Both feed the identical positional
    c-bound filter and verification joins, so emitted pairs are
    bit-identical (parity pinned in
    tests/test_operators.py::test_jaccard_prefix_kernel_equals_join)."""
    occ = base.select(id_col, "n", F.explode("fps").alias("fp"))
    freq = occ.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    keyed = occ.join(freq, "fp").select(
        id_col, "n", F.struct(F.col("df"), F.col("fp")).alias("k")
    )
    # per-doc shingles in canonical (rarest-first) order; the prefix slice
    # length is a pure function of the FULL set size n (computed in-row at
    # the scan), so all bounds stay exact.
    t = float(threshold)
    packed = keyed.groupBy(id_col).agg(
        F.sort_array(F.collect_list("k")).alias("ks"),
        F.first("n").alias("n"),
    )
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")).cast("int") + 1
    # df = 1 prefix elements can never be common to two documents, so they
    # are dropped BEFORE the candidate join's exchange; c is unaffected
    # because c counts common elements only (any common element has df ≥ 2
    # by definition, so it is never dropped). ``pos`` — the element's
    # 1-based rank in the FULL canonical-sorted set — is taken before the
    # drop and feeds the positional c-bound below.
    pref = (
        packed.select(
            F.col(id_col),
            F.col("n"),
            F.posexplode(F.slice("ks", F.lit(1), prefix_len)).alias("pos", "k"),
        )
        .where(F.col("k.df") >= 2)
        .select(
            id_col,
            "n",
            (F.col("pos") + 1).alias("pos"),
            F.col("k.fp").alias("fp"),
        )
        # both candidate-join sides read pref; same cut rationale
        .localCheckpoint(eager=False)
    )
    # Candidate pruning (PPJoin family — Xiao, Wang, Lin & Yu, WWW 2008),
    # AGGREGATED per pair rather than per occurrence: the equi-join on
    # prefix fingerprints yields one row per common prefix element; a
    # single hash aggregate then gives, per (id_a, id_b), the EXACT prefix
    # overlap c = |prefix(A) ∩ prefix(B)| plus the positions (i_k, j_k) of
    # the LAST matched element e_k in canonical (df, fp) order. Because
    # each doc's ks is sorted in that same canonical order, position is
    # strictly increasing in (df, fp) within a doc, so the max-(df, fp)
    # matched element is simultaneously the max-position match on BOTH
    # sides: i_k = MAX(pos_a), j_k = MAX(pos_b) — two plain integer MAX
    # aggregates (a max_by(struct, struct) here would force a
    # SortAggregate over the multi-million-row join stream; integer MAX
    # keeps the whole pair aggregate hash-based). The sound positional
    # bound is
    #     overlap ≤ c + min(n_a − i_k, n_b − j_k):
    # a common element beyond e_k sits after position i_k in A and after
    # j_k in B (both sets are sorted in the same global order), and a
    # common element BELOW e_k is automatically inside both prefixes
    # (prefixes are downward-closed in each set's own order, and e_k
    # belongs to both) — hence already counted in c. Pairs whose bound is
    # < α = ⌈t/(1+t)·(n_a+n_b)⌉ cannot reach J ≥ t — pruned BEFORE the
    # set-verification join, provably losing no qualifying pair.
    #
    # NOTE the earlier round-3/4 form of this filter used
    # c + min(n_a − pl_a, n_b − pl_b) (prefix LENGTHS, not match
    # positions). That bound is NOT sound: a common element in prefix(A)
    # beyond prefix(B) consumes only B's suffix budget, so the min()
    # undercounts — e.g. A = {e1..e6}, B = {e3..e6} at t = 0.5 qualifies
    # with J = 2/3 but gets bound 3 < α = 4 and was wrongly pruned
    # (tests/test_operators.py::test_jaccard_prefix_positional_bound_sound
    # regression-pins the fix; the fixture corpora never exercised the
    # gap, which is why rounds 1-4 stayed oracle-green).
    if delta_min_id is None and cross_min_id is None:
        # Arrow tier (round 16): pair generation + per-partition partial
        # aggregation inside _prefix_pair_partials_kernel; this final
        # aggregate merges the partials with the SAME operators the join
        # tier's hash aggregate applies (SUM of partial counts = COUNT of
        # join rows; MAX of partial maxes = MAX; na/nb are functionally
        # dependent on the pair), then the identical positional c-bound.
        partials = _prefix_pair_partials_kernel(
            pref, t, id_col, nparts or shuffle_width(base.sparkSession)
        )
        cand = (
            partials.groupBy("id_a", "id_b")
            .agg(
                F.sum("c").alias("c"),
                F.first("na").alias("na"),
                F.first("nb").alias("nb"),
                F.max("ia").alias("ia"),
                F.max("ib").alias("ib"),
            )
            .filter(
                F.col("c")
                + F.least(
                    F.col("na") - F.col("ia"), F.col("nb") - F.col("ib")
                )
                >= F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
            )
            .select("id_a", "id_b")
        )
        return _prefix_verify_tail(cand, base, threshold, id_col)
    a, b = pref.alias("a"), pref.alias("b")
    tc = F.lit(t)

    # PPJoin's length filter rides along in the join condition: J ≥ t
    # forces t·max(n_a, n_b) ≤ min(n_a, n_b) (since overlap ≤ min and
    # union ≥ max), so length-incompatible occurrence rows are dropped as
    # the equi-join on fp emits them — BEFORE they reach the pair
    # aggregate's exchange. Pruning only; verification stays exact.
    join_cond = (
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (tc * F.col("a.n") <= F.col("b.n"))
        & (tc * F.col("b.n") <= F.col("a.n"))
    )
    if delta_min_id is not None:
        # incremental mode: the larger-id side must be a delta doc
        join_cond = join_cond & (F.col(f"b.{id_col}") >= F.lit(delta_min_id))
    if cross_min_id is not None:
        # two-corpus mode: ONLY pairs straddling the id cutoff (a below,
        # b at/above — with the a<b convention every cross pair has this
        # shape). Stricter than delta_min_id: the within-upper-corpus
        # pairs are excluded too, so the pair aggregate's input shrinks
        # from Σ df·df_upper to Σ df_lower·df_upper. Callers shift one
        # corpus's ids above the cutoff (decontamination: the eval
        # corpus) and read id_a = lower-corpus doc, id_b = upper.
        join_cond = (
            join_cond
            & (F.col(f"a.{id_col}") < F.lit(cross_min_id))
            & (F.col(f"b.{id_col}") >= F.lit(cross_min_id))
        )
    cand = (
        a.join(b, join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
            F.max(F.col("a.pos")).alias("ia"),
            F.max(F.col("b.pos")).alias("ib"),
        )
        .filter(
            F.col("c")
            + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
            >= F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
        )
        .select("id_a", "id_b")
    )
    return _prefix_verify_tail(cand, base, threshold, id_col)


def _prefix_verify_tail(
    cand: DataFrame,
    base: DataFrame,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """Exact packed-set verification of the c-bound survivors — shared
    verbatim by both candidate stages of :func:`_jaccard_prefix_tail`."""
    # verification sets come straight off the scan (base is a narrow map —
    # no shuffle to build them; the attach joins are tiny post-c-bound)
    sa = base.select(F.col(id_col).alias("id_a"), F.col("fps").alias("fps_a"))
    sb = base.select(F.col(id_col).alias("id_b"), F.col("fps").alias("fps_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("fps_a", "fps_b")).cast("long").alias("n_common"),
            F.size("fps_a").cast("long").alias("n_a"),
            F.size("fps_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def _token_hash60(token_col: str = "token") -> F.Column:
    """First 15 hex chars of md5 → 60-bit integer (identical both engines:
    Spark conv(hex,16,10); DuckDB CAST('0x'||hex AS BIGINT))."""
    return F.conv(F.substring(F.md5(F.col(token_col)), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document from distinct-token md5 hashes.

    Per bit b: vote = Σ_tokens (2·bit_b(h) − 1); signature bit b is 1 iff
    vote > 0. Implemented as token×bit explode → two hash aggregates —
    ~60·|tokens| intermediate rows, all integer ops, fully parallel.
    """
    toks = (
        exploded_tokens(df, id_col, text_col)
        .select(id_col, "token")
        .distinct()
        .withColumn("h", _token_hash60())
    )
    bits = toks.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        "h",
    ).withColumn(
        # F.shiftright only takes a literal shift → SQL expr for col-by-col
        "vote",
        F.expr("(shiftright(h, b) % 2) * 2 - 1"),
    )
    votes = bits.groupBy(id_col, "b").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    delta_min_id: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs at scale: signatures split into ``n_bands``
    bit-bands; candidates must share at least one exact band (equi join on
    (band_idx, band_bits) — sub-quadratic, like MinHash banding); refined
    with the true hamming distance via xor + bit_count. All integer ops →
    deterministic and oracle-checkable, unlike probabilistic LSH recall.

    Note the usual banding guarantee: a pair is a candidate iff some band
    matches exactly, which (pigeonhole) covers every pair with hamming <
    n_bands; beyond that recall is partial — the point of the sketch.
    """
    banded = simhash_banded(df, n_bands, id_col, text_col)
    b = banded
    if delta_min_id is not None:
        # incremental-ingest conjunct (the family contract): larger id in
        # the delta. Applied to the probe side only, and the filter on
        # the group key pushes through the b-side signature aggregate to
        # the scan — the probe shrinks to the delta while the build side
        # keeps the full corpus signatures.
        b = banded.filter(F.col(id_col) >= F.lit(delta_min_id))
    return _simhash_pair_tail(banded, b, n_bands, max_hamming, id_col)


def simhash_banded(
    df: DataFrame,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The PERSISTABLE SimHash band index: (id, simhash, band_idx,
    band_bits) rows — n·n_bands narrow integer rows per corpus (the
    SimHash counterpart of minhash_banded_sigs / lsh_banded_sigs).
    Signing is the O(corpus tokens · 60 bits) vote aggregate; persisting
    this relation through the S5 sink means a delta-ingest batch signs
    only its delta and band-joins against the loaded index
    (:func:`simhash_pairs_from_index`) — and because the hamming refine
    needs only the signatures CARRIED IN THIS RELATION, the corpus is
    never re-touched at all. All-integer ops → the persisted rows equal
    freshly-computed ones exactly."""
    bits_per_band = SIMHASH_BITS // n_bands
    return simhash(df, id_col, text_col).select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_idx"),
    ).withColumn(
        "band_bits",
        F.expr(
            f"(simhash >> (band_idx * {bits_per_band}))"
            f" % shiftleft(CAST(1 AS BIGINT), {bits_per_band})"
        ),
    )


def _simhash_pair_tail(
    banded_a: DataFrame,
    banded_b: DataFrame,
    n_bands: int,
    max_hamming: int,
    id_col: str,
) -> DataFrame:
    """Band equi-join + first-matching-band emission + exact hamming
    refine, shared by the self-join and persisted-index forms.

    First-matching-band emission instead of a pair-level distinct
    (round 12, the LSH `_first_match_pairs` rule): a near-identical
    pair collides in MANY bands (an equal signature collides in all of
    them), and each collision used to contribute a duplicate row to a
    pair-scale distinct exchange. The signature itself is the packed
    band vector, so "no earlier band matched" is pure bit arithmetic
    on sig_a XOR sig_b: fold each band's OR into its LSB, then require
    every band below the join's band_idx to be nonzero. Emitted set
    identical; one less corpus-pair exchange."""
    bits_per_band = SIMHASH_BITS // n_bands
    a = banded_a.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "band_idx", "band_bits",
    )
    b = banded_b.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "band_idx", "band_bits",
    )
    x = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    t = x
    for k in range(1, bits_per_band):
        t = t.bitwiseOR(F.shiftright(x, k))
    lsb_mask = sum(1 << (bits_per_band * j) for j in range(n_bands))
    t = t.bitwiseAND(F.lit(lsb_mask))
    prior_mask = F.get(
        F.array(
            *[
                F.lit((1 << (bits_per_band * j)) - 1).cast("long")
                for j in range(n_bands)
            ]
        ),
        F.col("band_idx"),
    )
    first_match = (
        F.bitwise_not(t).bitwiseAND(F.lit(lsb_mask)).bitwiseAND(prior_mask)
        == 0
    )
    cand = (
        a.join(b, ["band_idx", "band_bits"])
        .filter((F.col("id_a") < F.col("id_b")) & first_match)
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.expr("sig_a ^ sig_b")).cast("long")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_from_index(
    index_banded: DataFrame,
    delta_df: DataFrame,
    max_hamming: int = 8,
    n_bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Delta-ingest SimHash near-dup pairs against a persisted band
    index: band-join (index ∪ delta bands) × delta bands with
    first-matching-band emission, then the exact hamming refine on the
    signatures carried in the banded rows — the source corpus is never
    read. Emits exactly the pairs of the full self-join restricted to
    id_b ≥ the delta cutoff (set equality pinned in
    tests/test_operators.py), so it shares the
    ``dedup_simhash_incremental`` oracle."""
    delta_banded = simhash_banded(
        delta_df, n_bands, id_col, text_col
    ).localCheckpoint(eager=False)  # feeds both join sides below
    both = index_banded.unionByName(delta_banded)
    return _simhash_pair_tail(
        both, delta_banded, n_bands, max_hamming, id_col
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
    min_partitions: int | None = None,
    delta_min_id: int | None = None,
) -> DataFrame:
    """Shingle-containment near-dup pairs (Broder's containment measure):
    pairs where |S(A)∩S(B)| / min(|S(A)|, |S(B)|) ≥ threshold — the
    measure that catches a short document embedded inside a longer one,
    which symmetric Jaccard misses by construction (a 30-shingle doc
    inside a 300-shingle doc has J ≤ 0.1 but containment 1.0).

    Same scale shape as :func:`jaccard_pairs_bitmap`: shared-fingerprint
    candidate equi-join collapsed to distinct pairs, packed-set
    ``array_intersect`` verification, int/int rational threshold
    (deterministic cross-engine). ``max_doc_freq`` is the same df-ceiling
    scale control; note the Jaccard length filter does NOT apply here
    (containment pairs are precisely the length-skewed ones), so the df
    ceiling is the primary fan-out bound at scale.
    """
    sh = word_shingles(df, n, id_col, text_col, min_partitions=min_partitions)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        keep = freq.filter(F.col("df") <= max_doc_freq).select("shingle")
        sh = sh.join(keep, "shingle")
    # lazy cut points (the round-12 prefix-join convention): fp feeds
    # both candidate-join sides AND the sets aggregate, and sets
    # attaches to both pair sides — without the cuts the shingle build
    # replays once per consumer (zero exchange reuse in executed plans)
    fp = sh.select(
        F.col(id_col), F.xxhash64("shingle").alias("fp")
    ).localCheckpoint(eager=False)
    return _containment_tail(fp, threshold, id_col, delta_min_id)


def containment_postings(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
) -> DataFrame:
    """The PERSISTABLE containment index: (id, fp) shingle-fingerprint
    postings — what :func:`containment_pairs` derives from the text
    before any pair work. Persisting these through the S5 sink means a
    delta-ingest batch never re-shingles the corpus
    (:func:`containment_pairs_from_index`)."""
    sh = word_shingles(df, n, id_col, text_col, min_partitions=min_partitions)
    return sh.select(F.col(id_col), F.xxhash64("shingle").alias("fp"))


def containment_pairs_from_index(
    index_fp: DataFrame,
    delta_df: DataFrame,
    delta_min_id: int,
    threshold: float = 0.9,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
) -> DataFrame:
    """Delta-ingest containment pairs against the persisted posting
    index: only the delta is shingled; the candidate join and the
    packed-set verification read the base corpus's postings from the
    loaded index. Emits exactly the self-join form's pairs at the same
    cutoff (set equality pinned in tests/test_operators.py), sharing the
    ``dedup_containment_incremental`` oracle. (Uncapped form only — the
    registered containment tier runs df-uncapped; a capped index would
    need the winnow treatment of re-deriving df over index ∪ delta.)"""
    delta_fp = containment_postings(
        delta_df, n, id_col, text_col, min_partitions=min_partitions
    )
    fp = index_fp.unionByName(delta_fp).localCheckpoint(eager=False)
    return _containment_tail(fp, threshold, id_col, delta_min_id)


def _containment_tail(
    fp: DataFrame,
    threshold: float,
    id_col: str,
    delta_min_id: int | None,
) -> DataFrame:
    """Candidate equi-join + packed-set verification + containment
    threshold, shared by the self-join and persisted-index forms.
    ``fp`` arrives behind a lazy cut point (it feeds both candidate-join
    sides and the sets aggregate)."""
    sets = (
        fp.groupBy(id_col)
        .agg(F.sort_array(F.collect_set("fp")).alias("fps"))
        .localCheckpoint(eager=False)
    )
    a, b = fp.alias("a"), fp.alias("b")
    pair_cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if delta_min_id is not None:
        # incremental-ingest conjunct (the family contract): larger id in
        # the delta; references only b columns, so it pushes below the
        # fingerprint join — the candidate probe shrinks to the delta
        # batch while the shared fp/sets materializations (which the
        # full-corpus a side and the verification join need anyway) are
        # unchanged.
        pair_cond = pair_cond & (F.col(f"b.{id_col}") >= F.lit(delta_min_id))
    cand = (
        a.join(b, "fp")
        .filter(pair_cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("fps").alias("fps_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("fps").alias("fps_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("fps_a", "fps_b")).cast("long").alias("n_common"),
            F.size("fps_a").cast("long").alias("n_a"),
            F.size("fps_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "containment", F.col("n_common") / F.least("n_a", "n_b")
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment")
    )


def winnow_match(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
    max_doc_freq: int = 64,
    min_shared: int = 2,
    delta_min_id: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowed fingerprints
    (SIGMOD'03 winnowing; see text_analysis.winnow_fingerprints). Two
    documents sharing any w+k-1-token run share a fingerprint by the
    winnowing guarantee, so thresholding on ``min_shared`` fingerprints
    detects copied passages without any all-pairs work.

    Scale shape: the join key is the fingerprint value, so pair fan-out is
    Σ df² over fingerprints. md5-sampled k-grams are far more selective
    than raw shingles (measured max df 4 on the fixture corpus), and
    ``max_doc_freq`` drops boilerplate fingerprints (df > cap) before the
    join — the same deterministic ceiling `dedup_jaccard_capped` uses.
    ``overlap`` is shared / min(|fp_a|, |fp_b|) over the POST-cap sets
    (containment against the informative fingerprints), an int/int
    rational — cross-engine exact.

    Returns (doc_a, doc_b, n_shared, overlap).
    """
    from .text_analysis import winnow_fingerprints

    # Non-eager localCheckpoint cut points: the fingerprint relation
    # feeds its own df aggregate AND the join probe, and the df-capped
    # ``kept`` relation feeds three consumers (both pair-join sides +
    # sizes). Without cut points Catalyst inlines the whole
    # window-backed fingerprint subtree into every consumer — measured
    # round 12: EIGHT Window replays and zero exchange reuse in the
    # executed plan (AQE reuses no exchange here), ~2.6 s of the 2.66 s
    # query wall. With the cuts, each relation is computed once and
    # every consumer reads the shared RDD. Not free at build time: with
    # AQE on (session.py) the call itself runs every upstream
    # shuffle-map stage as a job; only the final stage waits for the
    # first action.
    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w).localCheckpoint(
        eager=False
    )
    return _winnow_tail(fp, max_doc_freq, min_shared, id_col, delta_min_id)


def winnow_pairs_from_index(
    index_fp: DataFrame,
    delta_df: DataFrame,
    delta_min_id: int,
    k: int = 4,
    w: int = 5,
    max_doc_freq: int = 64,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Delta-ingest winnow pairs against a PERSISTED fingerprint-posting
    index (id, fingerprint): the window-backed fingerprint pass — the
    winnow tier's dominant cost (round-12: eight Window replays before
    the cut points) — runs only on the delta; the base corpus's postings
    come from the loaded index. The df cap is then re-derived over
    index ∪ delta postings (a narrow count aggregate, the production
    "maintain df incrementally over stored postings" shape), because a
    fingerprint's document frequency can cross the cap WHEN the delta
    lands — capping against base-only df would diverge from the
    self-join semantics. Emits exactly the self-join form's pairs at the
    same cutoff (set equality pinned in tests/test_operators.py), so it
    shares the ``dedup_winnow_incremental`` oracle."""
    from .text_analysis import winnow_fingerprints

    delta_fp = winnow_fingerprints(
        delta_df, id_col, text_col, k=k, w=w
    )
    fp = index_fp.unionByName(delta_fp).localCheckpoint(eager=False)
    return _winnow_tail(fp, max_doc_freq, min_shared, id_col, delta_min_id)


def _winnow_tail(
    fp: DataFrame,
    max_doc_freq: int,
    min_shared: int,
    id_col: str,
    delta_min_id: int | None,
) -> DataFrame:
    """df-cap → pair join → min-shared → overlap, shared by the
    self-join and persisted-index winnow forms. ``fp`` arrives behind a
    lazy cut point (it feeds its own df aggregate AND the join probe)."""
    freq = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("fp_df"))
    kept = (
        fp.join(freq, "fingerprint")
        .filter(F.col("fp_df") <= max_doc_freq)
        .select(id_col, "fingerprint")
        .localCheckpoint(eager=False)
    )
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = kept.alias("a"), kept.alias("b")
    pair_cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if delta_min_id is not None:
        # incremental-ingest conjunct (the family contract): larger id in
        # the delta; pushes below the fingerprint join to the b side
        pair_cond = pair_cond & (F.col(f"b.{id_col}") >= F.lit(delta_min_id))
    pairs = (
        a.join(b, "fingerprint")
        .filter(pair_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (F.col("n_shared") / F.least(F.col("n_fp_a"), F.col("n_fp_b"))).alias(
                "overlap"
            ),
        )
    )


def _mh_hash_exprs_sql(n_hashes: int) -> list[str]:
    """The ``n_hashes`` seed-hash projections ``h0..h{n-1}`` of a
    ``shingle`` column as selectExpr strings (round 16): building them
    as Column objects cost ~240 py4j round trips — 0.48 s of the bench's
    timed plan-construction phase per minhash query (profiled; guide
    §7.3's driver-side work, here on the Python side of the driver).
    The SQL text parses to the same expressions as
    ``_hex16_ord_long(substring(md5(concat('s:', shingle)), 1, 16))``:
    hi/lo conv halves of the md5's first 16 hex chars, recombined
    order-preserving — values byte-identical (pinned by
    tests/test_operators.py::test_selectexpr_twins_equal_column_forms;
    oracle hash-exact)."""
    return [
        f"(cast(conv(substring(md5(concat('{s}:', shingle)), 1, 8), 16, 10)"
        f" as bigint) - 2147483648) * 4294967296"
        f" + cast(conv(substring(md5(concat('{s}:', shingle)), 9, 8), 16, 10)"
        f" as bigint) as h{s}"
        for s in range(n_hashes)
    ]


def _mh_fp_and_dict(
    sh: DataFrame,
    n_hashes: int,
    id_col: str,
    vocab_src: DataFrame | None = None,
    dict_width: int | None = None,
):
    """(occurrence fp stream, distinct-shingle hash dictionary) shared by
    :func:`minhash_match` and the persistable index builders.

    Dictionary-hash: md5 each DISTINCT shingle once (vocabulary-sized)
    and join the hash columns back to the occurrence stream, instead of
    re-hashing per (doc, shingle) occurrence inside the MIN aggregates —
    measured 4.1M → 15k md5 calls at sf0.1 (14 s → ~1 s for the
    signature stage). Round 12: the dictionary join (the one
    corpus-occurrence exchange) keys on the 8-byte ``xxhash64``
    fingerprint rather than the shingle STRING — ~4× lighter exchange
    payload, same shape; both sides derive the key in-row. This shares
    `jaccard_pairs_prefix`'s documented collision exposure (two distinct
    shingles colliding would merge their hash rows — p ≈ vocab²/2⁶⁵,
    negligible; string-path equality is regression-tested).

    ``vocab_src``: an AVAILABLE KNOB (no current caller passes it —
    ADVICE r15): a SEPARATE lineage of the same shingle relation for
    the dictionary's distinct, for callers whose ``sh`` is a
    materialized cut point (stats-less LogicalRDD) — deriving the vocab
    from it too makes the planner blind on BOTH dictionary-join sides —
    measured picking BuildLeft and broadcasting the corpus-sized
    OCCURRENCE stream. Passing the pre-checkpoint plan here keeps the
    vocabulary side's size estimate (and therefore the broadcast-right
    decision) intact, at the cost of one extra shingling pass for the
    vocabulary-sized distinct.

    ``dict_width``: partition count for the trap-fix repartition below —
    ``None`` = session shuffle width (corpus-sized callers), ``0`` =
    SKIP the repartition entirely. Round 16 (VERDICT r15 #1): the
    delta-ingest path (:func:`minhash_pairs_from_index`) sends a
    ~100-doc batch's tiny dictionary through here; a 32-way shuffle on
    it is pure fixed overhead (the 8-core bench run was FASTER — the
    single-task trap the repartition exists to break only bites when
    corpus-sized aggregate work sits downstream of the coalesced probe,
    which is never true of a delta-sized signature aggregate), measured
    0.79× round-over-round on dedup_minhash_incremental_indexed."""
    hashes = (
        (vocab_src if vocab_src is not None else sh)
        .select("shingle")
        .distinct()
        .selectExpr("xxhash64(shingle) as fp", *_mh_hash_exprs_sql(n_hashes))
        # Round 15 (guide §2.5 — the single-task probe-side trap,
        # root-caused via the SQL-metrics REST API): the planner
        # broadcasts the OCCURRENCE side of the dictionary join
        # (narrower byte estimate — Catalyst credits aggregates with no
        # row reduction, so the 17-long dictionary always estimates
        # wider), which leaves this post-aggregate relation as the
        # PROBE side; AQE coalesces the distinct's few-KB exchange to
        # ONE partition, and everything from the join to the next
        # exchange — including the corpus-sized signature aggregate's
        # partial pass — then runs on one task (measured 8-18 s
        # single-task stages vs ~2 s parallel). An explicit fp-keyed
        # repartition is AQE-exempt, restoring downstream parallelism
        # whichever side gets broadcast; at cluster scale, where both
        # sides shuffle-join on fp, this exchange is exactly the one
        # the join needs (reused), so nothing is wasted. dict_width=0
        # skips it (delta-sized callers, see docstring).
    )
    if dict_width != 0:
        hashes = hashes.repartition(
            dict_width or shuffle_width(sh.sparkSession), F.col("fp")
        )
    return (
        sh.select(F.col(id_col), F.xxhash64(F.col("shingle")).alias("fp")),
        hashes,
    )


def _hex16_ord_long(hex16: F.Column) -> F.Column:
    """16-lowercase-hex-char string → ORDER-PRESERVING signed int64
    (round 15): the two 32-bit halves parse separately (``conv`` +
    bigint cast — each < 2³², so no ANSI overflow is reachable) and
    recombine as ``(hi − 2³¹)·2³² + lo`` — a strictly monotone bijection
    from the unsigned-64 value (= lexicographic order of fixed-width
    lowercase hex) onto [−2⁶³, 2⁶³−1]. MIN over this column therefore
    selects exactly the row whose hex string MIN(string) would, but the
    aggregate buffer becomes a fixed-width long — whole-stage-codegen
    HashAggregate instead of the SortAggregate that immutable string
    buffers force (the measured majority of the signature stage)."""
    hi = F.conv(F.substring(hex16, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hex16, 9, 8), 16, 10).cast("long")
    return (hi - F.lit(2147483648)) * F.lit(4294967296) + lo


def _ord_long_hex16(v: F.Column) -> F.Column:
    """Exact inverse of :func:`_hex16_ord_long`: arithmetic shiftright
    is floor-division by 2³² (lo ≥ 0 keeps it exact), bitwiseAND takes
    v mod 2³² on the two's-complement representation; each half renders
    back to its zero-padded lowercase hex, byte-identical to the
    original md5 prefix."""
    hi = F.shiftright(v, 32) + F.lit(2147483648)
    lo = v.bitwiseAND(F.lit(4294967295))
    return F.concat(
        F.lpad(F.lower(F.hex(hi)), 8, "0"),
        F.lpad(F.lower(F.hex(lo)), 8, "0"),
    )


def _mh_band_exprs(n_hashes: int, n_bands: int) -> list[F.Column]:
    """Band collapse: r = n_hashes/n_bands signature columns md5-fold to
    one band value (the MMDS banding step, string-deterministic). The
    sig columns arrive as order-preserving int64 (round 15); each
    renders back to its exact 16-hex-char md5 prefix before the fold,
    so band_sig values — and every persisted band index — are
    byte-identical to the string-signature form."""
    r = n_hashes // n_bands
    return [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    _ord_long_hex16(F.col(f"sig{b * r + j}"))
                    for j in range(r)
                ],
            )
        )
        for b in range(n_bands)
    ]


def _mh_band_posexplode_sql(n_hashes: int, n_bands: int) -> str:
    """The :func:`_mh_band_exprs` band collapse as ONE selectExpr string
    (round 16): the Column form cost ~160 py4j round trips per call —
    0.23 s of plan-construction wall per minhash query (profiled). The
    text parses to the same md5-fold over each signature's exact
    16-hex-char rendering (`_ord_long_hex16`'s shiftright/AND halves),
    so band values — and every persisted band index — are unchanged."""
    r = n_hashes // n_bands

    def hex16(col: str) -> str:
        return (
            f"concat(lpad(lower(hex(shiftright({col}, 32) + 2147483648)), 8, '0'),"
            f" lpad(lower(hex({col} & 4294967295)), 8, '0'))"
        )

    bands = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(hex16(f"sig{b * r + j}") for j in range(r))
        + "))"
        for b in range(n_bands)
    )
    return f"posexplode(array({bands})) as (band, band_sig)"


def minhash_banded_sigs(
    df: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 8,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
    sh: DataFrame | None = None,
    dict_width: int | None = None,
) -> DataFrame:
    """The PERSISTABLE MinHash band index: (id, band, band_sig) rows —
    n·n_bands narrow rows per corpus (the MinHash counterpart of
    similarity.lsh_banded_sigs). Shingling + the 16-MIN signature
    aggregate is the expensive O(corpus tokens) pass; persisting this
    relation through the S5 sink means a delta-ingest batch never
    re-shingles or re-signs the corpus — it signs only the delta and
    band-joins against the loaded index
    (:func:`minhash_pairs_from_index`). Every hash is an md5 hex prefix,
    so the persisted bands equal freshly-computed ones byte-for-byte.

    ``sh``: optionally a pre-built (id, shingle) relation for ``df`` —
    callers that also build the packed-set side pass one materialized
    stream so the corpus is shingled once (wired on the delta-ingest
    path, :func:`minhash_pairs_from_index`, round 16). ``dict_width``:
    forwarded to :func:`_mh_fp_and_dict` (0 = skip the dictionary
    repartition — delta-sized inputs)."""
    if sh is None:
        sh = word_shingles(
            df, n, id_col, text_col, min_partitions=min_partitions
        )
    sh_fp, hashes = _mh_fp_and_dict(
        sh, n_hashes, id_col, dict_width=dict_width
    )
    sigs = (
        sh_fp.join(hashes, "fp")
        .groupBy(id_col)
        .agg(*[F.min(f"h{s}").alias(f"sig{s}") for s in range(n_hashes)])
    )
    return sigs.selectExpr(
        f"`{id_col}`", _mh_band_posexplode_sql(n_hashes, n_bands)
    )


def minhash_packed_sets(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """The PERSISTABLE exact-verification side of the MinHash index:
    per-doc sorted shingle-fp sets (id, fps array<bigint>) — what the
    candidate refine's ``array_intersect`` consumes. Persisted alongside
    :func:`minhash_banded_sigs` so the verification join also reads the
    corpus side from the index instead of re-shingling it.

    ``sh``: optionally a pre-built (id, shingle) relation for ``df``
    (the :func:`minhash_banded_sigs` sharing contract, round 15)."""
    if sh is None:
        sh = word_shingles(
            df, n, id_col, text_col, min_partitions=min_partitions
        )
    return (
        sh.select(F.col(id_col), F.xxhash64("shingle").alias("fp"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("fp")).alias("fps"))
    )


def _mh_verify_tail(
    cand: DataFrame, sets: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Exact-Jaccard verification on packed fp sets: one codegen'd
    ``array_intersect`` per candidate pair, int/int rational threshold
    (cross-engine exact). Shared by :func:`minhash_match` and
    :func:`minhash_pairs_from_index`."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("fps").alias("fps_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("fps").alias("fps_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("fps_a", "fps_b"))
            .cast("long")
            .alias("n_common"),
            F.size("fps_a").cast("long").alias("n_a"),
            F.size("fps_b").cast("long").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "jaccard")
    )


def minhash_pairs_from_index(
    index_bands: DataFrame,
    index_sets: DataFrame,
    delta_df: DataFrame,
    threshold: float = 0.3,
    n_hashes: int = 16,
    n_bands: int = 8,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
) -> DataFrame:
    """Delta-ingest MinHash near-dup pairs against the persisted band +
    set indexes: band-join (index ∪ delta bands) × delta bands, then the
    exact-Jaccard refine over (index ∪ delta) packed sets. Emits exactly
    the pairs of the full self-join restricted to id_b ≥ the delta cutoff
    (same oracle as ``dedup_minhash_incremental`` — set equality pinned
    in tests/test_operators.py). The corpus is never re-shingled or
    re-signed: both corpus-side relations come from the loaded index,
    so per-batch cost is O(delta tokens + collisions), not O(corpus).

    Round 16 (VERDICT r15 #1): the delta is SHINGLED ONCE — a lazy
    checkpoint of the (id, shingle) relation feeds both the band and the
    packed-set builders (previously each re-shingled the delta) — and
    the signature dictionary's trap-fix repartition is SKIPPED
    (``dict_width=0``): a ~100-doc batch's dictionary through a
    32-way shuffle was pure per-partition overhead (measured 0.79×
    round-over-round; the single-task trap needs corpus-sized work
    downstream, which the delta path never has). Values unchanged —
    same shingles, same hashes, same bands."""
    sh_delta = word_shingles(
        delta_df, n, id_col, text_col, min_partitions=min_partitions
    ).localCheckpoint(eager=False)
    delta_bands = minhash_banded_sigs(
        delta_df, n_hashes, n_bands, n, id_col, text_col,
        min_partitions=min_partitions, sh=sh_delta, dict_width=0,
    ).localCheckpoint(eager=False)  # feeds both join sides below
    delta_sets = minhash_packed_sets(
        delta_df, n, id_col, text_col, min_partitions=min_partitions,
        sh=sh_delta,
    )
    a = index_bands.unionByName(delta_bands).select(
        F.col(id_col).alias("id_a"), "band", "band_sig"
    )
    b = delta_bands.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = index_sets.unionByName(delta_sets)
    return _mh_verify_tail(cand, sets, threshold, id_col)


def minhash_pairs_full_from_index(
    index_bands: DataFrame,
    index_sets: DataFrame,
    threshold: float = 0.3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Full-corpus MinHash near-dup pairs served ENTIRELY from the
    persisted band + packed-set index — the steady-state read path of an
    appendable index (queries/similarity._load_appended_index): no
    document text is scanned, no signature is recomputed. The band
    self-join probes the loaded band relation and the exact-Jaccard
    refine reads the loaded packed fp sets; both hashes are md5/xxhash64
    prefixes, so results are byte-identical to :func:`minhash_match`
    over the live corpus (the dedup_minhash_relational oracle applies
    verbatim). At 100 TB this is the nightly-dedup serving shape: the
    O(corpus tokens) shingle + 16-MIN signature pass happened once at
    build (plus O(delta) per accepted batch), and each report pays only
    the band join + refine."""
    a = index_bands.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = index_bands.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _mh_verify_tail(cand, index_sets, threshold, id_col)


def minhash_match(
    df: DataFrame,
    n_hashes: int = 16,
    n_bands: int = 8,
    threshold: float = 0.3,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_partitions: int | None = None,
    delta_min_id: int | None = None,
) -> DataFrame:
    """Deterministic relational MinHash-LSH near-dup join (Broder 1997
    "On the resemblance and containment of documents"; banding per
    Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3 — public
    sources). Unlike the pyspark.ml MinHashLSH wrapper (seeded
    perm-hash, rows-only driver check), every hash here is an md5 hex
    prefix — bit-identical cross-engine — so the ENTIRE pipeline
    (signatures → bands → candidates → exact-Jaccard refine) is
    hash-exact against a SQL oracle.

    Signature construction is ONE aggregate pass: the per-seed min-hashes
    are ``n_hashes`` MIN() columns over the shingle stream (seed s's hash
    of a shingle = md5('s:' || shingle)[:16]) — no n_hashes× row blow-up,
    map-side partial mins. Bands of r = n_hashes/n_bands signature rows
    md5-collapse to one value; candidates equi-join on (band, band_sig);
    the exact Jaccard (shingle-stream intersection restricted to
    candidate pairs) filters to ``threshold`` — precision 1.0 by
    construction, recall 1-(1-J^r)^b.

    Returns (id_a, id_b, n_common, n_a, n_b, jaccard).
    """
    # Round 15 (guide §1.2 "don't compute things you throw away"): the
    # signature MINs and the packed verification sets now come out of
    # ONE aggregate over ONE occurrence⋈dictionary pass — r14 ran two
    # separately-checkpointed aggregates whose plans re-shingled the
    # corpus three times per action (twice inside the sigs cut — the
    # occurrence stream and the vocabulary distinct — plus once for the
    # sets cut). collect_set(fp) rides the same partial/final aggregate
    # the mins use, so the extra pass costs one array column in the
    # n-docs-sized checkpoint, not a corpus scan. (An intermediate
    # attempt checkpointed the 4.1M-row shingle STREAM instead:
    # measured SLOWER than the pass it saved — corpus-sized cut points
    # lose; n-docs-sized ones win — and it blinded the planner into
    # broadcasting the occurrence side of the dictionary join, see
    # _mh_fp_and_dict's vocab_src note.) Shingle passes per action:
    # 3 → 2; every value is unchanged.
    sh = word_shingles(df, n, id_col, text_col, min_partitions=min_partitions)
    sh_fp, hashes = _mh_fp_and_dict(sh, n_hashes, id_col)
    per_doc = (
        sh_fp.join(hashes, "fp")
        .groupBy(id_col)
        .agg(
            *[F.min(f"h{s}").alias(f"sig{s}") for s in range(n_hashes)],
            F.sort_array(F.collect_set("fp")).alias("fps"),
        )
        .localCheckpoint(eager=False)
    )
    sigs = per_doc.drop("fps")
    bands = sigs.selectExpr(
        f"`{id_col}`", _mh_band_posexplode_sql(n_hashes, n_bands)
    )
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    cand = a.join(b, ["band", "band_sig"]).filter(F.col("id_a") < F.col("id_b"))
    if delta_min_id is not None:
        # incremental-ingest mode (the jaccard_pairs_prefix contract):
        # with append-only ids, pairs an incremental dedup must evaluate
        # have their LARGER id in the delta. The single-side predicate
        # pushes below the band join to the b-side input, so the join is
        # full-corpus bands x DELTA bands — re-ingest cost proportional
        # to the delta, not the corpus. Results equal the full join
        # filtered to id_b >= the cutoff (oracle-checked by
        # dedup_minhash_incremental).
        cand = cand.filter(F.col("id_b") >= F.lit(delta_min_id))
    cand = cand.select("id_a", "id_b").distinct()
    # Exact-Jaccard verification on PACKED per-doc fingerprint sets (the
    # `jaccard_pairs_prefix` layout, round 12): attach each side's sorted
    # int64 set to the candidate pair and count the intersection with one
    # codegen'd ``array_intersect`` per pair — |cand| rows total. The
    # previous form re-fanned each pair out to its a-side shingle STREAM
    # and probed the b-side on (id_b, shingle): |cand|·avg|A| rows
    # (~7.2 M at sf0.1 for 142 k candidates) through two string-keyed
    # exchanges for the identical counts. (Still candidates-FIRST — the
    # Σ df² shingle self-join the banding exists to avoid stays avoided;
    # that alternative measured 47 s vs 3 s at sf0.1.) The sets relation
    # rides the per_doc checkpoint above (round 15) — n·avg|A|·8 B —
    # AQE broadcasts it locally; at scale it joins by id like every
    # other per-doc relation.
    sets = per_doc.select(id_col, "fps")
    return _mh_verify_tail(cand, sets, threshold, id_col)
