"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.9 L3–L6 and
the north-star extensions: language-ID, quality scoring, token counting,
fingerprinting, sentiment, TF-IDF).

All operators are pure DataFrame compositions (explode → broadcast join →
aggregate; no Python UDFs), so they scale as hash aggregates over the token
stream: ~#tokens rows shuffled, map-side partial aggregation, broadcast
lexicons. Constants below are the single source of truth for both the Spark
implementations and the DuckDB oracle VALUES relations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Minimal stopword list over the fixture vocabulary.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

#: Per-language marker words (synthetic language-ID profiles — the fixture
#: corpus is same-vocabulary word soup, so markers are arbitrary but fixed;
#: the operator shape — explode ⋈ broadcast profile → argmax — is the real
#: deliverable).
LANG_MARKERS = {
    "en": ("the", "fast", "key"),
    "fr": ("table", "merge", "row"),
    "es": ("data", "scan", "order"),
    "de": ("group", "filter", "window"),
    "zh": ("spark", "query", "small"),
}

#: Signed unit-polarity sentiment lexicon over the fixture vocabulary.
SENTIMENT_LEXICON = {
    "fast": 1,
    "small": 1,
    "merge": 1,
    "cache": 1,
    "index": 1,
    "slow": -1,
    "error": -1,
    "block": -1,
    "shift": -1,
    "disk": -1,
}


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenizer as a column expression (fixture text is
    single-space separated)."""
    return F.split(F.col(text_col), " ")


def exploded_tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, token, pos) token stream — the fan-out primitive every other
    operator aggregates over."""
    return df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document token counting + stopword/uniqueness ratios (exact
    rational doubles: int/int division is deterministic cross-engine)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long").alias(
            "n_stopwords"
        ),
        (
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / n_tok
        ).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)) / n_tok).alias("unique_ratio"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length saturation, uniqueness, and
    stopword-presence terms with fixed weights. Fixed expression order keeps
    the double arithmetic bit-identical across engines."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    len_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    uniq_term = F.size(F.array_distinct(toks)) / n_tok
    stop_term = F.least(
        F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))) / F.lit(5.0),
        F.lit(1.0),
    )
    return df.select(
        F.col(id_col),
        F.col("lang"),
        len_term.alias("len_term"),
        uniq_term.alias("uniq_term"),
        stop_term.alias("stop_term"),
        (
            len_term * 0.4 + uniq_term * 0.4 + stop_term * 0.2
        ).alias("quality"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text.
    md5 hex output is identical in Spark and DuckDB → strong oracle."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
    )


def _markers_df(spark) -> DataFrame:
    rows = [
        (lang, word) for lang, words in sorted(LANG_MARKERS.items()) for word in words
    ]
    return spark.createDataFrame(rows, "cand_lang string, marker string")


def markers_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')"
        for lang, words in sorted(LANG_MARKERS.items())
        for w in words
    )
    return f"(SELECT * FROM (VALUES {rows}) AS m(cand_lang, marker))"


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: count marker-word hits per candidate language,
    pick the argmax (ties → alphabetically first candidate; docs with zero
    hits across all languages → 'und')."""
    from pyspark.sql import Window

    spark = df.sparkSession
    hits = (
        exploded_tokens(df, id_col, text_col)
        .join(F.broadcast(_markers_df(spark)), F.col("token") == F.col("marker"))
        .groupBy(id_col, "cand_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("n_hits"), F.asc("cand_lang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col(id_col), F.col("cand_lang").alias("pred_lang"),
                F.col("n_hits").alias("marker_hits"))
    )
    return (
        df.select(id_col, "lang")
        .join(best, id_col, "left")
        .select(
            id_col,
            "lang",
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("marker_hits"), F.lit(0)).cast("long").alias(
                "marker_hits"
            ),
        )
    )


def _lexicon_df(spark) -> DataFrame:
    rows = sorted(SENTIMENT_LEXICON.items())
    return spark.createDataFrame(rows, "word string, polarity long")


def lexicon_values_sql() -> str:
    rows = ", ".join(f"('{w}', {p})" for w, p in sorted(SENTIMENT_LEXICON.items()))
    return f"(SELECT * FROM (VALUES {rows}) AS lx(word, polarity))"


def sentiment(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Lexicon sentiment: integer polarity sum + hit count per document
    (explode ⋈ broadcast lexicon → hash aggregate; all-integer arithmetic)."""
    toks = exploded_tokens(df, id_col, text_col)
    scored = toks.join(
        F.broadcast(_lexicon_df(df.sparkSession)), F.col("token") == F.col("word")
    )
    agg = scored.groupBy(id_col).agg(
        F.sum("polarity").cast("long").alias("polarity_sum"),
        F.count(F.lit(1)).alias("n_sentiment_tokens"),
    )
    return (
        df.select(id_col, "lang")
        .join(agg, id_col, "left")
        .select(
            id_col,
            "lang",
            F.coalesce(F.col("polarity_sum"), F.lit(0)).cast("long").alias(
                "polarity_sum"
            ),
            F.coalesce(F.col("n_sentiment_tokens"), F.lit(0)).cast("long").alias(
                "n_sentiment_tokens"
            ),
        )
    )


def tf_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Relational TF-IDF over the token stream: tf = in-doc count, df =
    #docs containing token, idf = ln(N/df) rounded to 8 decimals (the only
    transcendental — rounded so both engines agree bit-for-bit), tfidf =
    tf * idf. Returns (doc_id, token, tf, doc_freq, tfidf).

    One lineage: N (the corpus size) is a 1-row count aggregate cross-join-
    broadcast into the plan, NOT a driver-side ``df.count()`` — at 100 TB a
    separate count is a second full scan of the corpus before the real job
    even starts (round-1 verdict #5)."""
    n_docs_row = df.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    toks = exploded_tokens(df, id_col, text_col)
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        tf.join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs_row))
        .withColumn("idf", F.round(F.log(F.col("__n_docs") / F.col("doc_freq")), 8))
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .select(id_col, "token", F.col("tf").cast("long").alias("tf"),
                F.col("doc_freq").cast("long").alias("doc_freq"), "tfidf")
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", appendix A1.1 repetition filters — public paper):
    per document,

    - ``top_token_frac``   — occurrences of the most frequent token / n_tokens,
    - ``top_bigram_frac``  — occurrences of the most frequent word 2-gram
      / total 2-grams,
    - ``dup_trigram_frac`` — occurrences belonging to word 3-grams that
      appear more than once / total 3-grams.

    Round 15 (guide §2.4 "remove shuffles outright" + §4.2 "hand whole
    batches to vectorized native code"): the whole statistic is
    PER-DOCUMENT, so no cross-row exchange is needed — a ``mapInArrow``
    narrow map computes it with ZERO shuffles. Per batch:
    ``split_pattern`` tokenizes (byte-exact with ``F.split(text, ' ')``
    — literal-space pattern, empties kept), tokens dictionary-encode to
    int32 codes (vectorized C++ hashing — gram strings never exist),
    bigrams/trigrams become packed int64 code pairs (tokens cannot
    contain the separator, so code-pair equality IS gram-string
    equality; trigrams pair-encode first — both factors < 2³², the pack
    is collision-free, NOT a hash), and per-(doc, gram) counts fall out
    of one lexsort + run-length pass with
    ``maximum.reduceat``/``add.reduceat`` per-doc reductions. Counts are
    exact integers, so each fraction is the exact quotient of two gram
    counts (pinned against a pure-Python count by
    tests/test_operators.py::test_repetition_kernel_equals_agg). Docs
    with NULL text vanish; bigram/trigram fractions are NULL below 2/3
    tokens.
    """
    id_type = dict(df.dtypes)[id_col]
    out_schema = (
        f"`{id_col}` {id_type}, n_tokens long, top_token_frac double, "
        "top_bigram_frac double, dup_trigram_frac double"
    )

    def rep_batches(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        def doc_top_dup(d, k, n_docs):
            """Per-doc (top gram count, Σ counts of grams with count>1)
            over a (doc, gram-key) stream; ``d`` is nondecreasing.
            Returns dense (n_docs,) int64 arrays (0 where no grams)."""
            top = np.zeros(n_docs, dtype=np.int64)
            dup = np.zeros(n_docs, dtype=np.int64)
            if not len(d):
                return top, dup
            order = np.lexsort((k, d))
            ds, ks = d[order], k[order]
            new = np.empty(len(ds), dtype=bool)
            new[0] = True
            new[1:] = (ds[1:] != ds[:-1]) | (ks[1:] != ks[:-1])
            starts = np.nonzero(new)[0]
            counts = np.diff(np.append(starts, len(ds)))
            gdoc = ds[starts]  # doc per distinct gram, nondecreasing
            dnew = np.empty(len(gdoc), dtype=bool)
            dnew[0] = True
            dnew[1:] = gdoc[1:] != gdoc[:-1]
            dstarts = np.nonzero(dnew)[0]
            docs_present = gdoc[dstarts]
            top[docs_present] = np.maximum.reduceat(counts, dstarts)
            dup[docs_present] = np.add.reduceat(
                np.where(counts > 1, counts, 0), dstarts
            )
            return top, dup

        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1)
            if texts.null_count:
                valid = pc.is_valid(texts)
                ids = ids.filter(valid)
                texts = texts.filter(valid)
            n_docs = len(texts)
            if not n_docs:
                continue
            toks = pc.split_pattern(texts, " ")
            offs = toks.offsets.to_numpy()
            codes = (
                pc.dictionary_encode(toks.values)
                .indices.to_numpy()
                .astype(np.int64)
            )
            # alignment invariant made explicit (ADVICE r15): the
            # positional indexing of `codes` against `offs` assumes
            # offs[0] == 0 and len(values) == offs[-1] — true for fresh
            # split_pattern output, but a sliced list array would make
            # codes and doc_idx diverge and fail deep inside doc_top_dup
            # with an opaque lexsort error. Rebase defensively.
            if offs[0] != 0 or len(codes) != offs[-1]:
                codes = codes[offs[0] : offs[-1]]
                offs = offs - offs[0]
            doc_len = np.diff(offs).astype(np.int64)
            doc_idx = np.repeat(
                np.arange(n_docs, dtype=np.int64), doc_len
            )
            # unigrams: doc-scoped token codes
            top1, _ = doc_top_dup(doc_idx, codes, n_docs)
            # bigrams: adjacent same-doc code pairs, packed collision-free
            adj = doc_idx[1:] == doc_idx[:-1]
            kb = (codes[:-1] << 32) | codes[1:]
            top2, _ = doc_top_dup(doc_idx[:-1][adj], kb[adj], n_docs)
            # trigrams: pair-encode the bigram keys (dense codes < 2^32),
            # then pack with the third token's code
            if len(kb):
                _, pcode = np.unique(kb, return_inverse=True)
            else:
                pcode = np.zeros(0, dtype=np.int64)
            adj3 = adj[:-1] & (doc_idx[2:] == doc_idx[:-2])
            kt = (pcode[:-1].astype(np.int64) << 32) | codes[2:]
            _, dup3 = doc_top_dup(doc_idx[:-2][adj3], kt[adj3], n_docs)

            nt = doc_len.astype(np.float64)
            f1 = top1 / nt
            with np.errstate(divide="ignore", invalid="ignore"):
                f2 = top2 / (nt - 1.0)
                f3 = dup3 / (nt - 2.0)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(doc_len),
                    pa.array(f1),
                    pa.array(f2, mask=doc_len < 2),
                    pa.array(f3, mask=doc_len < 3),
                ],
                [
                    id_col,
                    "n_tokens",
                    "top_token_frac",
                    "top_bigram_frac",
                    "dup_trigram_frac",
                ],
            )

    return df.select(id_col, text_col).mapInArrow(rep_batches, out_schema)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting" —
    public paper; the MOSS scheme). Per document: hash every word k-gram,
    slide a window of ``w`` consecutive hashes, record the minimum of each
    window; the distinct selected hashes are the document's fingerprint
    set. Winnowing guarantees any shared run of ``w + k - 1`` tokens
    between two documents produces at least one shared fingerprint, at an
    expected density of 2/(w+1) — position-robust, unlike head/tail or
    mod-p sampling.

    Cross-engine-exact hashing: the "hash" is the first 16 hex chars of
    md5(k-gram) — fixed-width lowercase hex, so lexicographic MIN equals
    numeric MIN and Spark/DuckDB agree byte-for-byte (no engine-specific
    integer hash involved).

    Plan shape (round 16): the selection is per-document, so ONE
    zero-shuffle ``mapInArrow`` narrow map computes it: per doc, md5
    each k-gram (identical bytes to the in-plan ``md5(gram)`` — hashlib
    over the UTF-8 string), compare on the big-endian uint64 of the
    digest's first 8 bytes (numeric order == lexicographic order of the
    16-hex-char prefix), take sliding-window minima via a stride view,
    and emit the distinct winners as their exact 16-hex-char strings.
    Boundary rule: docs with fewer than ``w`` k-grams keep their single
    whole-doc window (the paper's rule); docs with no k-gram (< k
    tokens, empty or NULL text) emit no rows.

    Returns (id_col, fingerprint).
    """
    dtypes = dict(df.dtypes)
    out_schema = f"`{id_col}` {dtypes[id_col]}, fingerprint string"

    def fp_batches(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        md5 = hashlib.md5
        swv = np.lib.stride_tricks.sliding_window_view
        for rb in batches:
            ids = rb.column(0)
            texts = rb.column(1)
            if texts.null_count:
                valid = pc.is_valid(texts)
                ids = ids.filter(valid)
                texts = texts.filter(valid)
            n_docs = len(texts)
            if not n_docs:
                continue
            toks = pc.split_pattern(texts, " ")
            offs = toks.offsets.to_numpy()
            flat = toks.values.to_pylist()
            out_idx: list[int] = []
            out_fp: list[str] = []
            for di in range(n_docs):
                t = flat[offs[di] : offs[di + 1]]
                g = len(t) - k + 1
                if g < 1:
                    continue
                dig = b"".join(
                    md5(" ".join(t[i : i + k]).encode()).digest()[:8]
                    for i in range(g)
                )
                hs = np.frombuffer(dig, dtype=">u8")
                if g <= w:
                    mins = hs.min(keepdims=True)
                else:
                    mins = swv(hs, w).min(axis=1)
                for v in np.unique(mins):
                    out_idx.append(di)
                    out_fp.append(format(v, "016x"))
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(out_idx, type=pa.int32())),
                    pa.array(out_fp, type=pa.string()),
                ],
                [id_col, "fingerprint"],
            )

    return df.select(id_col, text_col).mapInArrow(fp_batches, out_schema)


def bigram_perplexity(
    df: DataFrame,
    ref_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al., LREC 2020
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data" — public paper — scores web documents by LM perplexity and
    filters on it; here the KenLM stand-in is an add-one-smoothed bigram
    model trained RELATIONALLY on the reference slice ``ref_filter``
    inside the same plan).

    Per document: avg negative log-likelihood per bigram under
    p(w|prev) = (c2(prev,w) + 1) / (c1(prev) + V), and its exp
    (perplexity). Determinism: each log term is rounded to 1e-8 and the
    per-doc sum runs as int64 on that grid (order-independent,
    cross-engine exact); only the final exp/round(6) touches libm.

    Scale shape: reference counts c2/c1 and the vocabulary size V are
    aggregates of the reference slice (computed once, no driver jobs; V is
    a 1-row broadcast). Scoring is the doc-bigram stream joined against
    c2 on (prev, w) — one uniform-keyed shuffle join sized by corpus
    tokens — then a doc-keyed aggregate.

    Returns (id_col, n_bigrams, avg_nll, ppl).
    """
    toks = tokens(text_col)
    n = F.size(toks)
    pair_structs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,w:string>>"))

    def bigram_stream(src: DataFrame) -> DataFrame:
        return src.select(
            F.col(id_col), F.explode(pair_structs).alias("p")
        ).select(id_col, F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))

    ref = df.filter(ref_filter)
    c2 = (
        bigram_stream(ref)
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    v_row = (
        ref.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("__v"))
    )

    scored = (
        bigram_stream(df)
        .join(c2, ["prev", "w"], "left")
        .join(c1, ["prev"], "left")
        .crossJoin(F.broadcast(v_row))
        .select(
            id_col,
            F.round(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("__v"))
                ),
                8,
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            -(F.sum(F.round(F.col("logp") * 1e8).cast("long")) / 1e8)
            / F.count(F.lit(1))
        ).alias("avg_nll"),
    ).select(
        id_col,
        "n_bigrams",
        "avg_nll",
        F.round(F.exp(F.col("avg_nll")), 6).alias("ppl"),
    )


BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_score_expr(terms, tf_of, dl: F.Column) -> F.Column:
    """The BM25 scoring expression shared by the full-scan and indexed
    paths — ONE definition so the two can never drift on literal values,
    parenthesization, or term order (all three decide the exact IEEE
    doubles both engines must fold). Expects the 1-row stats context
    (``n_docs``, ``total_tok``, ``df_i`` per term) already joined in;
    ``tf_of(i, t)`` returns the per-term term-frequency as a DOUBLE
    column; ``dl`` is the document token length. Left-associated term sum
    in call order; caller applies the final round(6)."""
    avglen = F.col("total_tok").cast("double") / F.col("n_docs")
    nd = dl.cast("double") / avglen
    denom_norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * nd
    )
    score = None
    for i, t in enumerate(terms):
        tf = tf_of(i, t)
        idf = F.round(
            F.log(
                F.lit(1.0)
                + (
                    (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
                    / (F.col(f"df_{i}") + F.lit(0.5))
                )
            ),
            9,
        )
        term = idf * (tf * F.lit(BM25_K1 + 1.0)) / (tf + denom_norm)
        score = term if score is None else score + term
    return score


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """BM25 retrieval scoring (Robertson & Zaragoza 2009, "The
    Probabilistic Relevance Framework: BM25 and Beyond" — public paper)
    for a literal query-term set, fully relational and hash-exact:

    - corpus statistics (N, total token count, per-term document
      frequency) are ONE 1-row aggregate broadcast back onto the scan —
      no driver collect, no second pass over text;
    - idf uses the always-positive Lucene form
      ``ln(1 + (N − df + 0.5)/(df + 0.5))`` rounded to 9 decimals (the
      repo's transcendental discipline — ln is not guaranteed
      correctly-rounded across engines, the 1e-9 grid is);
    - the tf normalization ``tf·(k1+1) / (tf + k1·(1−b + b·len/avglen))``
      is evaluated with PINNED literals and parenthesization
      (``1.2 * (0.25 + 0.75 * nd)``, ``avglen = CAST(total AS DOUBLE)/N``)
      so both engines fold the identical IEEE doubles; the final score is
      one left-associated sum over the terms in call order, rounded to 6.

    Scale shape: narrow per-row work (array size + per-term element
    counts over the token array) inside the scan, a 1-row broadcast, and
    TakeOrderedAndProject — the same zero-shuffle-until-topk shape as
    ivf_topk. At 100 TB this is the scoring pass of a distributed grep:
    the only exchange is the final k-row reduce."""
    tk = F.split(F.col(text_col), " ")
    per_term_df = [
        F.sum(
            F.when(F.array_contains(tk, F.lit(t)), 1).otherwise(0)
        ).alias(f"df_{i}")
        for i, t in enumerate(terms)
    ]
    ctx = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tk)).cast("long").alias("total_tok"),
        *per_term_df,
    )
    scored = df.crossJoin(F.broadcast(ctx))
    score = _bm25_score_expr(
        terms,
        lambda i, t: F.size(
            F.filter(tk, lambda x: x == F.lit(t))
        ).cast("double"),
        F.size(tk),
    )
    return (
        scored.select(
            F.col(id_col),
            *keep_cols,
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


#: term-hash bucket count of the persisted postings index — the partition
#: key a query's term filter prunes on (crc32 is computable engine-side
#: AND driver-side via zlib.crc32, so the query planner knows its buckets
#: without a Spark job). One constant for the write side
#: (:func:`inverted_postings`) and every read side: a read that hashed
#: terms into a different count would prune the wrong partitions.
BM25_BUCKETS = 16


def inverted_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The PERSISTABLE POSITIONAL inverted-index postings relation: one
    ``(term, id, tf, positions, bucket)`` row per distinct (document,
    term) — ONE artifact serving both ranked retrieval (BM25 reads
    term/tf and lets parquet column pruning skip the positions) and
    positional queries (phrase adjacency reads the sorted positions
    arrays; tf ≡ size(positions) by construction). ``bucket`` =
    crc32(term) % :data:`BM25_BUCKETS` is the artifact's partition
    column: a q-term search prunes the scan to ≤ q of the bucket
    partition directories before parquet row-group stats prune further on
    ``term`` — at 100 TB the postings scan is sized by the queried
    terms' document frequency, not the corpus."""
    toks = F.split(F.col(text_col), " ")
    return (
        df.select(
            F.col(id_col),
            F.posexplode(toks).alias("pos", "term"),
        )
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .withColumn(
            "bucket", F.pmod(F.crc32(F.col("term")), F.lit(BM25_BUCKETS))
        )
    )


def bm25_batch_from_index(
    postings: DataFrame,
    docstats: DataFrame,
    queries: dict,
    k: int = 10,
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """BATCH BM25 from the postings index: all queries served by ONE
    bucket/term-pruned postings scan (the `ivf_batch_topk` rule — never
    m per-query plans). ``queries`` maps query_id → term tuple; all
    tuples must share one arity so every query's score is the same
    left-associated m-term IEEE sum shape (term VALUES come from the
    joined per-position tf/df columns, so one expression serves every
    query — and the oracle can mirror it per query verbatim).

    Plan: pruned scan → broadcast join to the (query_id, term, pos)
    relation (q·m literal rows) → ONE (query_id, doc) pivot aggregate →
    broadcast per-query df row + 1-row corpus stats → per-query top-k in
    one window. The scan and the shuffle are paid once for the whole
    batch; each query adds only its candidate rows."""
    import zlib

    arities = {len(t) for t in queries.values()}
    if len(arities) != 1:
        raise ValueError(
            f"all queries must share one arity, got {sorted(arities)}"
        )
    m = arities.pop()
    all_terms = sorted({t for ts in queries.values() for t in ts})
    buckets = sorted(
        {zlib.crc32(t.encode()) % BM25_BUCKETS for t in all_terms}
    )
    hits = postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(all_terms)
    ).select(id_col, "term", "tf")
    qterms = (
        hits.sparkSession.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(qid).alias("query_id"),
                            F.lit(t).alias("term"),
                            F.lit(i).alias("pos"),
                        )
                        for qid, ts in sorted(queries.items())
                        for i, t in enumerate(ts)
                    ]
                )
            ).alias("q")
        )
        .select("q.query_id", "q.term", "q.pos")
    )
    matched = hits.join(F.broadcast(qterms), "term")
    tfs = matched.groupBy("query_id", id_col).agg(
        *[
            F.sum(F.when(F.col("pos") == i, F.col("tf"))).alias(f"tf_{i}")
            for i in range(m)
        ]
    )
    # per-(term) df once from the pruned scan, then per-(query, pos)
    dfs = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    qdf = (
        qterms.join(dfs, "term", "left")
        .groupBy("query_id")
        .agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("pos") == i, F.col("df"))),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"df_{i}")
                for i in range(m)
            ]
        )
    )
    n_agg = docstats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tok"),
    )
    scored = (
        tfs.join(F.broadcast(qdf), "query_id")
        .join(docstats.select(id_col, "dl", *keep_cols), id_col)
        .crossJoin(F.broadcast(n_agg))
    )
    score = _bm25_score_expr(
        tuple(range(m)),
        lambda i, t: F.coalesce(F.col(f"tf_{i}"), F.lit(0)).cast("double"),
        F.col("dl"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    return (
        scored.select(
            "query_id",
            F.col(id_col),
            *keep_cols,
            F.round(score, 6).alias("bm25"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def phrase_hits_from_index(
    postings: DataFrame,
    phrases: tuple[tuple[str, str], ...],
    id_col: str = "doc_id",
) -> DataFrame:
    """Two-word phrase search served from the positional postings index:
    for each (w1, w2) phrase, the adjacency count per document is
    ``|{p : p ∈ positions(w1), p+1 ∈ positions(w2)}|`` — one
    ``array_intersect`` over the two (already sorted, duplicate-free)
    position arrays, no token re-scan, no position explode. The postings
    scan prunes to the phrase words' buckets then terms (the
    inverted-index contract); the only exchange is the doc-keyed join of
    the two word lists, sized by the words' document frequency. Emits
    exactly the full-scan ``text_phrase_search`` rows: (phrase, id,
    n_hits) with n_hits ≥ 1."""
    import zlib

    words = sorted({w for p in phrases for w in p})
    buckets = sorted({zlib.crc32(w.encode()) % BM25_BUCKETS for w in words})
    hits = postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(words)
    ).select(id_col, "term", "positions")
    phrase_rows = F.array(
        *[
            F.struct(F.lit(a).alias("w1"), F.lit(b).alias("w2"))
            for a, b in phrases
        ]
    )
    pr = (
        hits.sparkSession.range(1)
        .select(F.explode(phrase_rows).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    p1 = hits.select(
        F.col(id_col),
        F.col("term").alias("t1"),
        F.col("positions").alias("pos1"),
    )
    p2 = hits.select(
        F.col(id_col).alias("d2"),
        F.col("term").alias("t2"),
        F.col("positions").alias("pos2"),
    )
    n_hits = F.size(
        F.array_intersect(
            F.transform(F.col("pos1"), lambda x: x + F.lit(1)),
            F.col("pos2"),
        )
    ).cast("long")
    return (
        p1.join(F.broadcast(pr), F.col("t1") == F.col("w1"))
        .join(
            p2,
            (F.col("d2") == F.col(id_col)) & (F.col("t2") == F.col("w2")),
        )
        .select(
            F.concat_ws(" ", "w1", "w2").alias("phrase"),
            id_col,
            n_hits.alias("n_hits"),
        )
        .filter(F.col("n_hits") >= 1)
    )


def bm25_docstats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """The PERSISTABLE per-document side of the text index: (id, dl,
    keep_cols) — document token length for the BM25 normalization plus
    the projection columns a search result carries. Corpus statistics
    (N, total tokens, per-term df) are NOT persisted: they are one tiny
    aggregate over this relation / the postings at search time, so an
    APPEND of new documents needs no stats invalidation."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("dl"),
        *keep_cols,
    )


def bm25_topk_from_index(
    postings: DataFrame,
    docstats: DataFrame,
    terms: tuple[str, ...],
    k: int = 10,
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """BM25 top-k served from the persisted inverted index — the
    steady-state read path of a text-retrieval pipeline. Scoring math is
    :func:`_bm25_score_expr`, the SAME expression as the full-scan
    :func:`bm25_topk`, with tf/df/dl read from the index instead of
    recomputed from text; the value grid is therefore identical and an
    exhaustive-scan oracle restricted to matching documents applies
    verbatim.

    Retrieval semantics: candidates are documents containing ≥1 query
    term (the inverted-index contract — a document matching no term has
    score 0 and is never materialized). Scale shape: partition-pruned
    postings scan (``bucket`` ∈ the q term buckets, then ``term``
    row-group pruning) → per-doc conditional-agg pivot to q tf columns
    (ONE shuffle sized by matching postings) → broadcast 1-row stats ctx
    → join doc lengths → TakeOrderedAndProject. The only corpus-sized
    relation touched is the docstats join, and that join's probe side is
    already candidate-sized.
    """
    import zlib

    buckets = sorted({zlib.crc32(t.encode()) % BM25_BUCKETS for t in terms})
    hits = postings.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(list(terms))
    )
    # per-candidate tf pivot: q narrow columns, map-side partial agg
    tfs = hits.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("term") == F.lit(t), F.col("tf"))
            ).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ]
    )
    # 1-row stats context: N/total tokens from docstats, df from postings
    # (count of docs holding each term — the pruned scan again)
    df_agg = hits.agg(
        *[
            F.sum(
                F.when(F.col("term") == F.lit(t), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias(f"df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    n_agg = docstats.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tok"),
    )
    ctx = n_agg.crossJoin(df_agg)
    scored = (
        tfs.join(docstats.select(id_col, "dl", *keep_cols), id_col)
        .crossJoin(F.broadcast(ctx))
    )
    score = _bm25_score_expr(
        terms,
        lambda i, t: F.coalesce(F.col(f"tf_{i}"), F.lit(0)).cast("double"),
        F.col("dl"),
    )
    return (
        scored.select(
            F.col(id_col), *keep_cols, F.round(score, 6).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )
