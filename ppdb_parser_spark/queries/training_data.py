"""Training-data governance family: benchmark decontamination,
deterministic mixture sampling, train/val/test splitting, and a
Gopher-style quality-rule suite (SURVEY.md §2.9 north-star scope — the
corpus-build steps that sit AROUND dedup in a real LLM data pipeline).

Every query here is hash-oracle-able because randomness is replaced by
content hashing: membership decisions are ``md5(salt || doc_id)`` bucket
comparisons, which both engines compute byte-identically (lowercase hex,
lexicographic compare). That is also the 100 TB-correct design — a
hash-bucket split is reproducible across reruns, cluster sizes, and
partitionings, unlike ``rand()``-based sampling, and it shuffles nothing:
the sample/split decision is a narrow per-row map evaluated at the scan.

Quality rules follow the Gopher/MassiveText shape (Rae et al. 2021,
arXiv:2112.11446 §A1.1): doc-length bounds, mean-word-length band,
stopword floor, repetition ceiling. Thresholds are cross-multiplied to
integer comparisons (``sum_len * 10 >= 45 * n`` instead of a float mean)
so both engines decide each rule on exact integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as DD
from ..operators.text_analysis import STOPWORDS
from ..sources.tables import load_table
from .registry import query

_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


def _bucket(salt: str) -> F.Column:
    """First 16 bits of md5(salt || doc_id) as a 4-char lowercase hex
    string — the deterministic substitute for rand() everywhere in this
    module. Mirrored token-for-token in the oracles."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))), 1, 4
    )


_BUCKET_SQL = "substring(md5('{salt}' || CAST({col} AS VARCHAR)), 1, 4)"


def _bucket_sql(salt: str, col: str = "doc_id") -> str:
    """The deterministic md5 bucket as oracle SQL, parameterized on the
    id COLUMN — callers bucketing a non-document relation pass its id
    column name instead of string-replacing the rendered SQL (which
    silently breaks if the template's spelling ever changes —
    ADVICE r11)."""
    return _BUCKET_SQL.format(salt=salt, col=col)


def gopher_pass_all(text_col: str = "text") -> F.Column:
    """Conjunction of the four Gopher-style quality rules (the per-rule
    breakdown lives in text_quality_rules below) — integer-exact, so the
    same predicate is expressible token-for-token in the SQL oracles."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    sl = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return (n >= 25) & (sl * 10 >= 45 * n) & (n_stop * 20 >= n) & (d * 3 >= n)


_GOPHER_PASS_SQL = f"""(
      len(str_split(text, ' ')) >= 25
      AND list_aggregate(list_transform(str_split(text, ' '),
                                        x -> length(x)), 'sum') * 10
            >= 45 * len(str_split(text, ' '))
      AND len(list_filter(str_split(text, ' '),
                          x -> x IN ({_STOP_SQL}))) * 20
            >= len(str_split(text, ' '))
      AND len(list_distinct(str_split(text, ' '))) * 3
            >= len(str_split(text, ' '))
)"""


# --------------------------------------------------------------------------
# Benchmark decontamination: hold out an eval slice (md5 bucket < ~5%),
# flag every training document sharing ANY 8-gram with it. The eval
# shingle set is tiny relative to the corpus → broadcast left-semi join;
# at 100 TB the contamination probe stays one broadcast + one narrow
# scan-side explode, no shuffle of the corpus.
# --------------------------------------------------------------------------
_EVAL_MAX = "0ccc"  # 0x0ccc / 0x10000 ≈ 4.99 % of doc_ids
_NGRAM = 8

_DECONTAMINATE_ORACLE = f"""
    WITH flagged AS (
      SELECT doc_id, lang, str_split(text, ' ') AS t,
             {_bucket_sql('eval:')} < '{_EVAL_MAX}' AS is_eval
      FROM documents
    ),
    sh AS (
      SELECT doc_id, is_eval,
             unnest(list_distinct([array_to_string(t[i:i+{_NGRAM}-1], ' ')
                                   for i in range(1, len(t)-{_NGRAM}+2)])) AS g
      FROM flagged WHERE len(t) >= {_NGRAM}
    ),
    ev AS (SELECT DISTINCT g FROM sh WHERE is_eval),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (g) WHERE NOT s.is_eval
    )
    SELECT f.lang,
           COUNT(*) AS n_train,
           CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated,
           CAST(COUNT(*) - COUNT(c.doc_id) AS BIGINT) AS n_clean
    FROM flagged f LEFT JOIN contaminated c USING (doc_id)
    WHERE NOT f.is_eval
    GROUP BY f.lang
"""


@query(
    "pipeline_decontaminate",
    oracle=_DECONTAMINATE_ORACLE,
    tags=("J4", "J3", "A1", "X1"),
    bench=True,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_eval = _bucket("eval:") < _EVAL_MAX
    # (doc_id, shingle), per-doc distinct; min_partitions parallelizes the
    # shingling map over the single-file local fixture scan
    sh = DD.word_shingles(
        docs, n=_NGRAM, min_partitions=spark.sparkContext.defaultParallelism
    )
    sh_flagged = sh.withColumn("is_eval", is_eval)
    eval_shingles = (
        sh_flagged.filter("is_eval").select("shingle").distinct()
    )
    contaminated = (
        sh_flagged.filter(~F.col("is_eval"))
        .join(F.broadcast(eval_shingles), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = docs.filter(~is_eval).select("doc_id", "lang")
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("hit").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("hit")).alias("n_clean"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic stratified mixture sampling: per-language keep rates
# (the "data mixture" knob of a corpus build) applied as hash-bucket
# thresholds. No shuffle: the decision is a per-row map; the only
# exchange is the final per-language report aggregate.
# --------------------------------------------------------------------------
_MIX_RATES = {"en": "8000", "de": "c000"}  # 50 %, 75 %; default 25 %
_MIX_DEFAULT = "4000"

_MIXTURE_ORACLE = f"""
    WITH sampled AS (
      SELECT lang, n_chars FROM documents
      WHERE {_bucket_sql('mix:')} <
            CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN 'c000'
                      ELSE '4000' END
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM sampled GROUP BY lang
"""


@query("pipeline_mixture_sample", oracle=_MIXTURE_ORACLE, tags=("F4", "F3", "A1"))
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.when(F.col("lang") == "en", F.lit(_MIX_RATES["en"])).when(
        F.col("lang") == "de", F.lit(_MIX_RATES["de"])
    ).otherwise(F.lit(_MIX_DEFAULT))
    return (
        docs.filter(_bucket("mix:") < threshold)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("chars_sampled"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split (80/10/10 by hash bucket) with a
# per-split integrity report. Hash-bucket splits survive re-partitioning
# and incremental corpus growth (a doc's split never changes when other
# docs arrive) — the property rand()-splits lack.
# --------------------------------------------------------------------------
_SPLIT_ORACLE = f"""
    WITH b AS (
      SELECT lang, n_chars, {_bucket_sql('split:')} AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 'cccc' THEN 'train'
                WHEN bucket < 'e666' THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY 1
"""


@query(
    "pipeline_train_split",
    oracle=_SPLIT_ORACLE,
    tags=("F4", "F3", "A2", "A1"),
)
def pipeline_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = _bucket("split:")
    split = (
        F.when(bucket < "cccc", "train")
        .when(bucket < "e666", "val")
        .otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style quality-rule suite: four integer-exact per-document rules,
# reported as per-language pass counts. Entirely narrow HOF math over the
# token array — at scale this is a map-only stage fused into the scan.
#   r_len:     ≥ 25 tokens
#   r_wordlen: mean word length ≥ 4.5  (sum_len * 10 ≥ 45 * n)
#   r_stop:    ≥ 5 % stopwords         (n_stop * 20 ≥ n)
#   r_rep:     distinct/total ≥ 1/3    (d * 3 ≥ n)
# --------------------------------------------------------------------------
_QUALITY_RULES_ORACLE = f"""
    WITH m AS (
      SELECT lang,
             len(str_split(text, ' ')) AS n,
             len(list_distinct(str_split(text, ' '))) AS d,
             list_aggregate(list_transform(str_split(text, ' '),
                                           x -> length(x)), 'sum') AS sl,
             len(list_filter(str_split(text, ' '),
                             x -> x IN ({_STOP_SQL}))) AS n_stop
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (n >= 25) AS BIGINT) AS pass_len,
           CAST(COUNT(*) FILTER (sl * 10 >= 45 * n) AS BIGINT) AS pass_wordlen,
           CAST(COUNT(*) FILTER (n_stop * 20 >= n) AS BIGINT) AS pass_stop,
           CAST(COUNT(*) FILTER (d * 3 >= n) AS BIGINT) AS pass_rep,
           CAST(COUNT(*) FILTER (n >= 25 AND sl * 10 >= 45 * n
                                 AND n_stop * 20 >= n AND d * 3 >= n)
                AS BIGINT) AS pass_all
    FROM m GROUP BY lang
"""


@query(
    "text_quality_rules",
    oracle=_QUALITY_RULES_ORACLE,
    tags=("X4", "A6", "A1"),
)
def text_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    sl = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    m = docs.select(
        "lang",
        (n >= 25).alias("r_len"),
        (sl * 10 >= 45 * n).alias("r_wordlen"),
        (n_stop * 20 >= n).alias("r_stop"),
        (d * 3 >= n).alias("r_rep"),
    )

    def _passes(col: str) -> F.Column:
        return F.count_if(F.col(col)).cast("long")

    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _passes("r_len").alias("pass_len"),
        _passes("r_wordlen").alias("pass_wordlen"),
        _passes("r_stop").alias("pass_stop"),
        _passes("r_rep").alias("pass_rep"),
        F.count_if(
            F.col("r_len") & F.col("r_wordlen") & F.col("r_stop") & F.col("r_rep")
        )
        .cast("long")
        .alias("pass_all"),
    )


# --------------------------------------------------------------------------
# The composed governance lineage (round-4 verdict, What's missing #6):
# quality → decontaminate → mixture → dedup (exact + near-dup) → split,
# as ONE Catalyst plan — the exact chain a real corpus build runs, with
# every stage reusing the operator its standalone query already verifies.
# Stage order is the scale order: narrow filters (quality, eval split,
# mixture) run at the scan before anything shuffles; the broadcast 8-gram
# decontamination probe never shuffles the corpus; the only fat exchanges
# belong to the dedup stages, which therefore see the fully-reduced
# survivor set.
# --------------------------------------------------------------------------
_CURATION_V2_ORACLE = f"""
    WITH q AS (
      SELECT doc_id, lang, text FROM documents WHERE {_GOPHER_PASS_SQL}
    ),
    fl AS (
      SELECT *, {_bucket_sql('eval:')} < '{_EVAL_MAX}' AS is_eval
      FROM q
    ),
    g8 AS (
      SELECT doc_id, is_eval,
             unnest(list_distinct([array_to_string(t[i:i+{_NGRAM}-1], ' ')
                                   for i in range(1, len(t)-{_NGRAM}+2)])) AS g
      FROM (SELECT doc_id, is_eval, str_split(text, ' ') AS t FROM fl)
      WHERE len(t) >= {_NGRAM}
    ),
    ev AS (SELECT DISTINCT g FROM g8 WHERE is_eval),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM g8 s JOIN ev USING (g) WHERE NOT s.is_eval
    ),
    train AS (
      SELECT f.doc_id, f.lang, f.text
      FROM fl f LEFT JOIN contaminated c USING (doc_id)
      WHERE NOT f.is_eval AND c.doc_id IS NULL
    ),
    mixed AS (
      SELECT * FROM train
      WHERE {_bucket_sql('mix:')} <
            CASE lang WHEN 'en' THEN '{_MIX_RATES["en"]}'
                      WHEN 'de' THEN '{_MIX_RATES["de"]}'
                      ELSE '{_MIX_DEFAULT}' END
    ),
    ex AS (
      SELECT doc_id, lang, text FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM mixed
      ) WHERE rn = 1
    ),
    pos_toks AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS token,
             generate_subscripts(str_split(text, ' '), 1) AS pos
      FROM ex
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             token || ' ' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos)
               AS shingle
      FROM pos_toks
    ),
    shn AS (SELECT doc_id, shingle FROM sh WHERE shingle IS NOT NULL
            AND len(str_split(shingle, ' ')) = 2),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shn GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM shn a JOIN shn b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    drops AS (
      SELECT DISTINCT id_b
      FROM inter
      JOIN sizes sa ON inter.id_a = sa.doc_id
      JOIN sizes sb ON inter.id_b = sb.doc_id
      WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= 0.5
    ),
    cur AS (
      SELECT e.* FROM ex e LEFT JOIN drops d ON e.doc_id = d.id_b
      WHERE d.id_b IS NULL
    )
    SELECT CASE WHEN {_bucket_sql('split:')} < 'cccc' THEN 'train'
                WHEN {_bucket_sql('split:')} < 'e666' THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens
    FROM cur GROUP BY 1, 2
"""


@query(
    "pipeline_corpus_curation_v2",
    oracle=_CURATION_V2_ORACLE,
    tags=("L6", "O5", "O6", "J4", "J5", "F4", "W2", "A1"),
    bench=True,
)
def pipeline_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return govern_documents(
        load_table(spark, sf_dir, "documents"),
        min_partitions=spark.sparkContext.defaultParallelism,
    )


def govern_documents(
    docs: DataFrame, min_partitions: int | None = None
) -> DataFrame:
    """The composed governance lineage on an arbitrary documents frame
    (doc_id, lang, text) — the query above binds it to the fixture table;
    scale smokes feed key-shifted unions through the identical plan."""
    from pyspark.sql import Window

    q = docs.filter(gopher_pass_all()).select("doc_id", "lang", "text")

    is_eval = _bucket("eval:") < _EVAL_MAX
    sh = DD.word_shingles(q, n=_NGRAM, min_partitions=min_partitions)
    eval_shingles = sh.filter(is_eval).select("shingle").distinct()
    contaminated = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_shingles), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = q.filter(~is_eval).join(contaminated, "doc_id", "left_anti")

    mix_threshold = (
        F.when(F.col("lang") == "en", F.lit(_MIX_RATES["en"]))
        .when(F.col("lang") == "de", F.lit(_MIX_RATES["de"]))
        .otherwise(F.lit(_MIX_DEFAULT))
    )
    mixed = train.filter(_bucket("mix:") < mix_threshold)

    exact_survivors = (
        mixed.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    pairs = DD.jaccard_pairs_prefix(exact_survivors, threshold=0.5, n=2)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    curated = exact_survivors.join(drops, "doc_id", "left_anti")

    split_bucket = _bucket("split:")
    split = (
        F.when(split_bucket < "cccc", "train")
        .when(split_bucket < "e666", "val")
        .otherwise("test")
    )
    return (
        curated.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("sum_tokens"),
        )
    )


# --------------------------------------------------------------------------
# The FULL-CORPUS marquee pipeline (round-7, VERDICT r6 item 5): every
# screen/dedup/governance tier composed into ONE lineage, in the order a
# real 100 TB corpus build runs them —
#
#   winnow screen  → cheap fingerprint candidate generation restricts the
#                    expensive exact tier to docs that share >= 2 winnowed
#                    fingerprints (the unique bulk of the corpus never
#                    enters a pair join);
#   prefix-exact   → AllPairs/PPJoin exact 2-gram Jaccard >= 0.5, run ONLY
#   Jaccard          on the screened subset;
#   components     → connected components over the dup edges;
#   election         the component-minimum doc survives (canonical copy),
#                    every other member is dropped — transitive-chain
#                    semantics the per-pair dominance rule can't give;
#   SemDeDup       → cell-bounded semantic near-dup drop over the
#                    survivors' embeddings (seeds from the UNRESTRICTED
#                    embedding relation so cell geometry is stable);
#   quality gate   → Gopher-style rule filter;
#   decontaminate  → eval-slice 8-gram broadcast anti-join;
#   mixture        → per-language hash-rate downsampling;
#   shard export   → deterministic md5 shuffle-shard manifest: per shard,
#                    doc count, token sum, and an md5 over the ordered
#                    doc-id manifest — pinning MEMBERSHIP AND ORDER of
#                    every shard in one scalar the oracle can recompute.
#
# Scale shape: the only pair joins run on winnow-screened docs (stage 2)
# and within semantic cells (stage 5); every governance stage is a filter,
# a broadcast semi/anti join, or a hash aggregate. The DuckDB oracle
# recomputes all eight stages (recursive CTE for the components), so the
# entire composition is value-hash-gated end to end.
# --------------------------------------------------------------------------
_V3_SEM_CELLS = 8
_V3_SEM_T = 0.35

_CURATION_V3_ORACLE = f"""
    WITH RECURSIVE
    ex0 AS MATERIALIZED (
      SELECT doc_id, lang, text FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    {{winnow_fp_sql}},
    winnow_m AS MATERIALIZED (SELECT doc_id, fingerprint FROM winnow_fp),
    wfreq AS (
      SELECT fingerprint, COUNT(*) AS fp_df FROM winnow_m GROUP BY 1
    ),
    wkept AS MATERIALIZED (
      SELECT w.doc_id, w.fingerprint
      FROM winnow_m w JOIN wfreq USING (fingerprint)
      WHERE fp_df <= 64
    ),
    wpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM wkept a JOIN wkept b
        ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    screened AS (
      SELECT id_a AS doc_id FROM wpairs UNION SELECT id_b FROM wpairs
    ),
    spt AS (
      SELECT d.doc_id,
             unnest(str_split(d.text, ' ')) AS token,
             generate_subscripts(str_split(d.text, ' '), 1) AS pos
      FROM ex0 d JOIN screened USING (doc_id)
    ),
    ssh AS (
      SELECT DISTINCT doc_id,
             token || ' ' || lead(token) OVER (PARTITION BY doc_id
                                               ORDER BY pos) AS shingle
      FROM spt
    ),
    sshn AS MATERIALIZED (SELECT doc_id, shingle FROM ssh WHERE shingle IS NOT NULL
             AND len(str_split(shingle, ' ')) = 2),
    ssz AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n_sh FROM sshn GROUP BY 1),
    sint AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sshn a JOIN sshn b ON a.shingle = b.shingle
                             AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT id_a, id_b FROM sint
      JOIN ssz sa ON sint.id_a = sa.doc_id
      JOIN ssz sb ON sint.id_b = sb.doc_id
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.5
    ),
    bidir AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM edges
              UNION SELECT id_b, id_a FROM edges),
    reach(a, b) AS (
      SELECT a, b FROM bidir
      UNION
      SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
    ),
    labeled AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component
      FROM reach GROUP BY a
    ),
    drop1 AS (SELECT node AS doc_id FROM labeled WHERE node <> component),
    surv1 AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text
      FROM ex0 d LEFT JOIN drop1 USING (doc_id)
      WHERE drop1.doc_id IS NULL
    ),
    qeflat AS MATERIALIZED (
      -- quantize-once element grid mirroring Spark's _sem_quant (see
      -- _SEMANTIC_ORACLE in queries/dedup.py for the rationale)
      SELECT vec_id,
             CAST(round(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT) AS qx,
             i
      FROM (SELECT vec_id, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS i FROM embeddings)
    ),
    semseed AS MATERIALIZED (
      SELECT vec_id AS cell_id, qx, i FROM qeflat
      WHERE vec_id < {_V3_SEM_CELLS}
    ),
    semv AS MATERIALIZED (
      SELECT e.vec_id, e.qx, e.i
      FROM qeflat e JOIN surv1 s ON e.vec_id = s.doc_id
    ),
    sem_norms AS MATERIALIZED (
      SELECT vec_id,
             round(sqrt(CAST(CAST(SUM(qx * qx) AS BIGINT) AS DOUBLE))
                   / 10000000.0, 6) AS nrm
      FROM qeflat GROUP BY vec_id
    ),
    sem_cell_dots AS (
      SELECT v.vec_id, s.cell_id, CAST(SUM(v.qx * s.qx) AS BIGINT) AS dg
      FROM semv v JOIN semseed s ON v.i = s.i
      GROUP BY 1, 2
    ),
    sem_scores AS (
      SELECT d.vec_id, d.cell_id,
             round((CAST(d.dg AS DOUBLE) / 100000000000000.0)
                   / (n.nrm * sn.nrm), 6) AS cos
      FROM sem_cell_dots d
      JOIN sem_norms n ON d.vec_id = n.vec_id
      JOIN sem_norms sn ON sn.vec_id = d.cell_id
    ),
    sem_assign AS MATERIALIZED (
      SELECT vec_id, CAST(cell_id AS INTEGER) AS cell_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cell_id) AS rk
        FROM sem_scores
      ) WHERE rk = 1
    ),
    sem_dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM(va.qx * vb.qx) AS BIGINT) AS dotg
      FROM sem_assign a
      JOIN sem_assign b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      JOIN semv va ON va.vec_id = a.vec_id
      JOIN semv vb ON vb.vec_id = b.vec_id AND vb.i = va.i
      GROUP BY 1, 2
    ),
    drop2 AS (
      SELECT DISTINCT p.id_b AS doc_id
      FROM sem_dots p
      JOIN sem_norms na ON p.id_a = na.vec_id
      JOIN sem_norms nb ON p.id_b = nb.vec_id
      WHERE round((CAST(p.dotg AS DOUBLE) / 100000000000000.0)
                  / (na.nrm * nb.nrm), 6)
            >= {_V3_SEM_T}
    ),
    surv2 AS MATERIALIZED (
      SELECT s.doc_id, s.lang, s.text
      FROM surv1 s LEFT JOIN drop2 USING (doc_id)
      WHERE drop2.doc_id IS NULL
    ),
    q3 AS (
      SELECT doc_id, lang, text FROM surv2 WHERE {{gopher_sql}}
    ),
    fl3 AS MATERIALIZED (
      SELECT *, {{bucket_eval}} < '{{eval_max}}' AS is_eval FROM q3
    ),
    g83 AS MATERIALIZED (
      SELECT doc_id, is_eval,
             unnest(list_distinct([array_to_string(t[i:i+{{ngram}}-1], ' ')
                                   for i in range(1, len(t)-{{ngram}}+2)])) AS g
      FROM (SELECT doc_id, is_eval, str_split(text, ' ') AS t FROM fl3)
      WHERE len(t) >= {{ngram}}
    ),
    ev3 AS (SELECT DISTINCT g FROM g83 WHERE is_eval),
    cont3 AS (
      SELECT DISTINCT s.doc_id FROM g83 s JOIN ev3 USING (g)
      WHERE NOT s.is_eval
    ),
    train3 AS (
      SELECT f.doc_id, f.lang, f.text
      FROM fl3 f LEFT JOIN cont3 c USING (doc_id)
      WHERE NOT f.is_eval AND c.doc_id IS NULL
    ),
    mixed3 AS (
      SELECT * FROM train3
      WHERE {{bucket_mix}} <
            CASE lang WHEN 'en' THEN '{{mix_en}}'
                      WHEN 'de' THEN '{{mix_de}}'
                      ELSE '{{mix_default}}' END
    ),
    sharded AS (
      SELECT doc_id, text,
             md5('shuffle:42:' || CAST(doc_id AS VARCHAR)) AS hh
      FROM mixed3
    )
    SELECT substr(hh, 1, 1) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS sum_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY hh, doc_id)) AS manifest_md5
    FROM sharded GROUP BY 1
"""


from .text_analysis import WINNOW_FP_SQL as _WINNOW_FP_SQL_V3


@query(
    "pipeline_corpus_curation_v3",
    oracle=_CURATION_V3_ORACLE.format(
        winnow_fp_sql=_WINNOW_FP_SQL_V3.replace("FROM documents", "FROM ex0"),
        gopher_sql=_GOPHER_PASS_SQL,
        bucket_eval=_bucket_sql("eval:"),
        eval_max=_EVAL_MAX,
        ngram=_NGRAM,
        bucket_mix=_bucket_sql("mix:"),
        mix_en=_MIX_RATES["en"],
        mix_de=_MIX_RATES["de"],
        mix_default=_MIX_DEFAULT,
    ),
    tags=("O5", "O6", "L1", "L2", "L6", "L7", "J2", "J4", "J5",
          "A1", "W2", "F4", "X1"),
    bench=True,
)
def pipeline_corpus_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return govern_documents_v3(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        min_partitions=spark.sparkContext.defaultParallelism,
    )


def govern_documents_v3(
    docs: DataFrame,
    emb: DataFrame,
    min_partitions: int | None = None,
) -> DataFrame:
    """The eight-stage marquee lineage on arbitrary (documents,
    embeddings) frames — the registered query binds the fixture tables;
    scale smokes feed key-shifted unions through the identical plan."""
    from ..operators.graph import connected_components
    from ..operators.similarity import semantic_dedup

    from pyspark.sql import Window

    # 0. exact content-hash collapse: min-id per md5(text). Runs BEFORE
    #    any fingerprinting so massive exact duplication (the dominant
    #    duplication mode at web scale) costs one uniform md5-keyed
    #    shuffle instead of inflating every downstream pair join.
    d0 = (
        docs.select("doc_id", "lang", "text")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(F.md5("text")).orderBy("doc_id")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # Materialize the exact-collapsed corpus once: FOUR downstream
        # consumers scan d0 (winnow fingerprints twice via the pair
        # self-join, the screened-subset semi join, the surv1 anti
        # join), and without a cut each re-runs the md5-keyed window.
        # Same justification as the surv2 checkpoint below: the
        # post-exact-dedup corpus is the other relation a real build
        # persists anyway. Measured sf0.1 (forced-hash min-of-3):
        # 20.9 s → 19.5 s — modest here because the 5k-doc window is
        # cheap locally, but the recompute it removes is corpus-sized
        # at scale.
        .localCheckpoint(eager=True)
    )

    # 1. winnow screen: only docs sharing >= 2 df-capped fingerprints
    #    ever enter a pair join. Both endpoints come out of ONE scan
    #    (explode of the pair struct), not a two-branch union — the
    #    union form re-ran the whole fingerprint pair join per branch
    #    (measured round 12: the winnow stage was 9.1 s of the forced
    #    stage ladder, ~2x the 2.5 s winnow_match wall, exactly the
    #    double-scan).
    wm = DD.winnow_match(d0)
    screened = (
        wm.select(
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias(
                "doc_id"
            )
        )
        .distinct()
    )
    sub = d0.join(screened, "doc_id", "left_semi")

    # 2. prefix-exact Jaccard on the screened subset
    edges = DD.jaccard_pairs_prefix(
        sub, threshold=0.5, n=2, min_partitions=min_partitions
    ).select("id_a", "id_b")

    # 3. connected-components canonical election: component minimum
    #    survives
    labels = connected_components(edges)
    drop1 = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    surv1 = d0.join(drop1, "doc_id", "left_anti")

    # 4. SemDeDup over the survivors' embeddings (seeds from the full
    #    embedding relation — cell geometry independent of upstream drops)
    sem_in = emb.join(
        surv1.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    sem = semantic_dedup(
        sem_in, n_cells=_V3_SEM_CELLS, threshold=_V3_SEM_T, seeds_from=emb
    )
    drop2 = sem.filter(~F.col("kept")).select(F.col("vec_id").alias("doc_id"))
    # Materialize the post-dedup survivor relation: four downstream
    # branches (eval shingles, contamination probe, train filter, final
    # shard export) all consume it, and without a cut each branch would
    # re-run the semantic cell self-join. The components stage above
    # already cuts its edge input (and on the driver tier returns its
    # labels as a local relation), so this is the one additional
    # materialization point — at cluster scale it is the natural
    # "curated corpus" checkpoint a real build persists anyway.
    surv2 = surv1.join(drop2, "doc_id", "left_anti").localCheckpoint(eager=True)

    # 5. quality gate
    q = surv2.filter(gopher_pass_all())

    # 6. decontaminate: eval-slice 8-grams, broadcast anti probe
    is_eval = _bucket("eval:") < _EVAL_MAX
    sh = DD.word_shingles(q, n=_NGRAM, min_partitions=min_partitions)
    eval_shingles = sh.filter(is_eval).select("shingle").distinct()
    contaminated = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_shingles), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = q.filter(~is_eval).join(contaminated, "doc_id", "left_anti")

    # 7. mixture
    mix_threshold = (
        F.when(F.col("lang") == "en", F.lit(_MIX_RATES["en"]))
        .when(F.col("lang") == "de", F.lit(_MIX_RATES["de"]))
        .otherwise(F.lit(_MIX_DEFAULT))
    )
    mixed = train.filter(_bucket("mix:") < mix_threshold)

    # 8. deterministic shuffle-shard manifest export
    sharded = mixed.withColumn(
        "hh", F.md5(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string")))
    ).withColumn("shard", F.substring("hh", 1, 1))
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("sum_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("hh"), F.col("doc_id")))
                    ),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            )
        ).alias("manifest_md5"),
    )


# --------------------------------------------------------------------------
# Deterministic fixed-size stratified sample: EXACTLY k docs per language,
# selected by md5 rank (salt-keyed) — reproducible across reruns, cluster
# sizes, and corpus partitionings, where rand()-based sampleBy gives only
# expected sizes and no stability. One window shuffle keyed by the
# stratum; rank order is the hash, so no data-value skew in the sort key.
# --------------------------------------------------------------------------
_STRAT_K = 20

_STRATIFIED_ORACLE = f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE rk <= {_STRAT_K}
"""


@query(
    "pipeline_stratified_sample",
    oracle=_STRATIFIED_ORACLE,
    tags=("F4", "W2", "A1"),
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string")))
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    )
    return (
        docs.withColumn("rk", rk)
        .filter(F.col("rk") <= _STRAT_K)
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    )


# --------------------------------------------------------------------------
# PII governance: deterministic pseudonymization (md5 tokenization),
# pattern masking, numeric generalization to a band, and a k-anonymity
# audit of the quasi-identifier tuple (nation, segment, balance band) —
# the release gate a training-data governance pipeline runs before
# customer-derived features may join a corpus. All map-side except one
# window count over the quasi-identifier key (uniform, low-cardinality ->
# the count collapses map-side at 100 TB).
# --------------------------------------------------------------------------
@query(
    "govern_pii_mask",
    oracle="""
    WITH g AS (
      SELECT c_custkey,
             md5(c_name) AS name_token,
             regexp_replace(c_name, '[0-9]', '*', 'g') AS masked_name,
             c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) * 1000 AS BIGINT) AS bal_band
      FROM customer
    )
    SELECT c_custkey, name_token, masked_name, c_nationkey, c_mktsegment,
           bal_band,
           CAST(COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                               bal_band) AS BIGINT) AS k_group_size,
           COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band)
             >= 5 AS k_anonymous
    FROM g
    """,
    tags=("F3", "X1", "W4", "A1"),
)
def govern_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    g = c.select(
        "c_custkey",
        F.md5(F.col("c_name")).alias("name_token"),
        F.regexp_replace(F.col("c_name"), "[0-9]", "*").alias("masked_name"),
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000.0) * 1000)
        .cast("long")
        .alias("bal_band"),
    )
    w = Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
    k = F.count(F.lit(1)).over(w)
    return g.select(
        "*",
        k.cast("long").alias("k_group_size"),
        (k >= 5).alias("k_anonymous"),
    )


# --------------------------------------------------------------------------
# Composed per-document quality gate: Gopher structural rules ∧ repetition
# signals ∧ LM perplexity — the three quality families as ONE lineage with
# one verdict per document plus the per-family flag (so a curation run can
# report WHY a doc dropped). Repetition and LM scores are doc-keyed
# aggregates joined back onto the map-side Gopher flags; everything
# upstream is the same oracle-checked machinery as the standalone queries.
# --------------------------------------------------------------------------
_NLL_MAX = 3.48  # ~p90 of avg_nll on the fixture reference model


@query(
    "pipeline_quality_gate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS tok,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM documents
    ),
    seq AS (
      SELECT doc_id, tok,
             lead(tok, 1) OVER win AS t1,
             lead(tok, 2) OVER win AS t2
      FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY i)
    ),
    grams AS (
      SELECT doc_id, '1' AS kind, tok AS gram FROM seq
      UNION ALL
      SELECT doc_id, '2', tok || ' ' || t1 FROM seq WHERE t1 IS NOT NULL
      UNION ALL
      SELECT doc_id, '3', tok || ' ' || t1 || ' ' || t2 FROM seq
      WHERE t2 IS NOT NULL
    ),
    counts AS (
      SELECT doc_id, kind, gram, COUNT(*) AS c FROM grams GROUP BY ALL
    ),
    per_kind AS (
      SELECT doc_id, kind,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(MAX(c) AS BIGINT) AS top,
             CAST(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup
      FROM counts GROUP BY ALL
    ),
    rep AS (
      SELECT doc_id,
             (CAST(MAX(CASE WHEN kind = '1' THEN top END) AS DOUBLE)
                / MAX(CASE WHEN kind = '1' THEN total END) <= 0.20
              AND CAST(MAX(CASE WHEN kind = '2' THEN top END) AS DOUBLE)
                / MAX(CASE WHEN kind = '2' THEN total END) <= 0.10
              AND CAST(MAX(CASE WHEN kind = '3' THEN dup END) AS DOUBLE)
                / MAX(CASE WHEN kind = '3' THEN total END) <= 0.60)
               AS pass_repetition
      FROM per_kind GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id, tok AS prev, t1 AS w FROM seq WHERE t1 IS NOT NULL
    ),
    refdocs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
    c2 AS (
      SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS c2
      FROM bg JOIN refdocs USING (doc_id) GROUP BY 1, 2
    ),
    c1 AS (SELECT prev, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    v AS (
      SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vv
      FROM toks JOIN refdocs USING (doc_id)
    ),
    sc AS (
      SELECT bg.doc_id,
             round(ln((COALESCE(c2.c2, 0) + 1.0)
                      / (COALESCE(c1.c1, 0) + v.vv)), 8) AS logp
      FROM bg LEFT JOIN c2 USING (prev, w) LEFT JOIN c1 USING (prev), v
    ),
    lm AS (
      SELECT doc_id,
             -(CAST(SUM(CAST(round(logp * 100000000.0) AS BIGINT))
                    AS BIGINT) / 100000000.0) / COUNT(*) <= {_NLL_MAX}
               AS pass_lm
      FROM sc GROUP BY 1
    )
    SELECT d.doc_id, d.lang,
           {_GOPHER_PASS_SQL} AS pass_gopher,
           rep.pass_repetition AS pass_repetition,
           COALESCE(lm.pass_lm, FALSE) AS pass_lm,
           ({_GOPHER_PASS_SQL} AND rep.pass_repetition
            AND COALESCE(lm.pass_lm, FALSE)) AS keep
    FROM documents d
    JOIN rep USING (doc_id)
    LEFT JOIN lm USING (doc_id)
    """,
    tags=("L6", "F3", "A1", "J3"),
    bench=True,
)
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text_analysis import bigram_perplexity, repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    rep = repetition_stats(docs).select(
        "doc_id",
        (
            (F.col("top_token_frac") <= 0.20)
            & (F.col("top_bigram_frac") <= 0.10)
            & (F.col("dup_trigram_frac") <= 0.60)
        ).alias("pass_repetition"),
    )
    lm = bigram_perplexity(docs, ref_filter=F.col("lang") == "en").select(
        "doc_id", (F.col("avg_nll") <= _NLL_MAX).alias("pass_lm")
    )
    g = gopher_pass_all()
    return (
        docs.select("doc_id", "lang", g.alias("pass_gopher"))
        .join(rep, "doc_id")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "pass_gopher",
            "pass_repetition",
            F.coalesce(F.col("pass_lm"), F.lit(False)).alias("pass_lm"),
            (
                F.col("pass_gopher")
                & F.col("pass_repetition")
                & F.coalesce(F.col("pass_lm"), F.lit(False))
            ).alias("keep"),
        )
    )


# --------------------------------------------------------------------------
# Overlapping token chunking (RAG-ingest / long-context training prep):
# windows of W tokens at stride S (W-S token overlap), built IN-ROW
# (sequence of starts -> slice) — a pure narrow map, zero shuffle; the
# last chunk keeps the tail (may be shorter than W). Oracle re-derives the
# chunks positionally (token ⋈ chunk-range join + ordered string_agg).
# --------------------------------------------------------------------------
_CHUNK_W, _CHUNK_S = 32, 24


@query(
    "pipeline_chunk_overlap",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, str_split(text, ' ') AS t,
             len(str_split(text, ' ')) AS n
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, n,
             unnest(range(0, 1 + (GREATEST(n - {_CHUNK_W}, 0)
                                  + {_CHUNK_S} - 1) // {_CHUNK_S})) AS chunk_id
      FROM d
    ),
    toks AS (
      SELECT doc_id,
             unnest(str_split(text, ' ')) AS tok,
             generate_subscripts(str_split(text, ' '), 1) AS i
      FROM documents
    )
    SELECT c.doc_id, CAST(c.chunk_id AS INT) AS chunk_id,
           string_agg(tok, ' ' ORDER BY i) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_chunk_tokens
    FROM chunks c JOIN toks t
      ON t.doc_id = c.doc_id
     AND t.i >= c.chunk_id * {_CHUNK_S} + 1
     AND t.i <= c.chunk_id * {_CHUNK_S} + {_CHUNK_W}
    GROUP BY c.doc_id, c.chunk_id
    """,
    tags=("X4", "F1", "L4"),
)
def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    w, s = _CHUNK_W, _CHUNK_S
    n_chunks = 1 + F.floor(
        (F.greatest(n - w, F.lit(0)) + (s - 1)) / s
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(" ", F.slice(toks, i * s + 1, w)).alias("chunk_text"),
            F.least(F.lit(w), n - i * s).cast("long").alias("n_chunk_tokens"),
        ),
    )
    return docs.select(F.col("doc_id"), F.explode(chunks).alias("c")).select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
    )


# --------------------------------------------------------------------------
# Deterministic global shuffle + shard assignment — the training-data
# EXPORT pattern: examples get a pseudo-random but fully reproducible
# order (md5 of a seeded key), sharded so every window is PER-SHARD (a
# global row_number would funnel 100 TB through one task; per-shard
# windows parallelize and the (shard, pos) pair is still a total order:
# shard-major, position-minor). Same-seed reruns and engine changes
# reproduce the identical permutation — the property that makes training
# runs comparable and resumable.
# --------------------------------------------------------------------------
@query(
    "pipeline_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             md5('shuffle:42:' || CAST(doc_id AS VARCHAR)) AS hh
      FROM documents
    )
    SELECT doc_id,
           substr(hh, 1, 1) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY substr(hh, 1, 1) ORDER BY hh, doc_id
           ) AS BIGINT) AS pos,
           hh AS shuffle_key
    FROM h
    """,
    tags=("F4", "W2", "X1"),
    bench=True,
)
def pipeline_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string")))
    keyed = docs.select(
        "doc_id", h.alias("shuffle_key"), F.substring(h, 1, 1).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
        "shuffle_key",
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement, per group (Efraimidis & Spirakis
# 2006, "Weighted random sampling with a reservoir", IPL — public paper):
# each document draws priority key -ln(u)/w with u a deterministic
# md5-derived uniform and w ∝ n_chars; the k smallest keys per language
# are the sample (equivalent to the paper's largest u^(1/w) form). The
# standard quality-weighted subset selection for training mixtures —
# longer/heavier documents proportionally likelier, yet fully
# reproducible: no rand(), the uniform is the first 52 md5 bits (+1, so
# u > 0) over 2^52+1, bit-identical cross-engine; keys round to 1e-9
# before ranking with a doc_id tie-break (ln may differ by an ulp
# between libms). Per-language windows only — scales like any grouped
# top-k, no global ordering.
# --------------------------------------------------------------------------
@query(
    "pipeline_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT lang, doc_id, n_chars,
             round(-ln((CAST('0x' || substr(
                           md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13)
                         AS BIGINT) + 1) / 4503599627370497.0)
                   / CAST(GREATEST(n_chars, 1) AS DOUBLE), 9) AS skey
      FROM documents
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars, skey,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY skey, doc_id) AS rk
      FROM k
    )
    WHERE rk <= 5
    """,
    tags=("F4", "W2", "X3"),
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (h + 1) / 4503599627370497.0  # (h+1) / (2^52 + 1) ∈ (0, 1)
    skey = F.round(
        -F.log(u) / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"), 9
    )
    keyed = docs.select(
        "lang", "doc_id", "n_chars", skey.alias("skey")
    )
    w = Window.partitionBy("lang").orderBy(F.asc("skey"), F.asc("doc_id"))
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select(
            "lang",
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            "skey",
            "rk",
        )
    )


# --------------------------------------------------------------------------
# Mixture design as exact water-filling (operators/allocation.py): split a
# data-derived token budget (40 % of the corpus) across sources
# proportionally to a per-source quality weight, capped by availability —
# saturate the low-capacity/high-weight sources, level the rest at a
# common rational water line, and hand out the floor residue
# deterministically so Σ alloc == budget token-for-token. Everything is
# int64 cross-multiplication / DIV arithmetic (no float decisions), so
# the full allocation is hash-oracle-able.
# --------------------------------------------------------------------------
_WATERFILL_ORACLE = """
    WITH feats AS (
      SELECT source,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS uniq
      FROM documents
    ),
    per_source AS (
      SELECT source,
             CAST(SUM(n_tok) AS BIGINT) AS cap,
             GREATEST(1, CAST(SUM((1000 * uniq) // n_tok) AS BIGINT)
                          // CAST(COUNT(*) AS BIGINT)) AS weight
      FROM feats GROUP BY source
    ),
    bctx AS (
      SELECT CAST((2 * SUM(cap)) // 5 AS BIGINT) AS budget FROM per_source
    ),
    j AS (SELECT p.*, b.budget FROM per_source p CROSS JOIN bctx b),
    r1 AS (
      SELECT *, CAST((cap * 1000000) // weight AS BIGINT) AS ratio_key
      FROM j
    ),
    r2 AS (
      SELECT *,
        CAST(COALESCE(SUM(cap) OVER (
               ORDER BY ratio_key, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS prefix_cap,
        CAST(SUM(weight) OVER (
               ORDER BY ratio_key, source
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS suffix_w,
        CAST(SUM(cap) OVER () AS BIGINT) AS total_cap
      FROM r1
    ),
    r3 AS (
      SELECT *,
        CASE WHEN (LEAST(budget, total_cap) - prefix_cap) * weight
                  >= cap * suffix_w
             THEN 1 ELSE 0 END AS pred
      FROM r2
    ),
    r4 AS (
      SELECT *,
        (MIN(pred) OVER (
           ORDER BY ratio_key, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1) AS sat
      FROM r3
    ),
    r5 AS (
      SELECT *,
        CAST(LEAST(budget, total_cap)
             - COALESCE(SUM(CASE WHEN sat THEN cap END) OVER (), 0)
             AS BIGINT) AS num,
        CAST(COALESCE(SUM(CASE WHEN NOT sat THEN weight END) OVER (), 0)
             AS BIGINT) AS den
      FROM r4
    ),
    r6 AS (
      SELECT *,
        CASE WHEN sat THEN cap
             ELSE (weight * num) // den END AS base_alloc,
        CASE WHEN sat THEN -1 ELSE (weight * num) % den END AS rem
      FROM r5
    ),
    r7 AS (
      SELECT *,
        CAST(num - COALESCE(
               SUM(CASE WHEN NOT sat THEN base_alloc END) OVER (), 0)
             AS BIGINT) AS leftover,
        ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rem_rank
      FROM r6
    )
    SELECT source, cap, weight,
           CAST(base_alloc + CASE WHEN NOT sat AND rem_rank <= leftover
                                  THEN 1 ELSE 0 END AS BIGINT) AS alloc,
           CAST(CASE WHEN sat THEN 1 ELSE 0 END AS INTEGER) AS saturated
    FROM r7
"""


@query(
    "pipeline_mixture_waterfill",
    oracle=_WATERFILL_ORACLE,
    tags=("A1", "W4", "O1", "X3"),
)
def pipeline_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget allocation across sources: cap = Σ tokens available,
    weight = mean per-doc distinct-token per-mille (integer DIV — exact),
    budget = 40 % of all tokens, allocated by
    operators/allocation.waterfill_alloc. The per-source relation this
    sorts is the tiny aggregate, never the corpus; the budget context is
    computed in-plan (1-row cross join), no collect anywhere."""
    from ..operators.allocation import waterfill_alloc

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    feats = docs.select(
        "source",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("uniq"),
    )
    per_source = (
        feats.withColumn("ratio_milli", F.expr("(1000 * uniq) div n_tok"))
        .groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("cap"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("sum(ratio_milli) div count(1)"),
            ).alias("weight"),
        )
    )
    budget_ctx = per_source.agg(
        F.expr("(2 * sum(cap)) div 5").alias("budget")
    )
    j = per_source.crossJoin(F.broadcast(budget_ctx))
    return waterfill_alloc(j, "budget")


# --------------------------------------------------------------------------
# Temperature-resampled mixture (the multilingual-sampling rule, α = 0.5:
# p_i ∝ share_i^α — upweights low-resource sources; Lample & Conneau
# 2019 "Cross-lingual Language Model Pretraining", public paper). Exact
# end to end: sqrt is IEEE-correctly-rounded (identical double in every
# engine), immediately quantized onto a 1e-9 int64 grid, and the
# largest-remainder apportionment runs in pure integer arithmetic
# (base = budget·q div S, +1 to the largest budget·q mod S, ties by
# source) — no float sum anywhere, so the allocation hash-matches no
# matter how partitions interleave. The allocated relation is the tiny
# per-source aggregate; the corpus is touched once for token counts.
# --------------------------------------------------------------------------
@query(
    "pipeline_mixture_temperature",
    oracle="""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ),
    grid AS (
      SELECT source, n_tok,
             CAST(round(sqrt(CAST(n_tok AS DOUBLE)) * 1000000000.0)
                  AS BIGINT) AS q
      FROM per_source
    ),
    ctx AS (
      SELECT CAST(SUM(q) AS BIGINT) AS s_total,
             CAST((2 * SUM(n_tok)) // 5 AS BIGINT) AS budget
      FROM grid
    ),
    based AS (
      SELECT g.source, g.n_tok, g.q,
             (ctx.budget * g.q) // ctx.s_total AS base,
             (ctx.budget * g.q) % ctx.s_total AS rem,
             ctx.budget AS budget
      FROM grid g, ctx
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             CAST(SUM(base) OVER () AS BIGINT) AS base_total
      FROM based
    )
    SELECT source, n_tok, q,
           CAST(base + CASE WHEN rk <= budget - base_total THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
    tags=("A1", "W2", "X3", "J1"),
)
def pipeline_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    per_source = (
        docs.select(
            "source", F.size(F.split("text", " ")).cast("long").alias("nt")
        )
        .groupBy("source")
        .agg(F.sum("nt").cast("long").alias("n_tok"))
    )
    grid = per_source.withColumn(
        "q",
        F.round(F.sqrt(F.col("n_tok").cast("double")) * 1e9).cast("long"),
    )
    ctx = grid.agg(
        F.sum("q").cast("long").alias("s_total"),
        F.expr("(2 * sum(n_tok)) div 5").cast("long").alias("budget"),
    )
    based = grid.crossJoin(F.broadcast(ctx)).select(
        "source",
        "n_tok",
        "q",
        F.expr("(budget * q) div s_total").alias("base"),
        ((F.col("budget") * F.col("q")) % F.col("s_total")).alias("rem"),
        "budget",
    )
    w_rank = Window.orderBy(F.desc("rem"), F.asc("source"))
    w_all = Window.partitionBy()
    ranked = based.withColumn("rk", F.row_number().over(w_rank)).withColumn(
        "base_total", F.sum("base").over(w_all).cast("long")
    )
    return ranked.select(
        "source",
        "n_tok",
        "q",
        (
            F.col("base")
            + F.when(
                F.col("rk") <= F.col("budget") - F.col("base_total"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )
