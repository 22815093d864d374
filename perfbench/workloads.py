"""The benchmark's workloads: fixed step sequences over the engine's public
functions.

A step has two timed halves: ``build`` returns the plan (any jobs the
engine runs eagerly while building, such as ``localCheckpoint`` cuts, fall
here) and ``force`` runs it. ``force`` returns a small result that
``check`` compares against the step's reference. Nothing here changes the
engine; it is driven only through ``ppdb_parser_spark``'s public API and
query registry.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class Step:
    name: str
    build: Callable  # (spark, ctx) -> DataFrame | None
    force: Callable  # (spark, ctx, plan) -> result
    check: Callable  # (ctx, result) -> str | None  (None = correct)


def hash_force(df: DataFrame) -> tuple[int, int]:
    """Row count and ``bit_xor(xxhash64(all columns))`` in one job: the
    same forcing as ``bench.py`` (every output column stays live), plus
    the count. Map and variant columns go through JSON / string first,
    as they are not hashable."""
    cols = []
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        c = F.col(f"`{f.name}`")
        if "map<" in s:
            c = F.to_json(F.struct(c))
        elif "variant" in s:
            c = c.cast("string")
        cols.append(c)
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(F.struct(*cols))).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# --------------------------------------------------------------------------
# ppdb_ingest: the paper's own path over gzip shards
# --------------------------------------------------------------------------
def _lines(spark, ctx) -> DataFrame:
    from ppdb_parser_spark.sources.text import read_text_lines

    return read_text_lines(spark, os.path.join(ctx.pack_dir, "*.txt.gz"))


def _parse_build(spark, ctx):
    from ppdb_parser_spark.operators.ppdb import parse_ppdb

    return (
        parse_ppdb(_lines(spark, ctx))
        .filter("is_valid")
        .groupBy("lhs")
        .agg(
            F.count(F.lit(1)).alias("rules"),
            F.count("entailment").alias("entailed"),
            F.count("ppdb2score").alias("scored"),
            F.sum(F.size("alignment")).alias("align_points"),
        )
    )


def _parse_check(ctx, rows):
    got = {r["lhs"]: [r["rules"], r["entailed"], r["scored"], r["align_points"]] for r in rows}
    want = ctx.expected["per_lhs"]
    return None if got == want else f"per-lhs aggregate differs: {got} != {want}"


def _quarantine_build(spark, ctx):
    from ppdb_parser_spark.operators.ppdb import quarantine

    return quarantine(_lines(spark, ctx)).groupBy("n_fields").count()


def _quarantine_check(ctx, rows):
    got = {str(r["n_fields"]): r["count"] for r in rows}
    want = ctx.expected["quarantine"]
    return None if got == want else f"quarantine counts differ: {got} != {want}"


def _reshard_force(spark, ctx, _plan):
    from ppdb_parser_spark.operators.ppdb import parse_ppdb_clean
    from ppdb_parser_spark.sources.text import reshard_to_parquet

    reshard_to_parquet(
        parse_ppdb_clean(_lines(spark, ctx)), ctx.reshard_dir, ctx.cores
    )
    return None


def _reshard_check(ctx, _result):
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(ctx.reshard_dir, "*.parquet"))
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    want = ctx.expected["valid"]
    return None if rows == want else f"resharded rows {rows} != {want}"


def _lookup_build(spark, ctx):
    w = Window.partitionBy("phrase").orderBy(
        F.col("ppdb2score").desc_nulls_last(), F.col("paraphrase").asc()
    )
    return (
        spark.read.parquet(ctx.reshard_dir)
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 2")
        .select("phrase", "paraphrase", "rank")
    )


def _lookup_force(spark, ctx, plan):
    crc = F.crc32(F.concat_ws("|", "phrase", "paraphrase", F.col("rank").cast("string")))
    row = plan.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(crc).alias("crc"),
        F.bit_xor(F.xxhash64(F.struct("phrase", "paraphrase", "rank"))).alias("h"),
    ).collect()[0]
    return [int(row["n"]), int(row["crc"] or 0)]


def _lookup_check(ctx, got):
    want = ctx.expected["lookup"]
    return None if got == want else f"top-2 lookup [rows, crc] {got} != {want}"


def _collect(spark, ctx, plan):
    return plan.collect()


PPDB_INGEST = (
    Step("parse", _parse_build, _collect, _parse_check),
    Step("quarantine", _quarantine_build, _collect, _quarantine_check),
    Step("reshard", lambda spark, ctx: None, _reshard_force, _reshard_check),
    Step("lookup", _lookup_build, _lookup_force, _lookup_check),
)


# --------------------------------------------------------------------------
# Registry workloads: named queries over the seeded tables
# --------------------------------------------------------------------------
def _registry_step(query: str) -> Step:
    def build(spark, ctx):
        from ppdb_parser_spark.queries import REGISTRY

        return REGISTRY[query].fn(spark, ctx.tables_dir)

    def force(spark, ctx, plan):
        return hash_force(plan)

    def check(ctx, result):
        golden = ctx.goldens.get(query)
        if golden is not None and list(result) != golden:
            return f"[rows, hash] {list(result)} != golden {golden}"
        first = ctx.first_output.setdefault(query, list(result))
        return None if list(result) == first else f"{list(result)} != this run's first {first}"

    return Step(query, build, force, check)


def oracle_check(spark, ctx, query: str) -> str | None:
    """Collect the full result once and compare it with the DuckDB oracle;
    the row count must match what every hashed execution reported."""
    from ppdb_parser_spark.plans.oracle import compare_frames
    from ppdb_parser_spark.queries import REGISTRY

    pdf = REGISTRY[query].fn(spark, ctx.tables_dir).toPandas()
    res = compare_frames(query, pdf, ctx.oracle[query])
    if not res.ok:
        return f"oracle mismatch: {res.detail}"
    rows = ctx.first_output.get(query, [len(pdf)])[0]
    return None if rows == len(pdf) else f"hashed runs saw {rows} rows, oracle-checked {len(pdf)}"


#: Registry steps, one per layer family: winnowing dedup (fingerprint join,
#: ``operators.dedup``), near-duplicate groups (Jaccard pairs collapsed by
#: ``operators.graph.connected_components``), product-quantised and exact
#: cosine top-k (CPU-bound ``operators.similarity`` / ``linalg``) and BM25
#: over a persisted postings index (``operators.text_analysis``; the index
#: is rebuilt by the cold pass of every run).
DEDUP_SIMILARITY_QUERIES = (
    "dedup_winnow_match",
    "dedup_components",
    "sim_pq_topk",
    "sim_cosine_topk",
    "text_bm25_indexed_topk",
)

WORKLOADS: dict[str, tuple[Step, ...]] = {
    "ppdb_ingest": PPDB_INGEST,
    "dedup_similarity": tuple(_registry_step(q) for q in DEDUP_SIMILARITY_QUERIES),
}


def all_step_names() -> list[str]:
    return [s.name for steps in WORKLOADS.values() for s in steps]
