"""Seeded benchmark inputs, generated once per seed and cached on disk.

Everything lives under ``<checkout>/.cache/perfbench/`` so a run reads and
writes only inside its checkout. Generation goes through the engine's
atomic build-once cache (``sources._cache``) and is never inside a timed
interval.

- ``ppdb_pack``: ``sources.ppdb_pack.generate_lines`` content written as
  gzip shards, plus ``expected.json``: a pure-Python parse of the same
  lines (the reference the ``ppdb_ingest`` steps are checked against).
- ``tables``: ``documents.parquet`` and ``embeddings.parquet`` shaped like
  the engine's fixture tables (same schemas and value distributions):
  documents drawn from the fixture vocabulary with injected
  near-duplicates, and unit embeddings around ten weak label centres.
- ``oracle``: the registry steps' DuckDB oracle results over a seed's
  tables.
"""

from __future__ import annotations

import collections
import gzip
import json
import os
import zlib

import numpy as np

from ppdb_parser_spark.sources._cache import ensure_cached_dir

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".cache", "perfbench")

#: ppdb_ingest input size: sized so a warm pass of the four steps takes
#: a few seconds on a 4-core host.
PACK_LINES = 100_000
PACK_SHARDS = 8

#: Registry-workload table sizes (rows).
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMBEDDING_DIM = 64

_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_NEAR_DUP_SHARE = 0.05


# --------------------------------------------------------------------------
# PPDB pack and its pure-Python reference parse
# --------------------------------------------------------------------------
def lookup_row_crc(phrase: str, paraphrase: str, rank: int) -> int:
    """Checksum of one ``lookup`` output row; the Spark side computes
    ``crc32(concat_ws('|', phrase, paraphrase, rank))`` over the same row."""
    return zlib.crc32(f"{phrase}|{paraphrase}|{rank}".encode())


def reference_parse(lines: list[str]) -> dict:
    """Pure-Python parse of the pack lines, mirroring ``operators.ppdb``:
    fields split on `` ||| ``, a line is valid with 5 or 6 fields, the
    entailment is kept only when it is one of the enum values, and the
    PPDB2.0Score feature ranks paraphrases (missing score sorts last)."""
    from ppdb_parser_spark.operators.ppdb import ENTAILMENT_ENUM

    enum = set(ENTAILMENT_ENUM)
    quarantine: collections.Counter = collections.Counter()
    per_lhs: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0, 0, 0])
    by_phrase: dict[str, list] = collections.defaultdict(list)
    valid = 0
    for line in lines:
        parts = line.split(" ||| ")
        if len(parts) not in (5, 6):
            quarantine[len(parts)] += 1
            continue
        valid += 1
        lhs, phrase, para = (p.strip(" ") for p in parts[:3])
        agg = per_lhs[lhs]  # rules, entailed, scored, alignment points
        agg[0] += 1
        if len(parts) == 6 and parts[5].strip(" ") in enum:
            agg[1] += 1
        align = parts[4].strip(" ")
        if align:
            agg[3] += len(align.split(" "))
        score = None
        feats = parts[3].strip(" ")
        if feats:
            for kv in feats.split(" "):
                k, eq, v = kv.partition("=")
                if k == "PPDB2.0Score":
                    try:
                        score = float(v) if eq else None
                    except ValueError:
                        score = None
        agg[2] += score is not None
        by_phrase[phrase].append((score is None, -(score or 0.0), para))
    top2_rows = 0
    top2_crc = 0
    for phrase, cands in by_phrase.items():
        for rank, (_, _, para) in enumerate(sorted(cands)[:2], start=1):
            top2_rows += 1
            top2_crc += lookup_row_crc(phrase, para, rank)
    return {
        "lines": len(lines),
        "valid": valid,
        "quarantine": {str(k): v for k, v in sorted(quarantine.items())},
        "per_lhs": dict(sorted(per_lhs.items())),
        "lookup": [top2_rows, top2_crc],
    }


def ensure_pack(seed: int) -> str:
    """Gzip shards of ``generate_lines(PACK_LINES, seed)`` and their
    reference parse; returns the pack directory."""
    from ppdb_parser_spark.sources.ppdb_pack import generate_lines

    def build(d: str) -> None:
        lines = generate_lines(PACK_LINES, seed)
        for s in range(PACK_SHARDS):
            with gzip.open(
                os.path.join(d, f"part-{s:04d}.txt.gz"), "wt",
                encoding="utf-8", compresslevel=6,
            ) as f:
                f.write("\n".join(lines[s::PACK_SHARDS]) + "\n")
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(reference_parse(lines), f)

    return ensure_cached_dir(
        os.path.join(CACHE, f"pack_{PACK_LINES}_{PACK_SHARDS}_s{seed}"), build
    )


# --------------------------------------------------------------------------
# documents / embeddings tables
# --------------------------------------------------------------------------
def _documents(rng: np.random.Generator, n: int):
    import pyarrow as pa

    lengths = rng.integers(10, 101, size=n)
    texts = [
        " ".join(np.asarray(_DOC_VOCAB)[rng.integers(0, len(_DOC_VOCAB), size=k)])
        for k in lengths
    ]
    # Near-duplicates: a copy of another document's text plus one token,
    # the shape the dedup operators exist to find.
    n_dup = int(round(n * _NEAR_DUP_SHARE))
    dup_ids = rng.choice(n, size=n_dup, replace=False)
    originals = set(range(n)) - set(dup_ids.tolist())
    src_pool = np.asarray(sorted(originals))
    for i in dup_ids:
        texts[i] = texts[int(rng.choice(src_pool))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [_LANGS[j] for j in rng.choice(len(_LANGS), size=n, p=_LANG_P)],
                pa.string(),
            ),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int):
    import pyarrow as pa

    labels = rng.integers(0, 10, size=n).astype(np.int32)
    centres = rng.standard_normal((10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = rng.standard_normal((n, dim)) / np.sqrt(dim) + 0.07 * centres[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def ensure_tables(seed: int) -> str:
    """A dataset directory holding ``documents.parquet`` and
    ``embeddings.parquet`` for ``seed``; usable as the registry's
    ``sf_dir``."""
    import pyarrow.parquet as pq

    def build(d: str) -> None:
        rng = np.random.default_rng([seed, 20261016])
        pq.write_table(_documents(rng, N_DOCUMENTS), os.path.join(d, "documents.parquet"))
        pq.write_table(
            _embeddings(rng, N_EMBEDDINGS, EMBEDDING_DIM),
            os.path.join(d, "embeddings.parquet"),
        )

    return ensure_cached_dir(
        os.path.join(CACHE, f"tables_d{N_DOCUMENTS}_e{N_EMBEDDINGS}_s{seed}"), build
    )


def ensure_oracle(data_dir: str, queries: list[str]) -> dict:
    """``oracle_frames`` for ``queries``, computed once and cached next to
    the tables they read."""
    import pandas as pd

    def build(d: str) -> None:
        pd.to_pickle(oracle_frames(data_dir, queries), os.path.join(d, "oracle.pkl"))

    key = zlib.crc32(",".join(queries).encode())
    d = ensure_cached_dir(f"{data_dir}_oracle_{key:08x}", build)
    return pd.read_pickle(os.path.join(d, "oracle.pkl"))


def oracle_frames(data_dir: str, queries: list[str]) -> dict:
    """Each registry query's DuckDB oracle result over ``data_dir``: the
    independent reference a step's full result is compared against."""
    import duckdb

    from ppdb_parser_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
            )
        return {q: con.execute(REGISTRY[q].oracle).df() for q in queries}
    finally:
        con.close()
