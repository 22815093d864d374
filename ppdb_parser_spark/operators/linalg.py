"""In-engine distributed PCA (top principal component, no ML library):
exact quantized covariance via Arrow-batched per-partition numpy
partials, then a fixed-iteration power method evaluated IN-PLAN on the
1-row covariance context. The cross-engine determinism contract:

- Embeddings quantize once onto an int64 grid (⌊x·2^20⌋, the repo's
  _sem_quant discipline), so the second-moment matrix M = Σ qqᵀ and the
  column sums S = Σ q are EXACT integer sums — order-independent, hence
  identical no matter how partitions interleave, and identical in the
  DuckDB oracle's unnest-and-SUM formulation.
- The per-partition partial is a numpy int64 GEMM (Qᵀ·Q) — BLAS-speed
  map-side work emitting ONE (dim², dim, 1) row per partition; merging
  partials is a ~|partitions|·dim² row aggregation, constant-size in the
  corpus. This is the textbook distributed-covariance layout: at 100 TB
  nothing but dim²-sized partials ever crosses the wire.
- Centering and the power iterations are closed-form IEEE arithmetic on
  the exact integer sums: C_ij = (M_ij − S_i·S_j/n)/n, then v ←
  normalize(C·v) a FIXED number of times from v₀ = e₁. Every fold is a
  left fold with explicit init (Spark ``aggregate(arr, 0.0, ...)`` ≡
  DuckDB ``list_reduce(list_prepend(0.0, arr), ...)``), so the float
  summation order — the only nondeterminism float addition has — is
  pinned identically in both engines. No transcendentals beyond sqrt
  (correctly rounded per IEEE-754, engine-identical).

Plan-size note: each power iteration references the previous iteration's
vector column many times; Catalyst's CollapseProject would re-inline the
defining expression into every use and grow the tree exponentially over
iterations (the measured winnowing failure mode, SNIPPETS/BASELINE
round-5). The iteration loop therefore re-anchors the 1-row context with
``localCheckpoint(eager=False)`` every few iterations — truncating the
logical plan, which for a 1-row context costs microseconds.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRID = 1 << 20

#: JL quantization grid — the repo's quantize-once discipline
#: (operators/similarity.SEM_QSCALE): elements round onto a 1e-7 grid
#: ONCE per vector, projections then reduce exactly in int64.
JL_QSCALE = 10_000_000


def arrow_list_to_2d(arr, dtype):
    """(n, d) numpy view of an Arrow list<primitive> column — the
    zero-copy fast path for pair-scale kernels (guide §4.2: a list
    column is one contiguous values buffer plus offsets, so a
    fixed-width column needs a reshape, not a per-row Python-object
    materialization; ``np.array(list(series))`` measured ~15 µs/row —
    ~27 s single-core for the 1.79 M-pair LSH refine at sf0.1).

    Fast path requires: no top-level or element nulls and uniform row
    width (true for every vector/sketch relation the kernels consume —
    projections of parquet array columns). Anything else falls back to
    the exact object path, so values are identical either way. The
    returned array may VIEW the Arrow buffer (read-only) when dtype
    matches the storage type; callers must not mutate it in place."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, (pa.ListArray, pa.LargeListArray)):
        if len(arr) == 0:
            # normalized (0, 0) 2-D shape, not the 1-D shape-(0,) array
            # np.array([]) would give — a caller reading A.shape[1]
            # without a skip-empty guard gets 0, not IndexError
            # (ADVICE r15)
            return np.zeros((0, 0), dtype=dtype)
        if arr.null_count == 0:
            offs = arr.offsets.to_numpy()
            d = int(offs[1] - offs[0]) if len(offs) > 1 else 0
            if d > 0 and (np.diff(offs) == d).all():
                values = arr.values
                if values.null_count == 0:
                    try:
                        flat = values.to_numpy(zero_copy_only=True)
                    except pa.ArrowInvalid:
                        # non-primitive element type: fall through to
                        # the exact object path (ADVICE r15)
                        flat = None
                    if flat is not None:
                        out = flat[offs[0] : offs[-1]].reshape(
                            len(offs) - 1, d
                        )
                        if out.dtype != dtype:
                            out = out.astype(dtype)
                        return out
    return np.array(arr.to_pylist(), dtype=dtype)


def uniform_list_offsets(n: int, width: int):
    """int32 Arrow offsets for a uniform-``width`` list column of ``n``
    rows, LOUD on int32 overflow: ``np.arange(..., dtype=np.int32)``
    silently wraps past 2³¹ and would produce a corrupt list column
    (reachable only if ``arrow.maxRecordsPerBatch`` is raised to put
    n·width ≥ 2³¹ elements in one batch — ADVICE r15)."""
    import numpy as np
    import pyarrow as pa

    if (n + 1) * width >= 2**31:
        raise ValueError(
            f"uniform_list_offsets: {n} rows x width {width} overflows "
            "int32 list offsets; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    return pa.array(np.arange(0, (n + 1) * width, width, dtype=np.int32))


def block_layout(col):
    """(entries, offs) decomposition of a ``list<struct>`` Arrow block
    column — the shared input adapter of the round-16 ``mapInArrow``
    kernel family (guide §4.2): ``entries`` is the FULL child
    StructArray (index with the RAW child offsets in ``offs``; the
    concatenation of all blocks is ``entries.slice(offs[0],
    offs[-1]-offs[0])``, which is also the kernels' output row order).
    Requires a null-free list column (collect_list output — always
    null-free); raises loudly otherwise rather than mis-aligning."""
    if col.null_count != 0:
        raise ValueError(
            "block_layout: null block in a collect_list column"
        )
    return col.values, col.offsets.to_numpy()


def context_entries(col, row: int = 0):
    """The ``row``-th element of a ``list<struct>`` column as a
    StructArray — the broadcast-context adapter (every row of a
    crossJoin'd 1-row context column carries the same value, so kernels
    parse it once per batch)."""
    offs = col.offsets.to_numpy()
    return col.values.slice(offs[row], offs[row + 1] - offs[row])


def jl_signs(
    dim_in: int = 64, dim_out: int = 16, salt: str = "jl:"
) -> list[list[int]]:
    """Deterministic ±1 sign matrix for a signed (Achlioptas-style)
    Johnson–Lindenstrauss projection: sign[j][i] from the first byte of
    ``md5(f"{salt}{j}:{i}")``. md5 is the repo's one cross-engine
    deterministic hash; the matrix is a driver-side CONSTANT (data-
    independent), embedded as a literal into BOTH the Spark plan and the
    DuckDB oracle, so there is exactly one source of truth."""
    return [
        [
            1
            if hashlib.md5(f"{salt}{j}:{i}".encode()).digest()[0] % 2 == 0
            else -1
            for i in range(dim_in)
        ]
        for j in range(dim_out)
    ]


def jl_signs_sql(dim_in: int = 64, dim_out: int = 16) -> str:
    """The SAME sign matrix as a DuckDB nested-list literal."""
    rows = jl_signs(dim_in, dim_out)
    return (
        "["
        + ", ".join("[" + ", ".join(str(s) for s in r) + "]" for r in rows)
        + "]"
    )


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    dim_in: int = 64,
    dim_out: int = 16,
    out_col: str = "jl",
) -> DataFrame:
    """Append ``out_col``: the exact int64 signed-JL projection of
    ``vec_col`` onto ``dim_out`` dimensions — out[j] = Σᵢ q(xᵢ)·sign[j][i]
    with q(x) = round(x·1e7) (quantize-once, so the reduction is
    order-independent integer arithmetic, bit-identical in any engine and
    any partitioning). One narrow map over the scan: NO shuffle.

    This is a 100 TB *blocking/sketching* primitive, not a fine ranker:
    a 64→16 projection cuts every downstream distance/dot evaluation
    (LSH banding, coarse bucketing, cell assignment) 4× while keeping
    pairwise distance estimates UNBIASED — measured on the embeddings
    fixture (2k random pairs, tests/test_operators.py::
    test_jl_projection_distortion_and_recall): ratio
    ‖P(x−y)‖²/(dout·‖x−y‖²) has mean 1.017, p05 0.498, p95 1.652 at
    dout=16 (0.633–1.449 at 32). The ±50% tails mean top-k recall on
    concentrated isotropic unit vectors is intrinsically LOW — measured
    top-5-in-top-C recall at dout=16: 0.204 (C=20), 0.552 (C=100),
    0.716 (C=150); dout=32 reaches 0.868 at C=150. Serving rule: use JL
    for coarse candidate blocking with C ≳ 20–30× k, or as the distance
    column inside LSH/IVF buckets; for high-recall ANN use the measured
    IVF tiers (operators/similarity.recommend_ann_tier). An earlier
    draft claimed ≥0.9 top-5 recall at C=20 — falsified by this
    measurement and recorded here per the repo's RECALL.md discipline.

    Overflow bound (ENFORCED, the pagerank-wdeg pattern):
    |out[j]| ≤ dim_in·max|q| — with the same |x| ≤ 37 element bound as
    ``_sem_quant`` the sum stays ≤ 64·3.7e8 ≪ 2⁶³; an out-of-range
    element raises rather than silently wrapping the projection.

    The projection runs as a shuffle-free Arrow map (the
    ``gemm_lsh_bits`` layout: the sign matrix is a literal, so no
    broadcast context): ``q = exact F.round(x·1e7) replay`` then an
    exact int64 ``q @ signsᵀ``. Bit-identical to the DuckDB oracle's
    :func:`jl_project_sql`."""
    dtypes = dict(df.dtypes)
    in_cols = list(dtypes)
    out_schema = ", ".join(
        [f"`{c}` {dtypes[c]}" for c in in_cols]
        + [f"`{out_col}` array<long>"]
    )
    S_rows = jl_signs(dim_in, dim_out)

    def project_batches(batches):
        import numpy as np
        import pyarrow as pa

        from .similarity import _np_round_half_away_consume

        St = np.array(S_rows, dtype=np.int64).T  # dim_in × dim_out
        d_out = St.shape[1]
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            X = arrow_list_to_2d(rb.column(vec_col), np.float64)
            if np.abs(X).max() > 37.0:
                raise ValueError(
                    "jl_project: embedding element exceeds the "
                    "int64-safe grid bound (|x| <= 37 at grid 1e7)"
                )
            Qm = _np_round_half_away_consume(X * float(JL_QSCALE))
            P = Qm @ St
            out = pa.ListArray.from_arrays(
                uniform_list_offsets(n, d_out),
                pa.array(P.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(c) for c in in_cols] + [out],
                [*in_cols, out_col],
            )

    return df.mapInArrow(project_batches, out_schema)


def jl_project_sql(
    vec_expr: str, dim_in: int = 64, dim_out: int = 16
) -> str:
    """DuckDB expression computing the IDENTICAL projection list for
    ``vec_expr`` (a DOUBLE[] column): same md5 sign constants, same
    quantization text as the dedup_semantic oracle family
    (``CAST(round(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)``), same
    exact integer reduction."""
    return f"""
      list_transform({jl_signs_sql(dim_in, dim_out)}, srow ->
        list_sum(list_transform(range(1, {dim_in + 1}), i ->
          CAST(round(CAST({vec_expr}[i] AS DOUBLE) * 10000000.0)
               AS BIGINT) * srow[i])))
    """


def covariance_context(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """ONE-row context (m: array<long> of dim², s: array<long> of dim,
    n: long) holding the exact quantized second-moment matrix, column
    sums, and row count. Raises in-plan if any element falls outside the
    int64-safe grid bound (|x| < 8000 at grid 2^20 keeps per-element
    products ≤ 2^86... practically: |q| ≤ 2^33 ⇒ q² ≤ 2^66 overflows —
    enforce |x| ≤ 2000, products ≤ 2^62/dim per row, ample for unit-norm
    embeddings)."""
    import numpy as np

    guard = F.assert_true(
        F.max(F.aggregate(
            F.transform(F.col(vec_col), lambda x: F.abs(x)),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        )) <= F.lit(2000.0),
        "covariance_context: embedding element exceeds the int64-safe "
        "grid bound (|x| <= 2000 at grid 2^20)",
    )

    def partials(batches):
        # round 16 (guide §4.2): raw Arrow batches — the pandas form
        # materialized one ndarray object per row (np.stack over an
        # object series) on the way in; the list column reshapes
        # zero-copy here. Values identical: same floor-to-grid int64
        # sums, one partial row per task.
        import pyarrow as pa

        M = np.zeros((dim, dim), dtype=np.int64)
        S = np.zeros(dim, dtype=np.int64)
        n = 0
        for rb in batches:
            if not rb.num_rows:
                continue
            A = arrow_list_to_2d(rb.column(vec_col), np.float64)
            Q = np.floor(A * GRID).astype(np.int64)
            M += Q.T @ Q
            S += Q.sum(axis=0)
            n += Q.shape[0]
        yield pa.RecordBatch.from_arrays(
            [
                pa.ListArray.from_arrays(
                    uniform_list_offsets(1, dim * dim),
                    pa.array(M.ravel()),
                ),
                pa.ListArray.from_arrays(
                    uniform_list_offsets(1, dim), pa.array(S)
                ),
                pa.array([n], type=pa.int64()),
            ],
            ["m", "s", "n"],
        )

    parts = df.select(F.col(vec_col).alias(vec_col)).mapInArrow(
        partials, schema="m array<long>, s array<long>, n long"
    )
    # merge the |partitions| constant-size partials: posexplode -> keyed
    # exact sums -> rebuild ordered arrays (array_sort on (pos, sum)
    # structs — deterministic, no collect)
    m_rows = parts.select(F.posexplode("m").alias("k", "mv"))
    m_merged = (
        m_rows.groupBy("k").agg(F.sum("mv").alias("mv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "mv"))),
                lambda st: st["mv"],
            ).alias("m")
        )
    )
    s_rows = parts.select(F.posexplode("s").alias("k", "sv"))
    s_merged = (
        s_rows.groupBy("k").agg(F.sum("sv").alias("sv"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("k", "sv"))),
                lambda st: st["sv"],
            ).alias("s")
        )
    )
    n_merged = parts.agg(F.sum("n").alias("n"))
    ctx = m_merged.crossJoin(s_merged).crossJoin(n_merged)
    # attach the guard to the context so an out-of-grid input fails the
    # job loudly at the first action (guard aggregates over the source)
    guard_ctx = df.agg(
        F.when(guard.isNull(), F.lit(1)).otherwise(F.lit(1)).alias("__ok")
    )
    return ctx.crossJoin(F.broadcast(guard_ctx)).drop("__ok")


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 12,
) -> DataFrame:
    """Top principal component of the (centered) embedding covariance:
    returns dim rows (dim_idx int, comp_6 double, eigval_6 double) —
    the unit eigenvector (rounded 1e-6) and the Rayleigh-quotient
    eigenvalue in RAW embedding units (grid² divided back out). Power
    iteration runs ``iters`` fixed steps from v₀ = e₁ in-plan; sign
    follows the iteration (deterministic), not a convention."""
    ctx = covariance_context(df, vec_col, dim)
    nd = float(GRID) * float(GRID)
    # C as array<double> of dim²: C_ij = (m[ij] − s_i·s_j/n)/n
    idx = F.sequence(F.lit(0), F.lit(dim * dim - 1))
    cov = F.transform(
        idx,
        lambda k: (
            F.element_at(F.col("m"), k + 1).cast("double")
            - F.element_at(F.col("s"), (k / dim).cast("int") + 1)
            .cast("double")
            * F.element_at(F.col("s"), (k % dim) + 1).cast("double")
            / F.col("n").cast("double")
        )
        / F.col("n").cast("double"),
    )
    v0 = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(i == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    cur = ctx.select(cov.alias("c"), v0.alias("v"))

    def matvec(c, v):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(c, i * dim + j + 1)
                * F.element_at(v, j + 1),
            ),
        )

    for t in range(iters):
        cur = cur.withColumn("w", matvec(F.col("c"), F.col("v")))
        norm = F.sqrt(
            F.aggregate(
                F.col("w"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        cur = cur.select(
            "c",
            F.transform(F.col("w"), lambda x: x / norm).alias("v"),
        )
        if t % 3 == 2:
            # re-anchor the 1-row context: CollapseProject otherwise
            # re-inlines v's definition into every one of the dim² uses
            # next iteration (exponential tree growth over iterations)
            cur = cur.localCheckpoint(eager=False)
    final = cur.withColumn("w", matvec(F.col("c"), F.col("v")))
    eigval = (
        F.aggregate(
            F.zip_with(F.col("v"), F.col("w"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(nd)
    )
    return final.select(
        F.posexplode("v").alias("dim_idx", "comp"),
        F.round(eigval, 6).alias("eigval_6"),
    ).select(
        "dim_idx",
        F.round(F.col("comp"), 6).alias("comp_6"),
        "eigval_6",
    )
