"""Graph operators for dedup clustering (north-star pipeline need: collapse
near-duplicate *pairs* into duplicate *groups* and elect a canonical doc).

Components have one distributed algorithm and one driver tier, both
reaching the unique fixpoint component = min reachable id:

- :func:`connected_components_star` — alternating large-star/small-star
  rounds (Kiveris et al. SoCC'14), O(log n) rounds independent of graph
  diameter: a chain that would take min-label propagation a million
  rounds converges in ~20 star rounds. Every round runs fully
  distributed and truncates lineage with a localCheckpoint, so Catalyst
  analysis cost stays flat.
- :func:`connected_components` — picks by a checked precondition on the
  input, not by a parameter. With both id columns integral, no null id
  and at most :data:`DRIVER_MAX_EDGES` edges, the edges are collected
  once through Arrow and solved in numpy (min-label hooking with pointer
  jumping, any diameter): a real near-dup graph is tens to thousands of
  edges, where every distributed round is pure job-scheduling overhead.
  Anything else runs the star rounds from the same cut.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructField, StructType

#: Largest edge relation :func:`connected_components` solves on the
#: driver: 1M (a, b) pairs is ~16 MB of int64 after one Arrow collect.
DRIVER_MAX_EDGES = 1_000_000


def _min_labels(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Min-label fixpoint of the undirected int64 edge list (a[i], b[i]):
    returns (nodes, component), component = min id reachable from node.

    Nodes are relabeled to their rank in the sorted id set, so the
    smallest index of a component is its smallest id. Each round hooks
    the larger root of every edge onto the smaller (``np.minimum.at``)
    and then jumps pointers until every node points at its root; the
    labels only ever decrease along edges, so the fixed point is a star
    per component rooted at its minimum."""
    nodes, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = idx[: len(a)], idx[len(a):]
    lab = np.arange(len(nodes))
    while True:
        ra, rb = lab[ia], lab[ib]
        hooked = ra != rb
        if not hooked.any():
            return nodes, nodes[lab]
        np.minimum.at(
            lab,
            np.maximum(ra, rb)[hooked],
            np.minimum(ra, rb)[hooked],
        )
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Label every vertex of the undirected edge set with the minimum
    vertex id reachable from it (its component id).

    Returns (node, component). Deterministic: the labeling is the unique
    fixpoint component = min reachable id.

    The edges are cut once (non-eager ``localCheckpoint``; with AQE on
    the call runs the upstream shuffle-map stages), and both paths read
    that cut, so the upstream pair generation is computed once. When
    both id columns are integral, one scan materializes the cut while
    counting the edges and their null ids; a null-free relation of at
    most :data:`DRIVER_MAX_EDGES` edges is collected through Arrow and
    solved by :func:`_min_labels` (any diameter). Any other input runs
    the star rounds of :func:`connected_components_star`. Both paths
    return the same schema (names, types, nullability)."""
    pairs = _cut_pairs(edges, src, dst)
    if all(isinstance(f.dataType, IntegralType) for f in pairs.schema):
        # the decision scan: one job (a no-op write materializes the cut
        # while the observation counts it — an aggregate would pay a
        # second, AQE shuffle-stage job)
        seen = Observation()
        pairs.observe(
            seen,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("a").isNull() | F.col("b").isNull()).alias(
                "n_null"
            ),
        ).write.format("noop").mode("overwrite").save()
        stats = seen.get
        if stats["n_null"] == 0 and stats["n"] <= DRIVER_MAX_EDGES:
            return _driver_components(pairs)
    labels, _rounds = _star_rounds(pairs)
    return labels


def _cut_pairs(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The (a, b) edge relation behind a non-eager cut: every consumer
    of the component operators reads it, so the upstream runs once."""
    return edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)


def _driver_components(pairs: DataFrame) -> DataFrame:
    """The driver tier of :func:`connected_components`: one Arrow collect
    of the null-free integral (a, b) relation, :func:`_min_labels`, and
    the labels back as a local DataFrame. The id type and nullability
    are the union-widened type of both id columns, which the star
    rounds' labels carry unchanged."""
    tbl = pairs.toArrow()
    nodes, comp = _min_labels(
        tbl.column("a").to_numpy().astype(np.int64),
        tbl.column("b").to_numpy().astype(np.int64),
    )
    id_field = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).schema["a"]
    schema = StructType(
        [
            StructField("node", id_field.dataType, id_field.nullable),
            StructField("component", id_field.dataType, id_field.nullable),
        ]
    )
    return pairs.sparkSession.createDataFrame(
        pa.table({"node": nodes, "component": comp}), schema
    )


def incremental_components(
    base_labels: DataFrame,
    delta_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Merge a delta batch's edges into an EXISTING component labeling —
    the incremental-ingest form of :func:`connected_components`
    (``delta_min_id`` family contract applied to the iterative tier).

    Star-edge contraction: every base component is already connected, so
    its members can be represented by star edges (member → label) without
    changing reachability; the min-label fixpoint over
    (star edges ∪ delta edges) therefore equals the fixpoint over
    (base edges ∪ delta edges). Node coverage is preserved too: every
    labeled base node appears in a star edge (components of size 1 never
    arise from an edge set), and delta nodes appear in the delta edges.
    Equality with the from-scratch run is pinned in
    tests/test_operators.py.

    Cost shape: the star relation is one row per PREVIOUSLY LABELED node
    (≤ one per base edge endpoint), so star ∪ delta edges within the
    driver bound merge in one collect; past it the star rounds start
    from an already-flat forest. Either way the base EDGE computation
    (the expensive near-dup join) never re-runs.
    """
    star = base_labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(src), F.col("component").alias(dst)
    )
    return connected_components(
        star.unionByName(delta_edges.select(src, dst)), src=src, dst=dst
    )


#: Round budget of :func:`connected_components_star`: star rounds grow
#: ~log2(n_nodes), so 50 rounds cover any graph that fits a cluster.
STAR_MAX_ROUNDS = 50


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii, "Connected
    Components in MapReduce and Beyond", ACM SoCC 2014 — public paper).

    Converges in O(log n) rounds regardless of graph DIAMETER (a 1M-node
    chain needs 1M min-label propagation rounds but only ~20 star
    rounds). Each round is two groupBy-min + join passes over the edge
    relation; this is the scale path for component-collapsing at 100 TB,
    and what :func:`connected_components` runs for any input its driver
    tier does not take.

    large-star: every node u points its LARGER neighbors at
    m = min(Γ(u) ∪ {u}); small-star: u and its smaller neighbors all
    point at the minimum of that set. Both preserve connectivity and
    monotonically flatten the forest; the fixpoint is a star per
    component rooted at the component min.

    Returns ``(labels, n_rounds)`` — labels is (node, component) with
    component = min node id reachable; n_rounds the rounds executed (the
    O(log n) certificate asserted by tests). Fixpoint detection compares
    successive edge sets (a limit-1 subtract probe per round, the one
    driver-side action — bounded by O(log n) executions). A graph still
    changing after :data:`STAR_MAX_ROUNDS` rounds raises ``RuntimeError``.

    Lineage discipline: every round ends in a ``localCheckpoint``.
    Without it each round's logical plan embeds the previous round's
    whole plan and Catalyst analysis time grows exponentially (measured:
    2.8s, 2.6s, 27.5s for rounds 0-2 on a 16-node path with plain
    persist). At cluster scale swap localCheckpoint for a reliable
    ``checkpoint`` dir — same truncation, executor-loss-safe.
    """
    return _star_rounds(_cut_pairs(edges, src, dst))


def _star_rounds(pairs: DataFrame) -> tuple[DataFrame, int]:
    """The rounds of :func:`connected_components_star` over the cut
    (a, b) relation of :func:`_cut_pairs`, which the edge set and the
    node universe both read."""
    e = (
        pairs.select(
            F.greatest("a", "b").alias("a"),
            F.least("a", "b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # |e| for the count-gated convergence probe below — a plain scan of
    # the just-materialized checkpoint, no exchange
    n_e = e.count()
    # node universe from the unfiltered pairs, not the self-loop-filtered
    # set: a node whose only edge is a self loop is still a (singleton)
    # component and must receive a label (property-test regression)
    all_nodes = (
        pairs.select(F.col("a").alias("node"))
        .unionByName(pairs.select(F.col("b").alias("node")))
        .distinct()
    )
    rounds = 0
    for _ in range(STAR_MAX_ROUNDS):
        # large-star: bidirectional adjacency; larger neighbors -> min
        bidir = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmins = bidir.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            bidir.join(lmins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: orient (larger -> smaller); u and its smaller
        # neighbors all attach to the minimum of the closed neighborhood
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        joined = large.join(smins, "a")
        small = (
            joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(smins.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            # round 16: LAZY checkpoint — the convergence probe below is
            # the materializing action, so each round pays ONE driver
            # action instead of three (eager ckpt + two subtract
            # probes); the plan still truncates immediately
            # (localCheckpoint wraps the frame in a LogicalRDD at call
            # time regardless of eagerness). At fixture scale the loop's
            # wall was ~1 s/round of pure job-scheduling overhead on a
            # tens-of-edges relation (measured: star-CC 2.0 s of
            # curation_v3's 6.6 s at 2 rounds).
            .localCheckpoint(eager=False)
        )
        rounds += 1
        # Count-gated convergence probe (round 16): both edge sets are
        # DISTINCT relations, so small == e REQUIRES |small| == |e| —
        # and when the counts do match, equal cardinality plus one
        # containment (small \ e = ∅) already proves equality, so one
        # subtract direction suffices. The count is the checkpoint's
        # materializing action (a scan, no exchange); the subtract — a
        # two-sided distinct anti-join, the expensive probe — now runs
        # only on count-equal rounds (in practice: the final round)
        # instead of every round. Mid-run rounds previously paid the
        # full two-directional set comparison just to learn "changed".
        n_small = small.count()
        if n_small == n_e:
            changed = small.subtract(e).limit(1).count()
        else:
            changed = 1
        e = small
        n_e = n_small
        if changed == 0:
            break
    else:
        # round budget exhausted with the edge set still moving: the
        # relation is not yet a star forest, so emitting it as labels would
        # yield duplicate node rows / non-minimal components and silently
        # corrupt any downstream group-size aggregate (ADVICE r6). Fail
        # loudly — star rounds scale ~log2(n), so hitting this means the
        # graph is astronomically larger than the budget.
        raise RuntimeError(
            f"connected_components_star did not converge in "
            f"{STAR_MAX_ROUNDS} rounds (edge set still changing) — "
            "component labels would be non-final"
        )
    labels = e.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = all_nodes.join(
        labels, "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    return labels.unionByName(roots), rounds


#: 1e-12 integer grid for PageRank contribution sums (order-independent
#: cross-engine addition; per-node Σ of <= n_nodes terms each <= 1e12 —
#: far inside int64).
PR_GRID = 1_000_000_000_000.0


def pagerank(
    edges: DataFrame,
    n_iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank (Brin & Page 1998; weighted variant as in
    TextRank, Mihalcea & Tarau EMNLP 2004 — public papers) with a FIXED
    iteration count, fully relational: the loop unrolls into one static
    lineage of join→aggregate rounds, so the whole computation is a single
    declarative plan (no driver-side convergence checks — the one
    legitimate driver loop in this package stays the star rounds of
    `connected_components_star`).

    Determinism contract (hash-exact oracle): ranks are rounded to 1e-9
    after every iteration and EVERY float reduction — the out-weight sums
    ``wdeg`` included — is accumulated as int64 on the 1e-12 grid, so both
    engines produce bit-identical doubles regardless of aggregation order.
    Weights are quantized to the 1e-12 grid on entry (exact for integer
    weights like TextRank's co-occurrence counts; a ≤5e-13 perturbation —
    identically applied in both engines — for arbitrary fractions).
    Grid bound: the int64 sum is PER SOURCE over all its out-edges, so
    the real constraint is Σ|w| ≤ ~9e6 per src node on the 1e-12 grid
    (9e6 · 1e12 ≈ 9e18 < 2^63) — NOT a per-edge bound; ten edges at
    |w|=1e6 each would already wrap (ADVICE r6). Enforced with an
    ``assert_true`` on |wdeg| so overflow fails loudly instead of
    silently poisoning every downstream ``frac``.

    Scale shape per iteration: one (src)-keyed join of edges against the
    current rank relation and one (dst)-keyed hash aggregate — the classic
    distributed PageRank round. Edge weights/out-degrees are computed once
    before the loop. Dangling/isolated nodes keep the (1-d)/N floor via a
    left join.

    Returns (node, rank) — ranks sum to ~1 over nodes.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    # wdeg on the int64 grid: a plain SUM(double) is aggregation-order-
    # dependent for fractional weights and would poison every downstream
    # frac = w/wdeg; the grid sum is associative and engine-exact.
    # int64-overflow guard, embedded in the wdeg expression itself (a
    # separate asserted-then-dropped column would be pruned by Catalyst):
    # Σ|w| per src is summed on the same grid; if it exceeds ~9e6 the
    # signed sum may already have wrapped, so fail loudly instead of
    # silently poisoning every downstream frac.
    wdeg = e.groupBy("src").agg(
        (
            F.sum(F.round(F.col("w") * PR_GRID).cast("long")) / PR_GRID
        ).alias("__wdeg_raw"),
        (
            F.sum(F.round(F.abs(F.col("w")) * PR_GRID).cast("double"))
            / PR_GRID
        ).alias("__wabs"),
    ).select(
        "src",
        F.when(F.col("__wabs") <= F.lit(9.0e6), F.col("__wdeg_raw"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("pagerank wdeg grid overflow for src="),
                    F.col("src").cast("string"),
                    F.lit(
                        ": sum |w| per source exceeds ~9e6 — "
                        "round(w*1e12) int64 sum would wrap"
                    ),
                )
            )
        )
        .alias("wdeg"),
    )
    frac = e.join(wdeg, "src").select(
        "src",
        "dst",
        (
            F.round(F.col("w") * PR_GRID).cast("long") / PR_GRID
            / F.col("wdeg")
        ).alias("frac"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    pr = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", F.round(F.lit(1.0) / F.col("__n"), 9).alias("rank")
    )
    for _ in range(n_iterations):
        contrib = frac.join(pr, frac["src"] == pr["node"]).select(
            F.col("dst").alias("node"),
            F.round(F.col("rank") * F.col("frac") * PR_GRID)
            .cast("long")
            .alias("cg"),
        )
        sums = contrib.groupBy("node").agg(F.sum("cg").alias("cg_sum"))
        pr = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                F.round(
                    (1.0 - damping) / F.col("__n")
                    + damping
                    * (F.coalesce(F.col("cg_sum"), F.lit(0)) / PR_GRID),
                    9,
                ).alias("rank"),
            )
        )
    return pr


def _degree_oriented_edges(und: DataFrame) -> DataFrame:
    """Direct each (a < b)-deduplicated edge from its lower-(degree, id)
    endpoint to the higher — the O(√m)-outdegree orientation the scale
    path pivots on. Returns (u, v, deg_v), eagerly localCheckpoint-ed
    (three downstream consumers). ``und`` itself is checkpointed FIRST:
    it is consumed three times here (two degree scans + the edge join),
    and its lineage typically includes the expensive upstream pair
    generation (e.g. simhash_near_pairs in dedup_triangle_count), which
    would otherwise recompute ~3× (ADVICE r9). Factored out so the
    triskew smoke measures the PRODUCTION orientation rule, not a copy
    that can drift (ADVICE r9)."""
    und = und.localCheckpoint(eager=True)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Direct each edge from the lower-(deg, id) endpoint; keep the head's
    # rank pair so the two-path join can order its endpoints without a
    # third degree lookup.
    return (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.select(
                F.col("node").alias("b"), F.col("deg").alias("deg_b")
            ),
            "b",
        )
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.col("deg_b").alias("deg_v"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.col("deg_a").alias("deg_v"),
                )
            )
            .alias("s")
        )
        .select("s.u", "s.v", "s.deg_v")
        .localCheckpoint(eager=True)
    )


def _degree_two_paths(d: DataFrame) -> DataFrame:
    """Candidate two-paths under degree orientation: pivot on the SOURCE
    vertex of :func:`_degree_oriented_edges`'s directed list (load
    Σ outdeg² = O(m^1.5)), endpoints ordered by the (deg, id) rank."""
    return (
        d.alias("p1")
        .join(
            d.alias("p2"),
            (F.col("p1.u") == F.col("p2.u"))
            & (
                (F.col("p1.deg_v") < F.col("p2.deg_v"))
                | (
                    (F.col("p1.deg_v") == F.col("p2.deg_v"))
                    & (F.col("p1.v") < F.col("p2.v"))
                )
            ),
        )
        .select(
            F.col("p1.u").alias("x"),
            F.col("p1.v").alias("y"),
            F.col("p2.v").alias("z"),
        )
    )


def oriented_triangles(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Enumerate every triangle of the undirected edge list exactly once
    as (x, y, z) — the classic two-path + closing-edge join (Suri &
    Vassilvitskii 2011's relational formulation, no graph library).

    Each edge is directed from its lower-(degree, id) endpoint to the
    higher, then two-paths pivot on the SOURCE vertex. Out-degree under
    this orientation is O(√m) amortized, so the pivot self-join's load
    is Σ outdeg² = O(m^1.5) REGARDLESS of skew — one corpus-scale
    boilerplate cluster (the common real-world near-dup shape: one node
    set where everyone matches everyone) stays bounded where
    lexicographic orientation (pivot on the middle id, load Σ deg²)
    goes quadratic inside the cluster (VERDICT r8 item 3). The ordering
    key is the exact pair (degree, id): a deterministic total order
    computed from one exact degree aggregate, so the oracle mirrors it
    verbatim.

    Each triangle {v1, v2, v3} with (deg, id)-ranks r1 < r2 < r3
    materializes exactly once: directed edges r1→r2, r1→r3, r2→r3 exist,
    the pivot join emits (x=r1, y=r2, z=r3) once (the y-before-z rank
    filter kills the mirror duplicate), and the closing edge is exactly
    the directed (y→z). The directed edge list is eagerly
    localCheckpoint-ed because it feeds three join consumers; at cluster
    scale swap for a reliable checkpoint pre-partitioned by the pivot.

    Returns (x, y, z) — one row per triangle, vertex names carry no
    rank meaning to callers beyond uniqueness.
    """
    und = edges.select(
        F.least(F.col(a_col), F.col(b_col)).alias("a"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
    ).distinct()
    d = _degree_oriented_edges(und)
    return _degree_two_paths(d).join(
        d.alias("e3"),
        (F.col("e3.u") == F.col("y")) & (F.col("e3.v") == F.col("z")),
        "left_semi",
    )


def triangle_counts(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Exact per-vertex triangle participation over an undirected edge
    list — :func:`oriented_triangles` (degree-ordered; see its docstring
    for the skew bound) exploded to vertices and counted.

    Returns (vertex, n_triangles), vertices with ≥ 1 triangle only.
    """
    tri = oriented_triangles(edges, a_col, b_col)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
