"""Hypothesis property tests (SURVEY.md §5.3 layer 2): random PPDB rules
format → parse → exact round-trip. Each example is a LIST of rules parsed
in one Spark job to keep runtime bounded."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ppdb_parser_spark.operators.ppdb import parse_ppdb

_token = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzéüñ0123456789",
    min_size=1,
    max_size=10,
)
_phrase = st.lists(_token, min_size=1, max_size=6).map(" ".join)
_feat_key = st.sampled_from(
    ["PPDB2.0Score", "AGigaSim", "p(e|f)", "p(f|e)", "Rarity", "WordLen"]
)
_feat_val = st.floats(
    min_value=-99, max_value=99, allow_nan=False, allow_infinity=False
).map(lambda x: round(x, 4))
_entailment = st.sampled_from(
    [None, "Equivalence", "ForwardEntailment", "ReverseEntailment",
     "Exclusion", "Independent", "OtherRelated"]
)


@st.composite
def _rule(draw):
    lhs = f"[{draw(st.sampled_from(['NN', 'VP', 'JJ', 'S', 'NP']))}]"
    phrase = draw(_phrase)
    para = draw(_phrase)
    feats = draw(
        st.dictionaries(_feat_key, _feat_val, min_size=1, max_size=4)
    )
    n_tgt = len(para.split())
    align = [(i, draw(st.integers(0, n_tgt - 1))) for i in range(len(phrase.split()))]
    ent = draw(_entailment)
    line = (
        f"{lhs} ||| {phrase} ||| {para} ||| "
        + " ".join(f"{k}={v}" for k, v in feats.items())
        + " ||| "
        + " ".join(f"{s}-{t}" for s, t in align)
    )
    if ent:
        line += f" ||| {ent}"
    return (line, lhs, phrase, para, feats, align, ent)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rules=st.lists(_rule(), min_size=1, max_size=25))
def test_parse_roundtrip_property(spark, rules):
    df = spark.createDataFrame([(r[0],) for r in rules], "value string")
    parsed = {r["_raw_line"]: r for r in parse_ppdb(df).collect()}
    for line, lhs, phrase, para, feats, align, ent in rules:
        r = parsed[line]
        assert r["is_valid"], line
        assert r["lhs"] == lhs
        assert r["phrase"] == phrase
        assert r["paraphrase"] == para
        assert r["features"] == feats
        assert [(a["src"], a["tgt"]) for a in r["alignment"]] == align
        assert r["entailment"] == ent


# --------------------------------------------------------------------------
# Prefix-filter Jaccard == baseline Jaccard on adversarial random corpora.
# The round-5 soundness bug (prefix-LENGTH c-bound wrongly pruning
# containment-shaped qualifying pairs) lived in exactly the input class
# random fixtures never produce: tiny vocabularies with subset/superset
# document relationships. This property hammers that class directly —
# docs of 3-12 tokens over a 7-word vocabulary maximize containment and
# shared-shingle density.
# --------------------------------------------------------------------------
_corpus_token = st.sampled_from(["a", "b", "c", "d", "e", "f", "g"])
_doc = st.lists(_corpus_token, min_size=3, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=4, max_size=10)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus, threshold=st.sampled_from([0.3, 0.5, 0.7]))
def test_jaccard_prefix_equals_baseline_random_corpora(spark, corpus, threshold):
    from ppdb_parser_spark.operators.dedup import jaccard_pairs, jaccard_pairs_prefix

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id int, text string"
    )

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], r["n_common"], r["n_a"], r["n_b"])
            for r in df.collect()
        )

    assert key(jaccard_pairs_prefix(docs, threshold=threshold, n=2)) == key(
        jaccard_pairs(docs, threshold=threshold, n=2)
    )


_edges = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(edges=_edges)
def test_star_components_equal_min_label_random_graphs(spark, edges):
    """large-star/small-star rounds and connected_components' driver
    tier (numpy min-label propagation) share the unique fixpoint
    (component = min reachable id) on arbitrary graphs — random edge
    lists with self loops, duplicates, reversed pairs, and multiple
    components."""
    from ppdb_parser_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    star, _ = connected_components_star(df)
    s = {(r["node"], r["component"]) for r in star.collect()}
    p = {
        (r["node"], r["component"])
        for r in connected_components(df).collect()
    }
    # self-loop-only nodes keep a singleton label on both paths; both
    # operators must agree on the full node set and every label
    assert s == p


@st.composite
def _typed_graphs(draw):
    """Edge lists under 40 edges with self loops, duplicate and reversed
    edges, typed ``int`` (negative ids included) or ``long`` (ids past
    the int32 range)."""
    id_type = draw(st.sampled_from(["int", "long"]))
    scale, offset = (1, -10) if id_type == "int" else (2**33, -(2**40))
    raw = draw(
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 15)),
            min_size=1,
            max_size=30,
        )
    )
    x, y = raw[0]
    raw = raw + [(y, x), (x, y), (x, x)]
    edges = [(a * scale + offset, b * scale + offset) for a, b in raw]
    return id_type, edges


def _bfs_components(edges):
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: dict[int, int] = {}
    for start in adj:
        if start in out:
            continue
        seen, frontier = {start}, [start]
        for u in frontier:
            for v in adj[u] - seen:
                seen.add(v)
                frontier.append(v)
        out.update(dict.fromkeys(seen, min(seen)))
    return out


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(graph=_typed_graphs())
def test_connected_components_tiers_equal_bfs(spark, graph):
    """The driver tier (numpy) and the star rounds of
    connected_components both reach a pure-Python BFS's labels (component
    = min reachable id), with equal result schemas."""
    from unittest import mock

    from ppdb_parser_spark.operators import graph as G

    id_type, edges = graph
    df = spark.createDataFrame(edges, f"id_a {id_type}, id_b {id_type}")
    with mock.patch.object(
        G, "_driver_components", wraps=G._driver_components
    ) as driver:
        on_driver = G.connected_components(df)
    assert driver.call_count == 1
    with mock.patch.object(G, "DRIVER_MAX_EDGES", -1):
        distributed = G.connected_components(df)
    want = _bfs_components(edges)
    assert {r["node"]: r["component"] for r in on_driver.collect()} == want
    assert {r["node"]: r["component"] for r in distributed.collect()} == want
    assert on_driver.schema == distributed.schema


@st.composite
def _vectors(draw):
    n = draw(st.integers(6, 20))
    dim = 4
    vecs = [
        [
            round(draw(st.floats(-1, 1, allow_nan=False, allow_infinity=False)), 3)
            for _ in range(dim)
        ]
        for _ in range(n)
    ]
    # ensure no zero vectors (cosine undefined) — bump first coord
    return [[v[0] + 1.5, *v[1:]] for v in vecs]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(vecs=_vectors(), threshold=st.sampled_from([0.5, 0.9, 0.99]))
def test_semantic_dedup_matches_python_reference(spark, vecs, threshold):
    """semantic_dedup's cell assignment + dominance rule recomputed in
    plain Python must match the Spark plan exactly (1e-6-rounded cosine,
    argmax cell with id tie-break, drop iff a smaller same-cell id is
    within threshold)."""
    import math

    from ppdb_parser_spark.operators.similarity import semantic_dedup

    n_cells = min(3, len(vecs))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cell_id"], r["kept"])
        for r in semantic_dedup(df, n_cells=n_cells, threshold=threshold).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    cell = {
        i: max(range(n_cells), key=lambda c: (cos(v, vecs[c]), -c))
        for i, v in enumerate(vecs)
    }
    kept = {
        i: not any(
            j < i and cell[j] == cell[i] and cos(vecs[i], vecs[j]) >= threshold
            for j in range(i)
        )
        for i in range(len(vecs))
    }
    assert got == {i: (cell[i], kept[i]) for i in range(len(vecs))}


@given(
    st.lists(
        st.one_of(
            st.floats(
                min_value=-6.5e10,
                max_value=6.5e10,
                allow_nan=False,
                allow_infinity=False,
            ),
            # adversarial: exact half-integers and one-ulp neighbors
            st.integers(min_value=-(10**10), max_value=10**10).map(
                lambda k: k + 0.5
            ),
            st.integers(min_value=-(10**10), max_value=10**10).map(
                lambda k: __import__("math").nextafter(k + 0.5, 0)
            ),
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=300, deadline=None)
def test_np_round_half_away_is_exact_f_round(vals):
    """Property pin for the kernel family's exactness keystone:
    _np_round_half_away(v) must equal BigDecimal.valueOf(v).setScale(0,
    HALF_UP) — i.e. Decimal(repr(v)).quantize(1, HALF_UP), the exact
    semantics of F.round on a double — for every finite double inside
    the documented |term| bound, including exact half-integers (rounds
    AWAY from zero for negatives) and one-ulp-below-half neighbors
    (where floor(v+0.5) is wrong)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from ppdb_parser_spark.operators.similarity import _np_round_half_away

    got = _np_round_half_away(np.array(vals, dtype=np.float64))
    want = [
        int(
            Decimal(repr(float(v))).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )
        for v in vals
    ]
    assert [int(x) for x in got] == want


# --------------------------------------------------------------------------
# span_scrub vs a direct per-corpus Python reference: the C4-style rule
# (every n-gram occurring in >=2 docs keeps only its min-id carrier;
# covered positions union; survivors re-join in order) re-derived with
# plain dicts, so the distributed window + anti-join plan is checked
# against an independent restatement on random corpora — including
# overlapping spans, same-doc repeats, sub-n docs and scrub-to-empty.
# --------------------------------------------------------------------------
def _span_scrub_ref(corpus: list[str], n: int):
    owner: dict[tuple, int] = {}
    occs: dict[int, list[tuple[int, tuple]]] = {}
    for did, text in enumerate(corpus):
        toks = text.split(" ")
        occs[did] = [
            (i, tuple(toks[i : i + n])) for i in range(len(toks) - n + 1)
        ]
        for _, g in occs[did]:
            owner[g] = min(owner.get(g, did), did)
    out = {}
    for did, text in enumerate(corpus):
        toks = text.split(" ")
        cov = set()
        for i, g in occs[did]:
            if owner[g] != did:
                cov.update(range(i, i + n))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        out[did] = (len(toks), len(cov), " ".join(kept))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus, n=st.sampled_from([2, 3]))
def test_span_scrub_equals_reference_random_corpora(spark, corpus, n):
    from ppdb_parser_spark.operators.dedup import span_scrub

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["n_removed"], r["scrub_text"])
        for r in span_scrub(docs, n=n).collect()
    }
    assert got == _span_scrub_ref(corpus, n)


def _span_scrub_intra_ref(corpus: list[str], n: int):
    out = {}
    for did, text in enumerate(corpus):
        toks = text.split(" ")
        first: dict[tuple, int] = {}
        occ = [(i, tuple(toks[i : i + n])) for i in range(len(toks) - n + 1)]
        for i, g in occ:
            first.setdefault(g, i)
        cov = set()
        for i, g in occ:
            if first[g] != i:
                cov.update(range(i, i + n))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        out[did] = (len(toks), len(cov), " ".join(kept))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus, n=st.sampled_from([2, 3]))
def test_span_scrub_intra_equals_reference_random_corpora(spark, corpus, n):
    from ppdb_parser_spark.operators.dedup import span_scrub_intra

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id int, text string"
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["n_removed"], r["scrub_text"])
        for r in span_scrub_intra(docs, n=n).collect()
    }
    assert got == _span_scrub_intra_ref(corpus, n)


# --------------------------------------------------------------------------
# Vectorized round-6 kernel (operators/similarity._np_round6) vs the exact
# Decimal(repr) HALF_UP reference — the contract every pair-refine kernel
# output rides on. Pure Python/numpy (no Spark job per example), so
# hypothesis can hammer the boundary hard: uniform cosines, values ON the
# 1e-6 grid, values a few ulps around .xxxxx5 midpoints, and signed zeros.
# --------------------------------------------------------------------------
import math

from hypothesis import given, settings
from hypothesis import strategies as st


def _round6_ref(x: float) -> float:
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


_plain = st.floats(
    min_value=-1.5, max_value=1.5, allow_nan=False, allow_infinity=False
)
_grid = st.integers(min_value=-1_500_000, max_value=1_500_000).map(
    lambda k: k / 1e6
)
_mid = st.integers(min_value=-1_499_999, max_value=1_499_999).map(
    lambda k: (2 * k + 1) / 2e6
)
_ulp_jitter = st.integers(min_value=-3, max_value=3)


@settings(max_examples=2000, deadline=None)
@given(
    st.lists(
        st.one_of(
            _plain,
            _grid,
            st.tuples(_mid, _ulp_jitter).map(
                lambda t: math.nextafter(
                    t[0], math.inf if t[1] >= 0 else -math.inf
                )
                if t[1]
                else t[0]
            ),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_np_round6_fuzz_matches_decimal_reference(vals):
    import numpy as np

    from ppdb_parser_spark.operators.similarity import _np_round6

    got = _np_round6(np.array(vals, dtype=np.float64))
    want = [_round6_ref(v) for v in vals]
    for g, w, v in zip(got, want, vals):
        assert g == w, (v, float(g), w)
        # sign of zero is normalized to +0.0 (the JVM BigDecimal has no
        # signed zero)
        if g == 0.0:
            assert math.copysign(1.0, float(g)) > 0, v


def _round0_ref(x: float) -> int:
    """Exact F.round(x) reference: HALF_UP on the shortest-repr decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(x))).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
    )


_half_center = st.integers(min_value=-10_000_000, max_value=10_000_000).map(
    lambda k: k + 0.5
)


@settings(max_examples=2000, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(
                min_value=-1e10,
                max_value=1e10,
                allow_nan=False,
                allow_infinity=False,
            ),
            _half_center,
            st.tuples(_half_center, st.integers(min_value=-3, max_value=3)).map(
                lambda t: math.nextafter(
                    t[0], math.inf if t[1] >= 0 else -math.inf
                )
                if t[1]
                else t[0]
            ),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_np_round_half_away_fuzz_matches_decimal_reference(vals):
    """The grid kernels' per-term ``round(x)`` replica vs the exact
    Decimal(repr) HALF_UP reference — integer half-boundaries and
    ulp-jittered neighbors up to the 1e10 term magnitude the grid dots
    produce."""
    import numpy as np

    from ppdb_parser_spark.operators.similarity import _np_round_half_away

    got = _np_round_half_away(np.array(vals, dtype=np.float64))
    want = [_round0_ref(v) for v in vals]
    assert [int(g) for g in got] == want, vals
