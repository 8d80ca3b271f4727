"""Property tests for the kernel's AST evaluator in isolation (no
Spark): random per-term posting lists + a random boolean/DisMax/MinMatch
AST must evaluate identically to a naive per-doc reference interpreter.
This pins the node SEMANTICS (round-7's DisMax max+tie, MinMatch
count>=m sum, Boost scaling, And/Or/Not algebra) independently of the
decode/WAND machinery that the Spark-level oracle suites cover."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from zsolr.parse import And, Boost, DisMax, MinMatch, Not, Or, Term
from zsolr.search import _eval_ast

N_DOCS = 40
TERMS = ["t0", "t1", "t2", "t3", "t4"]


@st.composite
def per_term_tables(draw):
    """term → (sorted doc ids, float scores)."""
    out = {}
    for t in TERMS:
        ids = sorted(draw(st.sets(st.integers(0, N_DOCS - 1),
                                  max_size=N_DOCS)))
        scores = [draw(st.floats(0.01, 5.0, allow_nan=False))
                  for _ in ids]
        out[t] = (np.array(ids, dtype=np.int64),
                  np.array(scores, dtype=np.float64))
    return out


@st.composite
def asts(draw, depth=0):
    """Random AST over TERMS: Term / Boost / And / Or / DisMax /
    MinMatch, NOT only as an And child (the planner's supported
    positions)."""
    if depth >= 3:
        return Term(draw(st.sampled_from(TERMS)))
    kind = draw(st.sampled_from(
        ["term", "boost", "and", "or", "dismax", "minmatch"]))
    if kind == "term":
        return Term(draw(st.sampled_from(TERMS)))
    if kind == "boost":
        return Boost(draw(asts(depth=depth + 1)),
                     draw(st.floats(0.1, 3.0)))
    n = draw(st.integers(2, 3))
    kids = tuple(draw(asts(depth=depth + 1)) for _ in range(n))
    if kind == "and":
        # optionally one NOT leg (exclusion)
        if draw(st.booleans()):
            kids = kids + (Not(Term(draw(st.sampled_from(TERMS)))),)
        return And(kids)
    if kind == "or":
        return Or(kids)
    if kind == "dismax":
        return DisMax(kids, draw(st.floats(0.0, 1.0)))
    return MinMatch(kids, draw(st.integers(1, n)))


def _ref_eval(node, table, doc):
    """Reference interpreter: (matches: bool, score: float) per doc."""
    if isinstance(node, Term):
        ids, sc = table[node.term]
        idx = np.searchsorted(ids, doc)
        if idx < len(ids) and ids[idx] == doc:
            return True, float(sc[idx])
        return False, 0.0
    if isinstance(node, Boost):
        m, s = _ref_eval(node.child, table, doc)
        return m, s * node.weight
    if isinstance(node, Not):
        m, _s = _ref_eval(node.child, table, doc)
        return not m, 0.0
    if isinstance(node, And):
        pos = [c for c in node.children if not isinstance(c, Not)]
        neg = [c for c in node.children if isinstance(c, Not)]
        parts = [_ref_eval(c, table, doc) for c in pos]
        if not all(m for m, _ in parts):
            return False, 0.0
        for nchild in neg:
            if _ref_eval(nchild.child, table, doc)[0]:
                return False, 0.0
        return True, sum(s for _, s in parts)
    if isinstance(node, Or):
        parts = [_ref_eval(c, table, doc) for c in node.children]
        if not any(m for m, _ in parts):
            return False, 0.0
        return True, sum(s for m, s in parts if m)
    if isinstance(node, DisMax):
        parts = [_ref_eval(c, table, doc) for c in node.children]
        hit = [s for m, s in parts if m]
        if not hit:
            return False, 0.0
        return True, max(hit) + node.tie * (sum(hit) - max(hit))
    if isinstance(node, MinMatch):
        parts = [_ref_eval(c, table, doc) for c in node.children]
        hit = [s for m, s in parts if m]
        if len(hit) < node.m:
            return False, 0.0
        return True, sum(hit)
    raise AssertionError(node)


def _env(table):
    universe = np.arange(N_DOCS, dtype=np.int64)
    return {"per_term_pos": {}, "idf_map": {}, "norms_by_field": {},
            "avgdl_by_field": {}, "universe": universe}


@settings(max_examples=300, deadline=None)
@given(per_term_tables(), asts())
def test_eval_ast_matches_reference(table, ast):
    ids, sc = _eval_ast(ast, table, _env(table))
    got = dict(zip(ids.tolist(), sc.tolist()))
    exp = {}
    for doc in range(N_DOCS):
        m, s = _ref_eval(ast, table, doc)
        if m:
            exp[doc] = s
    assert set(got) == set(exp), (ast,)
    for d, s in exp.items():
        assert abs(got[d] - s) <= 1e-9, (ast, d)


@settings(max_examples=100, deadline=None)
@given(per_term_tables(),
       st.lists(st.sampled_from(TERMS), min_size=2, max_size=4,
                unique=True),
       st.floats(0.0, 1.0), st.integers(1, 4))
def test_minmatch_bounds_or_and(table, terms, tie, m):
    """MinMatch interpolates between Or (m=1) and And (m=n): its match
    set shrinks monotonically in m, and its score never exceeds the Or
    sum (the WAND-soundness invariant)."""
    kids = tuple(Term(t) for t in terms)
    env = _env(table)
    m = min(m, len(kids))
    mm_ids, mm_sc = _eval_ast(MinMatch(kids, m), table, env)
    or_ids, or_sc = _eval_ast(Or(kids), table, env)
    assert set(mm_ids.tolist()) <= set(or_ids.tolist())
    or_map = dict(zip(or_ids.tolist(), or_sc.tolist()))
    for d, s in zip(mm_ids.tolist(), mm_sc.tolist()):
        assert s <= or_map[d] + 1e-12
    if m > 1:
        mm2_ids, _ = _eval_ast(MinMatch(kids, m - 1) if m - 1 > 1
                               else Or(kids), table, env)
        assert set(mm_ids.tolist()) <= set(mm2_ids.tolist())
