"""Seeded random-query fuzz: generated ASTs over the fixture vocabulary,
engine vs pure-Python oracle — rank + score identity (atol 1e-9), numFound,
WAND on == off.  Covers arbitrary nesting of And/Or/Not/Phrase(slop)/
Boost/Prefix/meta terms that the hand-written suites can't enumerate."""

import numpy as np
import pytest

from zsolr.parse import (And, Boost, Contains, Fuzzy, Not, Or, Phrase,
                         Prefix, Term, Wildcard)
from zsolr.search import Searcher, UnsupportedQuery

from tests.oracle import OracleIndex


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    cat, _res = built_index
    return Searcher(spark, cat)


@pytest.fixture(scope="module")
def oracle(spark, built_index, corpus_df):
    cat, _res = built_index
    docs = cat.read(spark, "docs").select(
        "doc_id", "repo", "path", "commit", "lang")
    j = corpus_df.join(docs, ["repo", "path"]).select(
        "doc_id", "content", docs["lang"].alias("lang"), "repo", "path",
        docs["commit"].alias("commit"))
    return OracleIndex([r.asDict() for r in j.collect()])


def _gen(rng: np.random.Generator, vocab: list, bigrams: list, depth: int):
    """Random AST; leans positive so most queries are supported+non-empty."""
    r = rng.random()
    if depth <= 0 or r < 0.40:
        t = vocab[rng.integers(len(vocab))]
        if rng.random() < 0.15:
            return Boost(Term(t), float(rng.integers(1, 4)))
        return Term(t)
    if r < 0.50:  # metadata equality leg (engine: zero-scored field term)
        return Term(["en", "de", "fr", "es", "zh"][int(rng.integers(5))],
                    "lang")
    if r < 0.62:
        # 2- to 4-term phrases: m >= 3 exercises the sentinel-combination
        # enumeration in _phrase_freq (round-4 ADVICE — the int64 overflow
        # could only bite at m >= 3, which 2-term-only fuzz never reached)
        terms = list(bigrams[rng.integers(len(bigrams))])
        slop = int(rng.integers(0, 4)) if rng.random() < 0.5 else 0
        if slop and rng.random() < 0.5:   # order-free: permute the terms
            terms = [terms[i] for i in rng.permutation(len(terms))]
        return Phrase(tuple(terms), "content", slop)
    if r < 0.66:
        t = vocab[rng.integers(len(vocab))]
        return Prefix(t[: max(1, int(rng.integers(1, 4)))])
    if r < 0.70:
        t = vocab[rng.integers(len(vocab))]
        if rng.random() < 0.5:  # perturb one char → fuzzy still matches
            i = int(rng.integers(len(t)))
            t = t[:i] + "z" + t[i + 1:]
            return Fuzzy(t, 1)
        return Contains(t[1:-1]) if len(t) > 3 else Fuzzy(t, 1)
    if r < 0.74:
        t = vocab[rng.integers(len(vocab))]
        if len(t) >= 3:        # general wildcard: punch a hole in the term
            i = 1 + int(rng.integers(len(t) - 2))
            hole = "?" if rng.random() < 0.5 else "*"
            return Wildcard(t[:i] + hole + t[i + 1:])
        return Term(t)
    kids = tuple(_gen(rng, vocab, bigrams, depth - 1)
                 for _ in range(int(rng.integers(2, 4))))
    if r < 0.84:
        node = And(kids)
    else:
        node = Or(kids)
    if rng.random() < 0.35:  # negate one child
        ch = list(node.children)
        ch[int(rng.integers(len(ch)))] = Not(ch[0])
        node = type(node)(tuple(ch))
    return node


def test_fuzz_rank_identity(searcher, oracle):
    import os

    seed = int(os.environ.get("ZSOLR_FUZZ_SEED", "2026"))
    rng = np.random.default_rng(seed)
    vocab = sorted(t for t in oracle.tf if t.isalpha())
    bigrams = []
    for toks in list(oracle.tokens.values())[:50]:
        for n in (2, 3, 4):   # n-grams up to 4 → multi-term sloppy fuzz
            bigrams += [tuple(toks[i:i + n])
                        for i in range(len(toks) - n + 1)]
    bigrams = sorted(set(bigrams))[:400]
    ran = skipped = 0
    supported, serial_rows = [], []
    for _ in range(40):
        ast = _gen(rng, vocab, bigrams, depth=2)
        try:
            got, n = searcher.search(ast, k=10, with_count=True)
        except UnsupportedQuery:
            skipped += 1
            continue
        got = [(r["doc_id"], r["score"]) for r in got.collect()]
        exp = oracle.search(ast, k=10)
        assert [g[0] for g in got] == [e[0] for e in exp], ast
        for g, e in zip(got, exp):
            assert abs(g[1] - e[1]) < 1e-9, (ast, g, e)
        assert n == oracle.num_found(ast), ast
        w_off = [(r["doc_id"], r["score"]) for r in
                 searcher.search(ast, k=10, wand=False).collect()]
        assert got == w_off, ast
        supported.append(ast)
        serial_rows.append(got)
        ran += 1
    assert ran >= 30, (ran, skipped)  # fuzz must mostly exercise real paths
    # the batched path faces the same fuzz set: bit-identical to serial
    batch = searcher.search_batch(supported, k=10)
    for ast, sdf_rows, bdf in zip(supported, serial_rows, batch):
        brows = [(r["doc_id"], r["score"]) for r in bdf.collect()]
        assert brows == sdf_rows, ast
