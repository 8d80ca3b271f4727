"""Engine vs pure-Python BM25 oracle: rank-identical top-k, equal scores
(atol 1e-9), WAND on == WAND off, numFound, pagination/sort, facets
(SURVEY.md §5 ring 2; BASELINE.json north_rule rank-identity)."""

import pytest

from zsolr.parse import parse
from zsolr.search import Searcher, UnsupportedQuery

from tests.oracle import OracleIndex
from tests.queryset import reference_queries


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


@pytest.mark.parametrize("q", reference_queries())
def test_rank_identity(searcher, oracle, q):
    got = [(r["doc_id"], r["score"]) for r in searcher.search(q, k=10).collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)


@pytest.mark.parametrize("q", reference_queries())
def test_wand_equals_exhaustive(searcher, q):
    w = [(r["doc_id"], r["score"]) for r in searcher.search(q, k=10).collect()]
    e = [(r["doc_id"], r["score"])
         for r in searcher.search(q, k=10, wand=False).collect()]
    assert w == e, q


@pytest.mark.parametrize("q", ["spark", "dup", "hash AND join",
                               "stream OR batch", "lang:en AND spark"])
def test_num_found(searcher, oracle, q):
    _df, n = searcher.search(q, k=5, with_count=True)
    assert n == oracle.num_found(parse(q)), q


def test_output_columns(searcher):
    df = searcher.search("spark", k=3)
    assert df.columns == ["doc_id", "repo", "path", "commit", "score"]
    assert df.count() == 3


def test_pagination(searcher, oracle):
    full = oracle.search(parse("spark"), k=20)
    page = [(r["doc_id"], r["score"])
            for r in searcher.search("spark", k=10, start=5).collect()]
    assert [p[0] for p in page] == [e[0] for e in full[5:15]]


def test_sort_override(searcher, spark, built_index):
    cat, _res = built_index
    got = [r["doc_id"] for r in
           searcher.search("spark", k=10, sort="path").collect()]
    docs = cat.read(spark, "docs")
    matches = searcher.search("spark", k=None, wand=False).select("doc_id")
    exp = [r["doc_id"] for r in
           docs.join(matches, "doc_id").orderBy("path", "doc_id")
           .limit(10).collect()]
    assert got == exp
    desc = [r["doc_id"] for r in
            searcher.search("spark", k=5, sort="path desc").collect()]
    exp_desc = [r["doc_id"] for r in
                docs.join(matches, "doc_id")
                .orderBy(docs["path"].desc(), "doc_id").limit(5).collect()]
    assert desc == exp_desc


def test_filter_only_query(searcher, oracle):
    df, n = searcher.search("lang:en", k=10, with_count=True)
    exp = oracle.search(parse("lang:en"), k=10)
    assert [r["doc_id"] for r in df.collect()] == [e[0] for e in exp]
    assert n == oracle.num_found(parse("lang:en"))


def test_commit_range_filter(searcher, oracle):
    q = "commit:[0 TO 8] AND spark"
    got = [(r["doc_id"], r["score"]) for r in searcher.search(q, k=10).collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp]


def test_facet(searcher, oracle):
    got = {r["lang"]: r["hits"]
           for r in searcher.facet("spark", "lang").collect()}
    matches = {d for d, _s in oracle.search(parse("spark"), k=None)}
    exp: dict[str, int] = {}
    for d in matches:
        exp[oracle.meta[d]["lang"]] = exp.get(oracle.meta[d]["lang"], 0) + 1
    assert got == exp


@pytest.mark.parametrize("q", [
    "lang:en OR spark",                    # meta equality inside OR
    "spark OR NOT join",                   # complement leg inside OR
    "stream OR (NOT spark AND NOT join)",  # nested all-negative AND
    "spark AND (lang:en OR join)",         # meta-in-OR under AND
    "repo:src3 OR batch OR NOT stream",    # meta + term + complement mix
])
def test_or_complement_and_meta(searcher, oracle, q):
    """Round-2: NOT / metadata inside OR (rank + score identity, numFound).
    Complement and meta legs are constant-score 0; positive legs keep BM25."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


def test_unsupported_nested_range_raises(searcher):
    """Round-1 advice: a bounded range in scored position must raise, not
    silently over-match; unknown fielded terms likewise."""
    for q in ("size:[1 TO 5] AND spark", "title:[* TO *]",
              "spark OR commit:[0 TO 5]", "spark AND title:foo",
              "path:x OR spark"):
        with pytest.raises(UnsupportedQuery):
            searcher.search(q, k=5)


def test_nested_match_all_range(searcher, oracle):
    """`spark OR [* TO *]` in scored position = match-all via the shard
    universe (score from the spark leg where it matches)."""
    q = "spark OR [* TO *]"
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    assert n == oracle.num_found(parse(q))


def test_missing_term_matches_nothing(searcher):
    df, n = searcher.search("zzzznotaterm", k=10, with_count=True)
    assert n == 0 and df.count() == 0
    df2 = searcher.search("spark AND zzzznotaterm", k=10)
    assert df2.count() == 0


def test_match_all_minus_exclusion(searcher, oracle):
    """Solr `*:* AND NOT x` semantics (match-all minus the match set)."""
    got, n = searcher.search("[* TO *] AND NOT spark", k=15, with_count=True)
    excluded = {d for d, _ in oracle.search(
        __import__("zsolr.parse", fromlist=["parse"]).parse("spark"), k=None)}
    all_ids = set(oracle.meta)
    exp = sorted(all_ids - excluded)
    assert n == len(exp)
    assert [r["doc_id"] for r in got.collect()] == exp[:15]


def test_reserved_word_rejected():
    import pytest as _pytest
    from zsolr.parse import parse as _parse
    for bad in ("AND", "spark AND", "OR spark"):
        with _pytest.raises(ValueError):
            _parse(bad)


@pytest.mark.parametrize("q", ['"sort merge"', '"the fast"', '"hash join"',
                               '"merge sort"', '"sort merge part"',
                               'lang:en AND "sort merge"',
                               '"sort merge" OR spark',
                               'spark AND NOT "sort merge"'])
def test_phrase_queries(searcher, oracle, q):
    """Positional PhraseQuery: rank + score identity vs the oracle's
    independent implementation; numFound exact."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


def test_topk_tie_at_k_boundary(spark, tmp_path):
    """Regression (round-1 verdict): 40 identical docs ⇒ 40 exactly-equal
    BM25 scores in ONE shard; the per-shard bounded top-k must keep the 10
    lowest doc_ids (normative (-score, doc_id) order), not an arbitrary
    argpartition subset."""
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    rows = [("r", f"p{i:03d}", "c", "en", "alpha beta gamma")
            for i in range(40)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "tie-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4)).build(
        spark, "tie-corpus", corpus_df=corpus)
    s = Searcher(spark, cat)
    for wand in (True, False):
        got = [r["doc_id"] for r in
               s.search("alpha", k=10, wand=wand).collect()]
        assert got == list(range(10)), f"wand={wand}"


@pytest.mark.parametrize("q", ['"sort merge"~1', '"sort merge"~3',
                               '"sort part"~2', '"hash join"~4',
                               '"the fast sort"~2',
                               'spark AND "sort merge"~1',
                               '"merge sort"~1 OR batch',
                               '"merge sort"~2', '"join hash"~2',
                               '"join hash"~3 AND spark',
                               '"sort the fast"~4'])
def test_phrase_slop_queries(searcher, oracle, q):
    """Sloppy phrases (ORDER-FREE, Lucene adjusted-position semantics —
    transposed forms like "merge sort"~2 must match "sort merge" docs):
    rank + score identity vs the oracle's independent brute-force
    selection search; numFound exact."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


def test_slop_widens_match_set(searcher):
    """slop=0 ⊆ slop=2 ⊆ slop=8 match sets; parser round-trips ~k."""
    ast = parse('"sort merge"~2')
    from zsolr.parse import Phrase
    assert isinstance(ast, Phrase) and ast.slop == 2
    counts = []
    for q in ('"sort merge"', '"sort merge"~2', '"sort merge"~8'):
        _df, n = searcher.search(q, k=5, with_count=True)
        counts.append(n)
    assert counts[0] <= counts[1] <= counts[2]
    assert counts[0] < counts[2]  # slop genuinely widens on this corpus


def test_slop_transposition_matches(spark, tmp_path):
    """Lucene parity ("b a"~2): adjacent transposed terms match at slop 2
    (adjusted span = 2), not at slop 1; ordered adjacency matches at any
    slop; a one-gap transposition needs slop 3."""
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    rows = [
        ("r", "p0", "c", "en", "alpha beta x y z"),      # ordered adjacent
        ("r", "p1", "c", "en", "beta alpha x y z"),      # transposed
        ("r", "p2", "c", "en", "beta gap alpha x y"),    # transposed + gap
        ("r", "p3", "c", "en", "alpha x y z w beta"),    # far apart (gap 4)
        ("r", "p4", "c", "en", "nothing here at all x"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "slop-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4)).build(
        spark, "sl", corpus_df=corpus)
    s = Searcher(spark, cat)

    def match_set(q):
        return sorted(r["doc_id"]
                      for r in s.search(q, k=None, wand=False).collect())

    assert match_set('"alpha beta"~1') == [0]        # transposed ≠ slop 1
    assert match_set('"alpha beta"~2') == [0, 1]     # "b a" at slop 2
    assert match_set('"alpha beta"~3') == [0, 1, 2]  # gapped transposition
    assert match_set('"alpha beta"~4') == [0, 1, 2, 3]


def test_slop_three_term_sentinel_no_false_positive(spark, tmp_path):
    """int64 sentinel regression (round-4 ADVICE): with bee@5, aye@10,
    cee@20 the adjusted positions of "aye bee cee" are 10, 4, 18 — true
    span 14 — so "aye bee cee"~1 must NOT match.  The old FAR = 1<<62
    sentinel let the (+FAR, -FAR) combo compute mx-mn = 2^63, which wraps
    negative and passed the <= slop check (false positive at m >= 3)."""
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    toks = ["f%d" % i for i in range(21)]
    toks[5], toks[10], toks[20] = "bee", "aye", "cee"
    rows = [
        ("r", "p0", "c", "en", " ".join(toks)),       # span-14 doc
        ("r", "p1", "c", "en", "aye bee cee x y z"),  # true adjacent match
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "sent-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4)).build(
        spark, "st", corpus_df=corpus)
    s = Searcher(spark, cat)

    def match_set(q):
        return sorted(r["doc_id"]
                      for r in s.search(q, k=None, wand=False).collect())

    assert match_set('"aye bee cee"~1') == [1]       # p0 must NOT match
    assert match_set('"aye bee cee"~13') == [1]      # just under true span
    assert match_set('"aye bee cee"~14') == [0, 1]   # exact true span


@pytest.mark.parametrize("q", [
    "st*",                       # prefix, constant-score
    "sor* AND spark",            # prefix AND scored term
    "spar* AND spark",           # expansion overlaps a scored term
    "qu* OR NOT join",           # prefix + complement leg
    "spark^2 OR join",           # term boost changes ranking
    "spark^2 AND NOT slow",
    '"sort merge"^3 OR spark',   # phrase boost
    '"sort merge"~2^2',          # slop + boost combined
    "scan^0.5 OR spark^2",
])
def test_prefix_and_boost_queries(searcher, oracle, q):
    """PrefixQuery (constant-score expansion) + clause boosts: rank + score
    identity vs the oracle; numFound exact."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


def test_prefix_no_match_and_cap(searcher):
    df, n = searcher.search("zzz*", k=10, with_count=True)
    assert n == 0 and df.count() == 0
    from zsolr.parse import Boost, Phrase, Prefix
    ast = parse('spar* AND "a b"~1^2')
    assert isinstance(ast.children[0], Prefix)
    assert isinstance(ast.children[1], Boost)
    assert ast.children[1].weight == 2.0
    assert isinstance(ast.children[1].child, Phrase)
    assert ast.children[1].child.slop == 1


def test_phrase_stricter_than_and(searcher, oracle):
    """A phrase must match a subset of the AND of its terms."""
    _p, np_ = searcher.search('"sort merge"', k=5, with_count=True)
    _a, na = searcher.search("sort AND merge", k=5, with_count=True)
    assert 0 < np_ < na


def test_suggest_terms(searcher, oracle):
    got = [(r["term"], r["df"]) for r in searcher.suggest("s", 5).collect()]
    dfs = sorted(((t, len(d)) for t, d in oracle.tf.items()
                  if t.startswith("s")), key=lambda kv: (-kv[1], kv[0]))
    assert got == dfs[:5]


def test_stats_component(searcher, oracle):
    row = searcher.stats("spark", "doc_len").collect()[0]
    matched = [d for d, _s in oracle.search(parse("spark"), k=None)]
    lens = [oracle.doclen[d] for d in matched]
    assert row["n"] == len(lens)
    assert row["min_v"] == min(lens) and row["max_v"] == max(lens)
    assert row["sum_v"] == sum(lens)
    assert abs(row["mean_v"] - sum(lens) / len(lens)) < 1e-9


def test_facet_range(searcher, oracle):
    got = {r["bucket_start"]: r["hits"]
           for r in searcher.facet_range("spark", "doc_len",
                                         0, 200, 25).collect()}
    exp: dict[int, int] = {}
    for d, _s in oracle.search(parse("spark"), k=None):
        v = oracle.doclen[d]
        if 0 <= v < 200:
            b = (v // 25) * 25
            exp[b] = exp.get(b, 0) + 1
    assert got == exp


def test_group_top1(searcher, oracle):
    got = {r["group_val"]: (r["hits"], r["top_doc_id"])
           for r in searcher.group_top1("spark", "lang").collect()}
    by_lang: dict[str, list] = {}
    for d, s in oracle.search(parse("spark"), k=None):
        by_lang.setdefault(oracle.meta[d]["lang"], []).append((d, s))
    exp = {}
    for lang, docs in by_lang.items():
        best = min(docs, key=lambda ds: (-ds[1], ds[0]))
        exp[lang] = (len(docs), best[0])
    assert got == exp


@pytest.mark.parametrize("q", ["spark^2 OR join", "scan^0.5 OR spark^2",
                               "spark^3 AND NOT slow",
                               "the^2 OR spark"])
def test_wand_safe_under_boosts(searcher, q):
    """WAND stays enabled for boosted queries (block UBs scale by the max
    enclosing boost product) and must equal exhaustive evaluation."""
    w = [(r["doc_id"], r["score"])
         for r in searcher.search(q, k=10, wand=True).collect()]
    e = [(r["doc_id"], r["score"])
         for r in searcher.search(q, k=10, wand=False).collect()]
    assert w == e, q


def test_pure_filter_or_query(searcher, oracle):
    """OR of two zero-scored filter legs: evaluated without shipping the
    norms sidecar at all (norms pruning fast path)."""
    q = "lang:en OR repo:src3"
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp]
    assert all(abs(g[1] - e[1]) < 1e-9 for g, e in zip(got, exp))
    assert n == oracle.num_found(parse(q))


def test_norms_pruned_for_rare_terms(spark, tmp_path):
    """Rare-term queries on a multi-shard index must stay rank-identical
    with the norms semi-join active (est_docs*2 < n_shards gate)."""
    import numpy as np

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    rng = np.random.default_rng(13)
    words = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for i in range(400):
        body = " ".join(rng.choice(words, size=6))
        if i in (37, 251):              # rare term in exactly 2 docs
            body += " rareterm"
        rows.append(("r", f"p{i:04d}", "c", "en", body))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "np-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=16)).build(
        spark, "np", corpus_df=corpus)  # 25 shards; df(rareterm)=2 → prune
    s = Searcher(spark, cat)
    got = [(r["doc_id"], round(r["score"], 9))
           for r in s.search("rareterm", k=10).collect()]
    assert [g[0] for g in got] == [37, 251]
    assert got[0][1] > 0  # scored — norms present in the pruned shards
    wide = Searcher(spark, cat, shard_width=10**9)  # 1 shard — no pruning
    assert got == [(r["doc_id"], round(r["score"], 9))
                   for r in wide.search("rareterm", k=10).collect()]


def test_not_only_term_under_norms_pruning(spark, tmp_path):
    """'rare AND NOT common' on a many-shard index with the norms
    semi-join pruning ACTIVE: the negated term is neg-only, so shards
    holding only its blocks carry no norms rows — scoring it there raised
    IndexError (round-2 advice).  Neg-only terms are zero-scored (their
    doc-id sets alone drive exclusion), so the query must both run and
    stay rank/score-identical to the single-shard evaluation."""
    import numpy as np

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    rng = np.random.default_rng(13)
    filler = ["beta", "gamma", "delta", "eps"]
    rows = []
    for i in range(400):
        body = " ".join(rng.choice(filler, size=6))
        if i % 2 == 0:                  # 'alpha' (the negated term) in
            body += " alpha"            # every even doc — many shards
        if i in (37, 250):              # rare positive term in 2 docs:
            body += " rareterm"         # 37 (odd, survives NOT) and
        rows.append(("r", f"p{i:04d}", "c", "en", body))  # 250 (excluded)
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "negnorm-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=16)).build(
        spark, "nn", corpus_df=corpus)  # 25 shards; df(rareterm)=2 → prune
    s = Searcher(spark, cat)
    got = [(r["doc_id"], round(r["score"], 9))
           for r in s.search("rareterm AND NOT alpha", k=10).collect()]
    assert [g[0] for g in got] == [37]
    assert got[0][1] > 0                # positive leg still BM25-scored
    wide = Searcher(spark, cat, shard_width=10**9)  # 1 shard — no pruning
    assert got == [(r["doc_id"], round(r["score"], 9))
                   for r in wide.search("rareterm AND NOT alpha",
                                        k=10).collect()]


@pytest.mark.parametrize("q", ["sparl~1", "spark~", "sort~2",
                               "batc~1 AND spark", "qery~1 OR join",
                               "spark AND NOT slpw~1"])
def test_fuzzy_queries(searcher, oracle, q):
    """FuzzyQuery (constant-score Levenshtein expansion): rank + score
    identity vs the oracle's independent DP edit distance; numFound."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


def test_fuzzy_parse_and_no_match(searcher):
    from zsolr.parse import Fuzzy
    ast = parse("spark~2")
    assert isinstance(ast, Fuzzy) and ast.max_edits == 2
    assert parse("spark~").max_edits == 1
    df, n = searcher.search("zzzzzzzzzz~1", k=5, with_count=True)
    assert n == 0 and df.count() == 0


@pytest.mark.parametrize("q", ["*par*", "*or*", "*ort* AND spark",
                               "*que* OR NOT join"])
def test_contains_wildcard_queries(searcher, oracle, q):
    """Infix wildcard *sub* (constant-score dictionary expansion)."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


@pytest.mark.parametrize("q", ["sp?rk", "sp*rk", "s?an", "jo?n AND spark",
                               "b*tch OR stream", "h?sh j*in"])
def test_general_wildcard_queries(searcher, oracle, q):
    """Mid-token wildcards (Lucene WildcardQuery, constant-score LIKE
    dictionary expansion): rank+score identity vs the oracle's independent
    regex glob; numFound."""
    got, n = searcher.search(q, k=10, with_count=True)
    got = [(r["doc_id"], r["score"]) for r in got.collect()]
    exp = oracle.search(parse(q), k=10)
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)
    assert n == oracle.num_found(parse(q)), q


def test_boosted_metadata_filter_term(searcher, oracle):
    """'lang:en^2 AND spark': the boosted filter leg is constant-score
    (0·2 = 0), so results equal the unboosted filter query — previously
    the mis-parse matched nothing."""
    got = [(r["doc_id"], r["score"])
           for r in searcher.search("lang:en^2 AND spark", k=10).collect()]
    plain = [(r["doc_id"], r["score"])
             for r in searcher.search("lang:en AND spark", k=10).collect()]
    assert got == plain and got


def test_bulk_broadcast_gated_on_df_bound(spark, built_index, monkeypatch):
    """k=None bulk path (round-2 verdict #1): the broadcast hint is
    applied only when the Σdf union bound fits the cap.  Past the cap the
    join plan must carry NO broadcast hint (AQE decides at runtime) and
    results must be identical either way."""
    cat, _res = built_index
    s = Searcher(spark, cat)
    hinted = s.search("spark", k=None, wand=False)
    assert s._last_bulk_broadcast is True
    assert "ResolvedHint" in hinted._jdf.queryExecution().analyzed().toString()
    monkeypatch.setattr(Searcher, "BROADCAST_DOC_CAP", 0)
    s2 = Searcher(spark, cat)
    plain = s2.search("spark", k=None, wand=False)
    assert s2._last_bulk_broadcast is False
    assert "ResolvedHint" not in \
        plain._jdf.queryExecution().analyzed().toString()
    assert [tuple(r) for r in hinted.collect()] == \
        [tuple(r) for r in plain.collect()]
    # complement legs are unbounded by df — never hinted, any cap
    s3 = Searcher(spark, cat)
    comp = s3.search("hash OR NOT join", k=None, wand=False)
    assert s3._last_bulk_broadcast is False
    comp.collect()


def test_group_top1_single_aggregation_plan(spark, built_index):
    """Result grouping must be ONE partial-agg hash aggregation — a window
    partitioned by the (low-cardinality) group field serializes the match
    set into |groups| tasks (round-2 verdict #2)."""
    cat, _res = built_index
    s = Searcher(spark, cat)
    g = s.group_top1("spark", "lang")
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # struct-min compiles to SortAggregate — what matters is the two-phase
    # shape: map-side partial_min/partial_count before the one exchange
    assert "Aggregate" in plan and "partial_min" in plan


def test_sort_override_fetch_bounded(spark, tmp_path):
    """Score-ordered page doc fetch on a many-shard index: the page's
    ``(doc_id, repo, path, commit)`` come from a driver-side point read
    of the pinned doc-store snapshot's row groups (``_doc_meta``), which
    must equal a Spark isin scan of the doc store — for a page, for every
    doc, and for ids spanning the base and a delta data dir."""
    import numpy as np
    from pyspark.sql import functions as F

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.connection import SolrConnection

    rng = np.random.default_rng(7)
    rows = [("r", f"p{rng.integers(10**9):09d}-{i:04d}", "c", "en",
             "spark " + " ".join(rng.choice(["x", "y", "z"], size=4)))
            for i in range(400)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "fetch-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=4)).build(
        spark, "fx", corpus_df=corpus)         # 100 shards
    s = Searcher(spark, cat)
    page = [tuple(r) for r in s.search("spark", k=10).collect()]
    exp = [(r["doc_id"], r["repo"], r["path"], r["commit"]) for r in
           cat.read(spark, "docs").orderBy("doc_id").limit(10).collect()]
    assert [t[:4] for t in page] == exp

    def via_spark(srch, ids):
        return {r["doc_id"]: r for r in
                srch.docs.filter(F.col("doc_id").isin(ids))
                .select("doc_id", "repo", "path", "commit").collect()}

    ids = [t[0] for t in page]
    assert s._doc_meta(ids) == via_spark(s, ids)
    all_ids = [r["doc_id"] for r in
               cat.read(spark, "docs").select("doc_id").collect()]
    assert len(all_ids) == 400
    assert s._doc_meta(all_ids) == via_spark(s, all_ids)
    assert s._doc_meta([]) == {}

    conn = SolrConnection(spark, cat)
    conn.add([{"repo": "r", "path": f"delta-{i}", "content": "spark new"}
              for i in range(3)])
    assert len(cat.snapshot("docs")["data_dirs"]) == 2
    s2 = conn._searcher
    new_ids = sorted(via_spark(s2, list(range(400, 410))))
    assert len(new_ids) == 3
    span = all_ids[:5] + new_ids
    got = s2._doc_meta(span)
    assert len(got) == 8 and got == via_spark(s2, span)
    # the first searcher stays on the snapshot it pinned at open
    assert s._doc_meta(new_ids) == {}


def test_search_batch_bit_identical(searcher):
    """Batch execution (one kernel wave + one doc fetch for the whole
    reference set) must return rows bit-identical to per-query search(),
    with exact numFound; fast-path-ineligible queries (match-all, range
    filters) fall back transparently inside the same call."""
    qs = list(reference_queries()) + [
        "[* TO *] AND NOT spark",                   # match-all fallback
        "commit:[a TO f] AND spark",                # range-filter fallback
        '"sort merge"~2 OR batch',                  # phrase in batch
        "lang:en OR spark",                         # filter leg in OR
    ]
    batch = searcher.search_batch(qs, k=10, with_count=True)
    assert len(batch) == len(qs)
    for q, (bdf, bn) in zip(qs, batch):
        sdf, sn = searcher.search(q, k=10, with_count=True)
        brows = [tuple(r) for r in bdf.collect()]
        srows = [tuple(r) for r in sdf.collect()]
        assert brows == srows, q
        assert bn == sn, q


def test_kernels_raise_no_eval_type_warning(searcher):
    """The kernel-wave functions handed to Spark carry no partial type
    hints: Spark infers a pandas eval type from hints and warns ("Cannot
    infer the eval type from type hints") on every call when they are
    partial.  Checked on the batch wave and on a cogroup (range-filter)
    wave."""
    import warnings

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        searcher.search_batch(["spark", "hash AND join"], k=5)
        searcher.search("commit:[a TO f] AND spark", k=5).collect()
    assert not [str(w.message) for w in rec
                if "eval type" in str(w.message)]


def test_search_batch_pagination(searcher):
    for q in ("spark", "hash AND join"):
        b = searcher.search_batch([q], k=5, start=3)[0]
        s = searcher.search(q, k=5, start=3)
        assert [tuple(r) for r in b.collect()] == \
            [tuple(r) for r in s.collect()], q


@pytest.mark.parametrize("q", ["spark", "hash AND join", "spark^2 OR join",
                               "lang:en AND spark",
                               "the^2 OR spark AND NOT slow",
                               '"sort merge"',            # phrase leg
                               '"merge sort"~2',          # sloppy, order-free
                               '"sort merge"^2 OR spark'])
def test_explain_sums_to_search_score(searcher, q):
    """debugQuery parity: for each of the top-3 matching docs, the sum of
    explain()'s per-term contributions equals the engine score to 1e-12
    (same float expression tree); phrase legs report positional pf
    (round-3 verdict #6)."""
    top = searcher.search(q, k=3).collect()
    assert top, q
    for r in top:
        br = searcher.explain(q, r["doc_id"]).collect()
        total = sum(x["contribution"] for x in br)
        assert abs(total - r["score"]) < 1e-12, (q, r["doc_id"])
        assert all(x["tf"] >= 0 and x["df"] >= 0 for x in br)
        for x in br:
            if x["term"].startswith('"'):   # phrase row: pf drives score
                assert x["idf"] > 0
                assert (x["tf"] > 0) == (x["contribution"] > 0)


def test_distributed_candidate_cut(spark, built_index, monkeypatch):
    """Past COLLECT_CAP the candidate merge runs executor-side
    (TakeOrdered / in-cluster join+sort / per-qid window) and the driver
    collects only O(k) rows — results must be bit-identical to the
    driver-merge path for score order, field sort, pagination, counts,
    and batch execution."""
    cat, _res = built_index
    base = Searcher(spark, cat)
    ref_score = [tuple(r) for r in base.search("spark", k=10).collect()]
    ref_sorted = [tuple(r) for r in
                  base.search("spark", k=10, start=3, sort="path").collect()]
    _refc, ref_n = base.search("hash AND join", k=5, with_count=True)
    ref_batch = [[tuple(r) for r in df.collect()] for df in
                 base.search_batch(["spark", "hash AND join"], k=10)]
    assert base._last_collect_strategy == "driver_merge"

    monkeypatch.setattr(Searcher, "COLLECT_CAP", 0)
    s = Searcher(spark, cat)
    assert [tuple(r) for r in s.search("spark", k=10).collect()] == ref_score
    assert s._last_collect_strategy == "distributed_cut"
    assert [tuple(r) for r in
            s.search("spark", k=10, start=3, sort="path").collect()] \
        == ref_sorted
    _df, n = s.search("hash AND join", k=5, with_count=True)
    assert n == ref_n
    got_batch = [[tuple(r) for r in df.collect()] for df in
                 s.search_batch(["spark", "hash AND join"], k=10)]
    assert s._last_collect_strategy == "distributed_cut"
    assert got_batch == ref_batch


def test_batch_cut_two_level_many_shards(spark, tmp_path, monkeypatch):
    """Round-3 verdict #5: the batch big-path cut must NOT funnel one
    query's candidates into a single task.  On a 128-shard index with a
    forced COLLECT_CAP=0, the two-level salted cut is bit-identical to
    the driver-merge path and its level-1 groups each hold a small
    fraction of a query's candidate rows."""
    import numpy as np

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    rng = np.random.default_rng(11)
    vocab = ["spark", "join", "hash", "scan", "sort", "merge", "window",
             "stream", "batch", "query"]
    rows = []
    for i in range(512):
        body = " ".join(vocab[j] for j in rng.integers(0, len(vocab), 30))
        rows.append(("r", f"p{i:04d}", "c", "en", body))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "cut-idx"))
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=4)).build(
        spark, "cut", corpus_df=corpus)                    # 128 shards
    qs = ["spark", "hash AND join", "scan OR sort"]
    base = Searcher(spark, cat)
    ref = [[tuple(r) for r in df.collect()]
           for df in base.search_batch(qs, k=10)]
    assert base._last_collect_strategy == "driver_merge"

    monkeypatch.setattr(Searcher, "COLLECT_CAP", 0)
    s = Searcher(spark, cat)
    s._cut_debug = True
    got = [[tuple(r) for r in df.collect()] for df in s.search_batch(qs, k=10)]
    assert got == ref
    assert s._last_collect_strategy == "distributed_cut"
    lvl1_max, per_q_max = s._last_cut_stats
    assert per_q_max > Searcher.CUT_FANIN     # the fixture is non-trivial
    # no level-1 task holds more than a small slice of one query's rows
    assert lvl1_max <= -(-per_q_max // Searcher.CUT_FANIN) + 8
    assert lvl1_max < per_q_max


def test_compound_sort_override(searcher, spark, built_index):
    """Solr compound sort 'lang asc, path desc': results equal the full
    match set ordered by both keys (doc_id tie-break), offset applied
    after the executor-side cut; mixing score with fields raises."""
    cat, _res = built_index
    docs = cat.read(spark, "docs")
    matches = searcher.match_scores("spark").select("doc_id")
    exp = [r["doc_id"] for r in
           docs.join(matches, "doc_id")
           .orderBy(__import__("pyspark.sql.functions",
                               fromlist=["col"]).col("lang").asc(),
                    __import__("pyspark.sql.functions",
                               fromlist=["col"]).col("path").desc(),
                    "doc_id")
           .limit(12).collect()]
    got = [r["doc_id"] for r in
           searcher.search("spark", k=10, sort="lang asc, path desc")
           .collect()]
    assert got == exp[:10]
    paged = [r["doc_id"] for r in
             searcher.search("spark", k=10, start=2,
                             sort="lang, path desc").collect()]
    assert paged == exp[2:12]
    with pytest.raises(UnsupportedQuery):
        searcher.search("spark", k=5, sort="score desc, path")
    # round-4 advice: explicit 'score asc' must raise, not silently
    # return the default descending ranking
    with pytest.raises(UnsupportedQuery):
        searcher.search("spark", k=5, sort="score asc")
    # bare 'score' / 'score desc' stay the default ranking
    base = [r["doc_id"] for r in searcher.search("spark", k=5).collect()]
    for s in ("score", "score desc"):
        assert [r["doc_id"] for r in
                searcher.search("spark", k=5, sort=s).collect()] == base


@pytest.mark.parametrize("q,wand", [("spark", True), ("spark", False),
                                    ("hash AND join", True),
                                    ("spark^2 OR join", True),
                                    ("lang:en AND spark", True)])
def test_cursor_paging_matches_full_ranking(searcher, q, wand):
    """Solr cursorMark (round-4): paging with search_after reproduces the
    full score-desc/doc_id ranking exactly — no gaps, no overlaps, WAND
    on == off — and the terminal page is empty with cursor None."""
    full = [(r["doc_id"], r["score"]) for r in
            searcher.search(q, k=None, wand=False).collect()]
    full.sort(key=lambda t: (-t[1], t[0]))
    # page size sized so the walk is a handful of pages (+1 empty final)
    k = max(1, -(-len(full) // 4))
    pages, cur = [], None
    for _ in range(8):
        df, cur2 = searcher.search_after(q, k=k, after=cur, wand=wand)
        rows = [(r["doc_id"], r["score"]) for r in df.collect()]
        if not rows:
            assert cur2 is None
            break
        pages += rows
        cur = cur2
    assert pages == full, (q, wand)
    # cursor page 2 == offset page 2 (same engine ordering)
    df1, cur = searcher.search_after(q, k=3)
    page2 = [tuple(r) for r in searcher.search_after(q, k=3,
                                                     after=cur)[0].collect()]
    off2 = [tuple(r) for r in searcher.search(q, k=3, start=3).collect()]
    assert page2 == off2
    # numFound on a later page still reports the FULL match set
    _df, _cur, n = searcher.search_after(q, k=3, after=cur, with_count=True)
    assert n == len(full)


def test_cursor_rejects_start_matchall_and_bad_arity(searcher):
    with pytest.raises(UnsupportedQuery):          # offsets can't mix in
        searcher._search_uncached("spark", 5, 2, None, True, False,
                                  after=(1.0, 0))
    with pytest.raises(UnsupportedQuery):          # (v, doc_id) vs 2 keys
        searcher._search_uncached("spark", 5, 0, "repo desc, path", True,
                                  False, after=(1.0, 0))
    with pytest.raises(UnsupportedQuery):   # match-all needs a field sort
        searcher.search_after("[* TO *]", k=5, after=(0.0, 3))


def test_cursor_match_all_export(searcher):
    """Round-5: Solr's classic full-export pattern — ``q=*:*`` with a
    field-sort cursor — walks the whole corpus in pure Catalyst pages
    (strictly-after predicate on the doc store, no kernel); the walk
    equals the offset path, numFound stays the full count on every
    page, and a filter-only query composes with the cursor."""
    sort, k = "doc_len desc", 120
    pages, cur, total = [], None, None
    for _ in range(searcher.n_docs_total // k + 3):
        df, cur2, n = searcher.search_after("[* TO *]", k=k, after=cur,
                                            sort=sort, with_count=True)
        rows = [tuple(r) for r in df.collect()]
        if not rows:
            assert cur2 is None
            break
        total = n if total is None else total
        assert n == total                      # full numFound each page
        pages.append(rows)
        cur = cur2
    walked = [r for p in pages for r in p]
    assert len(walked) == total
    assert len({r[0] for r in walked}) == total     # no dups, no gaps
    off, i = [], 0
    while True:
        rows = [tuple(r) for r in
                searcher.search("[* TO *]", k=k, start=i * k,
                                sort=sort).collect()]
        if not rows:
            break
        off += rows
        i += 1
    assert walked == off
    # pure-filter query + cursor: only lang:en docs, same machinery
    df, _cur = searcher.search_after("lang:en", k=10**6, sort="path")
    en = [tuple(r) for r in df.collect()]
    exp = [tuple(r) for r in
           searcher.search("lang:en", k=10**6, sort="path").collect()]
    assert en == exp and 0 < len(en) < total


def test_export_generator(searcher):
    """Solr /export pattern (round-5): the cursor-backed generator
    streams every match in uniqueKey order with constant-cost pages —
    both the match-all Catalyst path and the scored kernel path."""
    got = [r["doc_id"] for r in
           searcher.export("spark", sort="doc_id", page_size=97)]
    exp = sorted(r["doc_id"] for r in
                 searcher.search("spark", k=None, wand=False)
                 .select("doc_id").collect())
    assert got == exp
    alldocs = [r["doc_id"] for r in searcher.export(page_size=230)]
    assert alldocs == sorted(r["doc_id"] for r in
                             searcher.docs.select("doc_id").collect())


def test_export_df_distributed(searcher):
    """export_df: the full match set as one distributed DataFrame (the
    scale-correct bulk export) — set-equal to the cursor walk."""
    got = {r["doc_id"] for r in
           searcher.export_df("spark").select("doc_id").collect()}
    exp = {r["doc_id"] for r in
           searcher.search("spark", k=None, wand=False)
           .select("doc_id").collect()}
    assert got == exp
    assert {r["doc_id"] for r in
            searcher.export_df().select("doc_id").collect()} == \
        {r["doc_id"] for r in searcher.docs.select("doc_id").collect()}


def test_facet_mincount(searcher):
    """Solr facet.mincount: values below the threshold drop before
    ordering/limit."""
    full = {r[0]: r["hits"]
            for r in searcher.facet("spark", "repo").collect()}
    thr = sorted(full.values())[len(full) // 2]
    got = {r[0]: r["hits"] for r in
           searcher.facet("spark", "repo", mincount=thr).collect()}
    assert got == {v: h for v, h in full.items() if h >= thr}
    assert 0 < len(got) < len(full) or thr == min(full.values())


def test_facet_prefix(searcher):
    """Solr facet.prefix: value filter before the aggregation (and the
    per-block dl_min tightening must not change any facet result —
    facets bypass WAND entirely)."""
    full = {r[0]: r["hits"]
            for r in searcher.facet("spark", "repo").collect()}
    got = {r[0]: r["hits"] for r in
           searcher.facet("spark", "repo", prefix="src1").collect()}
    assert got == {v: h for v, h in full.items() if v.startswith("src1")}
    assert 0 < len(got) < len(full)
    multi = searcher.facet_fields("spark", ["repo", "lang"], limit=50,
                                  prefix="src1")
    assert dict(multi["repo"]) == got
    assert multi["lang"] == []        # no lang value starts with src1


@pytest.mark.parametrize("sort", ["doc_len desc", "repo desc, path"])
def test_cursor_paging_field_sort(searcher, sort):
    """Round-4 verdict #5: cursorMark over a field-sort override — the
    cursor tuple is (sort values…, doc_id), the strictly-after predicate
    runs over the sort's own lexicographic order (ties included: doc_len
    collides heavily), and the page walk equals the offset path with no
    gaps or overlaps.  Every page is a k-row TakeOrdered over the match
    set by construction (the cut applies after the cursor predicate)."""
    q, k = "hash AND join", 60
    pages, cur = [], None
    budget = searcher.n_docs_total // k + 3   # scale-aware page budget
    for _ in range(budget):
        df, cur2 = searcher.search_after(q, k=k, after=cur, sort=sort)
        rows = [tuple(r) for r in df.collect()]
        if not rows:
            assert cur2 is None
            break
        pages.append(rows)
        cur = cur2
    else:
        raise AssertionError("cursor walk did not terminate")
    walked = [r for p in pages for r in p]
    assert all(len(p) == k for p in pages[:-1])    # full pages until the end
    off, i = [], 0
    while True:
        rows = [tuple(r) for r in
                searcher.search(q, k=k, start=i * k, sort=sort).collect()]
        if not rows:
            break
        off += rows
        i += 1
    assert walked == off


def test_group_topn_matches_oracle(searcher, oracle):
    """group.limit=n grouping (round-4): per-group top-n and hit counts
    equal a brute-force ranking of the full match set; the per-group cut
    is two-level (no single-task hot-group funnel)."""
    from zsolr.parse import parse as _parse

    got = {}
    for r in searcher.group_topn("spark", "lang", n=3).collect():
        got.setdefault(r["group_val"], {"hits": r["hits"], "top": []})
        got[r["group_val"]]["top"].append((r["rank"], r["doc_id"],
                                          round(r["score"], 9)))
    scored = oracle._eval(_parse("spark"))
    exp: dict = {}
    for d, sc in scored.items():
        exp.setdefault(oracle.meta[d]["lang"], []).append((d, sc))
    assert set(got) == set(exp)
    for lang, docs in exp.items():
        ranked = sorted(docs, key=lambda t: (-t[1], t[0]))[:3]
        assert got[lang]["hits"] == len(docs)
        assert sorted(got[lang]["top"]) == [
            (i + 1, d, round(sc, 9)) for i, (d, sc) in enumerate(ranked)]


def test_group_topn_single_kernel_pass(searcher):
    """Round-4 verdict #3: group hit counts ride the top-n cut's own
    lineage — the physical plan evaluates the search kernel ONCE (one
    MapInArrow kernel wave), not once per branch as the old
    top-join-counts shape did."""
    df = searcher.group_topn("spark", "lang", n=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan


def test_facet_query_counts(searcher):
    """facet.query (round-4): one batch wave returns each subquery's
    exact intersected count == the serial numFound of 'q AND fq'."""
    fqs = ["join", "lang:en", "hash AND join", "NOT slow"]
    got = searcher.facet_query("spark", fqs)
    assert set(got) == set(fqs)
    for fq in fqs:
        _df, n = searcher.search(f"spark AND ({fq})", k=1, with_count=True)
        assert got[fq] == n, fq
    assert any(n > 0 for n in got.values())


def test_highlight_expands_multiterm(searcher):
    """Round-3 verdict #7: with a searcher supplied, the highlighter
    rewrites multi-term nodes through the memoized _expand_* lookups —
    `spar*` wraps `spark` in the fragment; unexpanded it wraps nothing."""
    content = "we use spark for sorting big tables and joins here"
    for q in ("spar*", "spork~1", "sp?rk"):
        snips = Searcher.highlight(content, q, window=3, searcher=searcher)
        assert any("<em>spark</em>" in s for s in snips), q
        assert Searcher.highlight(content, q, window=3) == [], q


def test_facet_pivot(searcher, oracle):
    """Pivot facet: (lang, repo) hit counts over the full match set equal
    the oracle's."""
    got = {(r["pivot_a"], r["pivot_b"]): r["hits"]
           for r in searcher.facet_pivot("spark", "lang", "repo").collect()}
    matched = set(oracle._eval(parse("spark")))
    exp: dict = {}
    for d in matched:
        key = (oracle.meta[d]["lang"], oracle.meta[d]["repo"])
        exp[key] = exp.get(key, 0) + 1
    assert got == exp and len(got) > 3


def test_more_like_this(searcher, oracle, spark, built_index):
    """Solr MoreLikeThis: top tf·idf terms of the source doc → OR query,
    source excluded — rank-identical to the oracle evaluating the same
    interesting-term query."""
    cat, _res = built_index
    tfs = cat.read(spark, "tfs").filter(
        "doc_id = 7 AND term NOT LIKE '%=%' AND term NOT LIKE '\x00%'")
    rows = [(r["term"], r["tf"]) for r in tfs.collect()]
    ranked = sorted(rows, key=lambda r: (-r[1] * oracle.idf(r[0]), r[0]))
    terms = [t for t, _ in ranked[:8]]
    from zsolr.parse import Or, Term
    exp = [d for d, _s in
           oracle.search(Or(tuple(Term(t) for t in terms)), k=11)
           if d != 7][:10]
    got = [r["doc_id"]
           for r in searcher.more_like_this(7, k=10, max_terms=8).collect()]
    assert got == exp
    assert 7 not in got


def test_spellcheck_component(searcher, spark, built_index):
    """SpellCheckComponent: df-ranked in-edit-distance corrections, the
    word itself excluded; a real misspelling surfaces the intended term
    first when it dominates df."""
    cat, _res = built_index
    out = [(r["term"], r["df"]) for r in searcher.spellcheck("sparl").collect()]
    assert out, "corpus has terms within distance 2 of 'sparl'"
    assert "sparl" not in [t for t, _ in out]
    stats = {r["term"]: r["df"] for r in
             cat.read(spark, "term_stats")
             .filter("term NOT LIKE '%=%' AND term NOT LIKE '\x00%'")
             .collect()}
    from tests.oracle import _lev
    exp = sorted(((t, d) for t, d in stats.items()
                  if t != "sparl" and abs(len(t) - 5) <= 2
                  and _lev(t, "sparl") <= 2),
                 key=lambda cd: (-cd[1], cd[0]))[:5]
    assert out == exp
    assert "spark" in [t for t, _ in out]   # the intended term surfaces


def test_spellcheck_batch_one_job(searcher, spark):
    """Round-4 verdict #6: N misspelled words cost ONE dictionary scan
    (one Spark job), with suggestions identical to the per-word path."""
    words = ["sparl", "joim", "windoq"]
    serial = {w: [(r["term"], r["df"])
                  for r in searcher.spellcheck(w).collect()] for w in words}
    sc = spark.sparkContext
    sc.setJobGroup("zsolr-sc-batch", "batched spellcheck")
    try:
        batch = searcher.spellcheck_batch(words, n=5)
        jobs = sc.statusTracker().getJobIdsForGroup("zsolr-sc-batch")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 1, jobs
    assert batch == serial
    # distance-1 restriction: only the closest corrections remain
    from tests.oracle import _lev

    near = [(r["term"], r["df"])
            for r in searcher.spellcheck("sparl", max_edits=1).collect()]
    assert near and all(_lev(t, "sparl") <= 1 for t, _ in near)


def test_query_result_cache(spark, built_index):
    """Opt-in queryResultCache: identical requests return identical rows
    from the cache; the cache is bounded; default-off searchers never
    populate one."""
    cat, _res = built_index
    s = Searcher(spark, cat, cache_size=2)
    a = [tuple(r) for r in s.search("spark", k=5).collect()]
    assert len(s._result_cache) == 1
    b = [tuple(r) for r in s.search("spark", k=5).collect()]
    assert a == b
    df, n = s.search("hash AND join", k=5, with_count=True)
    df2, n2 = s.search("hash AND join", k=5, with_count=True)
    assert n == n2 and [tuple(r) for r in df.collect()] == \
        [tuple(r) for r in df2.collect()]
    s.search("dup", k=5).collect()
    assert len(s._result_cache) <= 2  # bounded (FIFO eviction)
    s0 = Searcher(spark, cat)
    s0.search("spark", k=5).collect()
    assert not s0._result_cache


def _group_jobs(spark, name, fn):
    """Spark job ids that ``fn()`` ran, via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
        return sc.statusTracker().getJobIdsForGroup(name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_ranked_pages_run_one_job(searcher, spark):
    """A score-ordered page is ONE Spark job, the kernel wave: the page's
    doc fields come from a driver-side point read, not a second doc-store
    scan.  Pinned for a ranked search, a search_batch of 6 queries, a
    score-cursor page and a range-filtered (cogroup) page, each run once
    first so every term's df is cached."""
    batch = ["spark", "hash AND join", "stream OR batch",
             "lang:en AND spark", "merge AND sort", "dup"]
    first, cursor = searcher.search_after("spark", k=5, as_rows=True)
    assert len(first) == 5
    calls = {
        "search": lambda: searcher.search("hash AND join", k=10).collect(),
        "search_batch": lambda: [df.collect() for df in
                                 searcher.search_batch(batch, k=10)],
        "cursor": lambda: searcher.search_after(
            "spark", k=5, after=cursor, as_rows=True),
        "range": lambda: searcher.search(
            "commit:[a TO f] AND spark", k=10).collect(),
    }
    for fn in calls.values():
        fn()
    for name, fn in calls.items():
        jobs = _group_jobs(spark, f"zsolr-one-job-{name}", fn)
        assert len(jobs) == 1, (name, jobs)


def test_explain_runs_one_job(searcher, spark):
    """explain reads one doc's breakdown from ONE kernel wave over its
    shard — no tfs or doc-store collect, no second wave for a phrase —
    for a term, an AND and a phrase query (each run once first so every
    term's df is cached)."""
    for q in ("spark", "hash AND join", '"sort merge"'):
        doc = searcher.search(q, k=1).collect()[0]["doc_id"]
        searcher.explain(q, doc).collect()
        jobs = _group_jobs(spark, f"zsolr-explain-{q}",
                           lambda: searcher.explain(q, doc).collect())
        assert len(jobs) == 1, (q, jobs)


def test_ranked_pages_compile_no_new_code(searcher, spark):
    """Same-shape ranked queries reuse Spark's generated code: after one
    warm-up, four more ``a AND b`` pages compile no new class (a doc_id
    In-list fetch inlines its ids into generated code, so every page
    used to compile anew)."""
    qs = ["hash AND join", "spark AND stream", "merge AND sort",
          "batch AND window", "spark AND join"]
    searcher._idf_map(sorted({t for q in qs for t in q.split(" AND ")}))
    searcher.search(qs[0], k=10).collect()
    metric = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
              .METRIC_COMPILATION_TIME())
    before = metric.getCount()
    for q in qs[1:]:
        searcher.search(q, k=10).collect()
    assert metric.getCount() - before == 0


def _spark_idf(srch, terms):
    """term → idf from a Spark ``isin`` read of the searcher's pinned
    term_stats frame (absent terms df 0) — the driver lookup's twin."""
    from pyspark.sql import functions as F

    from zsolr.search import idf

    df = {r["term"]: r["df"] for r in srch._term_stats
          .filter(F.col("term").isin(list(terms))).select("term", "df")
          .collect()}
    return {t: idf(srch.n_docs_total, df.get(t, 0)) for t in terms}


def test_df_lookup_runs_no_job(spark, built_index):
    """A fresh Searcher (empty df cache) looks query-term df up on the
    driver from term_stats' row groups: 0 Spark jobs, the same idf as a
    Spark isin read — for present terms, an absent term (df 0), a field
    term and a term that only appears negated; and a fresh Searcher's
    first ranked page is ONE job, the kernel wave."""
    from zsolr.search import plan_query

    cat, _res = built_index
    s = Searcher(spark, cat)
    assert not s._df_cache
    terms = ["hash", "join", "spark", "zqxjvabsent", "lang=en"]
    got = {}
    jobs = _group_jobs(spark, "zsolr-df-terms",
                       lambda: got.update(s._idf_map(terms)))
    assert jobs == [], jobs
    specs = []
    jobs = _group_jobs(spark, "zsolr-df-neg", lambda: specs.append(
        s._plan_spec(plan_query("stream AND NOT dup"))))
    assert jobs == [], jobs
    assert specs[0].neg - specs[0].pos == {"dup"}
    got.update(specs[0].idf_map)
    assert got == _spark_idf(s, got)
    assert s._df_cache["zqxjvabsent"] == 0
    assert s._df_cache["lang=en"] > 0 and s._df_cache["dup"] > 0

    fresh = Searcher(spark, cat)
    rows = []
    jobs = _group_jobs(spark, "zsolr-df-page", lambda: rows.extend(
        fresh.search("hash AND join", k=10).collect()))
    assert len(jobs) == 1, jobs
    assert rows == s.search("hash AND join", k=10).collect()


def test_read_small_runs_no_job(spark, built_index):
    """The lifecycle ops' index_stats read: ``read_small`` runs no Spark
    job and returns the Spark read's row, field for field."""
    cat, _res = built_index
    got = []
    jobs = _group_jobs(spark, "zsolr-read-small",
                       lambda: got.extend(cat.read_small("index_stats")))
    assert jobs == [], jobs
    ref = [r.asDict() for r in cat.read(spark, "index_stats").collect()]
    assert got == ref and len(got) == 1
    assert {k: type(v) for k, v in got[0].items()} == \
        {k: type(v) for k, v in ref[0].items()}


def test_searcher_opens_without_job(spark, built_index, tmp_path):
    """Opening a Searcher runs no Spark job — index_stats and the
    tombstone ids are read with pyarrow from the pinned snapshots — with
    and without tombstones; and the df it looks up stays pinned: a
    Searcher opened before an add that brings a new token still reads
    df 0 for it, a new one reads 1."""
    import numpy as np

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.connection import SolrConnection
    from zsolr.lifecycle import delete_by_ids

    opened = []

    def open_jobs(c, name):
        jobs = _group_jobs(spark, name,
                           lambda: opened.append(Searcher(spark, c)))
        return jobs, opened[-1]

    jobs, _ = open_jobs(built_index[0], "zsolr-open-module")
    assert jobs == [], jobs

    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", "en", f"spark x{i % 3}") for i in range(20)],
        "repo string, path string, commit string, lang string,"
        " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "df-pin"))
    IndexBuilder(cat, BuildConfig(n_buckets=4)).build(
        spark, "dp", corpus_df=corpus)
    jobs, before = open_jobs(cat, "zsolr-open-clean")
    assert jobs == [] and before._n_deleted == 0, jobs

    SolrConnection(spark, cat).add(
        [{"repo": "r", "path": "new", "content": "spark qzxnewtok"}])
    after = Searcher(spark, cat)
    assert before._idf_map(["qzxnewtok"]) == _spark_idf(before,
                                                         ["qzxnewtok"])
    assert before._df_cache["qzxnewtok"] == 0
    assert after._idf_map(["qzxnewtok"]) == _spark_idf(after, ["qzxnewtok"])
    assert after._df_cache["qzxnewtok"] == 1

    delete_by_ids(spark, cat, [3, 5, 5, 7])
    delete_by_ids(spark, cat, [7, 11])
    jobs, tomb = open_jobs(cat, "zsolr-open-tomb")
    assert jobs == [], jobs
    assert tomb._n_deleted == 4
    np.testing.assert_array_equal(tomb._deleted_np, [3, 5, 7, 11])
    live = {r["doc_id"] for r in tomb.docs.select("doc_id").collect()}
    assert live.isdisjoint({3, 5, 7, 11}) and len(live) == 21 - 4
    assert {r["doc_id"] for r in tomb.search("spark", k=None).collect()} \
        == live


def test_export_one_job_per_page(searcher, spark):
    """Round-6 (closes the Q37 weak): the classic full-reindex export —
    ``q=*:*`` with a field-sort cursor — costs exactly ONE Spark job
    per page.  The page used to materialize twice: ``search_after``
    collected it to compute the next cursor, then ``export()``
    re-collected the same lazy ``_match_all`` plan, doubling the whole
    export; pages now materialize once inside ``search_after`` and ship
    as plain rows."""
    exp = [r.asDict() for r in
           searcher.search("[* TO *]", k=10**6,
                           sort="doc_len desc").collect()]
    total = len(exp)
    k = max(1, total // 4)
    n_pages = -(-total // k) + 1        # + the terminal empty page
    sc = spark.sparkContext
    sc.setJobGroup("zsolr-export", "export job count")
    try:
        rows = list(searcher.export(sort="doc_len desc", page_size=k))
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("zsolr-export")
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == exp                  # bit-identical to the offset walk
    assert len(jobs) == n_pages, (len(jobs), n_pages)


def test_mlt_parameter_parity(searcher, oracle, spark, built_index):
    """Solr MLT parameters (round-7): mlt.mintf / mlt.mindf floor the
    interesting-term candidates by source tf and corpus df before the
    tf·idf ranking; mlt.fl switches the term namespace (fielded
    ``lang=…`` terms behave like Solr MLT over a keyword field).
    Each variant is rank-identical to the oracle evaluating the
    explicitly-constructed interesting-term OR query."""
    from pyspark.sql import functions as F

    from zsolr.parse import Or, Term

    cat, _res = built_index
    tfs = cat.read(spark, "tfs").filter(
        "doc_id = 7 AND term NOT LIKE '%=%' AND term NOT LIKE '\x00%'")
    rows = [(r["term"], r["tf"]) for r in tfs.collect()]
    # df floor straight from term_stats (the engine's own source)
    stats = {r["term"]: r["df"] for r in
             cat.read(spark, "term_stats")
             .filter(F.col("term").isin([t for t, _ in rows])).collect()}

    mintf, mindf = 2, 3
    cand = [(t, tf) for t, tf in rows
            if tf >= mintf and stats.get(t, 0) >= mindf]
    assert cand and len(cand) < len(rows)  # the floors really prune
    ranked = sorted(cand, key=lambda r: (-r[1] * oracle.idf(r[0]), r[0]))
    terms = [t for t, _ in ranked[:8]]
    exp = [d for d, _s in
           oracle.search(Or(tuple(Term(t) for t in terms)), k=11)
           if d != 7][:10]
    got = [r["doc_id"] for r in
           searcher.more_like_this(7, k=10, max_terms=8,
                                   mintf=mintf, mindf=mindf).collect()]
    assert got == exp

    # mlt.fl=lang: interesting terms are the fielded lang=… terms — the
    # result set is exactly "other docs sharing the source doc's lang"
    src_lang = searcher.docs.filter(F.col("doc_id") == 7) \
        .select("lang").collect()[0]["lang"]
    got_fl = {r["doc_id"] for r in
              searcher.more_like_this(7, k=10**6, fl="lang").collect()}
    same_lang = {r["doc_id"] for r in
                 searcher.docs.filter(F.col("lang") == src_lang)
                 .select("doc_id").collect()}
    assert got_fl == same_lang - {7}

    with pytest.raises(UnsupportedQuery):
        searcher.more_like_this(7, fl="no_such_field")
    with pytest.raises(UnsupportedQuery):
        searcher.more_like_this(7, fl=())


def test_mlt_metadata_similarity_scores(searcher, spark, built_index):
    """Round-7 review: mlt.fl over metadata fields must CONTRIBUTE
    score (Lucene MLT over a keyword field) — previously the fielded
    terms rode the fq zero-score rule and the 'similarity' ranking
    degenerated to doc_id order.  Exact oracle: each similar doc scores
    Σ over shared fielded terms of BM25(tf=1, df=#docs with the value,
    dl=content doc_len)."""
    import math

    from pyspark.sql import functions as F

    docs = {r["doc_id"]: r for r in
            searcher.docs.select("doc_id", "lang", "repo",
                                 "doc_len").collect()}
    src = docs[7]
    n = searcher.n_docs_total
    avgdl = searcher.avgdl

    def df_of(field, val):
        return sum(1 for d in docs.values() if d[field] == val)

    def bm25_1(df_t, dl):
        idf_t = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
        return idf_t * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl / avgdl))

    dfs = {"lang": df_of("lang", src["lang"]),
           "repo": df_of("repo", src["repo"])}
    exp_scores = {}
    for i, d in docs.items():
        if i == 7:
            continue
        sc = 0.0
        if d["lang"] == src["lang"]:
            sc += bm25_1(dfs["lang"], d["doc_len"])
        if d["repo"] == src["repo"]:
            sc += bm25_1(dfs["repo"], d["doc_len"])
        if sc > 0:
            exp_scores[i] = sc
    exp = sorted(exp_scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = searcher.more_like_this(7, k=10, fl="lang,repo",
                                  max_terms=8).collect()
    assert [r["doc_id"] for r in got] == [i for i, _ in exp]
    for g, (_i, sc) in zip(got, exp):
        assert abs(g["score"] - sc) <= 1e-9
    assert got[0]["score"] > 0
