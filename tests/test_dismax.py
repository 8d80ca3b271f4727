"""edismax multi-field ranking (SURVEY §2 Q44).

Oracle strategy: a pure-Python brute-force twin computes per-field BM25
(content and path analyzed with the normative tokenizer, each field with
its OWN df/dl/avgdl — the Lucene per-field similarity design) and the
DisjunctionMaxQuery combination ``max + tie·(sum − max)``; the engine
must match rank AND score to 1e-9.  WAND is kept enabled for dismax
queries (sum-of-UB bounds dominate the max-based combination), gated
here by dismax == exhaustive equality.
"""

import collections
import math

import pytest

from zsolr.analyze import tokenize_py
from zsolr.build import (BuildConfig, IndexBuilder, field_norms_term,
                         scored_term, term_scored_field)
from zsolr.catalog import ManifestParquetCatalog
from zsolr.parse import And, parse
from zsolr.search import Searcher, UnsupportedQuery

K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def dismax_index(tmp_path_factory, spark, corpus_df, sf_dir):
    """Index with path as a second scored field (edismax schema)."""
    root = str(tmp_path_factory.mktemp("dismax-index"))
    cat = ManifestParquetCatalog(root)
    cfg = BuildConfig(n_buckets=8, scored_fields=("content", "path"))
    IndexBuilder(cat, cfg).build(spark, f"{sf_dir}/corpus",
                                 corpus_df=corpus_df)
    return cat


@pytest.fixture(scope="module")
def searcher(spark, dismax_index):
    return Searcher(spark, dismax_index)


@pytest.fixture(scope="module")
def oracle_docs(corpus_df):
    rows = sorted(corpus_df.select("repo", "path", "commit",
                                   "content").collect(),
                  key=lambda r: (r["repo"], r["path"], r["commit"]))
    return [(i, tokenize_py(r["content"]), tokenize_py(r["path"]))
            for i, r in enumerate(rows)]


def _field_stats(docs, idx):
    df = collections.Counter()
    for d in docs:
        df.update(set(d[idx]))
    avgdl = sum(len(d[idx]) for d in docs) / len(docs)
    return df, avgdl


def _bm25(tf, dl, df, avgdl, n):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1 - B + B * dl / avgdl))


def _oracle_dismax(docs, term, qf, tie):
    """doc_id → dismax score of one term over the qf fields."""
    n = len(docs)
    cdf, cavg = _field_stats(docs, 1)
    pdf, pavg = _field_stats(docs, 2)
    out = {}
    for i, ctoks, ptoks in docs:
        parts = []
        if "content" in qf and ctoks.count(term):
            parts.append(qf["content"] * _bm25(ctoks.count(term),
                                               len(ctoks), cdf[term],
                                               cavg, n))
        if "path" in qf and ptoks.count(term):
            parts.append(qf["path"] * _bm25(ptoks.count(term), len(ptoks),
                                            pdf[term], pavg, n))
        if parts:
            out[i] = max(parts) + tie * (sum(parts) - max(parts))
    return out


def _top(oracle: dict, k=10):
    return sorted(oracle.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.mark.parametrize("term,qf,tie", [
    ("file", {"path": 2.0, "content": 1.0}, 0.0),
    ("file", {"path": 2.0, "content": 1.0}, 0.5),
    ("spark", {"path": 1.0, "content": 1.0}, 0.3),
    ("py", {"path": 2.0, "content": 1.0}, 0.1),
    ("py", {"path": 1.0}, 0.0),               # single non-content field
    ("dir3", {"path": 4.0, "content": 0.5}, 1.0),
])
def test_single_term_vs_oracle(searcher, oracle_docs, term, qf, tie):
    oracle = _top(_oracle_dismax(oracle_docs, term, qf, tie))
    got = searcher.search_dismax(term, qf=qf, tie=tie, k=10).collect()
    assert len(got) == len(oracle), (term, qf)
    for g, (oid, osc) in zip(got, oracle):
        assert g["doc_id"] == oid, (term, qf, tie)
        assert abs(g["score"] - osc) <= 1e-9, (term, qf, tie)


def test_boolean_and_vs_oracle(searcher, oracle_docs):
    """a AND b: per-clause dismax scores sum (BooleanQuery)."""
    qf, tie = {"path": 2.0, "content": 1.0}, 0.25
    a = _oracle_dismax(oracle_docs, "file", qf, tie)
    b = _oracle_dismax(oracle_docs, "spark", qf, tie)
    both = {i: a[i] + b[i] for i in set(a) & set(b)}
    oracle = _top(both)
    got = searcher.search_dismax("file AND spark", qf=qf, tie=tie,
                                 k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in oracle]
    for g, (_i, osc) in zip(got, oracle):
        assert abs(g["score"] - osc) <= 1e-9


def test_boolean_or_not_vs_oracle(searcher, oracle_docs):
    qf, tie = {"path": 2.0, "content": 1.0}, 0.0
    a = _oracle_dismax(oracle_docs, "file", qf, tie)
    b = _oracle_dismax(oracle_docs, "spark", qf, tie)
    keep = {i: s for i, s in a.items() if i not in b}
    oracle = _top(keep)
    got = searcher.search_dismax("file AND NOT spark", qf=qf, tie=tie,
                                 k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in oracle]
    for g, (_i, osc) in zip(got, oracle):
        assert abs(g["score"] - osc) <= 1e-9


@pytest.mark.parametrize("q", [
    "file AND spark", "py OR spark", "file AND NOT spark",
    "file AND lang:en", "dir3 OR file",
])
def test_wand_equals_exhaustive(searcher, q):
    qf = {"path": 2.0, "content": 1.0}
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         searcher.search_dismax(q, qf=qf, tie=0.2, k=10,
                                wand=True).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         searcher.search_dismax(q, qf=qf, tie=0.2, k=10,
                                wand=False).collect()]
    assert a == b


@pytest.mark.parametrize("tie", [0.0, 0.1])
def test_batch_equals_serial_two_fields(searcher, tie):
    """search_batch scores every field with that field's norms and avgdl,
    exactly as search() does: rows and counts are equal on a
    two-scored-field index for dismax queries over path-hitting terms
    (batch once scored path terms with the content norms and avgdl), and
    facet.query counts — which ride the batch path — equal serial
    counts."""
    qf = {"path": 2.0, "content": 1.0}
    asts = [searcher.dismax_ast(q, qf, tie) for q in ("py", "go", "file")]
    if tie:
        asts.append(searcher.dismax_ast("file py", qf, tie,
                                        pf={"path": 1.5}))
    batch = searcher.search_batch(asts, k=10, with_count=True)
    assert len(batch) == len(asts)
    for ast, (bdf, bn) in zip(asts, batch):
        sdf, sn = searcher.search(ast, k=10, with_count=True)
        srows = [tuple(r) for r in sdf.collect()]
        assert srows, ast
        assert [tuple(r) for r in bdf.collect()] == srows, ast
        assert bn == sn, ast
    fqs = ["lang:en", "NOT lang:en", "file"]
    counts = searcher.facet_query(asts[0], fqs)
    for fq in fqs:
        _df, n = searcher.search(And((asts[0], parse(fq))), k=1,
                                 with_count=True)
        assert counts[fq] == n, fq


def test_classic_parity_on_dismax_index(searcher):
    """qf=content^1 is the identity; classic search on a dismax index is
    unaffected by the extra per-field postings."""
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         searcher.search("spark", k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         searcher.search_dismax("spark", qf={"content": 1.0},
                                k=10).collect()]
    assert a == b and len(a) == 10


def test_metadata_filter_composes(searcher, oracle_docs, corpus_df):
    qf, tie = {"path": 2.0, "content": 1.0}, 0.4
    rows = sorted(corpus_df.select("repo", "path", "commit",
                                   "lang").collect(),
                  key=lambda r: (r["repo"], r["path"], r["commit"]))
    en = {i for i, r in enumerate(rows) if r["lang"] == "en"}
    oracle = _top({i: s for i, s in
                   _oracle_dismax(oracle_docs, "file", qf, tie).items()
                   if i in en})
    got = searcher.search_dismax("file AND lang:en", qf=qf, tie=tie,
                                 k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in oracle]
    for g, (_i, osc) in zip(got, oracle):
        assert abs(g["score"] - osc) <= 1e-9


def test_guards(searcher, built_index, spark):
    with pytest.raises(UnsupportedQuery, match="tie"):
        searcher.search_dismax("file", qf={"content": 1.0}, tie=1.5)
    with pytest.raises(UnsupportedQuery, match="scored field"):
        searcher.search_dismax("file", qf={"title": 1.0})
    with pytest.raises(UnsupportedQuery, match="multi-field qf"):
        searcher.search_dismax('"a b"', qf={"path": 1.0, "content": 1.0})
    with pytest.raises(UnsupportedQuery, match="multi-field qf"):
        searcher.search_dismax("spar*", qf={"path": 1.0, "content": 1.0})
    # classic index has no path field — must raise, never mis-score
    cat, _res = built_index
    classic = Searcher(spark, cat)
    with pytest.raises(UnsupportedQuery, match="scored field"):
        classic.search_dismax("file", qf={"path": 2.0, "content": 1.0})


def test_namespacing_roundtrip():
    assert scored_term("content", "x") == "x"
    assert term_scored_field(scored_term("path", "x")) == "path"
    assert term_scored_field("x") == "content"
    assert field_norms_term("content") == "\x00norms"
    # the per-field norms key must differ from the content sidecar even
    # under C-string (NUL-truncated) comparison — pandas' object-dtype
    # groupby hashes strings that way, which round 7 hit in the kernel
    pnorms = field_norms_term("path")
    assert pnorms.split("\x00")[0] != "\x00norms".split("\x00")[0] \
        or pnorms.split("\x00")[0] != ""
    assert pnorms.split("\x00", 1)[0] == "\x01path\x01"


def test_dictionary_scans_exclude_field_terms(searcher):
    """Prefix/fuzzy/wildcard/contains expansion and suggest must never
    surface namespaced per-field terms or sidecars."""
    for t in searcher._expand_terms("*ile*", lambda t: t.contains("ile")):
        assert not t.startswith("\x00") and not t.startswith("\x01")
    for t in searcher._expand_terms("prefix fi*",
                                    lambda t: t.startswith("fi")):
        assert not t.startswith("\x00") and not t.startswith("\x01")
    sugg = [r["term"] for r in searcher.suggest("f", n=50).collect()]
    assert all(not t.startswith(("\x00", "\x01")) for t in sugg)


@pytest.fixture(scope="module")
def overlap_setup(tmp_path_factory, spark):
    """Corpus whose CONTENT reuses path tokens ('file', 'dir1', 'py'), so
    a term matches BOTH fields of one doc and the max + tie·rest
    combination actually engages (the synth corpus vocabularies are
    disjoint, which would leave tie untested)."""
    rows = [
        ("r0", "dir1/file_0.py", "c0", "en", "file spark dir1 py file"),
        ("r0", "dir1/file_1.py", "c1", "en", "spark file join dir2"),
        ("r0", "dir2/file_2.js", "c2", "de", "py py py file window"),
        ("r1", "dir1/app_3.py", "c3", "en", "join window scan"),
        ("r1", "dir3/file_4.rs", "c4", "fr", "file dir1 dir1 spark"),
        ("r1", "dir3/util_5.py", "c5", "en", "window file scan py"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    root = str(tmp_path_factory.mktemp("overlap-index"))
    cat = ManifestParquetCatalog(root)
    cfg = BuildConfig(n_buckets=4, scored_fields=("content", "path"))
    IndexBuilder(cat, cfg).build(spark, "overlap", corpus_df=corpus)
    s = Searcher(spark, cat)
    docs = [(i, tokenize_py(r[4]), tokenize_py(r[1]))
            for i, r in enumerate(sorted(rows))]
    return s, docs


@pytest.mark.parametrize("term,tie", [
    ("file", 0.0), ("file", 0.7), ("py", 0.0), ("py", 0.4),
    ("dir1", 1.0),
])
def test_tie_semantics_on_overlap_corpus(overlap_setup, term, tie):
    s, docs = overlap_setup
    qf = {"path": 2.0, "content": 1.0}
    oracle = _oracle_dismax(docs, term, qf, tie)
    # guard against vacuity: at least one doc must match in BOTH fields
    assert any(docs[i][1].count(term) and docs[i][2].count(term)
               for i in oracle)
    top = _top(oracle)
    got = s.search_dismax(term, qf=qf, tie=tie, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in top]
    for g, (_i, osc) in zip(got, top):
        assert abs(g["score"] - osc) <= 1e-9


def test_tie_changes_scores_on_overlap_corpus(overlap_setup):
    """tie is load-bearing: the same request at tie=0 vs tie=0.9 must
    yield different scores for a doc matching in both fields."""
    s, docs = overlap_setup
    qf = {"path": 2.0, "content": 1.0}
    a = {r["doc_id"]: r["score"]
         for r in s.search_dismax("file", qf=qf, tie=0.0, k=10).collect()}
    b = {r["doc_id"]: r["score"]
         for r in s.search_dismax("file", qf=qf, tie=0.9, k=10).collect()}
    dual = [i for i in a if docs[i][1].count("file")
            and docs[i][2].count("file")]
    assert dual and all(b[i] > a[i] for i in dual)


def _phrase_count(toks, phrase):
    n = len(phrase)
    return sum(1 for i in range(len(toks) - n + 1)
               if toks[i:i + n] == list(phrase))


def _phrase_score(docs, idx, phrase, n, df_all, avg):
    """doc → field-BM25 with tf := phrase frequency, idf := Σ member
    idfs (the kernel's Lucene phrase scoring), over field `idx`."""
    idf_sum = sum(math.log(1 + (n - df_all[t] + 0.5) / (df_all[t] + 0.5))
                  for t in phrase)
    out = {}
    for i, *fields in docs:
        toks = fields[idx - 1]
        c = _phrase_count(toks, phrase)
        if c:
            out[i] = idf_sum * c * (K1 + 1.0) / (
                c + K1 * (1 - B + B * len(toks) / avg))
    return out


def test_pf_content_phrase_boost(overlap_setup):
    """pf=content^2 on 'file AND spark': main AND score + 2× phrase
    score where the exact phrase occurs; match set unchanged."""
    s, docs = overlap_setup
    n = len(docs)
    cdf, cavg = _field_stats(docs, 1)
    a = _oracle_dismax(docs, "file", {"content": 1.0}, 0.0)
    b = _oracle_dismax(docs, "spark", {"content": 1.0}, 0.0)
    main = {i: a[i] + b[i] for i in set(a) & set(b)}
    ph = _phrase_score(docs, 1, ("file", "spark"), n, cdf, cavg)
    oracle = {i: sc + 2.0 * ph.get(i, 0.0) for i, sc in main.items()}
    assert any(i in ph for i in main)          # phrase actually fires
    top = _top(oracle)
    got = s.search_dismax("file AND spark", qf={"content": 1.0},
                          pf={"content": 2.0}, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in top]
    for g, (_i, osc) in zip(got, top):
        assert abs(g["score"] - osc) <= 1e-9
    # pf adds score, never docs
    plain = s.search_dismax("file AND spark", qf={"content": 1.0},
                            k=10).collect()
    assert {g["doc_id"] for g in got} == {g["doc_id"] for g in plain}


def test_pf_path_phrase_uses_path_norms(overlap_setup):
    """pf=path^3 scores the phrase with the PATH field's norms/avgdl and
    the namespaced terms' dfs."""
    s, docs = overlap_setup
    n = len(docs)
    pdf, pavg = _field_stats(docs, 2)
    a = _oracle_dismax(docs, "dir1", {"content": 1.0}, 0.0)
    b = _oracle_dismax(docs, "file", {"content": 1.0}, 0.0)
    main = {i: a[i] + b[i] for i in set(a) & set(b)}
    ph = _phrase_score(docs, 2, ("dir1", "file"), n, pdf, pavg)
    oracle = {i: sc + 3.0 * ph.get(i, 0.0) for i, sc in main.items()}
    assert any(i in ph for i in main)
    top = _top(oracle)
    got = s.search_dismax("dir1 AND file", qf={"content": 1.0},
                          pf={"path": 3.0}, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in top]
    for g, (_i, osc) in zip(got, top):
        assert abs(g["score"] - osc) <= 1e-9


def test_pf_combines_with_multifield_qf(overlap_setup):
    """qf + pf together: per-term dismax main + phrase legs."""
    s, docs = overlap_setup
    qf, tie = {"path": 2.0, "content": 1.0}, 0.4
    n = len(docs)
    cdf, cavg = _field_stats(docs, 1)
    a = _oracle_dismax(docs, "file", qf, tie)
    b = _oracle_dismax(docs, "spark", qf, tie)
    main = {i: a[i] + b[i] for i in set(a) & set(b)}
    ph = _phrase_score(docs, 1, ("file", "spark"), n, cdf, cavg)
    oracle = {i: sc + 2.0 * ph.get(i, 0.0) for i, sc in main.items()}
    top = _top(oracle)
    got = s.search_dismax("file AND spark", qf=qf, tie=tie,
                          pf={"content": 2.0}, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in top]
    for g, (_i, osc) in zip(got, top):
        assert abs(g["score"] - osc) <= 1e-9


def test_pf_guards_and_skip(overlap_setup):
    s, _docs = overlap_setup
    # single term: pf silently skipped (Solr behavior)
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         s.search_dismax("file", qf={"content": 1.0},
                         pf={"content": 2.0}, k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         s.search_dismax("file", qf={"content": 1.0}, k=10).collect()]
    assert a == b
    # 1 scored term + NOT: still under the 2-term floor → pf skipped
    a = [(r["doc_id"], round(r["score"], 9)) for r in
         s.search_dismax("file AND NOT spark", qf={"content": 1.0},
                         pf={"content": 2.0}, k=10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in
         s.search_dismax("file AND NOT spark", qf={"content": 1.0},
                         k=10).collect()]
    assert a == b
    with pytest.raises(UnsupportedQuery, match="NOT"):
        s.search_dismax("file AND spark AND NOT py", qf={"content": 1.0},
                        pf={"content": 2.0})
    with pytest.raises(UnsupportedQuery, match="scored field"):
        s.search_dismax("file AND spark", qf={"content": 1.0},
                        pf={"title": 2.0})


def test_pf_respects_metadata_filters(overlap_setup):
    """Filters bound every leg: a phrase match outside the filter never
    enters the result."""
    s, docs = overlap_setup
    got = s.search_dismax("file AND spark AND lang:en",
                          qf={"content": 1.0}, pf={"content": 2.0},
                          k=10).collect()
    en = {0, 1, 3, 5}   # sorted-row ids with lang == en
    assert {g["doc_id"] for g in got} <= en
    # same docs as the unboosted filtered query
    plain = s.search_dismax("file AND spark AND lang:en",
                            qf={"content": 1.0}, k=10).collect()
    assert {g["doc_id"] for g in got} == {g["doc_id"] for g in plain}


def test_facade_edismax(spark, dismax_index, corpus_df, oracle_docs):
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, dismax_index, corpus_df=corpus_df)
    qf, tie = {"path": 2.0, "content": 1.0}, 0.3
    res = conn.search("file", rows=10, def_type="edismax",
                      qf="path^2 content", tie=tie)
    oracle = _top(_oracle_dismax(oracle_docs, "file", qf, tie))
    assert [d["doc_id"] for d in res.docs] == [i for i, _ in oracle]
    assert res.hits == len(_oracle_dismax(oracle_docs, "file", qf, tie))
    # string qf == dict qf
    res2 = conn.search("file", rows=10, def_type="edismax", qf=qf, tie=tie)
    assert [d["doc_id"] for d in res2.docs] == [d["doc_id"]
                                                for d in res.docs]
    # edismax composes with facets in one request
    res3 = conn.search("file", rows=5, def_type="edismax",
                       qf="path^2 content", tie=tie, facet_field="lang")
    assert [d["doc_id"] for d in res3.docs] == [i for i, _ in oracle[:5]]
    en_hits = res3.facets["facet_fields"]["lang"].get("en")
    oracle_ids = set(_oracle_dismax(oracle_docs, "file", qf, tie))
    rows_ = sorted(corpus_df.select("repo", "path", "commit",
                                    "lang").collect(),
                   key=lambda r: (r["repo"], r["path"], r["commit"]))
    assert en_hits == sum(1 for i, r in enumerate(rows_)
                          if i in oracle_ids and r["lang"] == "en")
    # guards
    with pytest.raises(UnsupportedQuery, match="defType"):
        conn.search("file", qf="path^2")
    with pytest.raises(UnsupportedQuery, match="unknown defType"):
        conn.search("file", def_type="dismaximus")


def _mm_oracle(docs, terms, qf, tie, m):
    """doc → mm score: ≥m of the per-term dismax clauses match; score =
    sum over the matching clauses."""
    per = [_oracle_dismax(docs, t, qf, tie) for t in terms]
    out = {}
    all_ids = set().union(*[set(p) for p in per])
    for i in all_ids:
        hits = [p[i] for p in per if i in p]
        if len(hits) >= m:
            out[i] = sum(hits)
    return out


@pytest.mark.parametrize("m", [1, 2, 3])
def test_mm_int_vs_oracle(searcher, oracle_docs, m):
    qf, tie = {"path": 2.0, "content": 1.0}, 0.2
    terms = ["file", "spark", "py"]
    oracle = _mm_oracle(oracle_docs, terms, qf, tie, m)
    top = _top(oracle)
    got = searcher.search_dismax("file spark py", qf=qf, tie=tie,
                                 mm=m, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in top], m
    for g, (_i, osc) in zip(got, top):
        assert abs(g["score"] - osc) <= 1e-9
    # mm genuinely between OR and AND on this fixture
    if m == 2:
        o1 = _mm_oracle(oracle_docs, terms, qf, tie, 1)
        o3 = _mm_oracle(oracle_docs, terms, qf, tie, 3)
        assert len(o3) < len(oracle) < len(o1)


def test_mm_percentage_and_filters(searcher, oracle_docs, corpus_df):
    """mm='50%' of 3 clauses rounds DOWN to 1 (Solr); '67%' → 2.
    Metadata conjuncts stay filters outside the mm count."""
    qf, tie = {"path": 2.0, "content": 1.0}, 0.0
    terms = ["file", "spark", "py"]
    for mm, m in [("50%", 1), ("67%", 2), ("100%", 3)]:
        a = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_dismax("file spark py", qf=qf, tie=tie,
                                    mm=mm, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_dismax("file spark py", qf=qf, tie=tie,
                                    mm=m, k=10).collect()]
        assert a == b, mm
    rows = sorted(corpus_df.select("repo", "path", "commit",
                                   "lang").collect(),
                  key=lambda r: (r["repo"], r["path"], r["commit"]))
    en = {i for i, r in enumerate(rows) if r["lang"] == "en"}
    oracle = _top({i: s for i, s in
                   _mm_oracle(oracle_docs, terms, qf, tie, 2).items()
                   if i in en})
    got = searcher.search_dismax("file spark py lang:en", qf=qf,
                                 tie=tie, mm=2, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in oracle]


def test_mm_wand_equals_exhaustive(searcher):
    qf = {"path": 2.0, "content": 1.0}
    for m in (1, 2):
        a = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_dismax("file spark py", qf=qf, tie=0.2,
                                    mm=m, k=10, wand=True).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in
             searcher.search_dismax("file spark py", qf=qf, tie=0.2,
                                    mm=m, k=10, wand=False).collect()]
        assert a == b, m


def test_mm_composes_with_pf(overlap_setup):
    """mm + pf: the phrase leg stays score-only over the mm match set."""
    s, docs = overlap_setup
    qf = {"content": 1.0}
    n = len(docs)
    cdf, cavg = _field_stats(docs, 1)
    oracle_mm = _mm_oracle(docs, ["file", "spark"], qf, 0.0, 1)
    ph = _phrase_score(docs, 1, ("file", "spark"), n, cdf, cavg)
    oracle = {i: sc + 2.0 * ph.get(i, 0.0)
              for i, sc in oracle_mm.items()}
    top = _top(oracle)
    got = s.search_dismax("file spark", qf=qf, mm=1,
                          pf={"content": 2.0}, k=10).collect()
    assert [g["doc_id"] for g in got] == [i for i, _ in top]
    for g, (_i, osc) in zip(got, top):
        assert abs(g["score"] - osc) <= 1e-9


@pytest.mark.parametrize("q,kw", [
    ("dir1", dict(qf={"path": 1.0})),
    ("file", dict(qf={"path": 2.0, "content": 1.0}, tie=0.3)),
    ("file spark py", dict(qf={"content": 1.0}, mm="2")),
    ("file spark", dict(qf={"content": 1.0}, mm=1, pf={"content": 2.0})),
])
def test_explain_sums_to_dismax_score(overlap_setup, q, kw):
    """debugQuery parity on edismax shapes: for every returned doc the
    explain contributions sum to the engine score — a path-scored term
    (path norms and avgdl), a two-field DisMax with tie, an mm MinMatch
    and a pf phrase leg."""
    s, _docs = overlap_setup
    ast = s.dismax_ast(q, **kw)
    got = s.search(ast, k=10).collect()
    assert got, q
    for r in got:
        br = s.explain(ast, r["doc_id"]).collect()
        total = sum(x["contribution"] for x in br)
        assert abs(total - r["score"]) <= 1e-9, (q, r["doc_id"], br)
        assert not any("\x01" in x["term"] for x in br), br
    if "path" in kw["qf"]:
        labels = {x["term"] for x in s.explain(ast, got[0]["doc_id"])
                  .collect()}
        assert f"path:{q}" in labels, labels


def test_mm_guards(searcher):
    with pytest.raises(UnsupportedQuery, match="boolean"):
        searcher.search_dismax("file OR spark", qf={"content": 1.0},
                               mm=2)
    with pytest.raises(UnsupportedQuery, match="mm"):
        searcher.search_dismax("file spark", qf={"content": 1.0}, mm=0)
    with pytest.raises(UnsupportedQuery, match="percentage"):
        searcher.search_dismax("file spark", qf={"content": 1.0},
                               mm="150%")
    # mm above the clause count = AND semantics (no matches beyond AND)
    a = {r["doc_id"] for r in
         searcher.search_dismax("file spark", qf={"content": 1.0},
                                mm=5, k=50).collect()}
    b = {r["doc_id"] for r in
         searcher.search_dismax("file AND spark", qf={"content": 1.0},
                                k=50).collect()}
    assert a == b


def test_facade_mm(spark, dismax_index, corpus_df, oracle_docs):
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, dismax_index, corpus_df=corpus_df)
    qf, tie = {"path": 2.0, "content": 1.0}, 0.2
    res = conn.search("file spark py", rows=10, def_type="edismax",
                      qf="path^2 content", tie=tie, mm=2)
    oracle = _mm_oracle(oracle_docs, ["file", "spark", "py"], qf, tie, 2)
    assert [d["doc_id"] for d in res.docs] == [i for i, _ in _top(oracle)]
    assert res.hits == len(oracle)
    with pytest.raises(UnsupportedQuery, match="edismax"):
        conn.search("file spark", mm=2)


def test_edismax_composes_with_grouping(spark, dismax_index, corpus_df,
                                        oracle_docs):
    """def_type=edismax + group.field: the AST-level rewrite happens
    before the grouped path, so groups rank by dismax scores."""
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, dismax_index, corpus_df=corpus_df)
    qf, tie = {"path": 2.0, "content": 1.0}, 0.3
    res = conn.search("file", rows=3, def_type="edismax",
                      qf="path^2 content", tie=tie, group_field="lang",
                      group_limit=1)
    oracle = _oracle_dismax(oracle_docs, "file", qf, tie)
    rows = sorted(corpus_df.select("repo", "path", "commit",
                                   "lang").collect(),
                  key=lambda r: (r["repo"], r["path"], r["commit"]))
    langs = {i: r["lang"] for i, r in enumerate(rows)}
    best: dict = {}
    for i, sc in oracle.items():
        lang = langs[i]
        if lang not in best or (-sc, i) < (-best[lang][1], best[lang][0]):
            best[lang] = (i, sc)
    exp_order = sorted(best, key=lambda g: (-best[g][1], best[g][0]))[:3]
    grouped = res.grouped["lang"]
    assert [g["groupValue"] for g in grouped["groups"]] == exp_order
    assert grouped["matches"] == len(oracle)
    for g in grouped["groups"]:
        head = g["doclist"]["docs"][0]
        assert head["doc_id"] == best[g["groupValue"]][0]
        assert abs(head["score"] - best[g["groupValue"]][1]) <= 1e-9


def test_edismax_composes_with_cursor(spark, dismax_index, corpus_df,
                                      oracle_docs):
    """def_type=edismax + cursorMark: page-walk equals the full dismax
    ranking (the score cursor works over any scored AST)."""
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, dismax_index, corpus_df=corpus_df)
    qf, tie = {"path": 2.0, "content": 1.0}, 0.2
    oracle = _oracle_dismax(oracle_docs, "py", qf, tie)
    exp = [i for i, _ in sorted(oracle.items(),
                                key=lambda kv: (-kv[1], kv[0]))][:15]
    walked, mark = [], "*"
    for _ in range(4):
        res = conn.search("py", rows=5, def_type="edismax",
                          qf="path^2 content", tie=tie, cursor_mark=mark)
        if not res.docs:
            break
        walked.extend(d["doc_id"] for d in res.docs)
        if res.nextCursorMark == mark:
            break
        mark = res.nextCursorMark
    assert walked[:15] == exp
