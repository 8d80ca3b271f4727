"""Solr ``facet.missing`` + multi-field ``group.field`` (round-6 verdict
stretch #8): NULL-field docs count as the missing bucket (never as a
``lang=…`` field term), and repeated ``group.field`` params share one
kernel evaluation."""

import pytest
from pyspark.sql import functions as F

from zsolr.build import BuildConfig, IndexBuilder
from zsolr.catalog import ManifestParquetCatalog
from zsolr.search import Searcher


@pytest.fixture(scope="module")
def null_index(tmp_path_factory, spark, corpus_df):
    """Index over the sf0.001 corpus with lang NULLed on ~1/7 of docs."""
    nulled = corpus_df.withColumn(
        "lang",
        F.when(F.crc32(F.col("path")) % 7 == 0, F.lit(None))
        .otherwise(F.col("lang")))
    root = str(tmp_path_factory.mktemp("null-idx"))
    cat = ManifestParquetCatalog(root)
    IndexBuilder(cat, BuildConfig(n_buckets=4)).build(
        spark, "nulls", corpus_df=nulled)
    return cat


@pytest.fixture(scope="module")
def ns(spark, null_index):
    return Searcher(spark, null_index)


def _brute(ns, q, field):
    """(value→count incl. None key) over the match set, via the doc store."""
    matched = ns.search(q, k=None, wand=False).select("doc_id") \
        .join(ns.docs.select("doc_id", field), "doc_id")
    out = {}
    for r in matched.collect():
        out[r[field]] = out.get(r[field], 0) + 1
    return out


def test_facet_missing_counts_null_docs(ns):
    exp = _brute(ns, "spark", "lang")
    assert None in exp and exp[None] > 0  # fixture really has null matches
    rows = ns.facet("spark", "lang", missing=True).collect()
    got = {r["lang"]: r["hits"] for r in rows}
    assert got == exp
    # without missing, the null bucket never appears (Solr default)
    got_plain = {r["lang"]: r["hits"]
                 for r in ns.facet("spark", "lang").collect()}
    assert None not in got_plain
    assert got_plain == {k: v for k, v in exp.items() if k is not None}


def test_facet_missing_zero_row_present(ns):
    # repo has no nulls → Solr still reports missing: 0
    rows = ns.facet("spark", "repo", missing=True, limit=100).collect()
    assert rows[-1]["repo"] is None and rows[-1]["hits"] == 0
    # the null row rides OUTSIDE the limit budget, after the ranked values
    rows2 = ns.facet("spark", "lang", missing=True, limit=2).collect()
    assert len(rows2) == 3 and rows2[-1]["lang"] is None
    ranked = [(r["lang"], r["hits"]) for r in rows2[:-1]]
    assert ranked == sorted(ranked, key=lambda t: (-t[1], t[0]))


def test_facet_missing_survives_mincount_and_prefix(ns):
    exp_null = _brute(ns, "spark", "lang")[None]
    rows = ns.facet("spark", "lang", missing=True, mincount=10**6,
                    limit=10).collect()
    assert [(r["lang"], r["hits"]) for r in rows] == [(None, exp_null)]
    rows = ns.facet("spark", "path", missing=True, prefix="dir1",
                    limit=5).collect()
    # path is never null → missing row present with 0, prefix respected
    assert rows[-1]["path"] is None and rows[-1]["hits"] == 0
    assert all(r["path"].startswith("dir1") for r in rows[:-1])


def test_facet_missing_zero_row_on_empty_match_set(ns):
    # no doc matches → Solr still reports missing: 0 (and numFound 0)
    q = "zzqxnomatchterm"
    assert ns.facet(q, "lang", missing=True).collect() == [(None, 0)]
    assert ns.facet(q, "lang", missing=True, limit=5).collect() \
        == [(None, 0)]
    assert ns.facet_fields(q, ["lang", "repo"], limit=5, missing=True,
                           with_hits=True) \
        == ({"lang": [(None, 0)], "repo": [(None, 0)]}, 0)


def test_facade_facet_missing(spark, null_index, ns):
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, null_index)
    exp = _brute(ns, "spark", "lang")
    # facet-only path (rows=0)
    r0 = conn.search("spark", rows=0, facet_field="lang",
                     facet_missing=True)
    assert r0.facets["facet_fields"]["lang"][None] == exp[None]
    # shared search+facets path (rows>0)
    r1 = conn.search("spark", rows=5, facet_field="lang",
                     facet_missing=True)
    assert r1.facets["facet_fields"]["lang"][None] == exp[None]
    assert r1.hits == r0.hits
    # default stays Solr default: no missing bucket
    r2 = conn.search("spark", rows=0, facet_field="lang")
    assert None not in r2.facets["facet_fields"]["lang"]


def test_null_field_docs_not_lang_terms(ns):
    # a NULL lang doc is findable by content but not via any lang:… filter
    en = {r["doc_id"] for r in
          ns.search("lang:en", k=None).select("doc_id").collect()}
    nulls = {r["doc_id"] for r in
             ns.docs.filter(F.col("lang").isNull())
             .select("doc_id").collect()}
    assert nulls and not (en & nulls)
    # and the postings contain no NULL field term
    bad = (ns.cat.read(ns.spark, "tfs")
           .filter(F.col("term").isNull()).count())
    assert bad == 0


def test_group_topn_multi_matches_single(ns, monkeypatch):
    single = {
        f: [tuple(r) for r in ns.group_topn("spark", f, n=3)
            .orderBy("group_val", "rank").collect()]
        for f in ("lang", "repo")}
    calls = []
    orig = Searcher._shard_reader

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Searcher, "_shard_reader", counting)
    multi = ns.group_topn_multi("spark", ["lang", "repo"], n=3)
    assert len(calls) == 1, f"{len(calls)} kernel waves for 2 group fields"
    for f in ("lang", "repo"):
        got = [tuple(r) for r in multi[f]
               .orderBy("group_val", "rank").collect()]
        assert got == single[f], f


def test_facade_grouping_section(spark, null_index, ns):
    """Solr group=true&group.field=lang&group.field=repo&group.limit=2:
    one kernel wave, per-field `grouped` sections, group order = best
    doc's (score desc, doc_id), NULL lang is a real group."""
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, null_index)
    # rows here = group-page size (Solr grouped paging); large → all groups
    res = conn.search("spark", group_field=["lang", "repo"],
                      group_limit=2, group_ngroups=True, rows=10_000)
    assert res.docs == []  # grouped replaces the flat response
    n_matches = ns.match_scores("spark").count()
    assert res.hits == n_matches

    for fld in ("lang", "repo"):
        sec = res.grouped[fld]
        assert sec["matches"] == n_matches
        eng = ns.group_topn("spark", fld, n=2).collect()
        by_g: dict = {}
        for r in sorted(eng, key=lambda r: r["rank"]):
            by_g.setdefault(r["group_val"], []).append(r)
        assert sec["ngroups"] == len(by_g)
        exp_order = sorted(by_g, key=lambda g: (-by_g[g][0]["score"],
                                                by_g[g][0]["doc_id"]))
        assert [g["groupValue"] for g in sec["groups"]] == exp_order
        for g in sec["groups"]:
            exp_rows = by_g[g["groupValue"]]
            assert g["doclist"]["numFound"] == exp_rows[0]["hits"]
            assert [d["doc_id"] for d in g["doclist"]["docs"]] == \
                [r["doc_id"] for r in exp_rows]
            assert all({"doc_id", "repo", "path", "commit", "score"}
                       == set(d) for d in g["doclist"]["docs"])
    # NULL lang docs form a real group (nulled fixture guarantees some)
    assert None in {g["groupValue"] for g in res.grouped["lang"]["groups"]}


def test_facade_grouping_guards(spark, null_index):
    from zsolr.connection import SolrConnection
    from zsolr.search import UnsupportedQuery

    conn = SolrConnection(spark, null_index)
    with pytest.raises(UnsupportedQuery):
        conn.search("spark", group_field="lang", sort="doc_len asc")
    with pytest.raises(UnsupportedQuery):
        conn.search("spark", group_field="lang", group_limit=0)
    # fl subsets the doclist docs
    res = conn.search("spark", group_field="lang", fl="doc_id,score")
    docs0 = res.grouped["lang"]["groups"][0]["doclist"]["docs"]
    assert docs0 and all(set(d) == {"doc_id", "score"} for d in docs0)
    assert "ngroups" not in res.grouped["lang"]


def test_grouped_page_is_paged(ns):
    """The grouped response is PAGED (round-6 verdict #1 — the last
    unbounded driver collect): `rows` caps the returned groups via an
    engine-side TakeOrdered over the rank-1 heads, members come back
    only for surviving groups (O(rows·n) driver rows), and the
    surviving groups are exactly the first `rows` heads of the unpaged
    ordering.  `matches`/`ngroups` stay full-match-set values."""
    full = ns.group_topn("spark", "path", n=2)  # high-cardinality group
    frows = full.collect()
    heads = sorted((r for r in frows if r["rank"] == 1),
                   key=lambda r: (-r["score"], r["doc_id"]))
    assert len(heads) > 3  # fixture really has more groups than rows
    gdfs, matches, ngs, _ = ns.grouped_page(
        "spark", ["path"], n=2, rows=3, ngroups=True)
    page = gdfs["path"].collect()
    assert len(page) <= 3 * 2  # O(rows·group_limit), not O(#groups)
    exp_groups = {r["group_val"] for r in heads[:3]}
    assert {r["group_val"] for r in page} == exp_groups
    exp = sorted(tuple(r) for r in frows if r["group_val"] in exp_groups)
    assert sorted(tuple(r) for r in page) == exp
    assert matches == ns.match_scores("spark").count()
    assert ngs["path"] == len(heads)
    # NULL group survives the null-safe head join (lang fixture has one)
    gdfs2, _, _, _ = ns.grouped_page("spark", ["lang"], n=2, rows=100)
    got = {tuple(r) for r in gdfs2["lang"].collect()}
    exp2 = {tuple(r)
            for r in ns.group_topn("spark", "lang", n=2).collect()}
    assert got == exp2
    assert None in {r[0] for r in got}


def test_facade_grouping_paged_rows(spark, null_index):
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, null_index)
    res = conn.search("spark", group_field="path", group_limit=1, rows=3,
                      group_ngroups=True)
    sec = res.grouped["path"]
    assert len(sec["groups"]) == 3
    full = conn.search("spark", group_field="path", group_limit=1,
                       rows=10_000, group_ngroups=True)
    fsec = full.grouped["path"]
    assert sec["groups"] == fsec["groups"][:3]
    assert sec["matches"] == fsec["matches"]
    assert sec["ngroups"] == fsec["ngroups"] > 3


def test_facade_grouping_composes_with_facets(spark, null_index,
                                              monkeypatch):
    """group= + facet.field in ONE request (the grouped-UI pattern,
    round-6 verdict next #4): grouped section == group-only request,
    facet section == facet-only request, ONE kernel wave for both."""
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, null_index)
    calls = []
    orig = Searcher._shard_reader

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Searcher, "_shard_reader", counting)
    res = conn.search("spark", group_field="lang", group_limit=2,
                      facet_field="repo", facet_limit=5, rows=10_000)
    assert len(calls) == 1, f"{len(calls)} kernel waves for group+facets"
    monkeypatch.setattr(Searcher, "_shard_reader", orig)
    g_only = conn.search("spark", group_field="lang", group_limit=2,
                         rows=10_000)
    f_only = conn.search("spark", rows=0, facet_field="repo",
                         facet_limit=5)
    assert res.grouped == g_only.grouped
    assert res.facets["facet_fields"] == f_only.facets["facet_fields"]


def test_facet_stats_buckets(ns):
    """json.facet bucket aggregations: one hash agg computes hits + every
    nested stat; brute-forced from the doc store."""
    rows = ns.facet_stats("spark", "lang",
                          {"avg_len": ("avg", "doc_len"),
                           "max_len": ("max", "doc_len")},
                          limit=10).collect()
    matched = (ns.search("spark", k=None, wand=False).select("doc_id")
               .join(ns.docs.select("doc_id", "lang", "doc_len"), "doc_id")
               .collect())
    exp: dict = {}
    for r in matched:
        g = exp.setdefault(r["lang"], [0, 0, None])
        g[0] += 1
        g[1] += r["doc_len"]
        g[2] = r["doc_len"] if g[2] is None else max(g[2], r["doc_len"])
    exp.pop(None, None)   # NULL bucket excluded (Solr: facet.missing only)
    assert len(rows) == len(exp) > 1
    for r in rows:
        hits, s, mx = exp[r["lang"]]
        assert r["hits"] == hits
        assert r["avg_len"] == pytest.approx(s / hits, rel=1e-12)
        assert r["max_len"] == mx
    # ranked under the classic facet order
    pairs = [(r["hits"], r["lang"]) for r in rows]
    assert pairs == sorted(pairs, key=lambda t: (-t[0], t[1]))


def test_facet_stats_guards(ns):
    from zsolr.search import UnsupportedQuery

    with pytest.raises(UnsupportedQuery):
        ns.facet_stats("spark", "lang", {"x": ("median", "doc_len")})
    with pytest.raises(UnsupportedQuery):
        ns.facet_stats("spark", "lang", {}, limit=5, sort="weird")


def test_field_sort_cursor_null_value_raises(ns):
    """A cursor page ending on a NULL sort value must RAISE, not let the
    next page come back silently empty (NULL strictly-after predicates
    are vacuously false) — round-6 review."""
    from zsolr.search import UnsupportedQuery

    n_null = ns.docs.filter(F.col("lang").isNull()).count()
    assert n_null > 1
    with pytest.raises(UnsupportedQuery, match="NULL sort value"):
        # asc puts NULLs first; a page smaller than the null run ends on
        # a NULL lang → cursor construction must refuse
        ns.search_after("[* TO *]", k=1, sort="lang asc")
    # an incoming corrupt cursor with a NULL component is refused too
    with pytest.raises(UnsupportedQuery, match="NULL sort value"):
        ns.search_after("[* TO *]", k=5, sort="lang asc",
                        after=(None, 3))


@pytest.mark.parametrize("sort", ["lang asc", "lang desc"])
def test_field_sort_page_same_on_every_route(spark, null_index, ns, sort):
    """A field-sorted page of a scored query is one page whatever the
    route — ``search``, the facade, the facade with facets — and it is
    Catalyst's order over the match set: NULL values first on asc, last
    on desc, doc_id ascending within ties."""
    from zsolr.connection import SolrConnection

    fld, d = sort.split()
    key = F.col(fld).desc() if d == "desc" else F.col(fld).asc()
    exp = [(r["doc_id"], r[fld]) for r in ns.match_scores("spark")
           .join(ns.docs.select("doc_id", fld), "doc_id")
           .orderBy(key, F.asc("doc_id")).limit(5).collect()]
    if d == "asc":   # the fixture's NULL run leads the asc page
        assert all(v is None for _i, v in exp)
    exp_ids = [i for i, _v in exp]
    got = [r["doc_id"] for r in ns.search("spark", k=5, sort=sort).collect()]
    conn = SolrConnection(spark, null_index)
    plain = conn.search("spark", rows=5, sort=sort)
    faceted = conn.search("spark", rows=5, sort=sort, facet_field="repo")
    assert got == exp_ids
    assert [x["doc_id"] for x in plain.docs] == exp_ids
    assert [x["doc_id"] for x in faceted.docs] == exp_ids
    assert plain.hits == faceted.hits


@pytest.mark.parametrize("q", ["spark", "[* TO *]"])
def test_desc_field_sort_cursor_reaches_null_run(ns, q):
    """``desc`` sorts NULLs last, so a cursor walk must reach the NULL
    run and raise the NULL-cursor guard — on a scored query and on
    match-all alike — never end early and silently drop those docs."""
    from zsolr.search import UnsupportedQuery

    after = None
    with pytest.raises(UnsupportedQuery, match="NULL sort value"):
        for _ in range(ns.n_docs_total // 100 + 2):
            _df, after = ns.search_after(q, k=100, after=after,
                                         sort="lang desc")


def test_bulk_read_keeps_field_sort(ns):
    """``k=None`` is the unbounded form of the same page: it keeps the
    field sort (not score order) and stays a lazy DataFrame."""
    lazy = ns.search("spark", k=None, sort="path")
    assert "LocalRelation" not in \
        lazy._jdf.queryExecution().analyzed().toString()
    assert [tuple(r) for r in lazy.collect()] == \
        [tuple(r) for r in ns.search("spark", k=10**6, sort="path")
         .collect()]


def test_facade_boost_with_facets_one_wave(spark, null_index, ns,
                                           monkeypatch):
    """boost + facet.field shares ONE kernel evaluation (round-6
    review: it used to run facet_fields as a second wave)."""
    from zsolr.connection import SolrConnection

    conn = SolrConnection(spark, null_index)
    exp = _brute(ns, "spark", "lang")
    calls = []
    orig = Searcher._shard_reader

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(Searcher, "_shard_reader", counting)
    res = conn.search("spark", rows=5, facet_field="lang",
                      facet_missing=True,
                      boost="recip(ms(NOW,ts),1e-9,1,1)",
                      now="2021-06-01T00:00:00Z")
    assert len(calls) == 1, f"{len(calls)} kernel waves for boost+facets"
    assert res.facets["facet_fields"]["lang"][None] == exp[None]
    assert res.hits == sum(exp.values())
    assert len(res.docs) == 5


def test_facet_terms_nested_brute_force(ns):
    """json.facet nested terms subfacets (round-6 verdict next #5):
    top-2 lang buckets, top-3 repo sub-buckets inside each, vs a full
    driver-side recount.  Default json.facet sort throughout: count
    desc, value asc tiebreak."""
    from collections import Counter

    rows = ns.facet_terms_nested("spark", "lang", "repo",
                                 limit=2, sub_limit=3).collect()
    matched = (ns.search("spark", k=None, wand=False).select("doc_id")
               .join(ns.docs.select("doc_id", "lang", "repo"), "doc_id")
               .collect())
    parents = Counter(r["lang"] for r in matched if r["lang"] is not None)
    top_parents = sorted(parents, key=lambda v: (-parents[v], v))[:2]
    exp = []
    for p in top_parents:
        subs = Counter(r["repo"] for r in matched
                       if r["lang"] == p and r["repo"] is not None)
        top_subs = sorted(subs, key=lambda v: (-subs[v], v))[:3]
        for i, sv in enumerate(top_subs, 1):
            exp.append((p, parents[p], sv, subs[sv], i))
    got = sorted((r["bucket"], r["hits"], r["sub_val"], r["sub_hits"],
                  r["sub_rank"]) for r in rows)
    assert got == sorted(exp) and got


def test_facet_terms_nested_null_sub_counts_parent(ns):
    """NULL sub values never form a sub bucket but still count toward
    the parent bucket's hits (json.facet: the nested facet filters its
    own domain, the parent count is the bucket's doc count)."""
    from collections import Counter

    rows = ns.facet_terms_nested("spark", "repo", "lang",
                                 limit=100, sub_limit=100).collect()
    matched = (ns.search("spark", k=None, wand=False).select("doc_id")
               .join(ns.docs.select("doc_id", "lang", "repo"), "doc_id")
               .collect())
    parents = Counter(r["repo"] for r in matched)
    withnull = {r["repo"] for r in matched if r["lang"] is None}
    assert withnull  # fixture guarantees null-lang matches
    by_bucket: dict = {}
    for r in rows:
        assert r["sub_val"] is not None
        assert r["hits"] == parents[r["bucket"]]
        by_bucket.setdefault(r["bucket"], 0)
        by_bucket[r["bucket"]] += r["sub_hits"]
    for b, subsum in by_bucket.items():
        assert subsum == parents[b] - sum(
            1 for r in matched if r["repo"] == b and r["lang"] is None)


def test_json_facet_api(spark, null_index, ns):
    """Solr JSON Facet API facade (round-7): terms / terms+stats /
    nested terms / calendar date-range entries in one request dict,
    each section equal to its engine kernel; guards raise on
    unsupported shapes."""
    from zsolr.connection import SolrConnection
    from zsolr.search import UnsupportedQuery

    conn = SolrConnection(spark, null_index)
    res = conn.json_facet("spark", {
        "langs": {"type": "terms", "field": "lang", "limit": 3},
        "lens": {"type": "terms", "field": "lang", "limit": 2,
                 "facet": {"sum_len": "sum(doc_len)",
                           "max_len": "max(doc_len)"}},
        "lang_repos": {"type": "terms", "field": "lang", "limit": 2,
                       "facet": {"repos": {"type": "terms",
                                           "field": "repo", "limit": 3}}},
        "months": {"type": "range", "field": "ts",
                   "start": "2020-01-01T00:00:00Z",
                   "end": "2021-01-01T00:00:00Z", "gap": "+1MONTH"},
    })
    assert res["count"] == ns.match_scores("spark").count()

    exp_f = [(r[0], r["hits"])
             for r in ns.facet("spark", "lang", limit=3).collect()]
    assert [(b["val"], b["count"])
            for b in res["langs"]["buckets"]] == exp_f

    exp_s = ns.facet_stats("spark", "lang",
                           {"sum_len": ("sum", "doc_len"),
                            "max_len": ("max", "doc_len")},
                           limit=2).collect()
    assert [(b["val"], b["count"], b["sum_len"], b["max_len"])
            for b in res["lens"]["buckets"]] == \
        [(r["lang"], r["hits"], r["sum_len"], r["max_len"])
         for r in exp_s]

    nrows = ns.facet_terms_nested("spark", "lang", "repo",
                                  limit=2, sub_limit=3).collect()
    exp_n: dict = {}
    for r in sorted(nrows, key=lambda r: r["sub_rank"]):
        exp_n.setdefault(r["bucket"], (r["hits"], []))[1].append(
            (r["sub_val"], r["sub_hits"]))
    got_n = {b["val"]: (b["count"],
                        [(sb["val"], sb["count"])
                         for sb in b["repos"]["buckets"]])
             for b in res["lang_repos"]["buckets"]}
    assert got_n == exp_n
    # parent buckets render in (count desc, value asc) order
    order = [b["val"] for b in res["lang_repos"]["buckets"]]
    assert order == sorted(exp_n, key=lambda b: (-exp_n[b][0], b))

    drows = ns.facet_range_date("spark", "ts", "2020-01-01T00:00:00Z",
                                "2021-01-01T00:00:00Z",
                                "+1MONTH").collect()
    assert [(b["val"], b["count"]) for b in res["months"]["buckets"]] \
        == sorted(((r["bucket_start"], r["hits"]) for r in drows))

    with pytest.raises(UnsupportedQuery):
        conn.json_facet("spark", {"x": {"type": "terms", "field": "lang",
                                        "facet": {"bad": "median(doc_len)"}}})
    with pytest.raises(UnsupportedQuery):
        conn.json_facet("spark", {"x": {"type": "heatmap",
                                        "field": "lang"}})
    with pytest.raises(UnsupportedQuery):
        conn.json_facet("spark", {"x": {
            "type": "terms", "field": "lang",
            "facet": {"s": "sum(doc_len)",
                      "t": {"type": "terms", "field": "repo"}}}})


def test_json_facet_single_match_set_evaluation(spark, null_index, ns,
                                                monkeypatch):
    """Round-7 review: the count plus EVERY json.facet entry must share
    ONE evaluation of the match set — the facade used to re-run the
    scoring kernel once for the count and once per entry (N+1 waves)."""
    from zsolr.connection import SolrConnection
    from zsolr.search import Searcher

    conn = SolrConnection(spark, null_index)
    calls = {"n": 0}
    orig = Searcher._match_set

    def counting(self, q, *a, **kw):
        calls["n"] += 1
        return orig(self, q, *a, **kw)

    monkeypatch.setattr(Searcher, "_match_set", counting)
    res = conn.json_facet("spark", {
        "langs": {"type": "terms", "field": "lang", "limit": 3},
        "lens": {"type": "terms", "field": "lang", "limit": 2,
                 "facet": {"sum_len": "sum(doc_len)"}},
        "lang_repos": {"type": "terms", "field": "lang", "limit": 2,
                       "facet": {"repos": {"type": "terms",
                                           "field": "repo",
                                           "limit": 3}}},
        "days": {"type": "range", "field": "ts",
                 "start": "2020-01-01T00:00:00Z",
                 "end": "2020-01-11T00:00:00Z", "gap": "+2DAYS"},
    })
    assert calls["n"] == 1, calls
    assert res["count"] > 0 and res["langs"]["buckets"]


@pytest.mark.parametrize("q", ["[* TO *] AND NOT spark",
                               "lang:en AND NOT spark"])
def test_exclusion_match_set_same_on_every_route(spark, null_index, ns, q):
    """A match-all plan with an exclusion (``*:* AND NOT x``, or a
    filter AND NOT x) is ONE match set on every bulk route: facets,
    multi-field facets, stats, pivots, json.facet and the facade's
    facet-only request all count what ``match_scores`` counts (three of
    them used to drop the exclusion and count every filtered doc)."""
    from zsolr.connection import SolrConnection

    n = ns.match_scores(q).count()
    everything = ns.match_scores(q.split(" AND NOT ")[0]).count()
    assert 0 < n < everything   # the exclusion really removes docs
    assert sum(r["hits"] for r in
               ns.facet(q, "lang", missing=True).collect()) == n
    assert ns.facet_fields(q, ["lang"], with_hits=True)[1] == n
    assert ns.stats(q).collect()[0]["n"] == n
    assert sum(r["hits"] for r in
               ns.facet_pivot(q, "lang", "repo").collect()) == n
    conn = SolrConnection(spark, null_index)
    assert conn.json_facet(q, {"langs": {"type": "terms",
                                         "field": "lang"}})["count"] == n
    assert conn.search(q, rows=0, facet_field="lang").hits == n
    assert conn.search(q, rows=5, facet_field="lang").hits == n
