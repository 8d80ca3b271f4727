"""pysolr-style connection facade (SURVEY.md §2.3 / E2).

zeit.solr callers talk to ``SolrConnection.search(q, rows=, sort=, fl=,
fq=)`` and get a pysolr ``Results`` object (``.docs`` list-of-dicts,
``.hits`` numFound) [SURVEY §3.1 E2]; deletes go through
``SolrConnection.delete(q=... / id=...)``.  This module provides the same
call shape over the PySpark engine, so a reference user can port
call-sites verbatim:

* ``search`` → :class:`Results` with ``docs``/``hits``/``facets``/
  ``highlighting`` — the HTTP hop is replaced by in-cluster jobs;
* ``fq`` filter queries never contribute score (Solr semantics): meta
  conjuncts lower to pushed-down doc-store predicates exactly like
  ``lang:en`` terms, scored clauses are wrapped in a ``Boost(…, 0.0)``
  (match required, zero score mass; WAND upper bounds stay safe because
  `_boost_mults` floors multipliers at 1.0);
* ``add``/``delete``/``commit`` map to the incremental-update and
  tombstone lifecycle (commits are atomic snapshots — ``commit()`` is a
  Solr-parity no-op kept so ported code runs unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import ManifestParquetCatalog
from .parse import And, Boost, Not, parse
from .search import Searcher, UnsupportedQuery, _field_sort, _is_meta


class Results:
    """pysolr-compatible result container: iterable of doc dicts with
    ``hits`` (numFound), plus ``facets`` / ``highlighting`` side sections
    when requested."""

    def __init__(self, docs: list[dict], hits: int,
                 facets: dict | None = None,
                 highlighting: dict | None = None,
                 nextCursorMark: str | None = None,
                 grouped: dict | None = None):
        self.docs = docs
        self.hits = hits
        self.facets = facets or {}
        self.highlighting = highlighting or {}
        self.nextCursorMark = nextCursorMark
        self.grouped = grouped or {}

    def __len__(self):
        return len(self.docs)

    def __iter__(self):
        return iter(self.docs)

    def __repr__(self):
        return f"<Results: {self.hits} hits, {len(self.docs)} docs>"


_FL_FIELDS = ("doc_id", "repo", "path", "commit", "score")


def _apply_fl(docs: list[dict], fl: str | None) -> list[dict]:
    """Solr ``fl`` projection over returned doc dicts — ONE definition
    (round-6 review: the grouped/boosted/plain paths each carried a
    copy, so extending the returnable fields needed three edits)."""
    if not fl:
        return docs
    want = [c.strip() for c in fl.split(",") if c.strip()]
    bad = [c for c in want if c not in _FL_FIELDS]
    if bad:
        raise UnsupportedQuery(f"unknown fl fields: {bad}")
    return [{c: d[c] for c in want} for d in docs]


def _fq_conjuncts(fq: str) -> tuple:
    """Parse one fq into conjuncts that can be ANDed into the main query
    without adding score: meta equalities stay bare (the planner lowers
    them to doc-store filters with parquet pushdown), anything scored is
    zero-boosted."""
    ast = parse(fq)
    nodes = list(ast.children) if isinstance(ast, And) else [ast]
    out = []
    for n in nodes:
        if _is_meta(n) or (isinstance(n, Not) and _is_meta(n.child)):
            out.append(n)
        else:
            out.append(Boost(n, 0.0))
    return tuple(out)


def _parse_qf(qf) -> dict:
    """Solr ``qf`` string (``"path^2 content"``) → {field: weight};
    dicts pass through.  Weightless fields default to 1.0."""
    if qf is None:
        return {"content": 1.0}
    if isinstance(qf, dict):
        return dict(qf)
    out: dict = {}
    for part in str(qf).split():
        if "^" in part:
            f, w = part.split("^", 1)
            try:
                out[f] = float(w)
            except ValueError:
                raise UnsupportedQuery(
                    f"bad qf/pf weight in {part!r} (want field^number)")
        else:
            out[part] = 1.0
    if not out:
        raise UnsupportedQuery("qf must name at least one field")
    return out


def _encode_mark(after: tuple) -> str:
    import base64
    import json

    return base64.urlsafe_b64encode(
        json.dumps(list(after)).encode()).decode()


def _decode_mark(mark: str, fielded: bool = False) -> tuple | None:
    import base64
    import json

    if mark == "*":
        return None
    vals = json.loads(base64.urlsafe_b64decode(mark.encode()))
    if fielded:
        # field-sort cursor: (sort values…, doc_id) — values round-trip
        # through JSON as-is, only the uniqueKey tiebreak is coerced
        return tuple(vals[:-1]) + (int(vals[-1]),)
    sc, did = vals
    return float(sc), int(did)


class SolrConnection:
    """Drop-in call shape for zeit.solr's ``SolrConnection`` over the
    PySpark engine.  ``corpus_df`` (repo, path, content) is only needed
    for highlighting — the index stores sha256 + metadata, content stays
    in the source-of-truth corpus table (the Solr stored-fields
    deployment shape)."""

    def __init__(self, spark: SparkSession,
                 catalog: ManifestParquetCatalog | str,
                 cache_size: int = 0,
                 corpus_df: DataFrame | None = None):
        self.spark = spark
        self.cat = (catalog if isinstance(catalog, ManifestParquetCatalog)
                    else ManifestParquetCatalog(catalog))
        self.cache_size = cache_size
        self.corpus_df = corpus_df
        self._searcher = Searcher(spark, self.cat, cache_size=cache_size)

    # -- E2: search ---------------------------------------------------------
    def search(self, q, rows: int = 10, start: int = 0,
               sort: str | None = None, fl: str | None = None,
               fq: str | list[str] | None = None,
               facet_field: str | list[str] | None = None,
               facet_query: str | list[str] | None = None,
               facet_limit: int = 100, facet_mincount: int = 0,
               facet_prefix: str | None = None,
               facet_missing: bool = False,
               hl: bool = False, hl_snippets: int = 3,
               spellcheck: bool = False,
               spellcheck_collate: bool = False,
               cursor_mark: str | None = None,
               boost: str | None = None, now=None,
               group_field: str | list[str] | None = None,
               group_limit: int = 1,
               group_ngroups: bool = False,
               def_type: str | None = None,
               qf: str | dict | None = None,
               tie: float = 0.0,
               pf: str | dict | None = None,
               mm=None) -> Results:
        """Solr ``/select``: returns :class:`Results`.

        ``rows=0`` is the Solr count-only idiom (numFound, no docs).
        ``fl`` subsets the returned fields (``"repo,path"``); ``score``
        and ``doc_id`` are always available.  ``fq`` filter queries
        restrict matches without contributing score.  ``cursor_mark``
        (``"*"`` to start) pages without the deep-offset cost; iterate
        until ``nextCursorMark`` stops changing (Solr protocol).

        ``def_type="edismax"`` + ``qf="path^2 content"`` (+ ``tie``)
        scores every query term per field and combines as
        DisjunctionMaxQuery (SURVEY §2 Q44).  The rewrite happens at the
        AST level BEFORE the request is planned, so edismax composes
        with the whole surface — fq, facets, grouping, cursors, boost —
        at zero extra kernel cost.  ``qf`` does NOT apply to ``fq``
        (Solr: filter queries use the lucene parser)."""
        ast = parse(q) if isinstance(q, str) else q
        if def_type not in (None, "lucene", "edismax"):
            raise UnsupportedQuery(f"unknown defType {def_type!r}")
        if def_type == "edismax":
            pf_map = _parse_qf(pf) if pf is not None else None
            ast = self._searcher.dismax_ast(ast, _parse_qf(qf), tie,
                                            pf=pf_map, mm=mm)
        elif qf is not None or pf is not None or mm is not None:
            raise UnsupportedQuery("qf/pf/mm require defType='edismax'")
        if fq:
            fqs = [fq] if isinstance(fq, str) else list(fq)
            extra: tuple = ()
            for f_ in fqs:
                extra = extra + _fq_conjuncts(f_)
            base = tuple(ast.children) if isinstance(ast, And) else (ast,)
            ast = And(base + extra)
        fields = ([facet_field] if isinstance(facet_field, str)
                  else list(facet_field)) if facet_field else []
        fqs_ = ([facet_query] if isinstance(facet_query, str)
                else list(facet_query)) if facet_query else []
        facets: dict = {}
        next_mark = None
        if group_field is not None:
            # Solr result grouping (group=true&group.field=F&group.limit=n
            # &group.ngroups=true): the response's `grouped` section, one
            # entry per field, PAGED — the request's `rows` caps the
            # number of groups returned (Solr's grouped-response paging),
            # so the facade collects O(rows·group_limit) rows per field,
            # never one row per group (round-6 verdict #1).  Composes
            # with facet.field/facet.query (the grouped-UI pattern):
            # groups, matches, ngroups, and every facet derive from ONE
            # persisted evaluation of the match set (grouped_page).  The
            # doc fetch is one isin-pruned scan over surviving heads.
            if cursor_mark is not None or sort is not None or hl \
                    or spellcheck:
                raise UnsupportedQuery(
                    "group= composes with fq/fl/rows/boost/facet.field/"
                    "facet.query/group.limit/group.ngroups, not with"
                    " cursorMark, sort, hl, or spellcheck")
            if group_limit < 1:
                raise UnsupportedQuery("group.limit must be >= 1")
            _apply_fl([], fl)   # validate fl upfront (zero-group case)
            gfields = ([group_field] if isinstance(group_field, str)
                       else list(group_field))
            gdfs, matches, ngs, ranked = self._searcher.grouped_page(
                ast, gfields, n=group_limit, rows=rows,
                ngroups=group_ngroups, facet_fields=fields,
                facet_limit=facet_limit, facet_mincount=facet_mincount,
                facet_prefix=facet_prefix, facet_missing=facet_missing,
                boost=boost, now=now)
            if fields:
                facets["facet_fields"] = {
                    fld: dict(rows_) for fld, rows_ in ranked.items()}
            if fqs_:
                facets["facet_queries"] = self._searcher.facet_query(
                    ast, fqs_)
            grows = {fld: gdf.collect() for fld, gdf in gdfs.items()}
            meta = self._searcher._doc_meta(
                r["doc_id"] for rows_ in grows.values() for r in rows_)
            grouped: dict = {}
            for fld, rows_ in grows.items():
                by_group: dict = {}
                for r in sorted(rows_, key=lambda r: r["rank"]):
                    by_group.setdefault(r["group_val"], []).append(r)
                heads = sorted(
                    by_group.items(),
                    key=lambda kv: (-kv[1][0]["score"],
                                    kv[1][0]["doc_id"]))
                groups = []
                for gval, members in heads:
                    dl = [dict(meta[r["doc_id"]].asDict(),
                               score=r["score"]) for r in members]
                    dl = _apply_fl(dl, fl)
                    groups.append({"groupValue": gval,
                                   "doclist": {
                                       "numFound": int(members[0]["hits"]),
                                       "docs": dl}})
                entry = {"matches": matches, "groups": groups}
                if group_ngroups:
                    entry["ngroups"] = ngs[fld]
                grouped[fld] = entry
            res = Results([], matches, facets, {}, nextCursorMark=None,
                          grouped=grouped)
            res.spellcheck = {}
            return res
        if boost is not None:
            # Solr {!boost b=...}: function-query boosted ranking — the
            # boost defeats block-max pruning (per-doc multiplier), so
            # the engine scores exhaustively; cursors over a
            # function-rank are not a Solr shape either
            if cursor_mark is not None or sort is not None or hl \
                    or spellcheck:
                raise UnsupportedQuery(
                    "boost= composes with rows/start/fl/fq/facets, not"
                    " with cursorMark, a sort override, hl, or"
                    " spellcheck")
            if fields:
                # page + numFound + every facet from ONE persisted
                # boosted match set (round-6 review: this used to run
                # facet_fields as a second kernel wave)
                df, hits, ranked = self._searcher.search_boosted(
                    ast, k=max(rows, 1), start=start, boost=boost,
                    now=now, with_count=True, facet_fields=fields,
                    facet_limit=facet_limit, facet_mincount=facet_mincount,
                    facet_prefix=facet_prefix, facet_missing=facet_missing)
                facets["facet_fields"] = {
                    fld: dict(rows_) for fld, rows_ in ranked.items()}
            else:
                df, hits = self._searcher.search_boosted(
                    ast, k=max(rows, 1), start=start, boost=boost,
                    now=now, with_count=True)
            docs = [r.asDict() for r in df.collect()] if rows > 0 else []
            if fqs_:
                facets["facet_queries"] = self._searcher.facet_query(
                    ast, fqs_)
            docs = _apply_fl(docs, fl)
            res = Results(docs, hits, facets, {}, nextCursorMark=None)
            res.spellcheck = {}
            return res
        # facet-only request (rows=0 + facet.field — the classic UI
        # pattern): numFound rides the SAME persisted match set the
        # facets aggregate (facet_fields with_hits), so the request
        # costs one kernel evaluation instead of a search() + a facet
        # pass (round-5)
        facet_only = (bool(fields) and rows == 0 and cursor_mark is None
                      and not hl and not spellcheck)
        if facet_only:
            ranked, hits = self._searcher.facet_fields(
                ast, fields, limit=facet_limit, mincount=facet_mincount,
                prefix=facet_prefix, with_hits=True,
                missing=facet_missing)
            facets["facet_fields"] = {
                fld: dict(rows_) for fld, rows_ in ranked.items()}
            if fqs_:
                facets["facet_queries"] = self._searcher.facet_query(
                    ast, fqs_)
            res = Results([], hits, facets, {}, nextCursorMark=None)
            res.spellcheck = {}
            return res
        if cursor_mark is not None:
            if start:
                raise UnsupportedQuery("cursorMark requires start=0")
            # Solr supports cursors over any stable sort (the uniqueKey
            # tiebreak the engine always appends makes ours stable).
            # Fielded-ness comes from the PARSED sort spec (round-6
            # advice): a prefix test misclassified any field whose name
            # starts with "score" (e.g. `score_v asc`) as a score cursor
            # and coerced its mark to (float, int), corrupting it.
            after = _decode_mark(cursor_mark,
                                 fielded=bool(_field_sort(sort)))
            page, nxt, hits = self._searcher.search_after(
                ast, k=max(rows, 1), after=after, with_count=True,
                sort=sort, as_rows=True)
            next_mark = _encode_mark(nxt) if nxt is not None else cursor_mark
            docs = page if rows > 0 else []
        elif fields:
            # q + facet.field + rows>0 — the commonest Solr request
            # shape (round-6): the ranked page, numFound, and every
            # facet field share ONE kernel evaluation of the match set
            # (Solr computes facets from the same match set as the
            # page; the counted page already forces a full decode)
            df, hits, ranked = self._searcher.search_with_facets(
                ast, fields, k=rows, start=start, sort=sort,
                facet_limit=facet_limit, mincount=facet_mincount,
                prefix=facet_prefix, missing=facet_missing)
            facets["facet_fields"] = {
                fld: dict(rows_) for fld, rows_ in ranked.items()}
            docs = [r.asDict() for r in df.collect()]
        else:
            k = rows if rows > 0 else 1
            df, hits = self._searcher.search(ast, k=k, start=start,
                                             sort=sort, with_count=True)
            docs = [r.asDict() for r in df.collect()] if rows > 0 else []
        docs = _apply_fl(docs, fl)
        if fields and "facet_fields" not in facets:
            # (cursorMark requests only — plain ranked requests share
            # the kernel wave above, rows=0 took the facet-only path)
            # facet.limit is cut inside the engine: O(facet_limit) rows
            # per field reach the facade, whose dicts keep rank order
            ranked = self._searcher.facet_fields(ast, fields,
                                                 limit=facet_limit,
                                                 mincount=facet_mincount,
                                                 prefix=facet_prefix,
                                                 missing=facet_missing)
            facets["facet_fields"] = {
                fld: dict(rows_) for fld, rows_ in ranked.items()}
        if fqs_:
            facets["facet_queries"] = self._searcher.facet_query(ast, fqs_)
        highlighting: dict = {}
        if hl:
            if self.corpus_df is None:
                raise UnsupportedQuery(
                    "highlighting needs corpus_df (stored content lives in"
                    " the corpus table, not the index)")
            ids = [(d["repo"], d["path"]) for d in docs
                   if "repo" in d and "path" in d]
            if ids:
                from .search import local_df
                key = local_df(self.spark, ids,
                               "repo string, path string")
                fetched = (self.corpus_df
                           .join(F.broadcast(key.distinct()),
                                 ["repo", "path"])
                           .select("repo", "path", "content").collect())
                content = {(r["repo"], r["path"]): r["content"]
                           for r in fetched}
                for d in docs:
                    c = content.get((d.get("repo"), d.get("path")))
                    if c is not None:
                        highlighting[f"{d['repo']}/{d['path']}"] = {
                            "content": Searcher.highlight(
                                c, ast, max_snippets=hl_snippets,
                                searcher=self._searcher)}
        sc_out: dict = {}
        if spellcheck:
            # Solr SpellCheckComponent: suggestions for each query term
            # absent from the index (df == 0), ranked df-desc — ALL
            # misspelled words in ONE dictionary scan (spellcheck_batch;
            # round-4 verdict #6: one job per typo before)
            from .search import _collect_terms

            terms: list[str] = []
            _collect_terms(ast, terms)
            words = [w for w in dict.fromkeys(terms) if "=" not in w]
            self._searcher._idf_map(words)
            missing = [w for w in words
                       if self._searcher._df_cache.get(w, 0) == 0]
            if missing:
                batch = self._searcher.spellcheck_batch(missing, n=5)
                sc_out = {w: [t for t, _df in batch[w]] for w in missing}
        collation = None
        if spellcheck_collate and sc_out and isinstance(q, str):
            # Solr spellcheck.collate(+ExtendedResults): substitute each
            # misspelled word's TOP suggestion into the raw query string
            # (word-boundary, case-insensitive — Solr collates on the
            # original q) and run the collation for its hit count.  One
            # extra count-only query, only when a collation exists.
            import re as _re

            cq = q
            for w, suggs in sc_out.items():
                if suggs:
                    cq = _re.sub(rf"(?i)\b{_re.escape(w)}\b", suggs[0],
                                 cq)
            if cq != q:
                _cdf, chits = self._searcher.search(cq, k=1,
                                                    with_count=True)
                collation = {"collationQuery": cq, "hits": int(chits)}
        res = Results(docs, hits, facets, highlighting,
                      nextCursorMark=next_mark)
        if spellcheck:
            res.spellcheck = {"suggestions": sc_out}
            if collation is not None:
                res.spellcheck["collation"] = collation
        else:
            res.spellcheck = {}
        return res

    _JSON_AGG_RE = None   # compiled lazily (module keeps imports light)

    def json_facet(self, q, facet: dict,
                   fq: str | list[str] | None = None) -> dict:
        """Solr JSON Facet API (the ``json.facet`` request body):
        interprets the spec dict and returns the response's ``facets``
        section — ``{"count": numFound, <name>: {"buckets": [{"val": …,
        "count": …, <stat>: … | <subname>: {"buckets": […]}}]}}``.

        Supported per named entry (unknown shapes raise — the engine's
        guard principle, never silent approximation):

        * ``{"type": "terms", "field": F, "limit": n, "mincount": m,
          "sort": "count"|"index"}`` — classic terms buckets; an
          optional ``"facet"`` sub-dict holds EITHER numeric agg strings
          (``{"avg_len": "avg(doc_len)"}`` → ONE hash agg via
          ``facet_stats``) OR exactly one nested ``{"type": "terms"}``
          subfacet (``facet_terms_nested`` — top-n sub-buckets inside
          each surviving parent, one scoring wave).
        * ``{"type": "range", "field": "ts", "start": …, "end": …,
          "gap": …}`` — ISO string bounds run the date-range kernel
          (incl. calendar ``+1MONTH``/``+1YEAR`` gaps), numeric bounds
          the numeric one; buckets render in range order.

        Driver volume is O(limit · sub_limit) per entry — every cut is
        engine-side."""
        import re as _re

        if SolrConnection._JSON_AGG_RE is None:
            SolrConnection._JSON_AGG_RE = _re.compile(
                r"^(avg|sum|min|max|count)\((\w+)\)$")
        agg_re = SolrConnection._JSON_AGG_RE
        ast = parse(q) if isinstance(q, str) else q
        if fq:
            fqs = [fq] if isinstance(fq, str) else list(fq)
            extra: tuple = ()
            for f_ in fqs:
                extra = extra + _fq_conjuncts(f_)
            base = tuple(ast.children) if isinstance(ast, And) else (ast,)
            ast = And(base + extra)
        s = self._searcher
        # ONE evaluation of the match set shared by every facet entry
        matched = s._match_set(ast).persist()
        try:
            out = self._json_facet_entries(s, ast, facet, matched, agg_re)
        finally:
            matched.unpersist()
        return out

    def _json_facet_entries(self, s, ast, facet: dict, matched,
                            agg_re) -> dict:
        # the count and every plain terms entry's cut: ONE aggregate
        plain = {name: (spec["field"], int(spec.get("limit", 10)),
                        spec.get("sort", "count"),
                        int(spec.get("mincount", 0)))
                 for name, spec in facet.items()
                 if spec.get("type", "terms") == "terms" and not any(
                     isinstance(v, (str, dict))
                     for v in (spec.get("facet") or {}).values())}
        count, counts = s._facet_counts(matched, list(plain.values()),
                                        with_count=True)
        terms = dict(zip(plain, counts))
        out: dict = {"count": int(count)}
        for name, spec in facet.items():
            if name in terms:
                out[name] = {"buckets": [{"val": v, "count": int(h)}
                                         for v, h in terms[name]]}
                continue
            ftype = spec.get("type", "terms")
            fld = spec["field"]
            if ftype == "range":
                if isinstance(spec["start"], str):
                    rows_ = s.facet_range_date(
                        ast, fld, spec["start"], spec["end"],
                        spec["gap"], matched=matched).collect()
                else:
                    rows_ = s.facet_range(
                        ast, fld, spec["start"], spec["end"],
                        spec["gap"], matched=matched).collect()
                out[name] = {"buckets": [
                    {"val": r["bucket_start"], "count": int(r["hits"])}
                    for r in sorted(rows_,
                                    key=lambda r: r["bucket_start"])]}
                continue
            if ftype != "terms":
                raise UnsupportedQuery(
                    f"json.facet type {ftype!r} (terms|range)")
            limit = int(spec.get("limit", 10))
            mincount = int(spec.get("mincount", 0))
            sort = spec.get("sort", "count")
            sub = spec.get("facet") or {}
            nested = {k: v for k, v in sub.items() if isinstance(v, dict)}
            aggs = {k: v for k, v in sub.items() if isinstance(v, str)}
            if nested and aggs:
                raise UnsupportedQuery(
                    "json.facet: mix of stat and terms subfacets in one"
                    " bucket is unsupported")
            if nested:
                if len(nested) > 1:
                    raise UnsupportedQuery(
                        "json.facet: one nested terms subfacet per"
                        " bucket")
                if mincount or sort != "count":
                    raise UnsupportedQuery(
                        "json.facet: nested terms subfacets support the"
                        " default count sort, mincount=0")
                (subname, subspec), = nested.items()
                if subspec.get("type", "terms") != "terms":
                    raise UnsupportedQuery(
                        "json.facet: nested subfacet must be terms")
                rows_ = s.facet_terms_nested(
                    ast, fld, subspec["field"], limit=limit,
                    sub_limit=int(subspec.get("limit", 10)),
                    matched=matched).collect()
                by_b: dict = {}
                for r in sorted(rows_, key=lambda r: r["sub_rank"]):
                    by_b.setdefault(r["bucket"],
                                    (int(r["hits"]), []))[1].append(
                        {"val": r["sub_val"],
                         "count": int(r["sub_hits"])})
                order = sorted(by_b, key=lambda b: (-by_b[b][0], b))
                out[name] = {"buckets": [
                    {"val": b, "count": by_b[b][0],
                     subname: {"buckets": by_b[b][1]}} for b in order]}
            else:
                stats = {}
                for sname, expr in aggs.items():
                    m = agg_re.match(expr.replace(" ", ""))
                    if not m:
                        raise UnsupportedQuery(
                            f"json.facet stat {expr!r} — expected"
                            f" fn(column), fn in avg|sum|min|max|count")
                    stats[sname] = (m.group(1), m.group(2))
                rows_ = s.facet_stats(ast, fld, stats, limit=limit,
                                      sort=sort, mincount=mincount,
                                      matched=matched).collect()
                out[name] = {"buckets": [
                    dict({"val": r[0], "count": int(r["hits"])},
                         **{k: r[k] for k in stats}) for r in rows_]}
        return out

    def more_like_this(self, doc_id: int, rows: int = 10,
                       mlt_fl="content", mlt_mintf: int = 1,
                       mlt_mindf: int = 1) -> Results:
        """pysolr ``Solr.more_like_this`` shape over the engine's MLT
        component (Q25): docs similar to ``doc_id``, source excluded.
        ``hits`` is the TOTAL similar-doc match count (pysolr/Solr
        numFound semantics — round-6 advice), not the page size.
        ``mlt_fl``/``mlt_mintf``/``mlt_mindf`` mirror Solr's mlt.fl /
        mlt.mintf / mlt.mindf (round-7)."""
        df, n = self._searcher.more_like_this(doc_id, k=rows,
                                              with_count=True,
                                              fl=mlt_fl, mintf=mlt_mintf,
                                              mindf=mlt_mindf)
        docs = [r.asDict() for r in df.collect()]
        return Results(docs, n)

    def suggest_terms(self, prefix: str, rows: int = 10) -> dict:
        """pysolr ``Solr.suggest_terms`` shape over the suggester (Q19):
        ``{prefix: [(term, df), …]}`` by descending df."""
        rows_ = self._searcher.suggest(prefix, rows).collect()
        return {prefix: [(r["term"], r["df"]) for r in rows_]}

    def terms(self, field: str = "content", prefix: str = "",
              limit: int = 10, mincount: int = 1,
              maxcount: int | None = None, sort: str = "count",
              regex: str | None = None) -> dict:
        """Solr ``/terms`` response shape: ordered ``{term: df}`` for one
        field (content, a metadata field, or an extra scored field) —
        O(limit) driver rows, prefix pushed to the term-dictionary
        scan."""
        rows_ = self._searcher.terms(field, prefix=prefix, limit=limit,
                                     mincount=mincount, maxcount=maxcount,
                                     sort=sort, regex=regex).collect()
        return {r["term"]: r["df"] for r in rows_}

    def get(self, repo: str, path: str) -> dict | None:
        """Solr realtime get (``/get?id=…``): fetch ONE doc by uniqueKey
        straight from the doc store — no scoring, no kernel.  Every
        lifecycle op commits atomically and ``_reopen`` re-pins the
        snapshot, so the read is as fresh as Solr's realtime get after a
        soft commit.  Plan: two pushed-down equality predicates on the
        (repo, path)-sorted doc-store parquet (row-group min/max
        pruning); tombstones already anti-joined by the searcher's
        pinned view.  Returns the metadata doc dict, or None."""
        rows_ = (self._searcher.docs
                 .filter((F.col("repo") == repo) & (F.col("path") == path))
                 .limit(1).collect())
        return rows_[0].asDict() if rows_ else None

    # -- E1'/E3: update + delete -------------------------------------------
    _CORPUS_SCHEMA = ("repo string, path string, commit string,"
                      " lang string, content string")

    def add(self, docs) -> dict:
        """Solr ``<add>`` upsert — zeit.solr's ``IUpdater.update`` path;
        only the given docs are touched (``incremental_add``, not the
        full-snapshot diff).  Accepts EITHER a corpus-shaped DataFrame
        (repo, path, commit, lang, content) OR pysolr's call shape, a
        list of doc dicts (round-6 verdict #3) — each dict needs
        ``repo``/``path``/``content``; ``commit``/``lang`` default to
        ``""``.  Returns {'added', 'changed', 'skipped'} counts."""
        from .lifecycle import atomic_update, incremental_add

        if not isinstance(docs, DataFrame):
            rows = list(docs)
            if any(isinstance(v, dict) for d in rows for v in d.values()):
                # pysolr atomic-update shape ({"repo": r, "path": p,
                # "lang": {"set": "de"}}): every non-key value must be an
                # op dict — mixing full docs and atomic docs in one batch
                # is a Solr error too
                atomic = [d for d in rows
                          if any(isinstance(v, dict) for v in d.values())]
                if len(atomic) != len(rows):
                    raise ValueError(
                        "mixed atomic-update and full-document docs in"
                        " one add() batch")
                res = atomic_update(self.spark, self.cat, rows,
                                    corpus_df=self.corpus_df)
                self._reopen()
                return res
            bad = [d for d in rows
                   if not {"repo", "path", "content"} <= set(d)]
            if bad:
                raise ValueError(
                    "add(list[dict]) docs need repo/path/content keys;"
                    f" first bad doc: {bad[0]!r}")
            docs = self.spark.createDataFrame(
                [(d["repo"], d["path"], d.get("commit", ""),
                  d.get("lang", ""), d["content"]) for d in rows],
                self._CORPUS_SCHEMA)
        res = incremental_add(self.spark, self.cat, docs)
        self._reopen()
        return res

    def delete(self, q: str | None = None,
               id: int | list[int] | None = None) -> None:
        """Solr delete-by-query / delete-by-id (tombstones; stats
        refreshed so idf/N stay exact)."""
        from .lifecycle import delete_by_ids, delete_by_query

        if (q is None) == (id is None):
            raise ValueError("pass exactly one of q= or id=")
        if q is not None:
            delete_by_query(self.spark, self.cat, q)
        else:
            ids = [id] if isinstance(id, int) else list(id)
            delete_by_ids(self.spark, self.cat, ids)
        self._reopen()

    def commit(self) -> None:
        """Parity no-op: every add/delete already commits an atomic
        snapshot (Solr needs an explicit commit to open a new searcher;
        our Searcher re-pins per lifecycle op via ``_reopen``)."""

    def rollback(self) -> dict:
        """Solr ``rollback`` analogue, strengthened: Solr discards
        UNcommitted buffered docs, while this engine auto-commits every
        op — so rollback reverts the last COMMITTED add / delete /
        atomic update / compact as one atomic multi-table pointer flip
        (the snapshot catalog makes committed history revertible, which
        Solr itself cannot do).  Repeated calls walk further back.
        Returns {'op_id', 'op', 'tables'}."""
        from .lifecycle import rollback_last_op

        res = rollback_last_op(self.spark, self.cat)
        self._reopen()
        return res

    def _reopen(self) -> None:
        """Lifecycle ops change the pinned snapshot — re-open the
        searcher (Solr's openSearcher analogue)."""
        self._searcher = Searcher(self.spark, self.cat,
                                  cache_size=self.cache_size)
