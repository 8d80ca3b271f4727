"""Capture .explain("formatted") for the engine's key plans and check the
physical properties the design depends on (pushdown, pruning, codegen,
broadcast). Writes PLANS.md. Usage: python tools/explain_plans.py"""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zsolr.build import BuildConfig, IndexBuilder, tokd_to_tf, corpus_to_tokd
from zsolr.catalog import ManifestParquetCatalog
from zsolr.corpus import synth_corpus
from zsolr.docids import assign_doc_ids
from zsolr.search import Searcher
from zsolr.session import get_spark
import pyspark.sql.functions as F


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import shutil

    spark = get_spark("plans", master="local[8]", shuffle_partitions=16)
    root = "/tmp/zsolr-plans-idx"
    shutil.rmtree(root, ignore_errors=True)  # always audit the CURRENT code
    cat = ManifestParquetCatalog(root)
    corpus = synth_corpus(spark, "/root/testdata/sf0.001")
    # small forced shard width → multi-shard index, so the block→shard
    # routing measurement below is non-trivial
    IndexBuilder(cat, BuildConfig(n_buckets=8, shard_width=64)).build(
        spark, "plans", corpus_df=corpus)
    s = Searcher(spark, cat)

    sections = []

    def add(title, df, checks=()):
        txt = explain_str(df)
        status = []
        for name, needle in checks:
            ok = needle in txt
            status.append(f"{'✅' if ok else '❌'} {name}: `{needle}`")
        sections.append((title, status, txt))

    # 1. posting lookup: bucket partition pruning + term pushdown
    from zsolr.build import term_bucket
    b = term_bucket("spark", 8)
    add("Posting lookup (Q3): bucket dir pruning + term predicate pushdown",
        s._postings.filter((F.col("bucket") == b) & (F.col("term") == "spark")),
        [("partition filter on bucket", "PartitionFilters: [isnotnull(bucket"),
         ("term pushed to parquet", "PushedFilters: [IsNotNull(term), EqualTo(term,spark)")])

    # 2. metadata filter on docs: predicate pushdown + column pruning
    add("Metadata filter (Q2): pushdown + column pruning",
        s.docs.filter(F.col("lang") == "en").select("doc_id", "repo"),
        [("lang pushed", "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)"),
         ("column pruning (no content columns)", "ReadSchema")])

    # 3. page fetch: a driver-side point read of the doc store's row
    # groups (footer min/max of doc_id), no Spark job
    sc = spark.sparkContext
    ids = [1, 5, 9]
    sc.setJobGroup("plans-fetch", "page fetch")
    try:
        meta = s._doc_meta(ids)
        n_fetch_jobs = len(
            sc.statusTracker().getJobIdsForGroup("plans-fetch"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    exp_meta = {r["doc_id"]: r for r in
                s.docs.filter(F.col("doc_id").isin(ids))
                .select("doc_id", "repo", "path", "commit").collect()}
    sections.append((
        "Result fetch (Q9): driver point read of doc_id-sorted row groups",
        [f"{'✅' if n_fetch_jobs == 0 else '❌'} _doc_meta({ids}) ran "
         f"{n_fetch_jobs} Spark jobs",
         f"{'✅' if meta == exp_meta else '❌'} same rows as a doc_id isin"
         " scan of the doc store"],
        "Job count from a job group around Searcher._doc_meta on the\n"
        "audit index.\n"))

    # 4. tf extraction: per-doc Arrow kernel, zero exchange (round 8 —
    # every (term, doc_id) group lives inside one document row, so the
    # old explode→groupBy plan shuffled O(tokens) rows for nothing)
    tokd = corpus_to_tokd(assign_doc_ids(corpus))
    tf_txt = explain_str(tokd_to_tf(tokd, 8))
    kernelized = ("MapInArrow" in tf_txt
                  and "hashpartitioning(term" not in tf_txt)
    sections.append((
        "TF extraction (I5): shuffle-free per-doc Arrow kernel",
        [f"{'✅' if kernelized else '❌'} per-doc kernel: MapInArrow "
         "present, no Exchange hashpartitioning(term, doc_id)",
         "ℹ️ codegen markers appear on finalized stages only (AQE); "
         "see `[codegen id :` in the scan plans above"],
        tf_txt))
    spark.catalog.clearCache()

    # 4b. block→shard routing replication (round-2 alignment fix): with
    # shard-aligned blocks every block routes to exactly ONE shard, so the
    # kernel wave's reader hands out as many block rows as there are
    # blocks (round 1 replicated sparse terms' blocks across every shard
    # their range overlapped)
    from zsolr.build import NORMS_TERM
    W = s.shard_width
    fetch_terms = ["spark", "hash", NORMS_TERM]
    buckets = sorted({term_bucket(t, s.n_buckets) for t in fetch_terms})
    n_blocks = s._postings.filter(
        F.col("bucket").isin(buckets)
        & F.col("term").isin(fetch_terms)).count()
    # the universe flag reads the content norms for every shard
    n_routed = sum(len(b) for b in s._shard_reader(
        ["spark", "hash"], ["spark", "hash"], True, False).read().values())
    repl = n_routed / max(1, n_blocks)
    sections.append((
        "Block→shard routing (query fast path): 1:1, no replication",
        [f"{'✅' if repl == 1.0 else '❌'} shuffled block rows == blocks "
         f"touched: {n_routed} routed / {n_blocks} blocks "
         f"(replication ×{repl:.3f}, shard_width={W}, "
         f"{-(-s.n_docs_total // W)} shards)"],
        "Measured by counting the kernel wave reader's per-shard block\n"
        "rows against the blocks of a 2-term query + norms sidecar on the\n"
        "multi-shard audit index.\n"))

    # 4c. suggester: StartsWith predicate pushed to the term_stats scan
    add("Suggest (terms component): StartsWith pushdown on term_stats",
        s.suggest("sp", 10),
        [("prefix pushed", "PushedFilters: [IsNotNull(term), "
                           "StringStartsWith(term,sp)")])

    # 5. broadcast join in bulk path
    cand = spark.createDataFrame([(1,)], "doc_id long")
    add("Bulk match join: broadcast hash join, no doc-store shuffle",
        s.docs.join(F.broadcast(cand), "doc_id"),
        [("broadcast hash join", "BroadcastHashJoin")])

    # 6. round-3: k=None bulk path is broadcast-GATED on the Σdf bound —
    # past the cap the analyzed plan carries no hint (AQE decides)
    hinted = s.search("spark", k=None, wand=False)
    hint_ok = "ResolvedHint" in \
        hinted._jdf.queryExecution().analyzed().toString()
    s._df_cache_backup = Searcher.BROADCAST_DOC_CAP
    Searcher.BROADCAST_DOC_CAP = 0
    s2 = Searcher(spark, cat)
    plain = s2.search("spark", k=None, wand=False)
    nohint_ok = "ResolvedHint" not in \
        plain._jdf.queryExecution().analyzed().toString()
    Searcher.BROADCAST_DOC_CAP = s._df_cache_backup
    sections.append((
        "Bulk k=None path (round-3): broadcast hint gated on df bound",
        [f"{'✅' if hint_ok else '❌'} small match set → hinted broadcast",
         f"{'✅' if nohint_ok else '❌'} past the cap → no hint "
         "(AQE shuffle-or-broadcast at runtime)"],
        "Checked on the analyzed plans of search(k=None) with the default\n"
        "cap vs BROADCAST_DOC_CAP=0.\n"))

    # 7. round-3: group_top1 is a two-phase aggregate, never a Window
    g = s.group_top1("spark", "lang")
    gplan = g._jdf.queryExecution().executedPlan().toString()
    sections.append((
        "Result grouping (Q19, round-3): partial-agg groupBy, no Window",
        [f"{'✅' if 'Window' not in gplan else '❌'} no Window operator",
         f"{'✅' if 'partial_min' in gplan else '❌'} map-side partial_min "
         "before the single exchange"],
        gplan[:4000] + "\n"))

    # 8. round-3: batch execution — whole query set in one kernel wave
    batch = s.search_batch(["spark", "hash AND join"], k=5)
    n_ok = len(batch) == 2 and all(df.count() > 0 for df in batch)
    sections.append((
        "Batch execution (round-3): one kernel wave for N queries",
        [f"{'✅' if n_ok else '❌'} 2 queries through one "
         "kernel wave + one driver-side doc fetch (1 Spark job)"],
        "search_batch unions the queries' term sets, decodes each term\n"
        "once per shard, and evaluates every AST against the shared\n"
        "decode; see BENCH batch_suite_s/batch_speedup.\n"))

    # 9. round-4: batch big-path cut is TWO-LEVEL — level 1 windows on
    # (qid, salt) so no task receives one query's full candidate set
    saved_cap = Searcher.COLLECT_CAP
    Searcher.COLLECT_CAP = 0
    try:
        s3 = Searcher(spark, cat)
        s3._cut_debug = True
        s3.search_batch(["spark", "hash AND join"], k=5)
        lvl1, per_q = getattr(s3, "_last_cut_stats", (None, None))
        strat_ok = s3._last_collect_strategy == "distributed_cut"
        bound_ok = (lvl1 is not None and per_q is not None
                    and lvl1 < per_q)
    finally:
        Searcher.COLLECT_CAP = saved_cap
    sections.append((
        "Batch big-path cut (round-4): two-level, no single-task funnel",
        [f"{'✅' if strat_ok else '❌'} forced COLLECT_CAP=0 takes the "
         "distributed cut",
         f"{'✅' if bound_ok else '❌'} max level-1 task rows {lvl1} < max "
         f"per-query candidates {per_q} (fan-in {Searcher.CUT_FANIN})"],
        "Counted via the engine's _cut_debug instrumentation on the audit\n"
        "index; per-shard count rows pre-aggregate executor-side.\n"))

    # 10. round-4: group_topn level-1 window partitions on (field, salt)
    gt = s.group_topn("spark", "lang", n=2)
    gtplan = gt._jdf.queryExecution().executedPlan().toString()
    salt_ok = "salt" in gtplan and "Window" in gtplan
    sections.append((
        "group.limit=n (round-4): salted two-level per-group cut",
        [f"{'✅' if salt_ok else '❌'} level-1 Window partitioned by "
         "(field, salt) — hot groups spread over CUT_FANIN tasks"],
        gtplan[:4000] + "\n"))

    # 11. round-6: typed ts date-range predicates reach the parquet scan
    add("Typed ts range (I20, round-6): timestamp min/max pushdown",
        s.search("ts:[2020-02-01T00:00:00Z TO 2020-06-01T00:00:00Z]",
                 k=None),
        [("lower bound pushed",
          "GreaterThanOrEqual(ts,2020-02-01 00:00:00"),
         ("upper bound pushed", "LessThanOrEqual(ts,2020-06-01 00:00:00")])

    # 12. round-6: facet.prefix on a match-all facet pushes StartsWith
    # into the doc-store scan (the agg input is pruned at the source)
    add("facet.prefix (Q36): StartsWith pushed through match-all facets",
        s.facet("[* TO *]", "path", prefix="dir1", limit=5),
        [("prefix pushed", "StringStartsWith(path,dir1)")])

    # 12b. numFound + 3 facet fields: ONE grouping-sets aggregate over
    # the persisted match set — one Expand, one partial + final
    # HashAggregate pair, no per-field aggregate (formatted explain
    # lists each node twice: tree line + detail header)
    fm = s._match_set("spark", ["lang", "repo", "path"]).persist()
    ftxt = explain_str(s._facet_frame(
        fm, [(f, 10, "count", 0) for f in ("lang", "repo", "path")],
        None, False, True))
    fm.unpersist()
    sections.append((
        "Facet request (3 fields + numFound): one grouping-sets aggregate",
        [f"{'✅' if ftxt.count('Expand') == 2 else '❌'} exactly one"
         " Expand",
         f"{'✅' if ftxt.count('HashAggregate') == 4 else '❌'} exactly"
         " one aggregate (partial + final HashAggregate)",
         f"{'✅' if 'InMemoryTableScan' in ftxt else '❌'} reads the"
         " persisted match set"], ftxt))

    # 13. round-6: search_boosted = ONE kernel wave (the exhaustive
    # _match_set) + doc join + TakeOrdered — per-doc recency
    # multipliers defeat static block-max bounds, so the plan must show
    # exactly one MapInArrow kernel wave and a bounded top-k cut, never a
    # global sort
    boost, now = "recip(ms(NOW,ts),1e-9,1,1)", "2021-06-01T00:00:00Z"
    bq = s.search_boosted("spark", k=5, boost=boost, now=now)
    # the method returns a driver-local page; audit the lazy plan it cut
    # from the engine's own match set and boost multiplier
    bfield, mult = s._boost_mult(boost, now)
    j = s._match_set("spark", ["repo", "path", "commit", bfield])
    lazy = j.select("doc_id", (F.col("score") * mult).alias("score")) \
        .orderBy(F.desc("score"), F.asc("doc_id")).limit(5)
    ltxt = explain_str(lazy)
    # formatted explain lists each node twice (tree line + detail header)
    one_kernel = ltxt.count("MapInArrow") == 2
    bounded = "TakeOrderedAndProject" in ltxt
    page_ok = bq.count() == 5
    sections.append((
        "Recency boost (Q38, round-6): one kernel wave + TakeOrdered cut",
        [f"{'✅' if one_kernel else '❌'} exactly one MapInArrow"
         " (exhaustive scoring, single wave)",
         f"{'✅' if bounded else '❌'} TakeOrderedAndProject (O(k)/partition"
         " cut, no global sort)",
         f"{'✅' if page_ok else '❌'} search_boosted returns the k-page"],
        ltxt[:4000] + "\n"))

    # 13b. field-sorted scored page: the kernel scores and cuts by score
    # only, so a sort override is the match set (fast-path kernel, no
    # doc-id exchange) cut by ONE TakeOrdered — audited on the engine's
    # own unbounded page (search k=None keeps the sort) cut to k rows
    fsort = s.search("spark", k=None, sort="doc_len desc").limit(5)
    ftxt = explain_str(fsort)
    f_kernel = ftxt.count("MapInArrow") == 2
    f_nocog = "Range (" in ftxt and " div " not in ftxt
    f_cut = ("TakeOrderedAndProject" in ftxt
             and "rangepartitioning" not in ftxt)
    sections.append((
        "Field-sorted scored page: one kernel wave + TakeOrdered cut",
        [f"{'✅' if f_kernel else '❌'} exactly one MapInArrow"
         " (the fast-path kernel)",
         f"{'✅' if f_nocog else '❌'} the wave runs over `Range`, no doc-id"
         " exchange (a sort override ships no doc-store side)",
         f"{'✅' if f_cut else '❌'} TakeOrderedAndProject on the sort keys"
         " (no global sort: no rangepartitioning Exchange)"],
        ftxt[:4000] + "\n"))

    # 14. round-7: grouped_page — the group page is a TakeOrdered over
    # rank-1 heads broadcast back onto the cut (O(rows·n) driver rows,
    # never one row per group); replicate the lazy shape the eager
    # method executes over its persisted match set
    cut7 = s._group_cut(s._match_set("spark", ["lang"]), "lang", 2)
    heads7 = (cut7.filter(F.col("rank") == 1)
              .orderBy(F.desc("score"), F.asc("doc_id")).limit(3)
              .select(F.col("group_val").alias("_gv")))
    page7 = cut7.join(F.broadcast(heads7),
                      F.col("group_val").eqNullSafe(F.col("_gv")))
    ptxt = explain_str(page7)
    head_cut_ok = "TakeOrderedAndProject" in ptxt
    bcast_ok = "BroadcastHashJoin" in ptxt or "BroadcastNestedLoop" in ptxt
    sections.append((
        "Grouped-page cut (Q41, round-7): TakeOrdered heads + broadcast"
        " member fetch",
        [f"{'✅' if head_cut_ok else '❌'} TakeOrderedAndProject over the"
         " rank-1 group heads (no global sort, O(rows) survivors)",
         f"{'✅' if bcast_ok else '❌'} surviving heads broadcast back"
         " (null-safe equi-join, never a shuffle of the cut)"],
        ptxt[:4000] + "\n"))

    # 15. round-7: calendar date-range facet — O(1) per-row bucket
    # assignment (element_at into literal boundary arrays), zero Python
    # in the plan, one hash aggregation
    cal = s.facet_range_date("[* TO *]", "ts", "2020-01-31T06:00:00Z",
                             "2020-07-01T00:00:00Z", "+1MONTH")
    ctxt = explain_str(cal)
    no_py = ("BatchEvalPython" not in ctxt
             and "ArrowEvalPython" not in ctxt
             and "MapInArrow" not in ctxt)
    one_agg = "HashAggregate" in ctxt
    sections.append((
        "Calendar date facet (round-7): codegen bucket assignment",
        [f"{'✅' if no_py else '❌'} no Python eval nodes — boundary"
         " lookup is element_at over literal arrays",
         f"{'✅' if one_agg else '❌'} single hash aggregation"],
        ctxt[:4000] + "\n"))

    # 16. round-7: json.facet nested terms — parent page broadcast onto
    # the pair frame, salted two-level sub cut (production persists the
    # pair frame so the scoring kernel runs once; audited lazily here)
    pairs7 = (s._match_set("spark", ["lang", "repo"])
              .filter(F.col("lang").isNotNull())
              .groupBy("lang", "repo")
              .agg(F.count(F.lit(1)).alias("cnt")))
    parents7 = (pairs7.groupBy("lang").agg(F.sum("cnt").alias("hits"))
                .orderBy(F.desc("hits"), F.asc("lang")).limit(2)
                .select(F.col("lang").alias("_pv"), "hits"))
    sub7 = (pairs7.filter(F.col("repo").isNotNull())
            .join(F.broadcast(parents7), F.col("lang") == F.col("_pv")))
    ntxt = explain_str(sub7)
    nb_ok = "BroadcastHashJoin" in ntxt
    sections.append((
        "json.facet nested terms (round-7): broadcast parent page",
        [f"{'✅' if nb_ok else '❌'} ≤limit parent buckets broadcast onto"
         " the pair frame (sub-bucket work only for survivors)"],
        ntxt[:4000] + "\n"))

    # 17. round-7: edismax per-field postings read — the kernel wave's
    # reader covers the namespaced path terms AND both norms sidecars
    # from the files of their buckets only (no extra read per field);
    # dictionary scans exclude the sentinel namespaces via the
    # `term >= '0'` range, which pushes to parquet as GreaterThanOrEqual
    import shutil as _sh
    droot = "/tmp/zsolr-plans-dm"
    _sh.rmtree(droot, ignore_errors=True)
    dcat = ManifestParquetCatalog(droot)
    IndexBuilder(dcat, BuildConfig(
        n_buckets=8, shard_width=64,
        scored_fields=("content", "path"))).build(
        spark, "plans-dm", corpus_df=corpus)
    ds = Searcher(spark, dcat)
    from zsolr.build import field_norms_term, scored_term
    dm_terms = ["spark", scored_term("path", "dir1")]
    dm_reader = ds._shard_reader(dm_terms, dm_terms, False, False)
    sidecars = {NORMS_TERM, field_norms_term("path")}
    d_keys = set(dm_reader.files_of) == set(dm_terms) | sidecars
    d_bucket = all(
        p.split("/")[-2] == f"bucket={term_bucket(t, ds.n_buckets)}"
        for t, ps in dm_reader.files_of.items() for p in ps)
    d_read = dm_reader.read()
    got_terms = set().union(*(set(b["term"]) for b in d_read.values()))
    sections.append((
        "edismax per-field read (round-7 Q44): one bucket-pruned read for"
        " both fields + both norms sidecars",
        [f"{'✅' if d_keys else '❌'} the wave's reader holds files for the"
         " content/path terms and their two sidecars only",
         f"{'✅' if d_bucket else '❌'} every file comes from its term's"
         " `bucket=N` dir",
         f"{'✅' if got_terms == set(dm_terms) | sidecars else '❌'} one"
         f" read returns both fields' blocks and both sidecars"
         f" ({sorted(got_terms)}, {len(d_read)} shards)"],
        "\n".join(f"{t!r}: {ps}" for t, ps in
                  sorted(dm_reader.files_of.items())) + "\n"))
    dict_txt = explain_str(
        ds._term_stats.filter(F.col("term").startswith("sp")
                              & ~F.col("term").contains("=")
                              & (F.col("term") >= "0")))
    ge_ok = "GreaterThanOrEqual(term,0)" in dict_txt
    sections.append((
        "Dictionary-scan namespace guard (round-7): sentinel exclusion"
        " pushes down",
        [f"{'✅' if ge_ok else '❌'} `term >= '0'` (drops \\x00 sidecars"
         " + \\x01 field terms) reaches the parquet scan as"
         " GreaterThanOrEqual"],
        dict_txt[:2500] + "\n"))

    # 18. the kernel wave is ONE mapInArrow stage of min(n_shards,
    # shuffle partitions) tasks that read their own posting blocks: a
    # fast ranked wave is Range → MapInArrow (no exchange, no file scan);
    # a range-filtered (cogroup) wave's only exchange moves the filtered
    # doc ids by shard — SinglePartition on the default-width (one-shard)
    # sf0.001 index, hashpartitioning(doc_id DIV W) on the audit index
    from zsolr.search import Plan, plan_query
    oroot = "/tmp/zsolr-plans-one"
    _sh.rmtree(oroot, ignore_errors=True)
    ocat = ManifestParquetCatalog(oroot)
    IndexBuilder(ocat, BuildConfig(n_buckets=8)).build(
        spark, "plans-one", corpus_df=corpus)
    one = Searcher(spark, ocat)
    rplan = plan_query("commit:[a TO f] AND spark")

    def wave_plan(srch, q, **kw):
        with srch._no_aqe():
            return (srch._candidates([srch._plan_spec(plan_query(q))], 10,
                                     **kw)
                    ._jdf.queryExecution().executedPlan().toString())

    def range_plan(srch):
        return wave_plan(srch, "commit:[a TO f] AND spark",
                         docs_f=srch._match_set(
                             Plan(None, [], rplan.filters, True), []))

    def fast_ok(txt, n_tasks):
        lines = [ln.lstrip(" +-*()0123456789") for ln in txt.splitlines()]
        return (lines[0].startswith("MapInArrow")
                and lines[1].startswith(f"Range (0, {n_tasks}, step=1,"
                                        f" splits={n_tasks}")
                and "Exchange" not in txt and "FileScan" not in txt)

    ftxt = wave_plan(one, "hash AND join", wand=True)
    mtxt = wave_plan(s, "hash AND join", wand=True)
    rtxt, rmtxt = range_plan(one), range_plan(s)
    n_one = -(-one.n_docs_total // one.shard_width)
    n_multi = -(-s.n_docs_total // s.shard_width)
    t_multi = min(n_multi, 16)
    single = "Exchange SinglePartition, REPARTITION_BY_NUM"
    r_ok = (rtxt.count("Exchange ") == rtxt.count(single) == 1
            and rtxt.count("MapInArrow") == 1)
    m_hash = (f"Exchange hashpartitioning((doc_id#")
    rm_ok = (rmtxt.count("Exchange ") == rmtxt.count(m_hash) == 1
             and f" div {s.shard_width}), {t_multi}), REPARTITION_BY_NUM"
             in rmtxt and rmtxt.count("MapInArrow") == 1)
    sections.append((
        "Kernel wave (Q4-Q8): one MapInArrow stage reading its own blocks",
        [f"{'✅' if n_one == 1 else '❌'} default-width sf0.001 index has"
         f" {n_one} shard(s)",
         f"{'✅' if fast_ok(ftxt, 1) else '❌'} fast ranked wave:"
         " `Range → MapInArrow`, 1 task, no Exchange, no FileScan",
         f"{'✅' if fast_ok(mtxt, t_multi) else '❌'} {n_multi}-shard audit"
         f" index: `Range → MapInArrow` over {t_multi} tasks (shuffle"
         " partitions 16), no Exchange, no FileScan",
         f"{'✅' if r_ok else '❌'} fq range wave: exactly one Exchange,"
         f" `{single}`, of the filtered doc ids",
         f"{'✅' if rm_ok else '❌'} fq range wave on the audit index:"
         f" exactly one Exchange, `hashpartitioning(doc_id DIV"
         f" {s.shard_width}, {t_multi})`"],
        ftxt[:3000] + "\n\n" + mtxt[:3000] + "\n\n" + rtxt[:4000]
        + "\n\n" + rmtxt[:4000] + "\n"))

    # 19. query-term df: a driver point read of term_stats' row groups
    # by bucket (footer min/max), no Spark job — on a fresh Searcher, so
    # no term's df is cached yet
    from zsolr.search import idf
    fresh = Searcher(spark, cat)
    df_terms = ["spark", "hash", "join", "lang=en", "zqxjvabsent"]
    sc.setJobGroup("plans-df", "df lookup")
    try:
        got_idf = fresh._idf_map(df_terms)
        n_df_jobs = len(sc.statusTracker().getJobIdsForGroup("plans-df"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    exp_df = {r["term"]: r["df"] for r in fresh._term_stats
              .filter(F.col("term").isin(df_terms)).select("term", "df")
              .collect()}
    exp_idf = {t: idf(fresh.n_docs_total, exp_df.get(t, 0))
               for t in df_terms}
    sections.append((
        "Query-term df (Q3): driver point read of bucket-sorted row groups",
        [f"{'✅' if n_df_jobs == 0 else '❌'} _idf_map({df_terms}) on a"
         f" fresh Searcher ran {n_df_jobs} Spark jobs",
         f"{'✅' if got_idf == exp_idf else '❌'} same idf as a term isin"
         " scan of term_stats (absent term df 0)"],
        "Job count from a job group around Searcher._idf_map on the\n"
        "audit index.\n"))

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("# Physical plans — pushdown/pruning/codegen audit\n\n"
                "Generated by tools/explain_plans.py; the ✅ checks are the\n"
                "plan properties the scale design depends on.\n\n")
        for title, status, txt in sections:
            f.write(f"## {title}\n\n")
            for line in status:
                f.write(f"- {line}\n")
            f.write(f"\n```\n{txt}\n```\n\n")
    bad = sum(1 for _t, st, _x in sections for l in st if l.startswith("❌"))
    print(f"{'ALL CHECKS PASS' if not bad else f'{bad} CHECKS FAILED'} → PLANS.md")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
