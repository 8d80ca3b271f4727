"""zeit.solr update/query/delete expectations recast as index assertions
(BASELINE.json north_star: "reproducing zeit.solr's update/query/delete test
expectations") + checkpoint/resume (I12)."""

import pytest
from pyspark.sql import functions as F

from zsolr.build import BuildConfig, IndexBuilder
from zsolr.catalog import ManifestParquetCatalog
from zsolr.lifecycle import (compact, delete_by_ids, delete_by_query,
                             incremental_update)
from zsolr.parse import parse
from zsolr.search import Searcher

from tests.oracle import OracleIndex


def _build(tmp_path, spark, corpus_df, **cfg_kw):
    cat = ManifestParquetCatalog(str(tmp_path))
    cfg = BuildConfig(n_buckets=8, **cfg_kw)
    res = IndexBuilder(cat, cfg).build(spark, "mem://corpus", corpus_df=corpus_df)
    return cat, res


def _oracle_from(spark, cat, corpus_df):
    docs = cat.read(spark, "docs").select("doc_id", "repo", "path", "lang")
    if cat.exists("tombstones"):
        tomb = cat.read(spark, "tombstones").select("doc_id").distinct()
        docs = docs.join(tomb, "doc_id", "left_anti")
    j = corpus_df.join(docs, ["repo", "path"]).select(
        "doc_id", "content", docs["lang"].alias("lang"), "repo", "path")
    return OracleIndex([r.asDict() for r in j.collect()])


def test_delete_update_lifecycle(tmp_path, spark, corpus_df):
    small = corpus_df.limit(120).cache()
    cat, _res = _build(tmp_path / "idx", spark, small)
    s = Searcher(spark, cat)

    # -- delete by id: doc absent, numFound decremented (zeit.solr delete) --
    top = s.search("spark", k=1).collect()[0]
    _df, n_before = s.search("spark", k=5, with_count=True)
    delete_by_ids(spark, cat, [top["doc_id"]])
    s2 = Searcher(spark, cat)
    df2, n_after = s2.search("spark", k=5, with_count=True)
    assert n_after == n_before - 1
    assert top["doc_id"] not in [r["doc_id"] for r in df2.collect()]

    # -- delete by query --
    _df, n_dup = s2.search("dup", k=5, with_count=True)
    if n_dup:
        delete_by_query(spark, cat, "dup")
        s3 = Searcher(spark, cat)
        _df, n = s3.search("dup", k=5, with_count=True)
        assert n == 0

    # -- post-delete searches rank-identical to oracle over live corpus --
    s4 = Searcher(spark, cat)
    oracle = _oracle_from(spark, cat, small)
    for q in ("spark", "hash AND join", "stream OR batch"):
        got = [(r["doc_id"], r["score"]) for r in s4.search(q, k=10).collect()]
        exp = oracle.search(parse(q), k=10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for g, e in zip(got, exp):
            assert abs(g[1] - e[1]) < 1e-9

    # -- compact: same results, no tombstones, postings shrink --
    pre = [(r["doc_id"], round(r["score"], 9))
           for r in s4.search("spark", k=10).collect()]
    compact(spark, cat)
    s5 = Searcher(spark, cat)
    post = [(r["doc_id"], round(r["score"], 9))
            for r in s5.search("spark", k=10).collect()]
    assert pre == post
    assert s5._n_deleted == 0


def test_incremental_update(tmp_path, spark, corpus_df):
    small = corpus_df.limit(100).cache()
    cat, _res = _build(tmp_path / "idx", spark, small)

    # new snapshot: 90 unchanged, 5 changed, 5 removed, 5 added
    rows = small.collect()
    new_rows = []
    for i, r in enumerate(rows):
        d = r.asDict()
        if i < 5:
            continue  # removed
        if i < 10:
            d["content"] = d["content"] + " zzznewterm zzznewterm"
            d["commit"] = "c" * 40
        new_rows.append(d)
    for i in range(5):
        new_rows.append({
            "repo": "srcNEW", "path": f"newdir/file_n{i}.py",
            "commit": "d" * 40, "lang": "en",
            "content": f"spark zzznewterm added doc number {i} stream",
        })
    new_corpus = spark.createDataFrame(
        new_rows, "repo string, path string, commit string, lang string,"
                  " content string")

    stats = incremental_update(spark, cat, new_corpus)
    assert stats["removed"] == 5 and stats["changed"] == 5 and stats["added"] == 10

    # engine must now be exactly consistent with a fresh index over the
    # new snapshot: rank-identical + equal scores via the oracle (built
    # with the ENGINE's doc_ids so equal-score tie-breaks agree)
    s = Searcher(spark, cat)
    oracle = _oracle_from(spark, cat, new_corpus)
    assert oracle.n == 100  # 90 kept + 5 changed + 5 added
    for q in ("spark", "zzznewterm", "stream OR batch", "query AND NOT slow"):
        got = [(r["doc_id"], r["score"]) for r in s.search(q, k=10).collect()]
        exp = oracle.search(parse(q), k=10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for g, e in zip(got, exp):
            assert abs(g[1] - e[1]) < 1e-9, (q, g, e)

    # removed docs are gone
    _df, n = s.search("repo:srcNEW", k=20, with_count=True)
    assert n == 5
    gone = rows[0]
    _df, n = s.search(f'repo:{gone["repo"]} AND path:"{gone["path"]}"',
                      k=5, with_count=True)
    assert n == 0


def test_checkpoint_resume(tmp_path, spark, corpus_df):
    small = corpus_df.limit(150).cache()
    # clean reference build
    cat_ref, _ = _build(tmp_path / "ref", spark, small, resume_groups=4)

    # killed build: dies after posting group 1 commits
    cat_k = ManifestParquetCatalog(str(tmp_path / "killed"))
    cfg = BuildConfig(n_buckets=8, resume_groups=4, fail_after_group=1)
    with pytest.raises(RuntimeError, match="simulated kill"):
        IndexBuilder(cat_k, cfg).build(spark, "mem://corpus", corpus_df=small)

    # resume with same fingerprint: completed stages skipped
    cfg2 = BuildConfig(n_buckets=8, resume_groups=4)
    res = IndexBuilder(cat_k, cfg2).build(spark, "mem://corpus", corpus_df=small)
    assert ("docs_tfs", 0) in res.resumed_stages
    assert ("postings", 0) in res.resumed_stages
    assert ("postings", 1) in res.resumed_stages

    # resumed index content-identical to the clean build
    for table in ("docs", "term_stats"):
        a = {tuple(r) for r in cat_ref.read(spark, table).collect()}
        b = {tuple(r) for r in cat_k.read(spark, table).collect()}
        assert a == b, table
    from zsolr import codec

    def decode_all(cat):
        out = {}
        for r in cat.read(spark, "postings").collect():
            ids, tfs = codec.decode_block(r["first_doc"], r["doc_gaps"], r["tfs"])
            out.setdefault(r["term"], []).append(
                (r["first_doc"], tuple(ids), tuple(tfs)))
        return {t: sorted(v) for t, v in out.items()}

    assert decode_all(cat_ref) == decode_all(cat_k)


def test_lifecycle_fuzz_sequence(tmp_path, spark, corpus_df):
    """Randomized (seeded) lifecycle sequence — update → delete-by-query →
    update → compact — mirrored on a pure-Python corpus dict; after every
    step the engine must stay rank+score-identical to the oracle over the
    live corpus."""
    import os
    import re

    import numpy as np

    rng = np.random.default_rng(
        int(os.environ.get("ZSOLR_LIFECYCLE_FUZZ_SEED", "5")))
    schema = ("repo string, path string, commit string, lang string,"
              " content string")
    rows = [r.asDict() for r in corpus_df.limit(80).collect()]
    live = {(d["repo"], d["path"]): dict(d) for d in rows}
    cat, _ = _build(tmp_path / "idx", spark,
                    spark.createDataFrame(list(live.values()), schema))

    def check(step):
        s = Searcher(spark, cat)
        oracle = _oracle_from(
            spark, cat, spark.createDataFrame(list(live.values()), schema))
        assert oracle.n == len(live), step
        for q in ("spark", "hash AND join", "stream OR batch",
                  '"sort merge"', "lang:en AND spark"):
            got = [(r["doc_id"], r["score"])
                   for r in s.search(q, k=10).collect()]
            exp = oracle.search(parse(q), k=10)
            assert [g[0] for g in got] == [e[0] for e in exp], (step, q)
            for g, e in zip(got, exp):
                assert abs(g[1] - e[1]) < 1e-9, (step, q, g, e)

    def snapshot_update(step):
        keys = sorted(live)
        for k in [keys[i] for i in
                  rng.choice(len(keys), size=6, replace=False)]:
            live[k]["content"] += f" mutated{step} zzz{step}"
            live[k]["commit"] = f"{step}" * 20
        for k in [keys[i] for i in
                  rng.choice(len(keys), size=3, replace=False)]:
            live.pop(k, None)
        for i in range(3):
            d = {"repo": f"srcF{step}", "path": f"fz/f{step}_{i}.py",
                 "commit": "e" * 40, "lang": "en",
                 "content": f"spark fuzz{step} stream batch number {i}"}
            live[(d["repo"], d["path"])] = d
        incremental_update(
            spark, cat, spark.createDataFrame(list(live.values()), schema))

    snapshot_update(1)
    check("update1")

    victim = "batch"
    delete_by_query(spark, cat, victim)
    live = {k: d for k, d in live.items()
            if victim not in re.findall(r"[a-z0-9]+", d["content"].lower())}
    check("delete_q")

    snapshot_update(2)
    check("update2")

    compact(spark, cat)
    check("compact")


def test_compact_layout_merges_dirs(tmp_path, spark, corpus_df):
    """Layout-only compaction: after several incremental appends the
    postings table spans many data dirs; compact_layout folds them into
    one bucket-partitioned dir with identical search results."""
    from zsolr.lifecycle import compact_layout

    schema = ("repo string, path string, commit string, lang string,"
              " content string")
    rows = [r.asDict() for r in corpus_df.limit(60).collect()]
    cat, _ = _build(tmp_path / "idx", spark,
                    spark.createDataFrame(rows, schema))
    for step in range(3):
        rows.append({"repo": f"srcL{step}", "path": f"l/f{step}.py",
                     "commit": "a" * 40, "lang": "en",
                     "content": f"layout spark doc {step}"})
        incremental_update(spark, cat,
                           spark.createDataFrame(rows, schema))
    assert len(cat.current_snapshot("postings")["data_dirs"]) >= 4
    s = Searcher(spark, cat)
    pre = {q: [(r["doc_id"], round(r["score"], 9))
               for r in s.search(q, k=10).collect()]
           for q in ("spark", "layout", "hash AND join")}
    compact_layout(spark, cat)
    assert len(cat.current_snapshot("postings")["data_dirs"]) == 1
    s2 = Searcher(spark, cat)
    post = {q: [(r["doc_id"], round(r["score"], 9))
                for r in s2.search(q, k=10).collect()]
            for q in pre}
    assert pre == post


def test_rejected_delta_commits_nothing(tmp_path, spark, corpus_df):
    """An incremental_add delta carrying an unknown doc-store column is
    refused BEFORE any table append commits — a rejected delta must not
    orphan tfs rows that a later compact would resurrect (round-6
    review)."""
    from pyspark.sql import functions as F

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.lifecycle import _append_partial_index

    cat = ManifestParquetCatalog(str(tmp_path / "idx"))
    builder = IndexBuilder(cat, BuildConfig(n_buckets=4))
    # legacy index: built from a corpus WITHOUT the typed ts column
    builder.build(spark, "m", corpus_df=corpus_df.limit(40).drop("ts"))
    before = {t: len(cat.current_snapshot(t)["data_dirs"])
              for t in ("tfs", "docs", "postings")}
    n_tfs = cat.read(spark, "tfs").count()

    # a ts-bearing delta would EXPAND the committed doc-store schema —
    # refused; corpus_to_tokd whitelists meta columns, so ts is the one
    # schema-expanding column reachable through the append
    with pytest.raises(ValueError, match="ts"):
        _append_partial_index(spark, cat, builder, corpus_df.limit(5),
                              1000)
    after = {t: len(cat.current_snapshot(t)["data_dirs"])
             for t in ("tfs", "docs", "postings")}
    assert after == before
    assert cat.read(spark, "tfs").count() == n_tfs


def test_delta_crash_windows_atomic(tmp_path, spark, corpus_df,
                                    monkeypatch):
    """The multi-table delta append is ATOMIC (round-6 verdict #2): kill
    it (a) before the transaction-intent file → zero tables advance and
    compact resurrects nothing; (b) between per-table pointer flips →
    the next catalog access rolls the transaction FORWARD and all three
    tables publish together.  Either way no ghost docs exist after
    crash + compact."""
    import os

    from zsolr.lifecycle import _append_partial_index

    cat = ManifestParquetCatalog(str(tmp_path / "idx"))
    builder = IndexBuilder(cat, BuildConfig(n_buckets=4))
    builder.build(spark, "m", corpus_df=corpus_df.limit(40))
    delta = spark.createDataFrame(
        [{"repo": "srcNEW", "path": f"d/f{i}.py", "commit": "e" * 40,
          "lang": "en", "content": f"zzzghost delta doc {i} spark"}
         for i in range(5)],
        "repo string, path string, commit string, lang string,"
        " content string")
    before = {t: len(cat.current_snapshot(t)["data_dirs"])
              for t in ("tfs", "docs", "postings")}
    base_hits = Searcher(spark, cat).search(
        "spark", k=1, with_count=True)[1]

    # (a) crash BEFORE the commit point: the 3rd snapshot write dies —
    # no intent file, no pointer moves, staging left as orphans
    calls = {"n": 0}
    orig_ws = ManifestParquetCatalog._write_snapshot

    def boom_ws(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("crash before commit point")
        return orig_ws(self, *a, **kw)

    monkeypatch.setattr(ManifestParquetCatalog, "_write_snapshot", boom_ws)
    with pytest.raises(RuntimeError, match="before commit"):
        _append_partial_index(spark, cat, builder, delta, 40)
    monkeypatch.setattr(ManifestParquetCatalog, "_write_snapshot", orig_ws)
    after = {t: len(cat.current_snapshot(t)["data_dirs"])
             for t in ("tfs", "docs", "postings")}
    assert after == before
    s = Searcher(spark, cat)
    assert s.search("zzzghost", k=5, with_count=True)[1] == 0
    compact(spark, cat)
    s = Searcher(spark, cat)
    assert s.search("zzzghost", k=5, with_count=True)[1] == 0  # no ghosts
    assert s.search("spark", k=1, with_count=True)[1] == base_hits

    # (b) crash BETWEEN pointer flips (after the intent): recovery on
    # the next access publishes ALL THREE tables together
    flips = {"n": 0}
    orig_fp = ManifestParquetCatalog._flip_pointer

    def boom_fp(self, table, snap_id):
        flips["n"] += 1
        if flips["n"] == 2:
            raise RuntimeError("crash between pointer flips")
        return orig_fp(self, table, snap_id)

    monkeypatch.setattr(ManifestParquetCatalog, "_flip_pointer", boom_fp)
    with pytest.raises(RuntimeError, match="between pointer"):
        _append_partial_index(spark, cat, builder, delta, 40)
    monkeypatch.setattr(ManifestParquetCatalog, "_flip_pointer", orig_fp)
    assert os.listdir(cat._txn_dir())          # intent survived the crash
    s = Searcher(spark, cat)                   # any access rolls forward
    assert s.search("zzzghost", k=10, with_count=True)[1] == 5
    assert not os.listdir(cat._txn_dir())      # transaction resolved
    for t in ("tfs", "docs", "postings"):
        assert len(cat.current_snapshot(t)["data_dirs"]) == before[t] + 1
    compact(spark, cat)
    s = Searcher(spark, cat)
    assert s.search("zzzghost", k=10, with_count=True)[1] == 5
    assert s.search("spark", k=1, with_count=True)[1] >= base_hits
    assert cat.read(spark, "docs").count() == 45
    ids = cat.read(spark, "docs").select("doc_id").collect()
    assert len({r["doc_id"] for r in ids}) == 45  # no duplicate docs


def test_docs_files_doc_id_sorted(tmp_path, spark, corpus_df):
    """Every doc-store file is written doc_id-sorted — by the build, an
    add's delta and a compact — so its row groups carry tight doc_id
    ranges for the page fetch's point read."""
    import pyarrow.parquet as pq

    from zsolr.lifecycle import incremental_add

    cat, _res = _build(tmp_path / "idx", spark, corpus_df)

    def check(stage):
        files = cat.data_files(cat.snapshot("docs"))
        assert files, stage
        for path in files:
            ids = pq.read_table(path, columns=["doc_id"])["doc_id"]
            ids = ids.to_numpy()
            assert (ids[1:] >= ids[:-1]).all(), (stage, path)

    check("build")
    delta = spark.createDataFrame(
        [(f"srcS{i % 3}", f"s/f{i}.py", "f" * 40, "en", f"sorted spark {i}")
         for i in range(40)],
        "repo string, path string, commit string, lang string,"
        " content string")
    incremental_add(spark, cat, delta.repartition(4))
    check("add")
    delete_by_ids(spark, cat, [0, 1, 2])
    compact(spark, cat)
    check("compact")

