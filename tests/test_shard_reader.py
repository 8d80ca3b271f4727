"""The kernel wave's posting-block reader (``ShardBlockReader``) and the
one ``mapInArrow`` wave built on it: Spark-free reads of a hand-made
postings file, then a many-shard index (more shards than tasks, a base
postings dir plus an added delta dir, tombstones) against the pure-Python
BM25 oracle, the wave's physical plans, snapshot pinning, and the
build's job-free manifest read."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from zsolr.build import NORMS_TERM, BuildConfig, IndexBuilder
from zsolr.catalog import ManifestParquetCatalog
from zsolr.parse import parse
from zsolr.search import Plan, Searcher, ShardBlockReader, plan_query

from tests.oracle import OracleIndex
from tests.test_search_oracle import _group_jobs

W = 10
# (term, first_doc, last_doc): shards 0..5 of width 10; a25 spans 2-3
BLOCKS = ([(NORMS_TERM, 10 * s, 10 * s + 9) for s in range(6)]
          + [("a", 0, 4), ("a", 12, 18), ("a", 25, 38), ("a", 51, 55),
             ("b", 5, 9), ("b", 41, 47), ("c", 30, 33)])


@pytest.fixture()
def postings_file(tmp_path):
    """One postings file, sorted by (term, first_doc) like the build's,
    in row groups of 3 blocks: [n0 n1 n2] [n3 n4 n5] [a0 a12 a25]
    [a51 b5 b41] [c30]."""
    rows = sorted(BLOCKS)
    path = str(tmp_path / "part-0.parquet")
    pq.write_table(pa.table({
        "term": [r[0] for r in rows],
        "first_doc": pa.array([r[1] for r in rows], pa.int64()),
        "last_doc": pa.array([r[2] for r in rows], pa.int64()),
        "n_docs": pa.array([r[2] - r[1] + 1 for r in rows], pa.int32()),
        "doc_gaps": [b"g"] * len(rows),
        "tfs": [b"t"] * len(rows),
        "positions": [b"p"] * len(rows),
        "block_max_tf": pa.array([1] * len(rows), pa.int32()),
    }), path, row_group_size=3)
    return path


def _reader(path, terms, norm_terms=(), universe=False):
    return ShardBlockReader({t: [path] for t in {*terms, NORMS_TERM}}, W,
                            tuple(terms), tuple(norm_terms), universe, False)


def _got(blocks: dict) -> dict:
    return {s: sorted(zip(df["term"], df["first_doc"]))
            for s, df in blocks.items()}


def _expected(terms, shards) -> dict:
    out: dict = {}
    for t, fd, ld in BLOCKS:
        for s in range(fd // W, ld // W + 1):
            if t in terms and s in shards:
                out.setdefault(s, []).append((t, fd))
    return {s: sorted(v) for s, v in out.items()}


@pytest.mark.parametrize("lo,hi,ids", [
    (0, None, None), (2, 4, None), (3, 4, None), (1, 2, None), (5, None, None),
    (0, 1, None), (0, 0, [0, 3, 5]), (0, 0, [2]), (0, 0, [1, 4])])
def test_shard_read_returns_exactly_the_overlapping_blocks(
        postings_file, lo, hi, ids):
    """A shard-range (or shard-id) read routes every block to each wanted
    shard its [first_doc, last_doc] overlaps — a spanning block reaches
    both its shards — and to no other."""
    r = _reader(postings_file, ("a", "b"))
    if ids is None:
        got = r.read(lo, hi)
        want = set(range(lo, 6 if hi is None else hi))
    else:
        got = r.read(ids=np.array(ids))
        want = set(ids)
    assert _got(got) == _expected({"a", "b"}, want)


def test_shard_read_prunes_row_groups_by_footer_stats(postings_file,
                                                      monkeypatch):
    """Only row groups whose footer term range and first_doc/last_doc
    shard span overlap the read are fetched: no norms groups for a
    terms-only read, nothing at all when no block can match."""
    seen = []
    orig = pq.ParquetFile.read_row_groups

    def spy(self, groups, *a, **kw):
        seen.append(list(groups))
        return orig(self, groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    _reader(postings_file, ("a",)).read(0, 1)
    assert seen == [[2, 3]]           # a0's group, and [a51 b5 b41] spans 0
    seen.clear()
    assert _reader(postings_file, ("c",)).read(5, None) == {}
    assert seen == []                 # c30 is shard 3: no group read
    seen.clear()
    _reader(postings_file, ("a",), ("a",)).read(4, 5)
    assert seen == [[3]]              # no a block in shard 4 → no norms read


def test_norms_read_only_for_touched_shards(postings_file):
    """The norms sidecar is read for the shards holding a block of a
    norm term only; with the universe flag for every shard read; with
    nothing scored, not at all."""
    def norm_shards(blocks):
        return sorted(s for s, df in blocks.items()
                      if (df["term"] == NORMS_TERM).any())

    got = _reader(postings_file, ("a", "b"), ("a",)).read()
    assert norm_shards(got) == [0, 1, 2, 3, 5]
    assert _got(got)[4] == [("b", 41)]
    got = _reader(postings_file, ("a", "b"), ("b",)).read()
    assert norm_shards(got) == [0, 4]
    got = _reader(postings_file, ("c",), ("c",), universe=True).read(1, 5)
    assert norm_shards(got) == [1, 2, 3, 4]
    assert norm_shards(_reader(postings_file, ("a", "b")).read()) == []
    # each touched shard gets exactly its own norms block
    got = _reader(postings_file, ("a",), ("a",)).read(ids=np.array([3]))
    assert _got(got) == {3: [(NORMS_TERM, 30), ("a", 25)]}


# -- a many-shard index through the engine ------------------------------------

VOCAB = ["spark", "hash", "join", "stream", "batch", "query", "slow",
         "sort", "merge", "window", "the", "rare"]
SCHEMA = "repo string, path string, commit string, lang string, content string"


def _body(rng, i):
    words = list(rng.choice(VOCAB[:-1], size=int(rng.integers(3, 12))))
    if i % 37 == 0:
        words.append("rare")
    return " ".join(words)


@pytest.fixture(scope="module")
def many(spark, tmp_path_factory):
    """140 docs built at shard width 16 (9 shards for 8 tasks), then an
    add of 8 docs (one an upsert, whose old version is tombstoned) in a
    delta postings dir, then 3 deletes → (catalog, oracle)."""
    from zsolr.connection import SolrConnection
    from zsolr.lifecycle import delete_by_ids

    rng = np.random.default_rng(5)
    rows = {("r%d" % (i % 4), f"p{i:04d}"): {
        "repo": "r%d" % (i % 4), "path": f"p{i:04d}",
        "commit": "%040x" % int(rng.integers(0, 2 ** 62)),
        "lang": ("en", "de", "fr")[i % 3], "content": _body(rng, i)}
        for i in range(140)}
    cat = ManifestParquetCatalog(str(tmp_path_factory.mktemp("many")))
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=16)).build(
        spark, "many", corpus_df=spark.createDataFrame(
            [tuple(r.values()) for r in rows.values()], SCHEMA))
    added = [{"repo": "r9", "path": f"n{i}", "commit": "b" * 40,
              "lang": "en", "content": _body(rng, i) + " spark stream"}
             for i in range(7)]
    added.append({**rows[("r1", "p0005")], "content": "spark spark rare"})
    SolrConnection(spark, cat).add(added)
    for d in added:
        rows[(d["repo"], d["path"])] = d
    delete_by_ids(spark, cat, [3, 40, 77])
    docs = cat.read(spark, "docs").join(
        cat.read(spark, "tombstones").select("doc_id"), "doc_id",
        "left_anti").select("doc_id", "repo", "path").collect()
    oracle = OracleIndex([{**rows[(r["repo"], r["path"])],
                           "doc_id": r["doc_id"]} for r in docs])
    assert len(cat.current_snapshot("postings")["data_dirs"]) >= 2
    return cat, oracle


QUERIES = ["spark", "hash AND join", "stream OR batch", "query AND NOT slow",
           "lang:en AND spark", '"sort merge"', "rare", "the^2 OR window",
           "spark AND NOT lang:de"]


@pytest.fixture(scope="module", params=[None, 5], ids=["aligned", "w5"])
def many_searcher(request, spark, many):
    """The adopted build width (blocks aligned 1:1 to shards), and a
    width-5 override: 30 shards, blocks spanning several of them."""
    s = Searcher(spark, many[0], shard_width=request.param)
    n_shards = -(-s.n_docs_total // s.shard_width)
    assert n_shards > int(spark.conf.get("spark.sql.shuffle.partitions"))
    return s


def _pairs(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _same(got, exp, q):
    assert [g[0] for g in got] == [e[0] for e in exp], q
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 1e-9, (q, g, e)


def test_many_shards_ranked_and_batch_equal_oracle(many, many_searcher):
    _cat, oracle = many
    s = many_searcher
    batch = s.search_batch(QUERIES, k=10, with_count=True)
    for q, (bdf, bn) in zip(QUERIES, batch):
        exp = oracle.search(parse(q), k=10)
        df, n = s.search(q, k=10, with_count=True)
        _same(_pairs(df), exp, q)
        _same(_pairs(bdf), exp, q)
        assert n == bn == oracle.num_found(parse(q)), q
        assert _pairs(s.search(q, k=10)) == _pairs(
            s.search(q, k=10, wand=False)), q          # WAND == exhaustive


def test_many_shards_cursor_and_range_pages_equal_oracle(many,
                                                         many_searcher):
    _cat, oracle = many
    s = many_searcher
    walked, after = [], None
    for _ in range(4):
        page, after = s.search_after("spark OR stream", k=5, after=after,
                                     as_rows=True)
        walked += [(r["doc_id"], r["score"]) for r in page]
    _same(walked, oracle.search(parse("spark OR stream"), k=20), "cursor")
    for q in ("commit:[0 TO 8] AND spark", "commit:[4 TO c] AND NOT slow",
              "commit:[0 TO 9] AND (hash OR rare)"):
        df, n = s.search(q, k=10, with_count=True)
        assert not s._plan_spec(plan_query(q)).fast, q
        _same(_pairs(df), oracle.search(parse(q), k=10), q)
        assert n == oracle.num_found(parse(q)), q


def test_many_shards_facets_equal_oracle(many, many_searcher):
    """Facet counts over _match_set's kernel wave, on the fast path and
    the cogroup (range) path."""
    _cat, oracle = many
    for q in ("spark", "hash OR rare", "commit:[0 TO 8] AND stream"):
        got = dict(many_searcher.facet(q, "lang").collect())
        exp: dict = {}
        for d in oracle._eval(parse(q)):
            lang = oracle.meta[d]["lang"]
            exp[lang] = exp.get(lang, 0) + 1
        assert got == exp, q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_wave_plans(built_index, spark):
    """A fast ranked wave is Range → MapInArrow: no Exchange, no file
    scan.  A range-filtered (cogroup) wave has exactly one Exchange,
    which hash-partitions the filtered doc ids by shard (a width giving
    several shards: one task would plan it as SinglePartition)."""
    s = Searcher(spark, built_index[0], shard_width=64)
    assert -(-s.n_docs_total // 64) > 1
    with s._no_aqe():
        fast = _plan(s._candidates([s._plan_spec(plan_query(
            "hash AND join"))], 10, wand=True))
        rplan = plan_query("commit:[a TO f] AND spark")
        rng = _plan(s._candidates(
            [s._plan_spec(rplan)], 10,
            docs_f=s._match_set(Plan(None, [], rplan.filters, True), [])))
    lines = [ln.lstrip(" +-*()0123456789") for ln in fast.splitlines()]
    assert lines[0].startswith("MapInArrow") and lines[1].startswith(
        "Range"), fast
    assert "Exchange" not in fast and "FileScan" not in fast, fast
    assert rng.count("Exchange") == 1, rng
    assert "Exchange hashpartitioning((doc_id#" in rng, rng
    assert rng.count("MapInArrow") == 1, rng


def test_searcher_keeps_its_pinned_postings(spark, tmp_path):
    """A Searcher opened before an add keeps reading the postings
    snapshot it pinned: the added docs' blocks are invisible to it, a
    new Searcher sees them."""
    from zsolr.connection import SolrConnection

    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", "en", f"spark pin{i % 3}") for i in range(30)],
        SCHEMA)
    cat = ManifestParquetCatalog(str(tmp_path / "pin"))
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=8)).build(
        spark, "pin", corpus_df=corpus)
    before = Searcher(spark, cat)
    pre = _pairs(before.search("spark", k=50))
    SolrConnection(spark, cat).add(
        [{"repo": "r", "path": f"x{i}", "content": "spark qzxpinned"}
         for i in range(3)])
    after = Searcher(spark, cat)
    assert _pairs(before.search("spark", k=50)) == pre
    assert _pairs(before.search("qzxpinned", k=5)) == []
    assert len(_pairs(after.search("qzxpinned", k=5))) == 3
    assert len(_pairs(after.search("spark", k=50))) == 33


def test_build_manifest_read_runs_no_job(spark, tmp_path):
    """``IndexBuilder._completed`` — the resume check of every build —
    reads the manifest with pyarrow: no Spark job, and the same
    stage → partition ids as a Spark read, on an index built, added to
    and compacted."""
    from zsolr.connection import SolrConnection
    from zsolr.lifecycle import compact, delete_by_ids

    corpus = spark.createDataFrame(
        [("r", f"p{i}", "c", "en", f"spark m{i % 4}") for i in range(20)],
        SCHEMA)
    cat = ManifestParquetCatalog(str(tmp_path / "mf"))
    builder = IndexBuilder(cat, BuildConfig(n_buckets=4))
    res = builder.build(spark, "mf", corpus_df=corpus)
    SolrConnection(spark, cat).add(
        [{"repo": "r", "path": "new", "content": "spark added"}])
    delete_by_ids(spark, cat, [2])
    compact(spark, cat)
    assert len(cat.current_snapshot("manifest")["data_dirs"]) >= 3
    for fp in (res.fingerprint, "no-such-fingerprint"):
        got = []
        jobs = _group_jobs(spark, "zsolr-completed",
                           lambda: got.append(builder._completed(fp)))
        assert jobs == [], jobs
        exp: dict = {}
        for r in (cat.read(spark, "manifest")
                  .filter((F.col("input_fingerprint") == fp)
                          & (F.col("status") == "committed")).collect()):
            exp.setdefault(r["stage"], set()).add(r["partition_id"])
        assert got[0] == exp
    assert got[0] == {} and builder._completed(res.fingerprint)


def test_tombstone_overflow_equals_fast_path(spark, many, monkeypatch):
    """Past MAX_BROADCAST_DELETED the searcher keeps no tombstone array
    and every query takes the cogroup path over the anti-joined doc
    store; ranked and fq-range pages, numFound and facet counts equal
    those of a searcher on the fast path."""
    cat, _oracle = many
    fast = Searcher(spark, cat)
    monkeypatch.setattr(Searcher, "MAX_BROADCAST_DELETED", 0)
    over = Searcher(spark, cat)
    assert fast._deleted_np is not None and over._deleted_np is None
    assert over._n_deleted == fast._n_deleted > 0
    for q in ("spark", "hash AND join", "commit:[0 TO 8] AND spark"):
        assert not over._plan_spec(plan_query(q)).fast, q
        df, n = over.search(q, k=10, with_count=True)
        edf, en = fast.search(q, k=10, with_count=True)
        _same(_pairs(df), _pairs(edf), q)
        assert n == en, q
        assert over.facet_fields(q, ["lang", "repo"], with_hits=True) \
            == fast.facet_fields(q, ["lang", "repo"], with_hits=True), q
