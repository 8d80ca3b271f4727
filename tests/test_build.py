"""Index-build correctness (SURVEY.md §5 rings 1+3): golden rows, sha256
invariant, docID determinism, tokenizer-twin identity."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from zsolr.analyze import tokenize_arrow, tokenize_codegen, tokenize_py
from zsolr.build import term_bucket
from zsolr.corpus import synth_corpus
from zsolr.docids import assign_doc_ids


def test_corpus_shape_and_sha(spark, corpus_df):
    assert corpus_df.columns == ["repo", "path", "commit", "lang",
                                 "content", "ts"]
    rows = corpus_df.orderBy("repo", "path").limit(5).collect()
    for r in rows:
        exp = hashlib.sha256(
            f"{r['repo']}/{r['path']}@{r['path'].split('_')[1].split('.')[0]}"
            .encode()).hexdigest()[:40]
        assert r["commit"] == exp


def test_docids_dense_and_deterministic(spark, corpus_df):
    a = assign_doc_ids(corpus_df, num_partitions=3)
    b = assign_doc_ids(corpus_df, num_partitions=17)
    ra = {(r["repo"], r["path"]): r["doc_id"] for r in a.collect()}
    rb = {(r["repo"], r["path"]): r["doc_id"] for r in b.collect()}
    spark.catalog.clearCache()
    assert ra == rb  # parallelism-independent (north_rule rank-identity dep)
    ids = sorted(ra.values())
    assert ids == list(range(len(ids)))  # dense 0..N-1
    # rank order == sort order by (repo, path, commit)
    keys = sorted(ra, key=lambda k: ra[k])
    assert keys == sorted(keys)


def test_tokenizer_twins_identical(spark, corpus_df):
    df = corpus_df.limit(50).select(
        "content",
        tokenize_arrow(F.col("content")).alias("a"),
        tokenize_codegen(F.col("content")).alias("b"),
    )
    for r in df.collect():
        assert r["a"] == r["b"] == tokenize_py(r["content"])


def test_tokenizer_edge_cases(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("Foo-BAR_baz 42x",), ("...",)], "content string")
    out = df.select(tokenize_arrow("content").alias("a"),
                    tokenize_codegen(F.col("content")).alias("b")).collect()
    exp = [[], [], ["foo", "bar", "baz", "42x"], []]
    assert [r["a"] for r in out] == exp
    assert [r["b"] for r in out] == exp


def test_docs_table_sha_invariant(spark, built_index, corpus_df):
    """Per-row content sha256 equality corpus → docs (BASELINE input_hint)."""
    cat, _res = built_index
    docs = cat.read(spark, "docs")
    j = (corpus_df.withColumn("expected", F.sha2("content", 256))
         .join(docs, ["repo", "path", "commit"]))
    bad = j.filter(F.col("expected") != F.col("content_sha256")).count()
    assert bad == 0
    assert j.count() == corpus_df.count()


def test_doc_len_matches_python(spark, built_index, corpus_df):
    cat, _res = built_index
    docs = cat.read(spark, "docs")
    j = corpus_df.join(docs, ["repo", "path"]).select("content", "doc_len")
    for r in j.limit(100).collect():
        assert r["doc_len"] == len(tokenize_py(r["content"]))


def test_term_stats_df(spark, built_index, corpus_df):
    cat, _res = built_index
    stats = {r["term"]: r["df"]
             for r in cat.read(spark, "term_stats").collect()}
    texts = [r["content"] for r in corpus_df.collect()]
    from collections import Counter
    exp = Counter()
    for t in texts:
        exp.update(set(tokenize_py(t)))
    content_stats = {t: df for t, df in stats.items()
                     if "=" not in t and not t.startswith("\x00")}
    assert content_stats == dict(exp)
    # field terms indexed too: df of `lang=en` == docs with lang == 'en'
    langs = Counter(r["lang"] for r in corpus_df.select("lang").collect())
    for lang, n in langs.items():
        assert stats[f"lang={lang}"] == n


def test_postings_roundtrip_full(spark, built_index):
    """Decode every posting block; totals must equal term_stats df."""
    import numpy as np
    from zsolr import codec
    cat, _res = built_index
    rows = cat.read(spark, "postings").collect()
    per_term: dict[str, list] = {}
    for r in rows:
        ids, tfs = codec.decode_block(r["first_doc"], r["doc_gaps"], r["tfs"])
        assert len(ids) == r["n_docs"]
        assert ids[0] == r["first_doc"] and ids[-1] == r["last_doc"]
        assert int(tfs.max()) == r["block_max_tf"]
        assert r["bucket"] == term_bucket(r["term"], 8)
        per_term.setdefault(r["term"], []).append(ids)
    stats = {r["term"]: r["df"]
             for r in cat.read(spark, "term_stats").collect()}
    for t, chunks in per_term.items():
        all_ids = np.concatenate(chunks)
        assert len(np.unique(all_ids)) == len(all_ids) == stats[t]


def test_salting_was_exercised(built_index):
    _cat, res = built_index
    g0 = res.stages.get("postings_g0", {})
    assert g0.get("hot_terms", 0) > 0, "test config must trigger hot-term salting"


def test_blocks_shard_aligned_and_search_consistent(spark, tmp_path):
    """Round-2 scale fix: with a forced small shard_width, no posting block
    spans a shard boundary (block→shard routing is 1:1) and multi-shard
    search stays rank-identical with the single-shard result."""
    import numpy as np
    from pyspark.sql import functions as F

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.search import Searcher

    words = ["alpha", "beta", "gamma", "delta", "query", "spark", "join"]
    rng = np.random.default_rng(3)
    rows = [("r", f"p{i:04d}", "c", "en",
             " ".join(rng.choice(words, size=int(rng.integers(3, 12)))))
            for i in range(300)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    cat = ManifestParquetCatalog(str(tmp_path / "aligned-idx"))
    W = 64  # forces ~5 shards over 300 docs
    IndexBuilder(cat, BuildConfig(n_buckets=4, shard_width=W)).build(
        spark, "aligned-corpus", corpus_df=corpus)

    stats = cat.read(spark, "index_stats").collect()[0]
    assert int(stats["shard_width"]) == W
    spans = (cat.read(spark, "postings")
             .filter(F.expr(f"first_doc DIV {W} <> last_doc DIV {W}"))
             .count())
    assert spans == 0

    multi = Searcher(spark, cat)          # adopts stored W=64 → 5 shards
    assert multi.shard_width == W
    single = Searcher(spark, cat, shard_width=100_000)  # 1 shard
    for q in ("alpha", "query AND spark", "beta OR NOT join"):
        a = [(r["doc_id"], r["score"]) for r in multi.search(q, k=10).collect()]
        b = [(r["doc_id"], r["score"]) for r in single.search(q, k=10).collect()]
        assert a == b, q


def test_pfor_codec_end_to_end(spark, tmp_path):
    """BuildConfig(codec=PFOR) round-trips through build + search with
    results identical to a varint-coded index; index_stats records codec=3.
    Both postings tables are byte-identical to the per-group reference
    encoding of their tfs table (bitpack is covered by the kernel test
    below, without a third Spark build)."""
    import numpy as np

    from zsolr import codec as zcodec
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.search import Searcher

    words = ["alpha", "beta", "gamma", "query", "spark", "join", "the"]
    rng = np.random.default_rng(5)
    rows = [("r", f"p{i:04d}", "c", "en",
             " ".join(rng.choice(words, size=int(rng.integers(3, 15)))))
            for i in range(150)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    results = {}
    for name, cdc in (("varint", zcodec.CODEC_VARINT),
                      ("pfor", zcodec.CODEC_PFOR)):
        cat = ManifestParquetCatalog(str(tmp_path / f"idx-{name}"))
        IndexBuilder(cat, BuildConfig(n_buckets=4, codec=cdc)).build(
            spark, f"c-{name}", corpus_df=corpus)
        st = cat.read(spark, "index_stats").collect()[0]
        assert int(st["codec"]) == cdc
        groups = {}
        for r in cat.read(spark, "tfs").collect():
            groups.setdefault((r["term"], r["bucket"]), []).append(
                (r["doc_id"], r["tf"], r["positions"]))
        exp = sorted(
            tuple(b.values()) for (term, bucket), plist in groups.items()
            for b in _reference_blocks(term, bucket, plist, 128, cdc,
                                       int(st["shard_width"])))
        got = sorted(tuple(r) for r in cat.read(spark, "postings")
                     .select(*_POSTINGS_COLS).collect())
        assert got == exp, name
        s = Searcher(spark, cat)
        results[name] = {
            q: [(r["doc_id"], r["score"]) for r in s.search(q, k=10).collect()]
            for q in ("spark", "query AND join", '"alpha beta"')}
    assert results["varint"] == results["pfor"]


_POSTINGS_COLS = ("term", "bucket", "first_doc", "last_doc", "n_docs",
                  "doc_gaps", "tfs", "positions", "block_max_tf")


def _reference_blocks(term, bucket, postings, block_size, cdc,
                      align_width=None):
    """Per-group reference for the encode kernel: sort one (term, salt)
    sub-list by docID, split it posting by posting (a new block at
    ``block_size`` postings or a docID-shard change), and encode each
    block on its own with ``codec.encode_u64``."""
    from zsolr import codec

    def enc(vals):
        return codec.encode_u64(np.array(vals, dtype=np.uint64), cdc)

    blocks, cur = [], []
    for p in sorted(postings, key=lambda p: p[0]):
        if cur and (len(cur) == block_size or (
                align_width and p[0] // align_width
                != cur[-1][0] // align_width)):
            blocks.append(cur)
            cur = []
        cur.append(p)
    if cur:
        blocks.append(cur)
    out = []
    for blk in blocks:
        ids = [p[0] for p in blk]
        deltas = []
        for _d, _tf, pos in blk:
            deltas += [b - a for a, b in zip([0] + pos, pos)]
        out.append(dict(zip(_POSTINGS_COLS, (
            term, bucket, ids[0], ids[-1], len(blk),
            enc([0] + [b - a for a, b in zip(ids, ids[1:])]),
            enc([p[1] for p in blk]), enc(deltas),
            max(p[1] for p in blk)))))
    return out


def _kernel_batches():
    """Hand-built ``grouped_postings`` batches: single-posting groups,
    groups longer than a block, groups crossing docID shards of width 10,
    an empty-positions field term, and shuffled ``collect_list`` order."""
    import pyarrow as pa

    rng = np.random.default_rng(17)
    struct = pa.struct([("doc_id", pa.int64()), ("tf", pa.int64()),
                        ("positions", pa.list_(pa.int32()))])

    def group(ids, empty_pos=False, shuffle=False):
        ids = list(ids)
        if shuffle:
            rng.shuffle(ids)
        out = []
        for d in ids:
            tf = int(rng.integers(1, 5))
            pos = [] if empty_pos else sorted(
                rng.choice(400, tf, replace=False).tolist())
            out.append({"doc_id": int(d), "tf": tf, "positions": pos})
        return out

    batches = []
    specs = [
        [("solo", [7]), ("pair", [3, 4]), ("solo2", [55])],
        [("long", range(0, 45, 2)), ("lang=en", range(5, 30),
                                     "empty"), ("solo3", [12])],
        [("shuf", range(1, 60, 3), "shuffle"), ("cross", [8, 9, 10, 11]),
         ("shuf2", [40, 2, 19, 3], "shuffle")],
    ]
    for spec in specs:
        terms, plists = [], []
        for term, ids, *flag in spec:
            terms.append(term)
            plists.append(group(ids, empty_pos=flag == ["empty"],
                                shuffle=flag == ["shuffle"]))
        batches.append(pa.record_batch({
            "term": pa.array(terms, pa.string()),
            "postings": pa.array(plists, pa.list_(struct)),
            "bucket": pa.array([len(t) % 4 for t in terms], pa.int32())}))
    return batches


def _run_kernel(batches, cdc, align_width, **kw):
    import pyarrow as pa

    from zsolr.build import BuildConfig, IndexBuilder

    builder = IndexBuilder(None, BuildConfig(block_size=4, codec=cdc))
    out = list(builder._encode_mapper(align_width, **kw)(iter(batches)))
    return pa.Table.from_batches(out), len(out)


@pytest.mark.parametrize("cdc", [1, 2, 3])
@pytest.mark.parametrize("align_width", [None, 10])
def test_encode_kernel_matches_per_group_reference(cdc, align_width):
    """The batch encode kernel is byte-identical to encoding each
    (term, salt) group, and each of its blocks, on its own."""
    batches = _kernel_batches()
    got, _ = _run_kernel(batches, cdc, align_width)
    exp = [blk for b in batches
           for term, bucket, plist in zip(
               b.column("term").to_pylist(), b.column("bucket").to_pylist(),
               b.column("postings").to_pylist())
           for blk in _reference_blocks(
               term, bucket,
               [(p["doc_id"], p["tf"], p["positions"]) for p in plist],
               4, cdc, align_width)]
    assert got.to_pylist() == exp


@pytest.mark.parametrize("cdc", [1, 3])
def test_encode_kernel_pass_cap_keeps_output(cdc):
    """Slicing batches into capped passes (per-task memory bound) changes
    nothing but the number of output batches."""
    from zsolr.build import _pass_bounds

    batches = _kernel_batches()
    full, n_full = _run_kernel(batches, cdc, 10)
    tiny, n_tiny = _run_kernel(batches, cdc, 10, max_pass_postings=3)
    assert tiny.equals(full)
    assert n_full == len(batches) and n_tiny > n_full
    # runs hold ≤ cap postings and ≤ cap positions unless one group alone
    # exceeds it (group 1: 4 positions, group 3: 5 postings)
    offs = np.array([0, 1, 2, 3, 8, 10, 11])
    pos = np.array([0, 1, 5, 6, 7, 8, 9])
    assert _pass_bounds(offs, pos, 3) == [
        (0, 1), (1, 2), (2, 3), (3, 4), (4, 6)]


def test_fingerprint_keys_resume_groups():
    """Round-1 advice: resuming under a different resume_groups value must
    NOT match prior manifest rows (group-id remapping would silently skip
    buckets) — the fingerprint keys it."""
    from zsolr.build import BuildConfig

    a = BuildConfig(resume_groups=1).fingerprint("c")
    b = BuildConfig(resume_groups=4).fingerprint("c")
    c = BuildConfig(shard_width=1024).fingerprint("c")
    assert len({a, b, c}) == 3


def test_empty_and_single_doc_corpus(spark, tmp_path):
    """Build + search degrade gracefully at the corpus-size floor."""
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.search import Searcher

    schema = ("repo string, path string, commit string, lang string,"
              " content string")
    one = spark.createDataFrame([("r", "p", "c", "en", "hello world")], schema)
    cat1 = ManifestParquetCatalog(str(tmp_path / "one"))
    res = IndexBuilder(cat1, BuildConfig(n_buckets=2)).build(
        spark, "one", corpus_df=one)
    assert res.n_docs == 1
    s = Searcher(spark, cat1)
    hits = s.search("hello", k=5).collect()
    assert [r["doc_id"] for r in hits] == [0]
    df, n = s.search("zzz", k=5, with_count=True)
    assert n == 0 and df.count() == 0

    empty = spark.createDataFrame([], schema)
    cat0 = ManifestParquetCatalog(str(tmp_path / "zero"))
    res0 = IndexBuilder(cat0, BuildConfig(n_buckets=2)).build(
        spark, "zero", corpus_df=empty)
    assert res0.n_docs == 0
    s0 = Searcher(spark, cat0)
    df, n = s0.search("hello", k=5, with_count=True)
    assert n == 0 and df.count() == 0


def test_positions_false_index_options(spark, tmp_path):
    """Lucene IndexOptions tier: positions=False skips the per-token
    position payload; term/boolean results identical to a positional
    build, phrase queries raise UnsupportedQuery."""
    import numpy as np

    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.search import Searcher, UnsupportedQuery

    words = ["alpha", "beta", "gamma", "query", "spark", "join"]
    rng = np.random.default_rng(8)
    rows = [("r", f"p{i:04d}", "c", "en",
             " ".join(rng.choice(words, size=int(rng.integers(3, 12)))))
            for i in range(200)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string,"
              " content string")
    searchers = {}
    for name, pos in (("with", True), ("without", False)):
        cat = ManifestParquetCatalog(str(tmp_path / f"pos-{name}"))
        IndexBuilder(cat, BuildConfig(n_buckets=4, positions=pos)).build(
            spark, f"pc-{name}", corpus_df=corpus)
        searchers[name] = Searcher(spark, cat)
        if name == "without":
            # the positions payload is actually absent (all empty blobs,
            # codec header byte only)
            import pyspark.sql.functions as F
            mx = (cat.read(spark, "postings")
                  .agg(F.max(F.length("positions"))).collect()[0][0])
            assert mx <= 1
    for q in ("spark", "query AND join", "alpha OR NOT beta"):
        a = [(r["doc_id"], r["score"])
             for r in searchers["with"].search(q, k=10).collect()]
        b = [(r["doc_id"], r["score"])
             for r in searchers["without"].search(q, k=10).collect()]
        assert a == b, q
    import pytest as _pytest
    with _pytest.raises(UnsupportedQuery):
        searchers["without"].search('"alpha beta"', k=5)


def test_cross_config_resume_matrix(spark, tmp_path, corpus_df):
    """Round-2 config combos interact correctly: PFor codec +
    positions=False + shard alignment + grouped resume, killed mid-build
    and resumed — identical to a clean build of the same config."""
    from zsolr import codec as zcodec
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog
    from zsolr.search import Searcher

    small = corpus_df.limit(120).cache()
    kw = dict(n_buckets=8, resume_groups=4, codec=zcodec.CODEC_PFOR,
              positions=False, shard_width=32)
    ref = ManifestParquetCatalog(str(tmp_path / "ref"))
    IndexBuilder(ref, BuildConfig(**kw)).build(
        spark, "mx", corpus_df=small)

    killed = ManifestParquetCatalog(str(tmp_path / "killed"))
    with pytest.raises(RuntimeError, match="simulated kill"):
        IndexBuilder(killed, BuildConfig(fail_after_group=1, **kw)).build(
            spark, "mx", corpus_df=small)
    res = IndexBuilder(killed, BuildConfig(**kw)).build(
        spark, "mx", corpus_df=small)
    assert ("postings", 0) in res.resumed_stages

    a, b = Searcher(spark, ref), Searcher(spark, killed)
    for q in ("spark", "hash AND join", "stream OR batch"):
        ra = [(r["doc_id"], r["score"]) for r in a.search(q, k=10).collect()]
        rb = [(r["doc_id"], r["score"]) for r in b.search(q, k=10).collect()]
        assert ra == rb, q
    st = ref.read(spark, "index_stats").collect()[0]
    assert (int(st["codec"]), int(st["positions"]),
            int(st["shard_width"])) == (3, 0, 32)
