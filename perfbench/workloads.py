"""The benchmark's workloads, their correctness checks and their metrics.

Each workload runs on one SparkSession with one closed-loop client: an
operation starts only after the previous one returned.  Set-up (input
generation, staging, in ``query`` and ``build`` a warm-up build, in
``query`` and ``update`` the index build and searcher warm-up) is timed
as ``setup_s`` from process start; the timed part then runs operations
until ``--seconds`` have passed.  Every operation's output is
checked against an independent reference (``tests/oracle.py``, pandas, or
the generator's own bookkeeping); a wrong or failed operation counts in
``failed``.

In a traced run (``--trace 1``) every read runs twice, once traced and
once untraced (``Loop.run``), so one run yields the per-layer numbers
(from the traced half), the tracing overhead (traced minus untraced
latency) and how much of the untraced wall time the spans cover; writes
and builds run once, traced.  See METRICS.md for every metric's
definition.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
from tracer import Tracer, collect_sites, covered_ms, site_of

SCALES = {
    # docs per corpus, code-like vocabulary size, docs per add / delete
    "default": {"query_docs": 2000, "update_docs": 2000, "build_docs": 160,
                "curate_docs": 1000, "build_curate_docs": 300,
                "vocab": 100_000, "add_new": 4, "add_changed": 2,
                "delete_n": 3},
    "tiny": {"query_docs": 200, "update_docs": 200, "build_docs": 30,
             "curate_docs": 100, "build_curate_docs": 100, "vocab": 2_000,
             "add_new": 2, "add_changed": 1, "delete_n": 2},
}
ATOL = 1e-9
TOP_K = 10
# ranked query shapes; a batch request carries one query of each
SHAPES = ("term", "and", "or", "not", "phrase", "lang")
# the request classes read_cpu_ms pools
READS = ("ranked", "solr", "batch")

# end-to-end metrics of the query, build and update workloads.  Reads are
# gated by their CPU cost, not their latency: on a shared VM the latency
# of these small Spark jobs follows the load other guests put on the host
# (METRICS.md has the spreads); it is in the header and the per-layer
# metrics
E2E = {
    "setup_s": "s", "build_files_per_s": "files/s",
    "index_bytes_ratio": "ratio", "read_cpu_ms": "ms", "peak_rss_mb": "MB",
}
# per-layer metrics printed by every traced run (zero where a workload
# does not reach the layer: lifecycle.* on query, ops.* on query and
# update); METRICS.md says what each should move
LAYERS = {
    "docids.assign_ms": "ms", "docids.jobs": "count",
    "build.tf_write_ms": "ms", "build.postings_write_ms": "ms",
    "build.postings_shuffle_write_bytes": "bytes",
    "build.spill_bytes": "bytes", "build.gc_ms": "ms",
    "build.driver_ms": "ms", "build.jobs": "count",
    "catalog.commit_ms": "ms", "catalog.postings_dirs": "count",
    "catalog.postings_bytes": "bytes",
    "parse.plan_ms": "ms", "search.jobs_per_query": "count",
    "search.driver_ms": "ms", "search.df_lookup_ms": "ms",
    "search.fetch_ms": "ms", "search.kernel_ms": "ms",
    "search.kernel_task_ms": "ms", "search.exchange_bytes": "bytes",
    "search.wand_skip_ratio": "ratio", "search.batch_kernel_ms": "ms",
    "search.batch_fetch_ms": "ms", "search.batch_ms": "ms",
    "search.query_ms": "ms",
    "search.open_ms": "ms", "connection.request_ms": "ms",
    "connection.jobs_per_request": "count", "connection.facet_ms": "ms",
    "lifecycle.add_ms": "ms", "lifecycle.delete_ms": "ms",
    "lifecycle.compact_ms": "ms", "lifecycle.add_jobs": "count",
    "lifecycle.delete_jobs": "count", "lifecycle.stats_refresh_ms": "ms",
    "lifecycle.add_driver_ms": "ms",
    "ops.minhash_lsh_pairs_ms": "ms", "ops.dedup_components_ms": "ms",
    "ops.dedup_components_jobs": "count", "ops.curate_task_ms": "ms",
    "ops.curate_shuffle_write_bytes": "bytes",
    "trace.overhead_ms": "ms", "trace.coverage_pct": "%",
}
# counts that must repeat exactly for a given seed (selftest.py)
EXACT = ("docids.jobs", "build.jobs", "search.jobs_per_query",
         "catalog.postings_dirs", "catalog.postings_bytes",
         "lifecycle.add_jobs", "lifecycle.delete_jobs",
         "connection.jobs_per_request", "ops.dedup_components_jobs")


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    scale: str
    traced: bool
    nproc: int
    t_start: float

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)
        self.sizes = SCALES[self.scale]
        self.marks: dict[str, float] = {}

    def mark(self, name: str) -> None:
        """Record a set-up milestone (seconds since process start)."""
        self.marks[name] = round(time.time() - self.t_start, 3)


@dataclass
class Result:
    metrics: dict
    attempted: int
    failed: int
    errors: list
    header: dict
    spans: list | None = None
    self_times: dict | None = None


@dataclass
class Op:
    cls: str
    ms: float
    traced: bool
    t0: float
    t1: float
    roots: list
    ok: bool = True
    twin: "Op | None" = None    # the other half of a traced/untraced pair
    cpu_ms: float = 0.0         # CPU time of the whole process tree


@dataclass
class Loop:
    """Times operations and keeps the run's pass/fail tally."""
    tracer: Tracer | None
    ops: list = field(default_factory=list)
    errors: list = field(default_factory=list)
    failed: int = 0
    _turn: dict = field(default_factory=dict)

    def run(self, cls: str, fn, check=None, pair: bool = False):
        """Time ``fn()`` as one operation of class ``cls`` and check its
        output with ``check`` (returns an error message or None).  Returns
        ``(output, op)``; output is None when ``fn`` raised.

        In a traced run an operation with ``pair`` set (a read, which can
        run twice) runs once traced and once untraced, the traced half
        first on even turns of its class and second on odd ones, so warm-up
        drift cancels; the traced half is returned.  Any other operation
        runs once, traced."""
        if self.tracer is None:
            return self._once(cls, fn, check, False)
        if not pair:
            return self._once(cls, fn, check, True)
        n = self._turn.get(cls, 0)
        self._turn[cls] = n + 1
        first = self._once(cls, fn, check, n % 2 == 0)
        second = self._once(cls, fn, check, n % 2 == 1)
        first[1].twin, second[1].twin = second[1], first[1]
        return first if n % 2 == 0 else second

    def _once(self, cls: str, fn, check, traced: bool):
        tr = self.tracer
        first = 0
        if tr is not None:
            tr.enabled = traced
            first = len(tr.spans)
        out, ok = None, True
        c0 = _tree_cpu_s(os.getpid())
        t0, p0 = time.time(), time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is a result, not a crash
            ok = False
            self.errors.append(f"{cls}: {type(e).__name__}: {e}"[:400])
            self.failed += 1
        ms = (time.perf_counter() - p0) * 1000.0
        t1 = time.time()
        cpu_ms = (_tree_cpu_s(os.getpid()) - c0) * 1000.0
        roots = []
        if tr is not None:
            tr.enabled = False
            tr.resolve()
            roots = [s for s in tr.spans[first:] if s.parent is None]
        op = Op(cls, ms, traced, t0, t1, roots, ok, cpu_ms=cpu_ms)
        self.ops.append(op)
        if ok and check is not None:
            err = check(out)
            if err:
                self.wrong(op, f"{cls} {err}")
        return out, op

    def wrong(self, op: Op | None, msg: str) -> None:
        """Record a wrong result (of ``op``, or of the run as a whole)."""
        self.errors.append(msg[:400])
        if op is None or op.ok:
            self.failed += 1
        if op is not None:
            op.ok = False

    def ms(self, cls: str, traced: bool | None = None) -> list:
        return [o.ms for o in self.ops if o.cls == cls
                and (traced is None or o.traced == traced)]


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every process below it; CPU time a hypervisor gives to other
    guests is not in it."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo.extend(kids.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ set-up --

def _stage(ctx: Context, exp: pd.DataFrame, name: str) -> str:
    """Write the corpus table (repo, path, commit, lang, content, ts) as
    parquet — the engine's mandated stored input — in 2·nproc files, in
    generation order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = exp.sort_values("src_id")
    table = pa.table({
        "repo": rows["repo"], "path": rows["path"],
        "commit": rows["commit"], "lang": rows["lang"],
        "content": rows["content"],
        "ts": pa.array(rows["ts_s"].to_numpy() * 1_000_000,
                       pa.timestamp("us", tz="UTC")),
    })
    path = os.path.join(ctx.work, f"{name}_corpus")
    os.makedirs(path)
    parts = 2 * ctx.nproc
    step = -(-len(rows) // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))
    ctx.mark(f"staged_{name}")
    return path


def _build(ctx: Context, loop: Loop, cls: str, corpus_path: str,
           name: str):
    """One ``IndexBuilder.build`` into a fresh catalog, as one op."""
    from zsolr.build import BuildConfig, IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog

    cat = ManifestParquetCatalog(os.path.join(ctx.work, name))
    cfg = BuildConfig(n_buckets=max(32, ctx.nproc))
    loop.run(cls, lambda: IndexBuilder(cat, cfg).build(
        ctx.spark, corpus_path))
    return cat


def _warm_up(ctx: Context, loop: Loop, exp: pd.DataFrame, name: str) -> None:
    """An untimed build of a small slice of the corpus, so the timed build
    runs in a warm JVM: the first build of a process spends ~15 s of its
    wall time on class loading, code generation and Python worker start,
    which says nothing about the engine's build path."""
    path = _stage(ctx, exp.head(max(5, len(exp) // 40)), f"{name}_warm")
    _build(ctx, _Untimed(loop), "warm-up build", path, f"{name}_warm_index")
    ctx.mark("warmed")


def _index(ctx: Context, loop: Loop, exp: pd.DataFrame, path: str,
           cls: str):
    """Build the staged corpus as one ``cls`` op and check the build."""
    cat = _build(ctx, loop, cls, path, "index")
    build_op = loop.ops[-1]
    ctx.mark("built")
    _check_build(ctx, loop, build_op, cat, exp)
    info = {"build_op": build_op, "n_files": len(exp),
            "content_bytes": int(sum(len(c.encode())
                                     for c in exp["content"])),
            "index_bytes": _table_bytes(cat),
            # postings files are fully sorted, so their size repeats
            # exactly; term_stats rows land in shuffle-arrival order
            "postings_bytes": _table_bytes(cat, ["postings"]),
            "postings_dirs": _postings_dirs(cat)}
    ctx.mark("build_checked")
    return cat, info


def _check_build(ctx: Context, loop: Loop, op: Op, cat,
                 exp: pd.DataFrame) -> None:
    """docs rows == input rows (docID = key rank, content sha256 equal) and
    Σ term_stats.df over content terms == distinct (term, doc) pairs."""
    from pyspark.sql import functions as F

    cols = ["doc_id", "repo", "path", "commit", "content_sha256"]
    got = (cat.read(ctx.spark, "docs").select(*cols).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    if len(got) != len(exp) or not got.equals(exp[cols]):
        loop.wrong(op, f"{op.cls}: docs table != input corpus"
                       f" ({len(got)} vs {len(exp)} rows)")
    df_sum = (cat.read(ctx.spark, "term_stats")
              .filter(F.col("term").rlike("^[a-z0-9]+$"))
              .agg(F.sum("df")).collect()[0][0])
    want = gen.distinct_term_doc_pairs(exp["content"])
    if df_sum != want:
        loop.wrong(op, f"{op.cls}: sum(term_stats.df)={df_sum} != {want}")


def _table_bytes(cat, tables=None) -> int:
    """Bytes of the current snapshot data dirs of ``tables`` (default:
    every table but the build manifest, a journal rather than index)."""
    if tables is None:
        tables = [t for t in os.listdir(cat.root) if t != "manifest"
                  and os.path.isdir(os.path.join(cat.root, t))]
    total = 0
    for table in tables:
        for d in (cat.current_snapshot(table) or {}).get("data_dirs", []):
            for r, _dirs, files in os.walk(d):
                total += sum(os.path.getsize(os.path.join(r, f))
                             for f in files)
    return total


def _postings_dirs(cat) -> int:
    return len(cat.current_snapshot("postings")["data_dirs"])


def _oracle(exp: pd.DataFrame):
    from oracle import OracleIndex

    return OracleIndex(exp[["doc_id", "content", "lang", "repo"]]
                       .to_dict("records"))


# ----------------------------------------------------------------- queries --

def _pools(rng: np.random.Generator, words: list[str], rounds: int,
           reference: list[str] | None = None) -> dict[str, list[str]]:
    """Seeded ranked queries by shape; ``reference`` queries go first."""
    def w(k):
        return list(rng.choice(words, size=k, replace=False))

    pools: dict[str, list[str]] = {t: [] for t in SHAPES}
    for q in reference or []:
        shape = ("lang" if q.startswith("lang:") else
                 "phrase" if q.startswith('"') else
                 "not" if " NOT " in q else "or" if " OR " in q else
                 "and" if " AND " in q else "term")
        if not q.startswith("["):
            pools[shape].append(q)
    for _ in range(rounds):
        a, b = w(2)
        pools["term"].append(a)
        pools["and"].append(f"{a} AND {b}")
        c, d = w(2)
        pools["or"].append(f"{c} OR {d}")
        e, f = w(2)
        pools["not"].append(f"{e} AND NOT {f}")
        g, h = w(2)
        pools["phrase"].append(f'"{g} {h}"')
        pools["lang"].append(f"lang:{rng.choice(gen.LANGS)} AND {w(1)[0]}")
    return pools


class QueryChecker:
    """Ranked results against the pure-Python BM25 oracle."""

    def __init__(self, oracle):
        from zsolr.parse import parse

        self.oracle = oracle
        self.parse = parse
        self._memo: dict = {}

    def scores(self, q: str) -> dict:
        if q not in self._memo:
            self._memo[q] = self.oracle._eval(self.parse(q))
        return self._memo[q]

    def ranked(self, q: str, rows, k: int = TOP_K) -> str | None:
        """``rows``: (doc_id, score) pairs in engine order.  Rank-identical
        to the oracle, scores within ATOL (docs whose oracle scores tie
        within ATOL may swap)."""
        sc = self.scores(q)
        want = sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if len(rows) != len(want):
            return f"{q!r}: {len(rows)} rows, oracle {len(want)}"
        for i, ((d, s), (_wd, ws)) in enumerate(zip(rows, want)):
            if d not in sc or abs(s - sc[d]) > ATOL or abs(s - ws) > ATOL:
                return f"{q!r}: rank {i} doc {d} score {s} vs oracle {ws}"
        return None


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _solr_requests(rng: np.random.Generator, ts_lo: int, ts_hi: int):
    """The Solr request shapes; every round sends each once."""
    import datetime as dt

    def iso(s):
        return dt.datetime.fromtimestamp(
            int(s), dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    lo = int(rng.integers(ts_lo, ts_lo + (ts_hi - ts_lo) // 2))
    hi = lo + (ts_hi - ts_lo) // 3
    return [
        ("facet", {"facet_field": "lang"}),
        ("fq_range", {"fq": f"ts:[{iso(lo)} TO {iso(hi)}]",
                      "_range": (lo, hi)}),
        ("sort", {"sort": "doc_len desc"}),
        ("cursor", {"cursor_mark": "*"}),
    ]


def _check_solr(chk: QueryChecker, exp_by_id: pd.DataFrame, q: str,
                shape: str, kw: dict, res) -> str | None:
    sc = chk.scores(q)
    match = set(sc)
    if shape == "facet":
        want = (exp_by_id.loc[sorted(match), "lang"].value_counts()
                .to_dict() if match else {})
        got = {k: v for k, v in res.facets["facet_fields"]["lang"].items()
               if v}
        if got != want:
            return f"facet {q!r}: {got} != {want}"
    if shape == "fq_range":
        lo, hi = kw["_range"]
        ts = exp_by_id["ts_s"]
        keep = {d for d in match if lo <= ts[d] <= hi}
        if res.hits != len(keep):
            return f"fq {q!r}: hits {res.hits} != {len(keep)}"
        want = sorted(((d, sc[d]) for d in keep),
                      key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        got = [(d["doc_id"], d["score"]) for d in res.docs]
        if [d for d, _ in got] != [d for d, _ in want] or any(
                abs(a[1] - b[1]) > ATOL for a, b in zip(got, want)):
            return f"fq {q!r}: page differs from oracle"
    if shape == "sort":
        dl = exp_by_id["doc_len"]
        want = sorted(match, key=lambda d: (-dl[d], d))[:TOP_K]
        if [d["doc_id"] for d in res.docs] != want:
            return f"sort {q!r}: page differs from oracle"
    if shape in ("facet", "sort", "cursor") and res.hits != len(match):
        return f"{shape} {q!r}: hits {res.hits} != {len(match)}"
    if shape in ("facet", "cursor"):
        err = chk.ranked(q, [(d["doc_id"], d["score"]) for d in res.docs])
        if err:
            return f"{shape} {err}"
        if shape == "cursor" and not res.nextCursorMark:
            return f"cursor {q!r}: no nextCursorMark"
    return None


# --------------------------------------------------------------- workloads --

def _setup_tracer(ctx: Context) -> Tracer | None:
    if not ctx.traced:
        return None
    import zsolr.build
    import zsolr.docids
    import zsolr.lifecycle
    import zsolr.ops
    import zsolr.search
    from zsolr.build import IndexBuilder
    from zsolr.catalog import ManifestParquetCatalog as Cat
    from zsolr.connection import SolrConnection
    from zsolr.search import Searcher

    tr = Tracer(ctx.spark)

    def table(_self, _df, t, *_a, **_k):
        return t

    def tables(_self, staged, *_a, **_k):
        return ",".join(sorted(s["table"] for s in staged))

    for mod in (zsolr.docids, zsolr.build, zsolr.lifecycle):
        tr.wrap(mod, "assign_doc_ids", "docids.assign_doc_ids")
    tr.wrap(Cat, "write", "catalog.write", key=table)
    tr.wrap(Cat, "stage", "catalog.stage", key=table)
    tr.wrap(Cat, "commit_multi", "catalog.commit_multi", key=tables)
    tr.wrap(IndexBuilder, "build", "build.IndexBuilder.build")
    tr.wrap(zsolr.search, "plan_query", "parse.plan_query",
            spark_jobs=False)
    tr.wrap(Searcher, "__init__", "search.Searcher.__init__")
    tr.wrap(Searcher, "search", "search.Searcher.search")
    tr.wrap(Searcher, "search_batch", "search.Searcher.search_batch")
    tr.wrap(SolrConnection, "search", "connection.SolrConnection.search")
    tr.wrap(SolrConnection, "add", "connection.SolrConnection.add")
    tr.wrap(SolrConnection, "delete", "connection.SolrConnection.delete")
    tr.wrap(zsolr.lifecycle, "compact", "lifecycle.compact")
    tr.wrap(zsolr.lifecycle, "_refresh_stats", "lifecycle._refresh_stats")
    for fn in ("minhash_lsh_pairs", "dedup_components",
               "build_training_set"):
        tr.wrap(zsolr.ops, fn, f"ops.{fn}")
    tr.sites = collect_sites(zsolr.search.__file__)
    return tr


def _ranked_op(loop: Loop, searcher, q: str, check=None):
    return loop.run("ranked", lambda: _rows(searcher.search(q, k=TOP_K)),
                    check, pair=True)


def _batch_op(loop: Loop, searcher, qs: list[str], check=None):
    return loop.run("batch", lambda: [
        _rows(df) for df in searcher.search_batch(qs, k=TOP_K)],
        check, pair=True)


def _solr_op(loop: Loop, conn, q: str, kw: dict, check=None):
    args = {"rows": TOP_K, **{k: v for k, v in kw.items()
                              if not k.startswith("_")}}
    return loop.run("solr", lambda: conn.search(q, **args), check,
                    pair=True)


def _wand(searcher, loop: Loop) -> None:
    if loop.tracer is not None:
        loop.tracer.wand.append(searcher.enable_wand_stats())


def _read_stream(ctx: Context, loop: Loop, cat, exp: pd.DataFrame,
                 words: list[str]) -> dict:
    """Open a searcher and a Solr connection on ``cat``, send one untimed
    request of each class, then send a fixed-shape stream of ranked, Solr
    and batch requests for ``seconds``, checking every response.  Returns
    the stream's shape for the header and its start time (``start``)."""
    from queryset import reference_queries
    from zsolr.connection import SolrConnection
    from zsolr.search import Searcher

    searcher, _ = loop.run("open", lambda: Searcher(ctx.spark, cat))
    conn = SolrConnection(ctx.spark, cat)
    _wand(searcher, loop)
    chk = QueryChecker(_oracle(exp))
    exp_by_id = exp.set_index("doc_id")
    exp_by_id["doc_len"] = [len(gen.TOKEN_RE.findall(c.lower()))
                            for c in exp_by_id["content"]]
    pools = _pools(ctx.rng, words, 64, reference=reference_queries())
    solr = _solr_requests(ctx.rng, int(exp["ts_s"].min()),
                          int(exp["ts_s"].max()))
    serial: dict = {}

    def ranked(q: str):
        def check(rows):
            serial[q] = rows
            return chk.ranked(q, [(d, s) for d, _r, _p, _c, s in rows])
        _ranked_op(loop, searcher, q, check)

    def solr_req(q: str, shape: str, kw: dict):
        _solr_op(loop, conn, q, kw, lambda res: _check_solr(
            chk, exp_by_id, q, shape, kw, res))

    def batch(qs: list[str]):
        def check(got):
            for q, rows in zip(qs, got):
                if q in serial and rows != serial[q]:
                    return f"{q!r}: rows != serial rows"
            return None
        _batch_op(loop, searcher, qs, check)

    def step(k: int) -> None:
        # a round is one ranked query of each shape, the first four each
        # followed by one Solr request, then one batch of the round's
        # queries (their rows must equal the serial rows); ranked and Solr
        # requests interleave so both span the whole stream
        r, j = divmod(k, len(SHAPES) + 1)
        qs = [pools[t][r % len(pools[t])] for t in SHAPES]
        if j == len(SHAPES):
            batch(qs)
            return
        ranked(qs[j])
        if j < len(solr):
            solr_req(qs[j], *solr[j])

    # warm-up: one untimed request of each class the stream sends
    w = _Untimed(loop)
    warm = [pools[t][-1] for t in SHAPES]
    _ranked_op(w, searcher, warm[0])
    _solr_op(w, conn, warm[1], solr[0][1])
    _batch_op(w, searcher, warm)
    ctx.mark("reads_ready")
    t0 = time.time()
    k = 0
    while True:
        step(k)
        k += 1
        if time.time() - t0 >= ctx.seconds:
            break
    return {"steps": k, "start": t0,
            "round": f"{len(SHAPES)} ranked and {len(solr)} solr"
                     f" interleaved, 1 batch({len(SHAPES)})"}


def run_build(ctx: Context, loop: Loop) -> dict:
    """One timed ``IndexBuilder.build`` of a code-like corpus in a warm
    JVM, then ``seconds`` of reads on the new index (the ``query``
    stream).  A traced run then also drives the write path on the index
    (one short update cycle and a compaction) and one curation of a small
    fixture-like frame, so the lifecycle and ops layers are measured and
    checked; they feed no end-to-end metric, and at ~45 s a run they
    would not fit the untraced runs' time budget (METRICS.md)."""
    sz = ctx.sizes
    n = sz["build_docs"]
    vocab = gen.identifiers(ctx.rng, sz["vocab"])
    exp = gen.expected_corpus(gen.code_documents(ctx.rng, n, vocab))
    path = _stage(ctx, exp, "code")
    _warm_up(ctx, loop, exp, "code")
    ready = time.time()
    cat, info = _index(ctx, loop, exp, path, "build")
    # queries over the head of the identifier law, where docs have hits
    words = vocab[:200]
    stream = _read_stream(ctx, loop, cat, exp, words)
    del stream["start"]
    after = "nothing"
    if ctx.traced:
        pools = _pools(ctx.rng, words, 1)
        up = Updater(ctx, loop, cat, exp,
                     lambda k: gen.code_texts(ctx.rng, k, vocab), reads=1)
        up.cycle(0, pools)
        info["postings_dirs"] = _postings_dirs(cat)
        up.compact(pools)
        curate, check_keepers = _curation(ctx, loop,
                                          sz["build_curate_docs"])
        loop.run("curate", curate, pair=True)
        check_keepers()
        after = (f"1 update cycle ({up.shape()}), compact, 1 curation of"
                 f" {sz['build_curate_docs']} docs")
    return {**info, "setup_s": ready - ctx.t_start,
            "header": {"input": {
                "corpus": "code-like", "docs": n, "vocab": len(vocab),
                "tokens": int(sum(len(gen.TOKEN_RE.findall(c.lower()))
                                  for c in exp["content"])),
                "reads": stream, "traced_run_then": after}}}


def run_query(ctx: Context, loop: Loop) -> dict:
    """Build an index over a fixture-like corpus in set-up (in a warm
    JVM), then send the read stream for ``seconds``."""
    n = ctx.sizes["query_docs"]
    exp = gen.expected_corpus(gen.fixture_documents(ctx.rng, n))
    path = _stage(ctx, exp, "fixture")
    _warm_up(ctx, loop, exp, "fixture")
    cat, info = _index(ctx, loop, exp, path, "build")
    stream = _read_stream(ctx, loop, cat, exp, gen.FIXTURE_VOCAB)
    return {**info, "setup_s": stream.pop("start") - ctx.t_start,
            "header": {"input": {
                "corpus": "fixture-like", "docs": n,
                "vocab": len(gen.FIXTURE_VOCAB), "reads": stream}}}


class _Untimed:
    """Runs an operation without recording it (warm-up)."""

    def __init__(self, loop: Loop):
        self.loop = loop

    def run(self, cls, fn, check=None, pair=False):
        try:
            return fn(), None
        except Exception as e:
            self.loop.wrong(None, f"warm-up {cls}: {type(e).__name__}: {e}")
            return None, None


class Updater:
    """The write path through one ``SolrConnection``: seeded upserts (new
    and changed docs) and deletes by id, each followed by reads on the
    searcher the write reopened.  Keeps the client's view of the live
    corpus, keyed like the engine's uniqueKey, for the checks."""

    def __init__(self, ctx: Context, loop: Loop, cat, exp: pd.DataFrame,
                 texts, reads: int = 3):
        from zsolr.connection import SolrConnection

        self.ctx, self.loop, self.cat = ctx, loop, cat
        self.texts = texts      # k -> k seeded contents
        self.n_reads = reads    # ranked reads after each write
        self.conn, _ = loop.run("open",
                                lambda: SolrConnection(ctx.spark, cat))
        self.live = {(r.repo, r.path): {"content": r.content,
                                        "lang": r.lang}
                     for r in exp.itertuples()}
        self.key_of = dict(zip(exp["doc_id"], zip(exp["repo"], exp["path"])))
        self.pool = list(exp["doc_id"])  # original ids not changed/deleted
        self.deleted: set = set()

    def shape(self) -> str:
        sz = self.ctx.sizes
        k = self.n_reads
        return (f"add {sz['add_new']} new + {sz['add_changed']} changed"
                f" docs, {k} ranked, delete {sz['delete_n']} ids, {k}"
                f" ranked, 1 solr, 1 batch({len(SHAPES)})")

    def take(self, k: int) -> list[int]:
        idx = self.ctx.rng.choice(len(self.pool), size=k, replace=False)
        return [int(self.pool.pop(i)) for i in sorted(idx, reverse=True)]

    def searcher(self):
        s = self.conn._searcher  # the searcher add()/delete() reopened
        if getattr(s, "_wand_acc", None) is None:
            _wand(s, self.loop)
        return s

    def _no_deleted(self, what: str, ids) -> str | None:
        if self.deleted & set(ids):
            return f"{what}: deleted id returned"
        return None

    def add(self, r: int) -> None:
        sz = self.ctx.sizes
        conn = self.conn
        new = self.texts(sz["add_new"] + sz["add_changed"])
        keys = [(f"upd{r}", f"new/file_{j}.py")
                for j in range(sz["add_new"])]
        keys += [self.key_of[i] for i in self.take(sz["add_changed"])]
        batch = [{"repo": k[0], "path": k[1], "lang": "en", "content": c}
                 for k, c in zip(keys, new)]
        want = {"added": sz["add_new"], "changed": sz["add_changed"],
                "skipped": 0}

        def check(res):
            if res != want:
                return f"{res} != {want}"
            for d in (batch[0], batch[-1]):
                got = conn.get(d["repo"], d["path"])
                sha = hashlib.sha256(d["content"].encode()).hexdigest()
                if got is None or got["content_sha256"] != sha:
                    return f"get{(d['repo'], d['path'])} does not see it"
            return None

        res, _ = self.loop.run("add", lambda: conn.add(batch), check)
        if res is not None:
            for d in batch:
                self.live[(d["repo"], d["path"])] = {
                    "content": d["content"], "lang": "en"}

    def delete(self) -> None:
        ids = self.take(self.ctx.sizes["delete_n"])
        _, op = self.loop.run("delete", lambda: self.conn.delete(id=ids))
        if op.ok:
            self.deleted.update(ids)
            for i in ids:
                self.live.pop(self.key_of[i])

    def reads(self, qs: list[str], after: str) -> None:
        for q in qs:
            _ranked_op(self.loop, self.searcher(), q,
                       lambda rows, q=q: self._no_deleted(
                           f"{q!r} after {after}", [r[0] for r in rows]))

    def cycle(self, r: int, pools: dict) -> None:
        """add, ranked reads, delete, ranked reads, 1 Solr facet request,
        1 batch of one query of each shape."""
        qs = [pools[t][r % len(pools[t])] for t in SHAPES]
        k = self.n_reads
        self.add(r)
        self.reads(qs[:k], "add")
        self.delete()
        self.reads(qs[3:3 + k], "delete")
        _solr_op(self.loop, self.conn, qs[0], {"facet_field": "lang"},
                 lambda res: self._no_deleted(
                     "after delete", [d["doc_id"] for d in res.docs]))
        _batch_op(self.loop, self.searcher(), qs,
                  lambda got: self._no_deleted(
                      "after delete", [row[0] for rows in got
                                       for row in rows]))

    def compact(self, pools: dict) -> None:
        """``lifecycle.compact``, then check the compacted index."""
        from zsolr import lifecycle

        _, op = self.loop.run("compact", lambda: lifecycle.compact(
            self.ctx.spark, self.cat))
        _check_after_compact(self.ctx, self.loop, op, self.cat, self.live,
                             self.deleted, pools)


def run_update(ctx: Context, loop: Loop) -> dict:
    """Write path on the fixture-like corpus: upserts and deletes, each
    followed by reads on the reopened searcher, then one compaction."""
    n = ctx.sizes["update_docs"]
    exp = gen.expected_corpus(gen.fixture_documents(ctx.rng, n))
    cat, info = _index(ctx, loop, exp, _stage(ctx, exp, "fixture"),
                       "build")
    pools = _pools(ctx.rng, gen.FIXTURE_VOCAB, 64)
    up = Updater(ctx, loop, cat, exp,
                 lambda k: gen.fixture_texts(ctx.rng, k))
    # warm-up: one untimed read of each class on the fresh index
    w = _Untimed(loop)
    _ranked_op(w, up.searcher(), pools["and"][0])
    _solr_op(w, up.conn, pools["term"][0], {"facet_field": "lang"})
    _batch_op(w, up.searcher(), [pools["or"][0], pools["not"][0]])
    ready = time.time()
    r, dirs = 0, None
    while True:
        up.cycle(r, pools)
        r += 1
        if dirs is None:
            dirs = _postings_dirs(cat)
        if time.time() - ready >= ctx.seconds:
            break
    up.compact(pools)
    return {**info, "setup_s": ready - ctx.t_start, "postings_dirs": dirs,
            "header": {"input": {
                "corpus": "fixture-like", "docs": n, "cycles": r,
                "cycle": up.shape() + "; compact at the end"}}}


def _check_after_compact(ctx, loop, op, cat, live, deleted, pools) -> None:
    """The live docs table equals the client's live corpus, deleted ids
    never come back, and ranked results match the oracle over it."""
    from oracle import OracleIndex
    from zsolr.search import Searcher

    docs = (cat.read(ctx.spark, "docs")
            .select("doc_id", "repo", "path", "lang", "content_sha256")
            .toPandas())
    if deleted & set(docs["doc_id"]):
        loop.wrong(op, "compact: deleted ids are back in the docs table")
    got = {(r.repo, r.path): r.content_sha256 for r in docs.itertuples()}
    want = {k: hashlib.sha256(v["content"].encode()).hexdigest()
            for k, v in live.items()}
    if got != want:
        loop.wrong(op, f"compact: live docs differ ({len(got)} vs"
                       f" {len(want)})")
        return
    rows = [{"doc_id": int(r.doc_id), "repo": r.repo, "lang": r.lang,
             "content": live[(r.repo, r.path)]["content"]}
            for r in docs.itertuples()]
    chk = QueryChecker(OracleIndex(rows))
    s = Searcher(ctx.spark, cat)
    for t in ("term", "and", "phrase", "lang"):
        q = pools[t][0]
        res = _rows(s.search(q, k=TOP_K))
        err = chk.ranked(q, [(d, sc) for d, _r, _p, _c, sc in res])
        if err:
            loop.wrong(op, "after compact: " + err)


def curate_documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Fixture-like docs with ~5% exact copies and ~5% near copies (one
    word changed) of earlier docs."""
    texts = gen.fixture_texts(rng, n)
    k = max(1, n // 20)
    at = rng.choice(np.arange(n // 2, n), size=2 * k, replace=False)
    for i in at[:k]:
        texts[int(i)] = texts[int(rng.integers(0, n // 2))]
    for i in at[k:]:
        words = texts[int(rng.integers(0, n // 2))].split()
        words[int(rng.integers(0, len(words)))] = "dup"
        texts[int(i)] = " ".join(words)
    return gen.frame(texts, rng)


def _curation(ctx: Context, loop: Loop, n: int):
    """A cached frame of ``n`` docs with planted duplicates; returns the
    curation operation (``ops.build_training_set(docs).count()``) and the
    check that the exact-dedup keepers equal pandas ``drop_duplicates``."""
    from pyspark import StorageLevel
    from zsolr import ops as zops

    pdf = curate_documents(ctx.rng, n)
    docs = ctx.spark.createDataFrame(pdf).persist(StorageLevel.MEMORY_ONLY)
    docs.count()

    def curate():
        tr = loop.tracer
        if tr is not None and tr.enabled:
            with tr.span("op.curate"):
                return zops.build_training_set(docs).count()
        return zops.build_training_set(docs).count()

    def check_keepers():
        keepers = {r[0] for r in zops.dedup_exact(docs).select("keeper")
                   .collect()}
        want = set(pdf.sort_values("doc_id")
                   .drop_duplicates("text")["doc_id"])
        if keepers != want:
            loop.wrong(None, f"curate: exact-dedup keepers differ"
                             f" ({len(keepers)} vs {len(want)})")

    return curate, check_keepers


def run_curate(ctx: Context, loop: Loop) -> dict:
    """``ops.build_training_set`` over fixture-like docs with planted
    exact and near duplicates."""
    n = ctx.sizes["curate_docs"]
    curate, check_keepers = _curation(ctx, loop, n)
    _Untimed(loop).run("warm", curate)
    ready = time.time()
    i = 0
    while True:
        loop.run("curate", curate, pair=True)
        i += 1
        if time.time() - ready >= ctx.seconds:
            break
    check_keepers()
    return {"setup_s": ready - ctx.t_start, "n_files": n,
            "header": {"input": {"docs": n, "curations": i}}}


RUNNERS = {"query": run_query, "build": run_build, "update": run_update,
           "curate": run_curate}


# ----------------------------------------------------------------- metrics --

def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _walk(spans):
    for s in spans:
        yield s
        yield from _walk(s.children)


def _named(op_or_spans, name: str, key: str | None = None) -> list:
    spans = op_or_spans.roots if isinstance(op_or_spans, Op) \
        else op_or_spans
    return [s for s in _walk(spans) if s.name == name
            and (key is None or s.key == key)]


def _phase(tr: Tracer, job) -> str:
    site = site_of(job.name)
    if site is None or site[0] != "search.py":
        return "other"
    fn, recv = tr.sites.get(site[1], ("", ""))
    if fn == "__init__":
        return "open"
    if "_term_stats" in recv:
        return "df_lookup"
    if recv == "sel" or "_fetch_by_ids" in recv:
        return "fetch"
    if recv == "agg":
        return "facet"
    return "kernel"


def _phase_sum(tr: Tracer, span, phase: str, what: str = "ms") -> float:
    jobs = [j for j in span.tree_jobs() if _phase(tr, j) == phase]
    if what == "ms":
        return sum(j.ms for j in jobs)
    return float(sum(j.stages[what] for j in jobs))


def e2e_metrics(info: dict, loop: Loop) -> dict:
    """The end-to-end metrics of the query, build and update workloads
    (``peak_rss_mb`` is added by run.py at exit)."""
    return {
        "setup_s": (info["setup_s"], "s"),
        "read_cpu_ms": (statistics.mean(
            o.cpu_ms for o in loop.ops if o.cls in READS), "ms"),
        "build_files_per_s": (info["n_files"] * 1000.0 / info["build_op"].ms,
                              "files/s"),
        "index_bytes_ratio": (info["index_bytes"] / info["content_bytes"],
                              "ratio"),
    }


def layer_metrics(loop: Loop, tr: Tracer, info: dict,
                  primary: str) -> dict:
    """Per-layer numbers from the traced operations (medians per call)."""
    traced = [o for o in loop.ops if o.traced]
    roots = [s for o in traced for s in o.roots]
    m = {k: 0.0 for k in LAYERS}

    assign = _named(roots, "docids.assign_doc_ids")
    m["docids.assign_ms"] = _median(s.wall_ms for s in assign)
    m["docids.jobs"] = _median(len(s.tree_jobs()) for s in assign)

    builds = _named(roots, "build.IndexBuilder.build")
    if builds:
        def per_build(f):
            return _median(f(b) for b in builds)
        m["build.tf_write_ms"] = per_build(lambda b: sum(
            s.wall_ms for s in _named([b], "catalog.write", "tfs")))
        m["build.postings_write_ms"] = per_build(lambda b: sum(
            s.wall_ms for s in _named([b], "catalog.write", "postings")))
        m["build.postings_shuffle_write_bytes"] = per_build(lambda b: sum(
            s.stage_sum("shuffleWriteBytes")
            for s in _named([b], "catalog.write", "postings")))
        m["build.spill_bytes"] = per_build(
            lambda b: b.stage_sum("memoryBytesSpilled")
            + b.stage_sum("diskBytesSpilled"))
        m["build.gc_ms"] = per_build(lambda b: b.stage_sum("jvmGcTime"))
        m["build.driver_ms"] = per_build(lambda b: b.driver_ms())
        m["build.jobs"] = per_build(lambda b: len(b.tree_jobs()))

    cat_spans = (_named(roots, "catalog.write")
                 + _named(roots, "catalog.commit_multi"))
    m["catalog.commit_ms"] = _median(s.driver_ms() for s in cat_spans)
    m["catalog.postings_dirs"] = float(info.get("postings_dirs") or 0)
    m["catalog.postings_bytes"] = float(info.get("postings_bytes") or 0)

    adds = _named(roots, "connection.SolrConnection.add")
    dels = _named(roots, "connection.SolrConnection.delete")
    m["lifecycle.add_ms"] = _median(s.wall_ms for s in adds)
    m["lifecycle.delete_ms"] = _median(s.wall_ms for s in dels)
    m["lifecycle.compact_ms"] = _median(
        s.wall_ms for s in _named(roots, "lifecycle.compact"))
    m["lifecycle.add_jobs"] = _median(len(s.tree_jobs()) for s in adds)
    m["lifecycle.delete_jobs"] = _median(len(s.tree_jobs()) for s in dels)
    m["lifecycle.stats_refresh_ms"] = _median(
        s.wall_ms for s in _named(roots, "lifecycle._refresh_stats"))
    m["lifecycle.add_driver_ms"] = _median(s.driver_ms() for s in adds)

    ranked = [o for o in traced if o.cls == "ranked"]
    rs = [s for o in ranked for s in o.roots
          if s.name == "search.Searcher.search"]
    if ranked:
        m["parse.plan_ms"] = _median(sum(
            s.wall_ms for s in _named(o, "parse.plan_query")) for o in ranked)
    if rs:
        m["search.query_ms"] = _median(s.wall_ms for s in rs)
        m["search.jobs_per_query"] = _median(len(s.tree_jobs()) for s in rs)
        m["search.driver_ms"] = _median(s.driver_ms() for s in rs)
        m["search.df_lookup_ms"] = _median(
            _phase_sum(tr, s, "df_lookup") for s in rs)
        m["search.fetch_ms"] = _median(_phase_sum(tr, s, "fetch")
                                       for s in rs)
        m["search.kernel_ms"] = _median(_phase_sum(tr, s, "kernel")
                                        for s in rs)
        m["search.kernel_task_ms"] = _median(
            _phase_sum(tr, s, "kernel", "executorRunTime") for s in rs)
        m["search.exchange_bytes"] = _median(
            _phase_sum(tr, s, "kernel", "shuffleWriteBytes") for s in rs)
    cand = sum(a[0].value for a in tr.wand)
    dec = sum(a[1].value for a in tr.wand)
    m["search.wand_skip_ratio"] = 1.0 - dec / cand if cand else 0.0
    bs = [s for o in traced if o.cls == "batch" for s in o.roots
          if s.name == "search.Searcher.search_batch"]
    m["search.batch_kernel_ms"] = _median(_phase_sum(tr, s, "kernel")
                                          for s in bs)
    m["search.batch_fetch_ms"] = _median(_phase_sum(tr, s, "fetch")
                                         for s in bs)
    m["search.batch_ms"] = _median(s.wall_ms for s in bs)
    m["search.open_ms"] = _median(
        s.wall_ms for s in _named(roots, "search.Searcher.__init__"))
    ss = [s for o in traced if o.cls == "solr" for s in o.roots
          if s.name == "connection.SolrConnection.search"]
    m["connection.request_ms"] = _median(s.wall_ms for s in ss)
    m["connection.jobs_per_request"] = _median(len(s.tree_jobs())
                                               for s in ss)
    facet = [s for s in ss if _phase_sum(tr, s, "facet") > 0]
    m["connection.facet_ms"] = _median(_phase_sum(tr, s, "facet")
                                       for s in facet)

    m.update(_ops_layer_metrics(loop))

    # every pair is one read run traced and untraced (Loop.run)
    pairs = [o for o in traced if o.twin is not None]
    m["trace.overhead_ms"] = _median(o.ms - o.twin.ms for o in pairs
                                     if o.cls == primary)
    window = sum(o.twin.ms for o in pairs)
    covered = sum(covered_ms([(s.t0, s.t1) for s in o.roots], o.t0, o.t1)
                  for o in pairs)
    m["trace.coverage_pct"] = 100.0 * covered / window if window else 0.0
    return {k: (v, LAYERS[k]) for k, v in m.items()}


def _ops_layer_metrics(loop: Loop) -> dict:
    cur = [o for o in loop.ops if o.traced and o.cls == "curate"]
    tops = [s for o in cur for s in o.roots if s.name == "op.curate"]
    dc = _named(tops, "ops.dedup_components")
    return {
        "ops.minhash_lsh_pairs_ms": _median(
            sum(s.wall_ms for s in _named([t], "ops.minhash_lsh_pairs"))
            for t in tops),
        "ops.dedup_components_ms": _median(
            sum(s.wall_ms for s in _named([t], "ops.dedup_components"))
            for t in tops),
        "ops.dedup_components_jobs": _median(
            len(s.tree_jobs()) for s in dc),
        "ops.curate_task_ms": _median(t.stage_sum("executorRunTime")
                                      for t in tops),
        "ops.curate_shuffle_write_bytes": _median(
            t.stage_sum("shuffleWriteBytes") for t in tops),
    }


# --------------------------------------------------------------------- run --

def run(workload: str, ctx: Context) -> Result:
    ctx.mark("spark_ready")
    tr = _setup_tracer(ctx)
    loop = Loop(tr)
    try:
        info = RUNNERS[workload](ctx, loop)
    finally:
        if tr is not None:
            tr.unwrap_all()
    classes = dict.fromkeys(o.cls for o in loop.ops)
    reads = [o.ms for o in loop.ops if o.cls in READS]
    header = {"input": info["header"]["input"], "setup_marks": ctx.marks,
              "read_ms_median": round(_median(reads), 1),
              "op_ms": {c: [round(x, 1) for x in loop.ms(c)]
                        for c in classes},
              "op_cpu_ms": {c: [round(o.cpu_ms) for o in loop.ops
                                if o.cls == c] for c in classes}}
    # the class trace.overhead_ms compares traced and untraced
    primary = "curate" if workload == "curate" else "ranked"
    if tr is None:
        if workload == "curate":
            metrics = {
                "setup_s": (info["setup_s"], "s"),
                "curate_docs_per_s": (info["n_files"] * 1000.0
                                      / _median(loop.ms("curate")),
                                      "docs/s"),
            }
        else:
            metrics = e2e_metrics(info, loop)
        return Result(metrics, len(loop.ops), loop.failed, loop.errors,
                      header)
    metrics = layer_metrics(loop, tr, info, primary)
    if tr.missing:
        header["missing_entry_points"] = tr.missing
    return Result(metrics, len(loop.ops), loop.failed, loop.errors, header,
                  spans=tr.records(ctx.t_start),
                  self_times=tr.self_time_by_name())
