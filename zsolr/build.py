"""Index build pipeline (SURVEY.md §2.1 I5-I8, I11, I12; lifecycle E1').

zeit.solr's update path (converter → ``SolrConnection.update_raw`` → Lucene
segment write → commit) becomes:

  corpus scan → docID assign (I2) → convert+sha (I3, codegen) → tokenize
  (I4) → explode + hash-agg tf/doclen (I5, shuffle #1 with map-side partial
  agg) → hot-term salt plan (I11) → groupBy(term, salt) Arrow kernel encoding
  delta+varint/bitpack blocks (I6) → bucket-layout shuffle of the ~100×
  smaller compressed blocks (I7 — Spark's sort shuffle IS the external
  merge; salted sub-lists cover disjoint docID ranges so the merge is block
  concatenation) → atomic catalog commit + per-stage lineage manifest (I8).

Resumability (I12): the tf table is checkpointed to the catalog; postings
are built in ``resume_groups`` bucket groups, each committed with its own
manifest row keyed by ``(stage, partition_id, input_fingerprint)``.  A
re-run with the same fingerprint anti-joins completed groups and only
rebuilds pending ones.

Scale notes (north_rule: 10^12 files, explicit partitioning/shuffle/skew):
* the only O(corpus) shuffles are the tf hash-agg and the (term, salt)
  group — both key-partitioned, both with bounded per-task state;
* hot terms (df above ``hot_df_threshold``, i.e. stop-word-class terms with
  ~10^11 postings at full scale) are salted by contiguous docID range
  (``doc_id // salt_width``) so no single task ever materializes more than
  ``~hot_df_threshold`` postings, and sub-lists stay globally mergeable;
* everything between Arrow kernels is whole-stage-codegen built-ins.
"""

from __future__ import annotations

import hashlib
import os
import time
import zlib
from dataclasses import dataclass, field
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from . import BLOCK_SIZE, codec
from .analyze import tokenize_arrow, tokenize_codegen
from .catalog import ManifestParquetCatalog
from .corpus import read_corpus
from .docids import assign_doc_ids

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("bucket", IntegerType()),
    StructField("first_doc", LongType()),
    StructField("last_doc", LongType()),
    StructField("n_docs", IntegerType()),
    StructField("doc_gaps", BinaryType()),
    StructField("tfs", BinaryType()),
    # token positions, delta-encoded per doc then concatenated per block
    # (PhraseQuery support; per-doc counts recovered from tfs at decode)
    StructField("positions", BinaryType()),
    StructField("block_max_tf", IntegerType()),
])

# metadata fields indexed as zero-scored "field terms" (`lang=en`) so Solr
# fq-style filters are posting intersections — no doc-store access at query
# time.  '=' can't appear in analyzed tokens, so namespaces never collide.
FIELD_TERMS = ("lang", "repo")

# per-doc lengths ride as ONE sidecar posting list (tf := doc_len) — the
# Lucene norms design: stored once per doc, routed/salted/encoded exactly
# like any hot term, decoded per shard at query time.  '\x00' can't appear
# in analyzed tokens.
NORMS_TERM = "\x00norms"


# -- multi-field scored schema (edismax qf support, SURVEY §2 Q44) -----------
# A second ANALYZED+SCORED field (Lucene per-field terms + per-field norms):
# its tokens are namespaced with '\x01' (impossible in analyzed output, and
# distinct from the '=' metadata namespace), and its doc lengths ride in a
# per-field norms sidecar — so BM25 over field f uses (tf_f, dl_f, avgdl_f)
# exactly as Lucene scores multi-field documents.  'content' stays the
# default unnamespaced field so single-field indexes are byte-identical to
# every prior round.
def scored_term(field: str, tok: str) -> str:
    """Index term key for an analyzed token of a scored field."""
    return tok if field == "content" else f"\x01{field}\x01{tok}"


def field_norms_term(field: str) -> str:
    """Norms-sidecar term key for a scored field.

    NOT ``\\x00norms\\x01{field}``: pandas' object-dtype groupby hashes
    strings as NUL-terminated C strings (khash), so every key starting
    with ``\\x00`` collides with the content sidecar inside the kernel's
    ``blocks.groupby("term")``.  Putting the field namespace BEFORE the
    NUL gives each sidecar a unique C-string prefix (``\\x01path\\x01``),
    distinct from every analyzed path token and from the content sidecar
    (whose C-string form is empty)."""
    return NORMS_TERM if field == "content" else f"\x01{field}\x01\x00norms"


def term_scored_field(term: str) -> str:
    """Inverse of :func:`scored_term` — which field a term key belongs to."""
    if term.startswith("\x01"):
        return term[1:].split("\x01", 1)[0]
    return "content"

MANIFEST_SCHEMA = StructType([
    StructField("build_id", StringType()),
    StructField("stage", StringType()),
    StructField("partition_id", IntegerType()),
    StructField("input_fingerprint", StringType()),
    StructField("rows", LongType()),
    StructField("bytes", LongType()),
    StructField("wall_ms", LongType()),
    StructField("status", StringType()),
])


def compute_shard_width(n_docs: int, parallelism: int) -> int:
    """Canonical docID shard width: ~2 shards/core for parallelism, floored
    at 64k docs (task overhead) and capped at 8M docs (bounded per-task
    decoded-posting state).  Computed once at BUILD time from the corpus
    size, persisted in index_stats, and adopted by the Searcher — posting
    blocks are split at these boundaries so query-time block→shard routing
    is exactly 1:1 (no sparse-term block replication)."""
    natural = -(-n_docs // max(1, parallelism * 2))
    return min(max(65_536, natural), 8_000_000)


def term_bucket(term: str, n_buckets: int) -> int:
    """Driver-side twin of the Spark ``crc32(term) % n_buckets`` expression —
    the query planner computes buckets for query terms without a Spark job."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def corpus_to_tokd(with_ids: DataFrame, tokenizer: str = "codegen",
                   scored_fields: tuple = ("content",)) -> DataFrame:
    """corpus+doc_id → (doc_id, meta, content_sha256, toks, doc_len).
    A typed ``ts`` date column (optional — legacy corpora lack it) rides
    into the doc store so date-range filters hit a real timestamp with
    parquet min/max pushdown.

    Extra ``scored_fields`` beyond ``content`` (e.g. ``path`` — the
    edismax ``qf=path^2 content`` schema) are analyzed with the SAME
    normative tokenizer and carried as ``{f}_toks`` / ``{f}_len``
    columns; ``tokd_to_tf`` turns them into namespaced per-field terms
    plus a per-field norms sidecar."""
    tok = tokenize_arrow if tokenizer == "arrow" else tokenize_codegen
    meta = ["doc_id", "repo", "path", "commit", "lang"]
    if "ts" in with_ids.columns:
        meta.append("ts")
    out = with_ids.select(
        *meta,
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        tok(F.col("content")).alias("toks"),
    ).withColumn("doc_len", F.size("toks").cast("long"))
    for fld in scored_fields:
        if fld == "content":
            continue
        out = (out.withColumn(f"{fld}_toks", tok(F.col(fld)))
               .withColumn(f"{fld}_len",
                           F.size(f"{fld}_toks").cast("long")))
    return out


def _doc_tf_mapper(positions: bool):
    """Per-doc (term, tf, positions) extraction as a vectorized Arrow
    kernel.  Every ``(term, doc_id)`` group lives entirely inside ONE
    document row, so the classic ``explode → groupBy(term, doc_id)``
    plan shuffles O(tokens) rows for an aggregation that is local by
    construction (guide §2.4).  This mapper computes the same rows with
    zero exchange: factorize the batch's tokens, one stable lexsort by
    (doc, term) — which keeps in-doc token order, so positions come out
    ascending exactly like the old ``sort_array(collect_list(pos))`` —
    then run-length boundaries give tf and the positions list offsets."""

    def tf_batches(batches):
        import pyarrow as pa

        empty = pa.RecordBatch.from_arrays(
            [pa.array([], pa.string()), pa.array([], pa.int64()),
             pa.array([], pa.int64()),
             pa.ListArray.from_arrays(pa.array([0], pa.int32()),
                                      pa.array([], pa.int32()))],
            names=["term", "doc_id", "tf", "positions"])
        for batch in batches:
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            la = batch.column("toks")
            if isinstance(la, pa.ChunkedArray):
                la = la.combine_chunks()
            flat = la.flatten()
            n = len(flat)
            if n == 0:
                yield empty
                continue
            offs = np.asarray(la.offsets) - la.offsets[0].as_py()
            counts = np.diff(offs)
            docidx = np.repeat(np.arange(len(doc_ids)), counts)
            pos_in_doc = (np.arange(n, dtype=np.int64)
                          - offs[docidx]).astype(np.int32)
            codes, uniques = pd.factorize(
                flat.to_numpy(zero_copy_only=False), sort=False)
            order = np.lexsort((codes, docidx))  # stable: in-doc order kept
            sd, st = docidx[order], codes[order]
            boundary = np.empty(n, dtype=bool)
            boundary[0] = True
            np.not_equal(sd[1:], sd[:-1], out=boundary[1:])
            boundary[1:] |= st[1:] != st[:-1]
            starts = np.nonzero(boundary)[0]
            lens = np.diff(np.append(starts, n))
            term_pa = pa.compute.take(pa.array(uniques, pa.string()),
                                      pa.array(st[starts], pa.int64()))
            if positions:
                pos_list = pa.ListArray.from_arrays(
                    pa.array(np.append(starts, n).astype(np.int32),
                             pa.int32()),
                    pa.array(pos_in_doc[order], pa.int32()))
            else:
                pos_list = pa.ListArray.from_arrays(
                    pa.array(np.zeros(len(starts) + 1, dtype=np.int32),
                             pa.int32()),
                    pa.array([], pa.int32()))
            yield pa.RecordBatch.from_arrays(
                [term_pa,
                 pa.array(doc_ids[sd[starts]], pa.int64()),
                 pa.array(lens, pa.int64()),
                 pos_list],
                names=["term", "doc_id", "tf", "positions"])

    return tf_batches


def tokd_to_tf(tokd: DataFrame, n_buckets: int,
               positions: bool = True,
               scored_fields: tuple = ("content",)) -> DataFrame:
    """tokd → tf(term, doc_id, tf, positions, bucket): analyzed tokens
    (with in-doc token positions for PhraseQuery) + zero-scored field terms
    + the norms sidecar (tf := doc_len; no positions).

    The per-doc aggregation runs as a shuffle-free Arrow kernel (see
    :func:`_doc_tf_mapper`) — the old ``explode → groupBy(term, doc_id)``
    exchanged every (term, doc) row for an aggregation whose groups never
    cross document rows.

    ``positions=False`` is the Lucene ``IndexOptions.DOCS_AND_FREQS``
    tier: the per-token position payload is skipped entirely; phrase
    queries against such an index raise UnsupportedQuery."""
    empty_pos = F.array().cast("array<int>")
    tok_tf = tokd.select("doc_id", "toks").mapInArrow(
        _doc_tf_mapper(positions),
        "term string, doc_id long, tf long, positions array<int>")
    extra = tokd.select(F.lit(NORMS_TERM).alias("term"), "doc_id",
                        F.col("doc_len").alias("tf"),
                        empty_pos.alias("positions"))
    for fld in FIELD_TERMS:
        # a NULL field value means the doc simply has no field term
        # (concat would otherwise poison the postings with a NULL term);
        # such docs are countable via facet.missing, never via lang=…
        part = (tokd.filter(F.col(fld).isNotNull())
                .select(F.concat(F.lit(f"{fld}="), F.col(fld)).alias("term"),
                        "doc_id", F.lit(1).cast("long").alias("tf"),
                        empty_pos.alias("positions")))
        extra = extra.unionByName(part)
    for fld in scored_fields:
        # extra ANALYZED+SCORED fields (edismax qf): namespaced per-field
        # terms + a per-field norms sidecar, so field-f BM25 sees
        # (tf_f, dl_f).  Short fields (path ≈ 4 tokens/doc) add a few
        # per-doc rows to the tf shuffle — negligible next to content.
        if fld == "content":
            continue
        pfx = scored_term(fld, "")
        fpart = (
            tokd.select("doc_id", F.col(f"{fld}_toks").alias("toks"))
            .mapInArrow(_doc_tf_mapper(positions),
                        "term string, doc_id long, tf long,"
                        " positions array<int>")
            .select(F.concat(F.lit(pfx), F.col("term")).alias("term"),
                    "doc_id", "tf", "positions"))
        fnorms = tokd.select(
            F.lit(field_norms_term(fld)).alias("term"), "doc_id",
            F.col(f"{fld}_len").alias("tf"), empty_pos.alias("positions"))
        extra = extra.unionByName(fpart).unionByName(fnorms)
    return tok_tf.unionByName(extra).withColumn(
        "bucket", F.pmod(F.crc32(F.col("term")), F.lit(n_buckets)).cast("int"))


@dataclass
class BuildConfig:
    n_buckets: int = 32
    block_size: int = BLOCK_SIZE
    codec: int = codec.CODEC_VARINT
    tokenizer: str = "codegen"          # "codegen" | "arrow"
    hot_df_threshold: int = 1_000_000   # df above which a term is salted
    hot_quantile: float = 0.999         # quantile probe for adaptive threshold
    resume_groups: int = 1              # posting bucket groups per commit
    doc_id_partitions: int | None = None
    shard_width: int | None = None      # None = compute_shard_width(n, par)
    positions: bool = True              # Lucene IndexOptions: DOCS_AND_FREQS
    #                                     (False) vs ..._AND_POSITIONS (True)
    scored_fields: tuple = ("content",)  # analyzed+BM25-scored fields (the
    #                                      Solr schema's indexed text fields);
    #                                      add "path" for edismax qf support
    fail_after_group: int | None = None  # test hook: simulate mid-build kill

    def fingerprint(self, corpus_location: str) -> str:
        # resume_groups is part of the key: resuming under a different
        # group count would remap committed group ids to different bucket
        # sets and silently skip never-encoded buckets (round-1 advice)
        extra = ("" if tuple(self.scored_fields) == ("content",)
                 else f"|sf={','.join(self.scored_fields)}")
        key = (f"{corpus_location}|nb={self.n_buckets}|bs={self.block_size}"
               f"|codec={self.codec}|tok={self.tokenizer}{extra}"
               f"|rg={self.resume_groups}|sw={self.shard_width}"
               f"|pos={int(self.positions)}")
        return hashlib.sha256(key.encode()).hexdigest()[:16]


@dataclass
class BuildResult:
    build_id: str
    fingerprint: str
    n_docs: int
    avgdl: float
    stages: dict = field(default_factory=dict)
    resumed_stages: list = field(default_factory=list)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class IndexBuilder:
    """Builds the inverted index into a catalog (tables: docs, tfs,
    postings, term_stats, index_stats, manifest, tombstones)."""

    def __init__(self, cat: ManifestParquetCatalog, cfg: BuildConfig | None = None):
        self.cat = cat
        self.cfg = cfg or BuildConfig()

    # ----------------------------------------------------------- manifest --
    def _manifest_append(self, spark: SparkSession, rows: list[tuple]):
        import pyarrow as pa

        cols = list(zip(*rows))
        mode = "append" if self.cat.exists("manifest") else "overwrite"
        self.cat.write_small({
            "build_id": pa.array(cols[0], pa.string()),
            "stage": pa.array(cols[1], pa.string()),
            "partition_id": pa.array(cols[2], pa.int32()),
            "input_fingerprint": pa.array(cols[3], pa.string()),
            "rows": pa.array(cols[4], pa.int64()),
            "bytes": pa.array(cols[5], pa.int64()),
            "wall_ms": pa.array(cols[6], pa.int64()),
            "status": pa.array(cols[7], pa.string()),
        }, "manifest", mode=mode)

    def _completed(self, spark: SparkSession, fingerprint: str) -> dict[str, set[int]]:
        """stage → set of completed partition_ids for this fingerprint."""
        if not self.cat.exists("manifest"):
            return {}
        rows = (
            self.cat.read(spark, "manifest")
            .filter((F.col("input_fingerprint") == fingerprint)
                    & (F.col("status") == "committed"))
            .select("stage", "partition_id")
            .collect()
        )
        out: dict[str, set[int]] = {}
        for r in rows:
            out.setdefault(r["stage"], set()).add(r["partition_id"])
        return out

    # -------------------------------------------------------------- stages --
    def _stage_docs_tfs(self, spark: SparkSession, corpus: DataFrame,
                        build_id: str, fp: str, result: BuildResult):
        cfg = self.cfg
        t0 = time.time()
        with_ids = assign_doc_ids(corpus, cfg.doc_id_partitions)
        # I5 — (term, doc_id) → tf.  explode + partial/final hash agg;
        # doc_len rides along so norms land inside posting blocks (no
        # doc-store access at query time — Lucene-norms design), and
        # zero-scored field terms (`lang=en`) make metadata filters pure
        # posting intersections.
        tokd = corpus_to_tokd(with_ids, cfg.tokenizer,
                              scored_fields=cfg.scored_fields)
        tf = tokd_to_tf(tokd, cfg.n_buckets, positions=cfg.positions,
                        scored_fields=cfg.scored_fields)
        self.cat.write(tf, "tfs", mode="overwrite")
        docs = tokd.drop("toks", *[f"{f}_toks" for f in cfg.scored_fields
                                   if f != "content"])
        self.cat.write(docs, "docs", mode="overwrite")
        spark.catalog.clearCache()  # drop the docID range-partition cache
        wall = int((time.time() - t0) * 1000)
        n_rows = self.cat.row_count("docs")
        self._manifest_append(spark, [
            (build_id, "docs_tfs", 0, fp, n_rows, 0, wall, "committed"),
        ])
        result.stages["docs_tfs"] = {"rows": n_rows, "wall_ms": wall}

    def _salt_plan(self, spark: SparkSession, n_docs: int) -> tuple[dict[str, int], int]:
        """I11 — hot-term detection from term df stats.

        Returns (hot_term → n_salt_classes, salt_width).  Salt classes are
        contiguous docID ranges (``doc_id // salt_width``) so each hot
        sub-list owns a disjoint, ordered docID range (R6: concat-mergeable).
        Reads the already-committed term_stats table (tiny) — the tfs table
        is never re-scanned for planning."""
        cfg = self.cfg
        stats = self.cat.read(spark, "term_stats").select("term", "df")
        # the parallelism term keeps every (term, salt) group small enough
        # that no single encode task serializes a wave; the absolute
        # threshold caps per-task posting state at any scale.  Divisor
        # par*2: larger salt classes mean fewer (term, salt) rows through
        # the JVM pre-group and the Arrow boundary, while per-task state
        # stays ≤ n_docs/(2·par) postings — still a wave-balanced bound.
        # (The encode kernel itself runs whole-batch passes, so its cost
        # no longer depends on the group count.)  Salt classes are
        # block boundaries, so these parameters fix the postings bytes.
        # The 64k absolute ceiling bounds the collect_list buffer per
        # group (~a few MB of structs) independently of core count: at
        # low parallelism n_docs/(2·par) otherwise grows into
        # 10^5-posting groups whose aggregation buffers thrash the GC
        # (measured at local[4]/2M files).
        par = spark.sparkContext.defaultParallelism
        adaptive = min(max(4 * cfg.block_size, n_docs // max(1, par * 2)),
                       65_536)
        threshold = max(1, min(cfg.hot_df_threshold, adaptive))
        hot = {r["term"]: r["df"] for r in
               stats.filter(F.col("df") > threshold).collect()}
        if not hot:
            return {}, n_docs + 1
        max_df = max(hot.values())
        n_classes = max(2, -(-max_df // threshold))  # ceil
        salt_width = max(1, -(-n_docs // n_classes))
        plan = {t: -(-n_docs // salt_width) for t in hot}
        return plan, salt_width

    def _encode_mapper(self, align_width: int | None = None,
                       max_pass_postings: int = 1 << 20):
        """mapInArrow kernel over JVM-pre-grouped rows: one row per
        (term, salt) sub-list with a partition-sort-ordered
        ``collect_list(struct)`` payload.  Only ~|groups| rows cross the
        Arrow boundary (the per-row ``ArrowWriter.sizeInBytes`` walk made
        per-posting rows cost ~13 µs each — measured; grouping JVM-side
        removes it entirely).

        Each batch is encoded by :func:`codec.encode_segments` — a fixed
        number of whole-array passes, no per-group numpy calls — sliced at
        group boundaries so one pass sees at most ``max_pass_postings``
        postings and as many positions (a larger single group gets a pass
        of its own), which bounds per-task memory on any vocabulary.

        ``align_width``: docID shard width — block splits land on shard
        boundaries so no block ever spans one (1:1 query routing)."""
        cfg_block, cfg_codec = self.cfg.block_size, self.cfg.codec

        def encode_batches(batches):
            import pyarrow as pa

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                la = batch.column("postings")
                if isinstance(la, pa.ChunkedArray):
                    la = la.combine_chunks()
                flat = la.flatten()
                offs = np.asarray(la.offsets, dtype=np.int64)
                offs -= offs[0]
                d_all = flat.field("doc_id").to_numpy(zero_copy_only=False)
                t_all = flat.field("tf").to_numpy(zero_copy_only=False)
                pos_la = flat.field("positions")
                p_all = pos_la.flatten().to_numpy(zero_copy_only=False)
                p_offs = np.asarray(pos_la.offsets, dtype=np.int64)
                p_offs -= p_offs[0]
                for g0, g1 in _pass_bounds(offs, p_offs[offs],
                                           max_pass_postings):
                    s, e = offs[g0], offs[g1]
                    b = codec.encode_segments(
                        d_all[s:e], t_all[s:e], offs[g0:g1 + 1] - s,
                        p_all[p_offs[s]:p_offs[e]],
                        p_offs[s:e + 1] - p_offs[s],
                        block_size=cfg_block, codec=cfg_codec,
                        align_width=align_width)
                    rows = pa.array(b.group + g0)
                    yield pa.record_batch({
                        "term": batch.column("term").take(rows)
                        .cast(pa.string()),
                        "bucket": batch.column("bucket").take(rows)
                        .cast(pa.int32()),
                        "first_doc": pa.array(b.first_doc, pa.int64()),
                        "last_doc": pa.array(b.last_doc, pa.int64()),
                        "n_docs": pa.array(b.n_docs, pa.int32()),
                        "doc_gaps": pa.array(b.doc_gaps, pa.binary()),
                        "tfs": pa.array(b.tfs, pa.binary()),
                        "positions": pa.array(b.positions, pa.binary()),
                        "block_max_tf": pa.array(b.block_max_tf, pa.int32()),
                    })

        return encode_batches

    def _stage_postings(self, spark: SparkSession, build_id: str, fp: str,
                        n_docs: int, result: BuildResult,
                        completed: dict[str, set[int]],
                        align_width: int | None = None):
        cfg = self.cfg
        salt_plan, salt_width = self._salt_plan(spark, n_docs)
        hot_terms = sorted(salt_plan)
        groups = max(1, min(cfg.resume_groups, cfg.n_buckets))
        done = completed.get("postings", set())
        encode_batches = self._encode_mapper(align_width)
        first_write = not (self.cat.exists("postings") and done)
        for g in range(groups):
            if g in done:
                result.resumed_stages.append(("postings", g))
                continue
            t0 = time.time()
            tf = self.cat.read(spark, "tfs")
            if groups > 1:
                tf = tf.filter(F.pmod(F.col("bucket"), F.lit(groups)) == g)
            if hot_terms:
                tf = tf.withColumn(
                    "salt",
                    F.when(
                        F.col("term").isin(hot_terms),
                        (F.col("doc_id") / F.lit(salt_width)).cast("long"),
                    ).otherwise(F.lit(0)),
                )
            else:
                tf = tf.withColumn("salt", F.lit(0))
            # widen the pre-group shuffle well past the group count so heavy
            # (term, salt) groups don't collide into the same reducer, then
            # collect each sub-list into ONE array row JVM-side before the
            # Arrow boundary (see _encode_mapper)
            blocks = (
                grouped_postings(tf)
                .mapInArrow(encode_batches, POSTINGS_SCHEMA)
            )
            # layout shuffle of compressed blocks only: one hash partition
            # per bucket, term-clustered inside each file
            blocks = (
                blocks.repartition(cfg.n_buckets, "bucket")
                .sortWithinPartitions("term", "first_doc")
            )
            mode = "overwrite" if first_write else "append"
            first_write = False
            self.cat.write(blocks, "postings", mode=mode,
                           partition_by=["bucket"])
            wall = int((time.time() - t0) * 1000)
            snap = self.cat.current_snapshot("postings")
            nbytes = _dir_bytes(snap["data_dirs"][-1])
            nrows = self.cat.row_count("postings", last_dir_only=True)
            self._manifest_append(spark, [
                (build_id, "postings", g, fp, nrows, nbytes, wall, "committed"),
            ])
            result.stages[f"postings_g{g}"] = {
                "rows": nrows, "bytes": nbytes, "wall_ms": wall,
                "hot_terms": len(hot_terms), "salt_width": salt_width,
            }
            if cfg.fail_after_group is not None and g >= cfg.fail_after_group:
                raise RuntimeError(f"simulated kill after group {g}")

    def _stage_stats(self, spark: SparkSession, build_id: str, fp: str,
                     result: BuildResult):
        t0 = time.time()
        tf = self.cat.read(spark, "tfs")
        term_stats = tf.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.max("tf").alias("max_tf"),
        ).withColumn(
            "bucket",
            F.pmod(F.crc32(F.col("term")), F.lit(self.cfg.n_buckets)).cast("int"),
        )
        self.cat.write(term_stats, "term_stats", mode="overwrite")
        docs = self.cat.read(spark, "docs")
        extra_scored = [f for f in self.cfg.scored_fields if f != "content"]
        agg = docs.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("doc_len").alias("avgdl"),
            *[F.avg(f"{f}_len").alias(f"avgdl_{f}") for f in extra_scored],
        ).collect()[0]
        import pyarrow as pa

        width = self.cfg.shard_width or compute_shard_width(
            int(agg["n_docs"]), spark.sparkContext.defaultParallelism)
        stats_cols = {
            "n_docs": pa.array([int(agg["n_docs"])], pa.int64()),
            "avgdl": pa.array([float(agg["avgdl"] or 0.0)], pa.float64()),
            "n_buckets": pa.array([self.cfg.n_buckets], pa.int32()),
            "block_size": pa.array([self.cfg.block_size], pa.int32()),
            "codec": pa.array([self.cfg.codec], pa.int32()),
            "shard_width": pa.array([width], pa.int64()),
            "positions": pa.array([int(self.cfg.positions)], pa.int32()),
        }
        for f in extra_scored:
            # per-field avgdl (Lucene per-field similarity stats); absent
            # for single-field indexes, so legacy stats stay byte-identical
            stats_cols[f"avgdl_{f}"] = pa.array(
                [float(agg[f"avgdl_{f}"] or 0.0)], pa.float64())
        self.cat.write_small(stats_cols, "index_stats", mode="overwrite")
        wall = int((time.time() - t0) * 1000)
        self._manifest_append(spark, [
            (build_id, "stats", 0, fp, int(agg["n_docs"]), 0, wall, "committed"),
        ])
        result.n_docs = int(agg["n_docs"])
        result.avgdl = float(agg["avgdl"] or 0.0)
        return width

    # ----------------------------------------------------------------- run --
    def build(self, spark: SparkSession, corpus_location: str,
              corpus_df: DataFrame | None = None,
              build_id: str | None = None) -> BuildResult:
        """Full (or resumed) index build.  ``corpus_df`` overrides the scan
        for synthesized corpora; ``corpus_location`` still keys the
        fingerprint."""
        cfg = self.cfg
        fp = cfg.fingerprint(corpus_location)
        build_id = build_id or f"b{int(time.time() * 1000)}"
        result = BuildResult(build_id=build_id, fingerprint=fp,
                             n_docs=0, avgdl=0.0)
        completed = self._completed(spark, fp)
        corpus = corpus_df if corpus_df is not None else read_corpus(spark, corpus_location)

        if 0 in completed.get("docs_tfs", set()):
            result.resumed_stages.append(("docs_tfs", 0))
        else:
            self._stage_docs_tfs(spark, corpus, build_id, fp, result)

        # stats BEFORE postings: the salt plan (I11) reads the small
        # term_stats table instead of re-scanning tfs
        if 0 in completed.get("stats", set()):
            result.resumed_stages.append(("stats", 0))
            row = self.cat.read(spark, "index_stats").collect()[0]
            result.n_docs, result.avgdl = row["n_docs"], row["avgdl"]
            # resumed postings groups MUST keep the committed alignment —
            # a re-run at different parallelism would otherwise mix widths
            width = int(row["shard_width"])
        else:
            width = self._stage_stats(spark, build_id, fp, result)

        self._stage_postings(spark, build_id, fp, result.n_docs, result,
                             completed, align_width=width)
        return result


def _pass_bounds(offs: np.ndarray, pos_at: np.ndarray,
                 cap: int) -> list[tuple[int, int]]:
    """Greedy split of groups ``0..len(offs)-2`` into ``[g0, g1)`` runs
    holding ≤ ``cap`` postings and ≤ ``cap`` positions each (a single
    larger group forms its own run).  ``offs``/``pos_at``: posting and
    position offsets at each group boundary.  Loops per run, not per
    group."""
    bounds, g0, n_groups = [], 0, len(offs) - 1
    while g0 < n_groups:
        g1 = min(np.searchsorted(offs, offs[g0] + cap, "right"),
                 np.searchsorted(pos_at, pos_at[g0] + cap, "right")) - 1
        g1 = max(int(g1), g0 + 1)
        bounds.append((g0, g1))
        g0 = g1
    return bounds


def grouped_postings(tf: DataFrame,
                     num_partitions: int | None = None) -> DataFrame:
    """JVM-side pre-grouping for the encode kernel: one row per
    (term, salt) with the sub-list ordered by docID.  Ordering comes from
    a whole-stage-codegen partition sort BEFORE the aggregation instead
    of a per-group ``sort_array`` over struct arrays (the object
    comparator measured ~1.5× the codegen sort at bench scale);
    ``collect_list`` preserves the encounter order in practice, and the
    encode kernel VERIFIES per-group ascending docIDs and falls back to
    one stable lexsort if an engine ever reorders them — correctness never
    rests on the preservation detail.  Keeps per-posting rows out of the
    Arrow boundary — see _encode_mapper."""
    spark = tf.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 8
    return (tf.repartition(n, "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .groupBy("term", "salt").agg(
                F.collect_list(
                    F.struct("doc_id", "tf", "positions")).alias("postings"),
                F.first("bucket").alias("bucket")))
