"""Deterministic dense docID assignment (SURVEY.md §2.1 I2).

Solr/Lucene assign internal docIDs at segment-write time; rank-identity of
BM25 results across runs and cluster sizes (BASELINE.json north_rule)
requires OUR docIDs to be a pure function of the corpus, independent of
parallelism.  docID := global rank of the unique sort key
``(repo, path, commit)``.

Scalable pattern (no global single-partition window, no
``monotonically_increasing_id``):

  1. ``repartitionByRange`` on the key → partitions hold ordered,
     disjoint key ranges; ``sortWithinPartitions`` orders rows inside.
  2. ``mapInArrow`` tags each row with its ``(partition id, local
     position)`` — vectorized ``np.arange`` per Arrow batch — and THIS
     tagged frame is the one materialization (persist).
  3. One tiny job counts rows per partition off the cached frame; the
     driver prefix-sums the counts (P integers — O(partitions), not
     O(rows)); ``doc_id = offset[pid] + pos`` is then a pure codegen
     projection (``element_at`` over a P-element literal array).

Cost: one range shuffle + ONE cached materialization + one cheap counting
job.  Because the returned plan carries no ``TaskContext`` dependency
(doc_id is a column expression over the cached tags), downstream unions /
coalesced stages can never renumber it — the round-1 pid-renumbering trap
is closed by construction rather than by a second materialization, which
also halves the cache footprint.  At 10^12 files this is the standard
distributed dense-rank; the driver state stays O(partitions).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructType

from .session import worker_task

SORT_KEY = ["repo", "path", "commit"]


def assign_doc_ids(corpus: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """corpus → corpus + ``doc_id:long`` (dense 0..N-1, rank by sort key)."""
    spark = corpus.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2
    part = (
        corpus.repartitionByRange(num_partitions, *SORT_KEY)
        .sortWithinPartitions(*SORT_KEY)
    )

    tag_schema = (StructType(list(corpus.schema.fields))
                  .add("_pid", IntegerType(), False)
                  .add("_pos", LongType(), False))

    def tag(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        if pid >= num_partitions:
            # TaskContext.partitionId() is STAGE-relative: a recompute
            # fused into a union/coalesced stage would renumber pids and
            # silently corrupt ids — refuse instead (the cached frame is
            # the normal path; this only fires on a pathological
            # recompute of an evicted partition inside a fused stage)
            raise RuntimeError(
                f"docid tagging executed in a renumbered stage (pid={pid},"
                f" expected 0..{num_partitions - 1}): a consumer recomputed"
                " the lineage instead of reading the materialized result")
        base = 0
        for batch in batches:
            n = batch.num_rows
            yield (batch
                   .append_column("_pid", pa.array(
                       np.full(n, pid, dtype=np.int32), type=pa.int32()))
                   .append_column("_pos", pa.array(
                       np.arange(base, base + n, dtype=np.int64),
                       type=pa.int64())))
            base += n

    tagged = part.mapInArrow(worker_task(tag), tag_schema).persist(
        StorageLevel.MEMORY_AND_DISK)
    counts = tagged.groupBy("_pid").count().collect()
    by_pid = {r["_pid"]: r["count"] for r in counts}
    offsets, acc = [], 0
    for pid in range(num_partitions):
        offsets.append(acc)
        acc += by_pid.get(pid, 0)
    off_arr = F.array(*[F.lit(int(o)).cast("long") for o in offsets])
    return (tagged
            .withColumn("doc_id",
                        F.element_at(off_arr, F.col("_pid") + 1)
                        + F.col("_pos"))
            .drop("_pid", "_pos"))
