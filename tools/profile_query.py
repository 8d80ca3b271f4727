"""Query-path phase profiler (guide §1).  Builds the bench index once,
then times, for a few representative queries: the planning lookups, the
kernel wave alone (collect of candidate rows), the doc fetch alone, and
the full search() — each best-of-N so the per-phase split is visible.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_CPUS=32 \
        python tools/profile_query.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from zsolr.build import BuildConfig, IndexBuilder  # noqa: E402
from zsolr.catalog import ManifestParquetCatalog  # noqa: E402
from zsolr.corpus import synth_corpus  # noqa: E402
from zsolr.search import Searcher, plan_query  # noqa: E402
from zsolr.session import get_spark  # noqa: E402


def best_of(fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    replicate = int(os.environ.get("ZSOLR_BENCH_REPLICATE", "10"))
    spark = get_spark("zsolr-profile-query", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)
    sc = spark.sparkContext
    root = tempfile.mkdtemp(prefix="zsolr-profile-q-")
    out: dict = {}
    try:
        corpus_path = os.path.join(root, "corpus_input")
        synth_corpus(spark, sf_dir, replicate=replicate).write.mode(
            "overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)
        corpus.count()
        cat = ManifestParquetCatalog(root)
        IndexBuilder(cat, BuildConfig(n_buckets=max(32, cpus))).build(
            spark, corpus_path, corpus_df=corpus)
        s = Searcher(spark, cat)

        out["empty_job_ms"] = round(best_of(
            lambda: spark.range(1).collect(), 5) * 1000, 1)
        out["tiny_pandas_df_ms"] = round(best_of(
            lambda: spark.createDataFrame(
                [(1, "a")], "a long, b string").collect(), 5) * 1000, 1)

        for q in ["spark", "hash AND join", "stream OR batch"]:
            key = q.replace(" ", "_")
            # warm planner caches (df lookups)
            s.search(q, k=10).collect()

            sc.setJobDescription(f"profile kernel: {q}")
            spec = s._plan_spec(plan_query(q))

            def kernel_only():
                with s._no_aqe():
                    return s._candidates([spec], 10, wand=True).collect()

            rows = kernel_only()
            ids = sorted(r["doc_id"] for r in rows if r["doc_id"] >= 0)[:10]
            out[f"{key}__kernel_ms"] = round(best_of(kernel_only) * 1000, 1)
            sc.setJobDescription(f"profile fetch: {q}")
            out[f"{key}__fetch_ms"] = round(best_of(
                lambda: s._fetch_by_ids(ids).select(
                    "doc_id", "repo", "path", "commit").collect()) * 1000, 1)
            sc.setJobDescription(f"profile full: {q}")
            out[f"{key}__full_ms"] = round(best_of(
                lambda: s.search(q, k=10).collect()) * 1000, 1)
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
