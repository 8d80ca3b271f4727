"""Every engine function handed to Spark's Python runners goes through
``zsolr.session.worker_task``, which sheds the cached zip importers of
Spark's own archives at task entry so the next task's
``importlib.invalidate_caches()`` has no central directory to re-read."""

import ast
import inspect
import os
import sys
import zipfile
import zipimport

ZSOLR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "zsolr")

# DataFrame / GroupedData / PandasCogroupedOps methods that run their first
# argument in a Python worker
RUNNER_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas",
                  "applyInArrow", "applyInPandasWithState"}


def _is_helper(node) -> bool:
    return isinstance(node, ast.Name) and node.id == "worker_task"


def _is_pandas_udf(node) -> bool:
    if isinstance(node, ast.Call):
        node = node.func
    return isinstance(node, ast.Name) and node.id == "pandas_udf"


def test_every_runner_function_goes_through_worker_task():
    """AST check over zsolr/: the function argument of every runner call
    is a ``worker_task(...)`` call, and every ``@pandas_udf`` function is
    decorated with ``@worker_task`` right below it."""
    sites, bad = 0, []
    for name in sorted(os.listdir(ZSOLR)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(ZSOLR, name)) as fh:
            tree = ast.parse(fh.read(), name)
        for node in ast.walk(tree):
            where = f"{name}:{getattr(node, 'lineno', '?')}"
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in RUNNER_METHODS):
                sites += 1
                arg = node.args[0] if node.args else None
                if not (isinstance(arg, ast.Call) and _is_helper(arg.func)):
                    bad.append(f"{where} {node.func.attr}")
            elif isinstance(node, ast.FunctionDef):
                decs = node.decorator_list
                for i, d in enumerate(decs):
                    if _is_pandas_udf(d):
                        sites += 1
                        if not (i + 1 < len(decs) and _is_helper(decs[i + 1])):
                            bad.append(f"{where} @pandas_udf {node.name}")
    assert sites >= 13, sites        # the engine's runner call sites
    assert not bad, bad


def test_wrapper_keeps_arity_and_type_hints():
    """Spark picks the grouped-map call shape (key or not) from
    getfullargspec and a pandas_udf eval type from the type hints."""
    import pandas as pd

    from zsolr.session import worker_task

    def grouped(key, pdf):
        return pdf

    def scalar(s: pd.Series) -> pd.Series:
        return s

    assert inspect.getfullargspec(worker_task(grouped)).args == \
        ["key", "pdf"]
    spec = inspect.getfullargspec(worker_task(scalar))
    assert spec.args == ["s"]
    assert spec.annotations == {"s": pd.Series, "return": pd.Series}


def test_shed_keeps_spark_files_archives(tmp_path, monkeypatch):
    """Only archives under the SparkFiles root (``--py-files`` /
    ``addPyFile``) keep their importer; a sibling directory sharing the
    root's name as a prefix does not count as under it.  Outside a
    Python worker the wrapper touches nothing."""
    from pyspark import SparkFiles

    from zsolr.session import worker_task

    root = tmp_path / "files"
    paths = {}
    for key, rel in (("shipped", "files/dep.zip"),
                     ("sibling", "files-old/dep.zip"),
                     ("spark", "lib/pyspark.zip")):
        p = tmp_path / rel
        p.parent.mkdir(exist_ok=True)
        with zipfile.ZipFile(p, "w") as z:
            z.writestr("m.py", "")
        paths[key] = str(p)
    cache = {p: zipimport.zipimporter(p) for p in paths.values()}
    cache[str(tmp_path)] = None
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    seen = worker_task(lambda: sorted(sys.path_importer_cache))

    assert seen() == sorted(cache)                 # driver: no-op
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    assert seen() == sorted([paths["shipped"], str(tmp_path)])


def test_worker_tasks_find_no_spark_zip_importers(spark):
    """Single-partition jobs of a wrapped UDF: once a worker has run a
    wrapped task, its next tasks find no importer for Spark's archives in
    the cache at entry (so PySpark's per-task invalidate_caches() had
    none to re-read), and a pyspark submodule no earlier task loaded
    still imports after the shed."""
    import pyarrow as pa

    from zsolr.session import worker_task

    def spark_zips():
        from pyspark import SparkFiles

        keep = os.path.join(SparkFiles.getRootDirectory(), "")
        return sorted(p for p, f in sys.path_importer_cache.items()
                      if isinstance(f, zipimport.zipimporter)
                      and not f.archive.startswith(keep))

    def body(batches, entry, load):
        for _ in batches:
            pass
        fresh = loaded = None
        if load:
            fresh = "pyspark.ml.linalg" not in sys.modules
            from pyspark.ml.linalg import DenseVector

            loaded = float(DenseVector([1.0, 2.0]).dot(DenseVector([3.0,
                                                                    4.0])))
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "entry": entry, "after": spark_zips(),
            "fresh": fresh, "loaded": loaded}])

    def run(load):
        def probe(batches):
            # not wrapped itself: records the cache as the task found it,
            # then enters the wrapped body
            return worker_task(body)(batches, spark_zips(), load)

        (row,) = (spark.range(1, numPartitions=1)
                  .mapInArrow(probe, "pid long, entry array<string>,"
                              " after array<string>, fresh boolean,"
                              " loaded double")
                  .collect())
        return row

    # idle workers are handed out in turn: run until one worker has been
    # given three tasks
    visits: dict = {}
    for _ in range(40):
        row = run(load=False)
        visits.setdefault(row["pid"], []).append(row)
        if len(visits[row["pid"]]) == 3:
            break
    third = visits[row["pid"]]
    assert len(third) == 3, {p: len(v) for p, v in visits.items()}
    assert third[-1]["entry"] == []
    assert all(r["after"] == [] for v in visits.values() for r in v)

    row = run(load=True)
    assert row["fresh"] is True
    assert row["loaded"] == 11.0
