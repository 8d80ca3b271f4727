"""Catalog semantics: atomic commit, snapshot isolation, append, time
travel (SURVEY.md §1.2 — the Iceberg behaviors the engine relies on)."""

import time

from zsolr.catalog import ManifestParquetCatalog


def test_overwrite_append_and_time_travel(tmp_path, spark):
    cat = ManifestParquetCatalog(str(tmp_path))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s1 = cat.write(df1, "t", mode="overwrite")
    assert cat.read(spark, "t").count() == 2

    df2 = spark.createDataFrame([(3, "c")], "id long, v string")
    s2 = cat.write(df2, "t", mode="append")
    assert cat.read(spark, "t").count() == 3

    # time travel: the first snapshot still reads the old state
    assert cat.read(spark, "t", snapshot_id=s1).count() == 2
    assert cat.read(spark, "t", snapshot_id=s2).count() == 3

    # overwrite replaces; prior snapshots remain readable
    df3 = spark.createDataFrame([(9, "z")], "id long, v string")
    cat.write(df3, "t", mode="overwrite")
    assert cat.read(spark, "t").count() == 1
    assert cat.read(spark, "t", snapshot_id=s2).count() == 3


def test_snapshot_isolation_reader_pins_state(tmp_path, spark):
    cat = ManifestParquetCatalog(str(tmp_path))
    cat.write(spark.createDataFrame([(1,)], "id long"), "t")
    pinned = cat.read(spark, "t")  # resolves current snapshot's file list
    cat.write(spark.createDataFrame([(1,), (2,), (3,)], "id long"), "t",
              mode="overwrite")
    # the pinned reader still sees the old snapshot's single row
    assert pinned.count() == 1
    assert cat.read(spark, "t").count() == 3


def test_partitioned_write_prunes(tmp_path, spark):
    import io
    from contextlib import redirect_stdout

    cat = ManifestParquetCatalog(str(tmp_path))
    df = spark.createDataFrame([(i, i % 4) for i in range(100)],
                               "id long, bucket int")
    cat.write(df, "t", partition_by=["bucket"])
    out = cat.read(spark, "t").filter("bucket = 2")
    assert out.count() == 25
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "PartitionFilters: [isnotnull(bucket" in buf.getvalue()


def test_write_small_roundtrip(tmp_path, spark):
    import pyarrow as pa

    cat = ManifestParquetCatalog(str(tmp_path))
    cat.write_small({"a": pa.array([1, 2], pa.int64()),
                     "b": pa.array(["x", "y"], pa.string())}, "tiny")
    rows = {tuple(r) for r in cat.read(spark, "tiny").collect()}
    assert rows == {(1, "x"), (2, "y")}
    assert cat.row_count("tiny") == 2
    cat.write_small({"a": pa.array([3], pa.int64()),
                     "b": pa.array(["z"], pa.string())}, "tiny", mode="append")
    assert cat.row_count("tiny") == 3
    assert cat.row_count("tiny", last_dir_only=True) == 1


def test_commit_cas_and_concurrent_append(spark, tmp_path):
    """Optimistic concurrency: expected_parent turns commit into CAS;
    concurrent appends merge under the commit lock (no lost dirs)."""
    import threading

    import pytest as _pytest

    from zsolr.catalog import CommitConflict, ManifestParquetCatalog

    cat = ManifestParquetCatalog(str(tmp_path / "cas"))
    df = spark.range(3).selectExpr("id AS x")
    cat.write(df, "t", mode="overwrite")
    base = cat.current_snapshot("t")["snapshot_id"]
    cat.write(df, "t", mode="append")  # another writer advances the table
    with _pytest.raises(CommitConflict):
        cat.write(df, "t", mode="append", expected_parent=base)
    cur = cat.current_snapshot("t")["snapshot_id"]
    cat.write(df, "t", mode="append", expected_parent=cur)  # CAS succeeds
    assert cat.read(spark, "t").count() == 9

    errs = []

    def app():
        try:
            cat.write(df, "t", mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=app) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert cat.read(spark, "t").count() == 9 + 4 * 3


def test_expire_snapshots(spark, tmp_path):
    """GC parity: superseded snapshots' data dirs are deleted, the kept
    history still reads, and time travel to expired snapshots is gone."""
    import os

    from zsolr.catalog import ManifestParquetCatalog

    cat = ManifestParquetCatalog(str(tmp_path / "gc"))
    ids = []
    for i in range(4):
        df = spark.range(i + 1).selectExpr("id AS x")
        ids.append(cat.write(df, "t", mode="overwrite"))
    data_root = os.path.join(cat.root, "t", "data")
    assert len(os.listdir(data_root)) == 4
    stats = cat.expire_snapshots("t", keep_last=2)
    assert stats["expired"] == 2 and stats["dirs_deleted"] == 2
    assert cat.read(spark, "t").count() == 4          # current intact
    assert cat.read(spark, "t", snapshot_id=ids[2]).count() == 3  # kept
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        cat.read(spark, "t", snapshot_id=ids[0])       # expired


def test_expire_protects_inflight_staging_and_pointer(spark, tmp_path):
    """Round-2 advice: (a) a concurrent writer's staged-but-uncommitted
    data dir (referenced by NO snapshot) survives GC until it ages past
    the orphan grace; (b) the snapshot the _CURRENT pointer resolves to is
    always kept, even when snapshot-id sort order would expire it."""
    import os

    from zsolr.catalog import ManifestParquetCatalog

    cat = ManifestParquetCatalog(str(tmp_path / "gc2"))
    for i in range(3):
        cat.write(spark.range(i + 1).selectExpr("id AS x"), "t",
                  mode="overwrite")
    data_root = os.path.join(cat.root, "t", "data")
    # simulate write()'s pre-lock staging step: a fresh dir, no snapshot
    staged = os.path.join(data_root, "deadbeef0001")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "wb") as f:
        f.write(b"stub")
    stats = cat.expire_snapshots("t", keep_last=1)
    assert os.path.isdir(staged)            # young orphan: protected
    assert stats["dirs_deleted"] == 2       # superseded snapshot dirs: gone
    assert cat.read(spark, "t").count() == 3
    # aged past the grace → collected
    old = time.time() - 7200
    os.utime(staged, (old, old))
    stats = cat.expire_snapshots("t", keep_last=1)
    assert not os.path.isdir(staged) and stats["dirs_deleted"] == 1

    # (b) pointer pinning: point _CURRENT at an OLDER snapshot (rollback),
    # expire keeping only the newest-by-id — the pointed-at snapshot must
    # survive and still read
    ids = []
    for i in range(3):
        ids.append(cat.write(spark.range(10 + i).selectExpr("id AS x"),
                             "t", mode="overwrite"))
    with open(cat._pointer("t"), "w") as f:
        f.write(ids[0])                      # roll back to the oldest
    cat.expire_snapshots("t", keep_last=1)
    assert cat.read(spark, "t").count() == 10           # pointer intact
    assert cat.read(spark, "t", snapshot_id=ids[0]).count() == 10


def test_point_reader_match_filter(tmp_path):
    """``RowGroupPointReader.take(keys, match=(col, values))``, no Spark:
    a file written UNSORTED in 3-row row groups, so bucket ranges
    overlap across row groups — a wanted bucket spans several row
    groups, and only rows whose ``term`` is in ``values`` come back."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from zsolr.catalog import RowGroupPointReader

    rows = [(3, "c1"), (0, "a1"), (5, "e1"), (1, "b1"), (3, "c2"),
            (0, "a2"), (5, "e2"), (3, "c3"), (1, "b2"), (0, "a3"),
            (5, "e3")]
    path = str(tmp_path / "unsorted.parquet")
    pq.write_table(pa.table({
        "bucket": pa.array([b for b, _ in rows], pa.int32()),
        "term": [t for _, t in rows],
        "df": list(range(len(rows)))}), path, row_group_size=3)
    md = pq.read_metadata(path)
    ranges = [(md.row_group(g).column(0).statistics.min,
               md.row_group(g).column(0).statistics.max)
              for g in range(md.num_row_groups)]
    assert md.num_row_groups == 4
    assert sum(lo <= 0 <= hi for lo, hi in ranges) >= 3   # overlapping

    r = RowGroupPointReader([path], "bucket", ["bucket", "term", "df"])

    def got(keys, values):
        return sorted((x["bucket"], x["term"], x["df"])
                      for x in r.take(keys, match=("term", values)))

    want = {"a1", "a3", "c2", "e3", "zz", "b9"}
    exp = sorted((b, t, i) for i, (b, t) in enumerate(rows)
                 if b in (0, 3, 5) and t in want)
    assert got([0, 3, 5], want) == exp
    assert [t for _b, t, _d in exp] == ["a1", "a3", "c2", "e3"]
    assert got([2], want) == []                 # a key in no row group
    assert got([4], ["c1"]) == []               # in a range, not a value
    assert got([], want) == []                  # empty keys: no read
    assert got([1, 3], []) == []                # empty match: no rows
    assert sorted(x["term"] for x in r.take([1])) == ["b1", "b2"]
