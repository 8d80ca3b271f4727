"""Catalog abstraction: atomic snapshot commit + snapshot-isolated reads
(SURVEY.md §1.2, risk R1).

The north_rule persists the index to Iceberg.  No Iceberg runtime jar exists
in this sandbox (verified in SURVEY.md Appendix C), so the engine targets a
thin catalog interface with two backends:

* ``IcebergCatalog`` — real Iceberg tables via the DataSource v2 connector;
  used when the cluster has ``iceberg-spark-runtime`` on the classpath.
* ``ManifestParquetCatalog`` — parquet data files + JSON snapshot manifests
  with an atomically-replaced ``_CURRENT`` pointer.  Provides the Iceberg
  semantics the build/query paths rely on: atomic commit (writers stage
  data, then one ``os.replace``), snapshot isolation (readers resolve the
  pointer once), append as new-snapshot-with-more-dirs, and time travel by
  snapshot id.

Both write parquet with partition directories, so Catalyst partition
pruning (e.g. ``bucket=<n>`` for query-term posting lookups) works
identically on either backend.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the table moved past the snapshot
    the writer based its work on (Iceberg-style CAS commit)."""


_ANY = object()  # sentinel: commit regardless of the current snapshot


class ManifestParquetCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_CURRENT")

    def _snap_path(self, table: str, snap_id: str) -> str:
        return os.path.join(self._tdir(table), "_snapshots", f"{snap_id}.json")

    # -- snapshots ----------------------------------------------------------
    def current_snapshot(self, table: str) -> dict | None:
        ptr = self._pointer(table)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            snap_id = f.read().strip()
        with open(self._snap_path(table, snap_id)) as f:
            return json.load(f)

    def _lock(self, table: str):
        """Commit mutex via ``flock`` (single-filesystem semantics; a
        real Iceberg deployment delegates this CAS to the catalog
        service).  flock — not O_EXCL file creation — because the kernel
        releases it when the holder dies: a committer SIGKILLed inside
        the intent→flip window of ``commit_multi`` would otherwise leave
        every table's lock file behind, and the advertised crash
        roll-forward (``_recover_txns``) could never run — every
        subsequent read would spin 30s and raise (round-7 review).  The
        lock FILE persists between holders (never unlinked — an
        unlink+flock mix reintroduces acquire/steal races); exclusion is
        the kernel lock on it."""
        import contextlib
        import fcntl

        path = os.path.join(self._tdir(table), "_LOCK")
        os.makedirs(self._tdir(table), exist_ok=True)

        @contextlib.contextmanager
        def ctx():
            deadline = time.time() + 30
            fd = os.open(path, os.O_CREAT | os.O_RDWR)
            try:
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except (BlockingIOError, OSError):
                        if time.time() > deadline:
                            raise CommitConflict(
                                f"commit lock on {table!r} held past"
                                f" timeout")
                        time.sleep(0.02)
                yield
            finally:
                os.close(fd)   # closes the description → releases flock
        return ctx()

    def _commit(self, table: str, new_dirs: list[str], mode: str,
                meta: dict | None = None, schema_json: str | None = None,
                expected_parent=_ANY) -> str:
        """Atomic commit: write snapshot json, then os.replace the pointer.

        Readers between the two steps still resolve the old pointer → old
        snapshot (snapshot isolation); a crashed writer leaves only unreferenced
        staging dirs, never a torn table.  The current snapshot is resolved
        UNDER the commit lock, so concurrent appends merge rather than lose
        each other's dirs.  ``expected_parent`` (a snapshot id, or None for
        table-must-be-empty) turns the commit into a compare-and-swap:
        CommitConflict if another writer advanced the table first."""
        with self._lock(table):
            cur = self.current_snapshot(table)
            cur_id = cur["snapshot_id"] if cur else None
            if expected_parent is not _ANY and expected_parent != cur_id:
                raise CommitConflict(
                    f"table {table!r} moved: based on "
                    f"{expected_parent}, current {cur_id}")
            dirs = (cur["data_dirs"] + new_dirs) \
                if (mode == "append" and cur is not None) else new_dirs
            return self._commit_locked(table, dirs, cur_id, meta,
                                       schema_json)

    def _commit_locked(self, table: str, data_dirs: list[str],
                       parent: str | None, meta: dict | None,
                       schema_json: str | None) -> str:
        snap_id = self._write_snapshot(table, data_dirs, parent, meta,
                                       schema_json)
        self._flip_pointer(table, snap_id)
        return snap_id

    def _write_snapshot(self, table: str, data_dirs: list[str],
                        parent: str | None, meta: dict | None,
                        schema_json: str | None) -> str:
        """Durably write a snapshot manifest WITHOUT referencing it —
        visible only once the ``_CURRENT`` pointer flips to it."""
        snap_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
        snap = {
            "snapshot_id": snap_id,
            "parent": parent,
            "data_dirs": data_dirs,
            "committed_at_ms": int(time.time() * 1000),
            "meta": meta or {},
            # logical schema at write time — lets readers reconstruct an
            # empty DataFrame when a data dir holds zero parquet files
            # (e.g. a partitioned write of an empty table)
            "schema": schema_json,
        }
        os.makedirs(os.path.dirname(self._snap_path(table, snap_id)), exist_ok=True)
        tmp = self._snap_path(table, snap_id) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._snap_path(table, snap_id))
        return snap_id

    def _flip_pointer(self, table: str, snap_id: str):
        ptmp = self._pointer(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(ptmp, "w") as f:
            f.write(snap_id)
            f.flush()
            os.fsync(f.fileno())
        os.replace(ptmp, self._pointer(table))

    # -- cross-table transactions --------------------------------------------
    def _txn_dir(self) -> str:
        return os.path.join(self.root, "_TXN")

    def stage(self, df: DataFrame, table: str,
              partition_by: list[str] | None = None) -> dict:
        """Write a data dir for ``table`` WITHOUT committing a snapshot —
        input to :meth:`commit_multi`.  An abandoned staged dir is
        unreferenced and ages out via ``expire_snapshots``' orphan
        grace."""
        data_dir = os.path.join(self._tdir(table), "data",
                                uuid.uuid4().hex[:12])
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        return {"table": table, "data_dir": data_dir,
                "schema": df.schema.json()}

    def commit_multi(self, staged: list[dict], mode: str = "append",
                     meta: dict | None = None) -> dict:
        """Cross-table atomic commit: every staged table becomes visible
        together or not at all (Iceberg-style multi-table transaction —
        the single-table CAS can't protect a delta that spans
        tfs/docs/postings; a crash between per-table commits would
        orphan rows a later ``compact()`` resurrects as ghost docs,
        round-6 verdict #2).

        Protocol: (1) take every table's commit lock in sorted order
        (deadlock-free); (2) durably write each new snapshot manifest —
        still unreferenced; (3) fsync ONE transaction-intent file
        listing {table: (parent, snapshot_id)} — THE commit point;
        (4) flip each ``_CURRENT`` pointer; (5) delete the intent file.
        Crash before (3): no pointer moved, staging ages out as
        orphans.  Crash after (3): :meth:`_recover_txns` — run by every
        reader/writer entry — rolls the transaction FORWARD, flipping
        the remaining pointers.  Readers between flips resolve each
        table's old-or-new snapshot, never a torn one (each table is
        itself snapshot-isolated; the delta's doc_ids only become
        queryable when ALL tables have flipped or recovery completes).
        → {table: snapshot_id}."""
        import contextlib

        assert mode in ("overwrite", "append")
        tables = [s["table"] for s in staged]
        assert len(set(tables)) == len(tables), "one staged dir per table"
        self._recover_txns()     # never start a txn over a pending one
        with contextlib.ExitStack() as stack:
            for t in sorted(tables):
                stack.enter_context(self._lock(t))
            snap_ids, parents = {}, {}
            for s in staged:
                t = s["table"]
                cur = self.current_snapshot(t)
                parents[t] = cur["snapshot_id"] if cur else None
                dirs = (cur["data_dirs"] + [s["data_dir"]]
                        if (mode == "append" and cur is not None)
                        else [s["data_dir"]])
                snap_ids[t] = self._write_snapshot(
                    t, dirs, parents[t], meta, s["schema"])
            os.makedirs(self._txn_dir(), exist_ok=True)
            txn_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
            txn_path = os.path.join(self._txn_dir(), f"{txn_id}.json")
            tmp = txn_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"tables": {t: {"parent": parents[t],
                                          "snapshot": snap_ids[t]}
                                      for t in tables}}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, txn_path)      # ← the commit point
            for t in tables:
                self._flip_pointer(t, snap_ids[t])
            os.unlink(txn_path)
            return snap_ids

    def _recover_txns(self):
        """Roll forward any transaction that crashed between its commit
        point and its last pointer flip.  Runs at every read/write entry
        (cheap: one isdir test when no transaction is pending).  A
        pointer is flipped only if it still names the transaction's
        recorded parent — a table some later writer advanced is left
        alone (that writer could only have seen a recovered-or-original
        state)."""
        import contextlib

        tdir = self._txn_dir()
        if not os.path.isdir(tdir):
            return
        for fn in sorted(os.listdir(tdir)):
            if not fn.endswith(".json"):
                continue
            path = os.path.join(tdir, fn)
            try:
                with open(path) as f:
                    txn = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue     # deleted by the committer mid-listing
            for t, rec in txn["tables"].items():
                with self._lock(t):
                    ptr = self._pointer(t)
                    cur = None
                    if os.path.exists(ptr):
                        with open(ptr) as f:
                            cur = f.read().strip()
                    if cur != rec["parent"]:
                        continue
                    if rec["snapshot"] is None:
                        # a rollback removing the table the crashed op
                        # had created (e.g. first-delete tombstones)
                        with contextlib.suppress(FileNotFoundError):
                            os.unlink(ptr)
                    elif os.path.exists(
                            self._snap_path(t, rec["snapshot"])):
                        self._flip_pointer(t, rec["snapshot"])
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)

    # -- history / rollback --------------------------------------------------
    def history(self, table: str, limit: int = 20) -> list[dict]:
        """Snapshot lineage from the current pointer backwards (newest
        first): [{snapshot_id, parent, committed_at_ms, meta}].  Stops at
        the root, ``limit``, or an expired (GC'd) ancestor manifest."""
        out: list[dict] = []
        snap = self.current_snapshot(table)
        while snap is not None and len(out) < limit:
            out.append({"snapshot_id": snap["snapshot_id"],
                        "parent": snap.get("parent"),
                        "committed_at_ms": snap.get("committed_at_ms"),
                        "meta": snap.get("meta") or {}})
            parent = snap.get("parent")
            if parent is None:
                break
            p = self._snap_path(table, parent)
            if not os.path.exists(p):
                break
            with open(p) as f:
                snap = json.load(f)
        return out

    def rollback(self, table: str, steps: int = 1) -> str:
        """Flip the table pointer back ``steps`` ancestors (snapshot
        time-travel made current — the Iceberg ``rollback_to_snapshot``
        shape).  CAS under the commit lock; raises if the chain is too
        short or an ancestor manifest was expired.  Data dirs are
        untouched: the abandoned snapshots age out via
        ``expire_snapshots`` exactly like any unreferenced manifest."""
        if steps < 1:
            raise ValueError("steps must be >= 1")
        self._recover_txns()
        with self._lock(table):
            cur = self.current_snapshot(table)
            if cur is None:
                raise FileNotFoundError(f"no snapshot for table {table!r}")
            snap = cur
            for _ in range(steps):
                parent = snap.get("parent")
                if parent is None:
                    raise ValueError(
                        f"table {table!r}: no ancestor {steps} steps back")
                p = self._snap_path(table, parent)
                if not os.path.exists(p):
                    raise ValueError(
                        f"table {table!r}: ancestor {parent} was expired")
                with open(p) as f:
                    snap = json.load(f)
            self._flip_pointer(table, snap["snapshot_id"])
            return snap["snapshot_id"]

    def flip_multi(self, targets: dict) -> None:
        """Atomically repoint several tables: ``targets`` maps table →
        (expected_current, new_snapshot).  A ``None`` new_snapshot
        REMOVES the table pointer (rolling back the op that created the
        table — e.g. the first delete creating ``tombstones``).  Same
        intent-file protocol as :meth:`commit_multi` — locks in sorted
        order, verify each pointer still names its expected current
        (CAS), fsync ONE intent file (the commit point), flip, unlink; a
        crash after the intent rolls FORWARD via :meth:`_recover_txns`.
        Used by multi-table rollback, where a torn flip would leave e.g.
        postings rolled back under a doc store that wasn't."""
        import contextlib

        self._recover_txns()
        with contextlib.ExitStack() as stack:
            for t in sorted(targets):
                stack.enter_context(self._lock(t))
            for t, (expected, target) in targets.items():
                cur = self.current_snapshot(t)
                cur_id = cur["snapshot_id"] if cur else None
                if cur_id != expected:
                    raise CommitConflict(
                        f"table {t!r} moved: expected {expected},"
                        f" current {cur_id}")
                if target is not None \
                        and not os.path.exists(self._snap_path(t, target)):
                    raise ValueError(
                        f"table {t!r}: target snapshot {target} missing")
            os.makedirs(self._txn_dir(), exist_ok=True)
            txn_id = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"
            txn_path = os.path.join(self._txn_dir(), f"{txn_id}.json")
            tmp = txn_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"tables": {t: {"parent": exp, "snapshot": tgt}
                                      for t, (exp, tgt)
                                      in targets.items()}}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, txn_path)      # ← the commit point
            for t, (_exp, tgt) in targets.items():
                if tgt is None:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(self._pointer(t))
                else:
                    self._flip_pointer(t, tgt)
            os.unlink(txn_path)

    # -- write/read ---------------------------------------------------------
    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None,
              meta: dict | None = None, expected_parent=_ANY) -> str:
        """Stage parquet into a fresh data dir, then commit a snapshot."""
        assert mode in ("overwrite", "append")
        self._recover_txns()
        data_dir = os.path.join(self._tdir(table), "data", uuid.uuid4().hex[:12])
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(data_dir)
        return self._commit(table, [data_dir], mode, meta,
                            schema_json=df.schema.json(),
                            expected_parent=expected_parent)

    def snapshot(self, table: str, snapshot_id: str | None = None) -> dict:
        """The manifest of ``table``'s current (or given) snapshot.  A
        reader that resolves it once and passes its id to :meth:`read`
        and its :meth:`data_files` to a point read sees one snapshot on
        both paths, whatever commits in between."""
        self._recover_txns()
        if snapshot_id is None:
            snap = self.current_snapshot(table)
            if snap is None:
                raise FileNotFoundError(f"no snapshot for table {table!r}")
            return snap
        with open(self._snap_path(table, snapshot_id)) as f:
            return json.load(f)

    @staticmethod
    def data_files(snap: dict) -> list[str]:
        """Every parquet data file of a snapshot, in data-dir order (the
        files ``spark.read.parquet`` reads: hidden ``_``/``.`` names
        skipped)."""
        return [p for d in snap["data_dirs"] for p in _parquet_files(d)]

    def read(self, spark: SparkSession, table: str,
             snapshot_id: str | None = None) -> DataFrame:
        snap = self.snapshot(table, snapshot_id)
        # per-dir read + unionByName keeps partition discovery (and thus
        # directory-level pruning on e.g. bucket=) intact for every data dir
        dfs = [self._read_dir(spark, d, snap) for d in snap["data_dirs"]]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=False)
        return out

    @staticmethod
    def _read_dir(spark: SparkSession, d: str, snap: dict) -> DataFrame:
        """One data dir as a DataFrame.  A Spark-written snapshot carries
        its schema, so the read skips parquet schema inference — a Spark
        job per read (``parquet at ...``) — and a dir with zero data
        files (empty table / empty dynamic-partition write) reads as an
        empty frame.  Driver-written tables (``write_small``) infer."""
        from pyspark.sql.types import StructType

        if snap.get("schema"):
            return spark.read.schema(
                StructType.fromJson(json.loads(snap["schema"]))).parquet(d)
        return spark.read.parquet(d)

    def write_small(self, columns: dict, table: str, mode: str = "overwrite",
                    meta: dict | None = None) -> str:
        """Driver-side write for tiny tables (manifest rows, index_stats):
        one pyarrow file + snapshot commit, no Spark job.  ``columns`` maps
        name → list of values (pyarrow infers types; pass pa arrays for
        explicit types)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self._recover_txns()
        data_dir = os.path.join(self._tdir(table), "data", uuid.uuid4().hex[:12])
        os.makedirs(data_dir, exist_ok=True)
        pq.write_table(pa.table(columns),
                       os.path.join(data_dir, "part-0.parquet"))
        return self._commit(table, [data_dir], mode, meta)

    def read_small(self, table: str) -> list[dict]:
        """The current snapshot's rows of a tiny table (index_stats) as
        dicts, read with pyarrow: :meth:`write_small`'s twin, no job."""
        import pyarrow.parquet as pq

        return pq.read_table(self.data_files(self.snapshot(table))).to_pylist()

    def expire_snapshots(self, table: str, keep_last: int = 1,
                         orphan_grace_s: float = 3600.0) -> dict:
        """Iceberg ``expire_snapshots`` parity: keep the newest
        ``keep_last`` snapshots (snapshot ids sort by commit time) — plus,
        ALWAYS, the snapshot the ``_CURRENT`` pointer resolves to UNDER
        the commit lock (same-millisecond ids tie-break by uuid hex, so
        "newest by sorted id" alone could unpin the live snapshot) —
        delete every data dir referenced only by expired snapshots, and
        the expired snapshot manifests.  A dir referenced by NO snapshot
        at all is an in-flight writer's staged dir (``write()`` stages
        before taking the lock): it is deleted only once older than
        ``orphan_grace_s`` (Iceberg's orphan-file age check — round-2
        advice).  Time travel to expired snapshots is gone."""
        import shutil

        self._recover_txns()
        with self._lock(table):
            sdir = os.path.join(self._tdir(table), "_snapshots")
            if not os.path.isdir(sdir):
                return {"expired": 0, "dirs_deleted": 0}
            snaps = sorted(f[:-5] for f in os.listdir(sdir)
                           if f.endswith(".json"))
            keep = set(snaps[-max(1, keep_last):])
            cur = self.current_snapshot(table)   # resolved under the lock
            if cur is not None:
                keep.add(cur["snapshot_id"])
            kept_dirs: set[str] = set()
            referenced: set[str] = set()
            for sid in snaps:
                with open(self._snap_path(table, sid)) as f:
                    dirs = json.load(f)["data_dirs"]
                names = {os.path.basename(os.path.normpath(d))
                         for d in dirs}
                referenced.update(names)
                if sid in keep:
                    kept_dirs.update(names)
            data_root = os.path.join(self._tdir(table), "data")
            deleted = 0
            now = time.time()
            if os.path.isdir(data_root):
                for name in os.listdir(data_root):
                    if name in kept_dirs:
                        continue
                    path = os.path.join(data_root, name)
                    if name not in referenced:
                        # unreferenced orphan — an in-flight writer's
                        # staged dir unless it has aged past the grace
                        try:
                            age = now - os.path.getmtime(path)
                        except OSError:
                            continue
                        if age < orphan_grace_s:
                            continue
                    shutil.rmtree(path, ignore_errors=True)
                    deleted += 1
            expired = 0
            for sid in snaps:
                if sid not in keep:
                    os.unlink(self._snap_path(table, sid))
                    expired += 1
            return {"expired": expired, "dirs_deleted": deleted}

    @staticmethod
    def dir_row_count(d: str) -> int:
        """Row count of ONE parquet dir from footers (works on staged,
        uncommitted dirs too) — no Spark job."""
        import pyarrow.parquet as pq

        return sum(pq.read_metadata(p).num_rows for p in _parquet_files(d))

    def row_count(self, table: str, last_dir_only: bool = False) -> int:
        """Row count from parquet footers — no Spark job."""
        self._recover_txns()
        snap = self.current_snapshot(table)
        if snap is None:
            return 0
        dirs = snap["data_dirs"][-1:] if last_dir_only else snap["data_dirs"]
        return sum(self.dir_row_count(d) for d in dirs)

    def exists(self, table: str) -> bool:
        self._recover_txns()
        return os.path.exists(self._pointer(table))

    def meta(self, table: str) -> dict:
        snap = self.current_snapshot(table)
        return (snap or {}).get("meta", {})


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(root, f) for root, _dd, files in os.walk(d)
                  for f in files
                  if f.endswith(".parquet") and f[0] not in "_.")


class RowGroupPointReader:
    """Driver-side point reads by an int64 key over parquet files — the
    stored-fields read of query-then-fetch: a page's rows come straight
    from the row groups whose footer ``[min, max]`` of ``key`` holds a
    wanted key, with no Spark job.  Footers are read once, on first use
    (thread-safe); the ranges are kept sorted by min with a running max,
    so each key's candidate row groups are one ``searchsorted`` window.
    Files written sorted by ``key`` give disjoint ranges — one row group
    per key; overlapping ranges stay correct, only wider."""

    def __init__(self, files: list[str], key: str, columns: list[str]):
        import threading

        self.files, self.key, self.columns = files, key, columns
        self._lock = threading.Lock()
        self._ranges = None

    def _index(self):
        import numpy as np
        import pyarrow.parquet as pq

        with self._lock:
            if self._ranges is None:
                lo, hi, where = [], [], []
                for fi, path in enumerate(self.files):
                    md = pq.read_metadata(path)
                    col = md.schema.names.index(self.key)
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        if not rg.num_rows:
                            continue
                        st = rg.column(col).statistics
                        bounded = st is not None and st.has_min_max
                        lo.append(st.min if bounded else -2 ** 63)
                        hi.append(st.max if bounded else 2 ** 63 - 1)
                        where.append((fi, g))
                lo = np.asarray(lo, dtype=np.int64)
                order = np.argsort(lo, kind="stable")
                hi = np.asarray(hi, dtype=np.int64)[order]
                self._ranges = (lo[order], hi, np.maximum.accumulate(hi),
                                [where[i] for i in order])
            return self._ranges

    def take(self, keys, match: tuple | None = None) -> list[dict]:
        """The rows whose ``key`` is in ``keys`` (``columns`` only), as
        dicts; no I/O for an empty ``keys``.  ``match`` = ``(column,
        values)`` further keeps only rows whose ``column`` is in
        ``values`` (the term of a ``bucket`` read)."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        keys = np.unique(np.fromiter(keys, dtype=np.int64))
        if not keys.size:
            return []
        lo, hi, run_max, where = self._index()
        first = np.searchsorted(run_max, keys, "left")
        stop = np.searchsorted(lo, keys, "right")
        groups: dict[int, list[int]] = {}
        for kv, a, b in zip(keys, first, stop):
            for j in range(a, b):
                if hi[j] >= kv:
                    fi, g = where[j]
                    groups.setdefault(fi, []).append(g)
        want = pa.array(keys)
        out: list[dict] = []
        for fi in sorted(groups):
            t = pq.ParquetFile(self.files[fi]).read_row_groups(
                sorted(set(groups[fi])), columns=self.columns)
            keep = pc.is_in(t[self.key], value_set=want)
            if match is not None:
                col, values = match
                keep = pc.and_(keep, pc.is_in(t[col], value_set=pa.array(
                    list(values), type=t.schema.field(col).type)))
            out += t.filter(keep).to_pylist()
        return out


class IcebergCatalog:
    """Real-Iceberg backend (cluster-only; no jar in this sandbox).

    Same interface; ``table`` names resolve inside the configured Spark
    catalog (``spark.sql.catalog.<name>`` = org.apache.iceberg...).
    """

    def __init__(self, catalog_name: str = "zsolr"):
        self.catalog = catalog_name

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None,
              meta: dict | None = None) -> str:
        fq = f"{self.catalog}.{table}"
        w = df.writeTo(fq)
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return fq

    def read(self, spark: SparkSession, table: str,
             snapshot_id: str | None = None) -> DataFrame:
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", snapshot_id)
        return r.load(f"{self.catalog}.{table}")
