"""Minimal snapshot-manifest table format over parquet ("Iceberg-ready").

The target spec calls for Iceberg tables; this sandbox has no Iceberg
runtime jar, so we implement the four Iceberg properties the engine
actually depends on, over plain parquet + JSON manifests:

1. **Atomic commits**: a snapshot is a JSON manifest listing immutable
   parquet data files; `CURRENT` is flipped with `os.replace` (atomic on
   POSIX). Readers only ever see a committed snapshot. (Analog of the
   reference's shutdown-time index persistence, TSDBEngineImpl.java:127-169,
   and of an Iceberg snapshot commit.)
2. **Snapshot lineage**: every snapshot records its parent, the operation,
   and caller metadata — the checkpoint/resume layer keys off snapshot ids.
3. **Partition-scoped replace**: `overwrite_partitions` commits a snapshot
   where files carrying the given partition values are swapped — the
   idempotent tier-write primitive.
4. **Manifest scan planning**: the manifest is the table's file index
   (every file, its rows, its recorded `time_chunk`), so `read` never
   asks Spark to search for files. A read given an inclusive
   `time_chunk` range keeps only the files whose recorded chunk falls in
   it (files with no recorded chunk are always kept — the same rule
   `drop_partitions` applies, from the same helper), and hands exactly
   those paths to Spark with the schema memoized per snapshot: no file-
   listing job, no footer-inference job. Pruning only skips files; the
   callers' row predicates still decide every answer. (Iceberg's
   manifest-driven scan planning.)

Swapping this for real Iceberg is a one-module change: `read` becomes
`spark.table(...)`, `append/overwrite` become `writeTo(...)` calls.

File-name uuids come from the content hash + a monotonically increasing
snapshot id — no wall-clock or random state, so repeated runs of the same
job produce byte-identical table trees (the determinism pytest relies on).

Concurrency: single-writer per commit, enforced — `_commit` takes an
O_EXCL lock file and rejects a commit whose base snapshot is no longer
CURRENT (optimistic concurrency, the miniature of Iceberg's commit
protocol). A losing writer gets a RuntimeError, never a silent clobber.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
from dataclasses import dataclass
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Above this many paths, spark.read lists files with a distributed job
# (one task per path) before it plans anything. The manifest already
# holds the file list, so reads raise the session's threshold to their
# path count: listing stays in-process. The threshold is only ever
# raised, never restored — concurrent reads (the pipeline's
# _parallel_jobs threads) would otherwise race a restore — and the lock
# keeps a smaller raise from overwriting a larger one.
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_DISCOVERY_LOCK = threading.Lock()

# Spark stores the writer's schema in every parquet footer it writes;
# spark.read prefers it over the parquet schema when inferring
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# (table root, merge_schema) -> (snapshot identity, Spark schema): one
# entry per table, replaced when the table commits a new snapshot
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _split_by_partition(files: list[dict], partition_col: str,
                        pred) -> tuple[list[dict], list[dict]]:
    """(matched, rest): matched files RECORD a `partition_col` value
    satisfying `pred`; files with no recorded value always land in rest.
    The one selection rule behind drop_partitions (matched = dropped) and
    chunk-pruned reads (matched = outside the range, skipped)."""
    matched, rest = [], []
    for f in files:
        v = f.get("partition", {}).get(partition_col)
        (matched if v is not None and pred(v) else rest).append(f)
    return matched, rest


def _as_nullable(schema: StructType) -> StructType:
    """Every field, element and value nullable — what file sources
    report for the schema they read."""
    def walk(t):
        if isinstance(t, dict):
            return {k: (True if k in ("nullable", "containsNull",
                                      "valueContainsNull") else walk(v))
                    for k, v in t.items()}
        if isinstance(t, list):
            return [walk(v) for v in t]
        return t
    return StructType.fromJson(walk(schema.jsonValue()))


def _raise_discovery_threshold(spark: SparkSession, n_paths: int) -> None:
    with _DISCOVERY_LOCK:
        if n_paths > int(spark.conf.get(_DISCOVERY_THRESHOLD, "32")):
            spark.conf.set(_DISCOVERY_THRESHOLD, str(n_paths))


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    files: list[dict]  # {path, rows, bytes, partition: {col: value}}
    meta: dict

    @property
    def row_count(self) -> int:
        return sum(f["rows"] for f in self.files)


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "_manifests")

    # ---------- lifecycle ----------

    @classmethod
    def create(cls, root: str) -> "SnapshotTable":
        t = cls(root)
        os.makedirs(t.data_dir, exist_ok=True)
        os.makedirs(t.manifest_dir, exist_ok=True)
        if not os.path.exists(t._current_path()):
            t._commit(Snapshot(0, None, "create", [], {}))
        return t

    @classmethod
    def load(cls, root: str) -> "SnapshotTable":
        t = cls(root)
        if not os.path.exists(t._current_path()):
            raise FileNotFoundError(f"no table at {root}")
        return t

    # ---------- reads ----------

    def current(self) -> Snapshot:
        with open(self._current_path()) as f:
            pointer = f.read().strip()
        with open(os.path.join(self.manifest_dir, pointer)) as f:
            d = json.load(f)
        return Snapshot(d["snapshot_id"], d["parent_id"], d["operation"], d["files"], d["meta"])

    def file_paths(self) -> list[str]:
        return [os.path.join(self.data_dir, f["path"]) for f in self.current().files]

    def read(self, spark: SparkSession,
             chunks: tuple[int, int] | None = None,
             merge_schema: bool = False) -> DataFrame:
        """The CURRENT snapshot as a DataFrame, planned from the manifest
        (property 4). `chunks` is an inclusive (lo, hi) `time_chunk`
        range: files recording a chunk outside it are skipped (an empty
        or inverted range skips every recorded file); files recording no
        chunk are always read. A selection of zero files is an empty
        DataFrame with the table's schema. `merge_schema` unions the
        columns of files written with different column sets (absent
        fields read as null)."""
        snap = self.current()
        if not snap.files:
            raise ValueError(f"table {self.root} is empty")
        files = snap.files
        if chunks is not None:
            lo, hi = int(chunks[0]), int(chunks[1])
            files = _split_by_partition(files, "time_chunk",
                                        lambda c: not lo <= int(c) <= hi)[1]
        schema = self._schema(spark, snap, merge_schema)
        if not files:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.data_dir, f["path"]) for f in files]
        _raise_discovery_threshold(spark, len(paths))
        return spark.read.schema(schema).parquet(*paths)

    def _schema(self, spark: SparkSession, snap: Snapshot,
                merge_schema: bool) -> StructType:
        """The schema spark.read would infer for `snap`, memoized per
        (table root, snapshot id) so a read submits no inference job.
        The snapshot identity also carries the first file's inode and
        mtime, so a table re-created at the same root never reuses a
        stale entry."""
        first = os.path.join(self.data_dir, snap.files[0]["path"])
        st = os.stat(first)
        ident = (snap.snapshot_id, st.st_ino, st.st_mtime_ns)
        memo = _SCHEMAS.get((self.root, merge_schema))
        if memo is not None and memo[0] == ident:
            return memo[1]
        meta = (None if merge_schema
                else pq.read_schema(first).metadata or {})
        if meta and _SPARK_SCHEMA_KEY in meta:
            # Spark infers from the first file's footer, preferring the
            # schema it stored there, and reads every field as nullable
            schema = _as_nullable(StructType.fromJson(
                json.loads(meta[_SPARK_SCHEMA_KEY])))
        else:
            # not Spark-written (pandas/arrow sources), or a merge across
            # files: one inference, paid once per snapshot
            paths = ([os.path.join(self.data_dir, f["path"])
                      for f in snap.files] if merge_schema else [first])
            _raise_discovery_threshold(spark, len(paths))
            schema = (spark.read.option("mergeSchema", str(merge_schema)
                                        .lower())
                      .parquet(*paths).schema)
        _SCHEMAS[(self.root, merge_schema)] = (ident, schema)
        return schema

    # ---------- writes ----------

    def append(self, source, meta: dict | None = None) -> Snapshot:
        files = self._materialize(source)
        cur = self.current()
        return self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "append",
                     cur.files + files, meta or {})
        )

    def overwrite(self, source, meta: dict | None = None) -> Snapshot:
        files = self._materialize(source)
        cur = self.current()
        return self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "overwrite", files, meta or {})
        )

    def overwrite_partitions(
        self, source, partition: dict[str, Any], meta: dict | None = None
    ) -> Snapshot:
        """Replace all files whose recorded partition matches `partition`
        (subset match) with the new data — the idempotent tier-write unit."""
        files = self._materialize(source, partition=partition)
        cur = self.current()
        kept = [
            f for f in cur.files
            if not all(f.get("partition", {}).get(k) == v for k, v in partition.items())
        ]
        return self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "overwrite_partitions",
                     kept + files, {**(meta or {}), "partition": partition})
        )

    def overwrite_partitions_multi(
        self, df: DataFrame, partition_col: str, values: list,
        meta: dict | None = None, sort_within: list[str] | None = None,
    ) -> Snapshot:
        """Replace every listed partition value in ONE commit, fed by ONE
        distributed write (`partitionBy` on the partition column) — the
        N-chunk analog of overwrite_partitions, so a backfill over many
        time chunks is a single Spark job, not a driver loop of jobs.

        sort_within orders rows inside each task by (partition, *cols)
        before the write — no extra shuffle, but every output file's
        parquet row groups come out range-ordered on those columns, so
        column-stat pruning on them is contiguous (the range-partitioned
        write layout the north_rule asks for)."""
        files = self._materialize_spark_partitioned(df, partition_col,
                                                    sort_within=sort_within)
        cur = self.current()
        # replaced set = listed values UNION values actually written: a df
        # carrying an unlisted partition value must replace that partition
        # too, never silently duplicate it alongside the old files
        gone = set(values) | {f["partition"][partition_col] for f in files}
        kept = [f for f in cur.files
                if f.get("partition", {}).get(partition_col) not in gone]
        return self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "overwrite_partitions",
                     kept + files,
                     {**(meta or {}), "partition_col": partition_col,
                      "partition_values": sorted(gone)})
        )

    def overwrite_partitioned(
        self, df: DataFrame, partition_col: str,
        meta: dict | None = None, sort_within: list[str] | None = None,
    ) -> Snapshot:
        """Full-table overwrite whose files RECORD their partition value
        (one atomic commit): the migration / fallback path to a
        partition-tracked layout, after which partition-scoped replaces
        and drops apply."""
        files = self._materialize_spark_partitioned(df, partition_col,
                                                    sort_within=sort_within)
        cur = self.current()
        return self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "overwrite",
                     files, {**(meta or {}), "partition_col": partition_col}))

    def truncate(self, meta: dict | None = None) -> "Snapshot":
        """Metadata-only: commit an empty snapshot (no file read or
        deleted — `vacuum` reclaims the orphaned data). Used to retire
        the engine's raw ingest log after a successful flush: the
        compressed store is the single source of truth from then on."""
        cur = self.current()
        if not cur.files:
            return cur
        return self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "truncate",
                     [], meta or {}))

    def drop_partitions(
        self, partition_col: str, pred, meta: dict | None = None
    ) -> tuple["Snapshot", list[dict]]:
        """Metadata-only delete: commit a snapshot WITHOUT the files whose
        `partition_col` value satisfies `pred` — no data file is read,
        rewritten, or (yet) unlinked, so the commit is O(#files-in-
        manifest) regardless of data volume (the Iceberg drop-partition
        model; physical reclaim is `vacuum`). Files with no recorded value
        for `partition_col` (e.g. full-overwrite snapshots) are never
        dropped. Returns (snapshot, dropped-file manifest entries); a
        no-op match returns (current, []) without committing."""
        cur = self.current()
        dropped, kept = _split_by_partition(cur.files, partition_col, pred)
        if not dropped:
            return cur, []
        snap = self._commit(
            Snapshot(cur.snapshot_id + 1, cur.snapshot_id, "drop_partitions",
                     kept, {**(meta or {}), "partition_col": partition_col,
                            "dropped_files": len(dropped),
                            "dropped_rows": sum(f["rows"] for f in dropped),
                            "dropped_bytes": sum(f["bytes"] for f in dropped)}))
        return snap, dropped

    def vacuum(self, grace_s: float = 3600.0) -> dict:
        """Physically delete data files not referenced by the CURRENT
        snapshot (dropped partitions, replaced files, crashed-writer
        orphans). Holds the commit lock, and skips files younger than
        `grace_s` — an in-flight writer materializes files BEFORE taking
        the lock, so the grace window is what protects its uncommitted
        files (the same orphan-cleanup contract as Iceberg's
        remove_orphan_files; tests pass grace_s=0 on quiesced tables)."""
        lock = os.path.join(self.manifest_dir, "LOCK")
        fd = self._acquire_lock(lock)
        try:
            live = {f["path"] for f in self.current().files}
            now = __import__("time").time()
            removed = removed_bytes = 0
            for name in os.listdir(self.data_dir):
                if name in live:
                    continue
                p = os.path.join(self.data_dir, name)
                try:
                    if now - os.path.getmtime(p) < grace_s:
                        continue
                    removed_bytes += os.path.getsize(p)
                    os.remove(p)
                    removed += 1
                except FileNotFoundError:
                    continue
            return {"files_removed": removed, "bytes_reclaimed": removed_bytes}
        finally:
            os.close(fd)
            os.unlink(lock)

    # ---------- internals ----------

    def _materialize(self, source, partition: dict | None = None) -> list[dict]:
        """Write `source` (Spark DataFrame, pandas DataFrame, or arrow Table)
        into immutable data files.

        Spark DataFrames are written distributed (executors write part
        files directly; nothing is collected to the driver) and the part
        files are adopted into the table. pandas/arrow sources (small:
        tier outputs, lineage rows) go through a single content-hash-named
        file, which keeps repeated runs byte-identical."""
        if isinstance(source, DataFrame):
            return self._materialize_spark(source, partition)
        if isinstance(source, pa.Table):
            table = source
        else:  # pandas
            table = pa.Table.from_pandas(source, preserve_index=False)
        if table.num_rows == 0:
            return []
        cur_id = self.current().snapshot_id
        digest = hashlib.sha256()
        for name in ("[meta]", json.dumps(partition or {}, sort_keys=True)):
            digest.update(name.encode())
        digest.update(str(cur_id).encode())
        for col in table.column_names:
            digest.update(col.encode())
        digest.update(str(table.num_rows).encode())
        fname = f"snap{cur_id + 1}-{digest.hexdigest()[:16]}.parquet"
        fpath = os.path.join(self.data_dir, fname)
        pq.write_table(table, fpath, compression="zstd")
        return [{
            "path": fname,
            "rows": table.num_rows,
            "bytes": os.path.getsize(fpath),
            "partition": partition or {},
        }]

    def _materialize_spark(self, df: DataFrame, partition: dict | None) -> list[dict]:
        cur_id = self.current().snapshot_id
        staging = os.path.join(self.root, f"_staging-snap{cur_id + 1}")
        shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").option("compression", "zstd").parquet(staging)
        files = []
        for i, name in enumerate(sorted(os.listdir(staging))):
            if not name.endswith(".parquet"):
                continue
            src = os.path.join(staging, name)
            rows = pq.read_metadata(src).num_rows
            if rows == 0:
                continue
            fname = f"snap{cur_id + 1}-{i:05d}.parquet"
            os.replace(src, os.path.join(self.data_dir, fname))
            files.append({
                "path": fname, "rows": rows,
                "bytes": os.path.getsize(os.path.join(self.data_dir, fname)),
                "partition": partition or {},
            })
        shutil.rmtree(staging, ignore_errors=True)
        return files

    def _materialize_spark_partitioned(
        self, df: DataFrame, partition_col: str,
        sort_within: list[str] | None = None) -> list[dict]:
        """Distributed partitioned write: executors write part files under
        one `_pt=<value>` dir per partition value. The partition column is
        duplicated into `_pt` so the data files keep the original column
        (direct-path reads see the same schema as unpartitioned writes)."""
        cur_id = self.current().snapshot_id
        staging = os.path.join(self.root, f"_staging-snap{cur_id + 1}")
        shutil.rmtree(staging, ignore_errors=True)
        out = df.withColumn("_pt", df[partition_col])
        # AQE rebalance on the partition value (what Iceberg's Spark writer
        # does): clusters rows by partition AND splits oversized partitions
        # to the advisory size — without it every upstream task writes one
        # file into every partition dir (tasks x partitions tiny files;
        # measured ~1000 files/table and ~30 ms commit overhead each here)
        out = out.hint("rebalance", "_pt")
        if sort_within:
            out = out.sortWithinPartitions("_pt", *sort_within)
        (out.write.mode("overwrite").option("compression", "zstd")
            .partitionBy("_pt").parquet(staging))
        files = []
        i = 0
        for d in sorted(os.listdir(staging)):
            if not d.startswith("_pt="):
                continue
            raw = d[len("_pt="):]
            try:
                value: Any = int(raw)
            except ValueError:
                value = raw
            for name in sorted(os.listdir(os.path.join(staging, d))):
                if not name.endswith(".parquet"):
                    continue
                src = os.path.join(staging, d, name)
                rows = pq.read_metadata(src).num_rows
                if rows == 0:
                    continue
                fname = f"snap{cur_id + 1}-{i:05d}.parquet"
                i += 1
                os.replace(src, os.path.join(self.data_dir, fname))
                files.append({
                    "path": fname, "rows": rows,
                    "bytes": os.path.getsize(os.path.join(self.data_dir, fname)),
                    "partition": {partition_col: value},
                })
        shutil.rmtree(staging, ignore_errors=True)
        return files

    def _current_path(self) -> str:
        return os.path.join(self.manifest_dir, "CURRENT")

    def _acquire_lock(self, lock: str, ttl_s: float = 300.0) -> int:
        """O_EXCL lock with stale-holder recovery (ADVICE r02): the lock
        file records the holder PID; a lock whose holder is dead (or which
        outlived the TTL — covers a holder PID reused by an unrelated
        process) is reclaimed instead of wedging every future commit after
        a SIGKILL between lock creation and unlink."""
        for attempt in range(2):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                return fd
            except FileExistsError:
                stale = False
                holder: int | str = "?"
                alive = False
                try:
                    with open(lock) as f:
                        holder = int(f.read().strip() or "0")
                    if holder:
                        try:
                            os.kill(holder, 0)  # signal 0: existence probe
                        except ProcessLookupError:
                            stale = True
                        except PermissionError:
                            alive = True  # exists, owned by someone else
                        else:
                            alive = True
                    # a verifiably-"alive" holder gets 10x the TTL before
                    # reclaim: protects a slow vacuum from being stolen
                    # from, while still recovering from a crashed holder
                    # whose pid was reused by an unrelated process
                    age = __import__("time").time() - os.path.getmtime(lock)
                    if age > (10 * ttl_s if alive else ttl_s):
                        stale = True
                except (OSError, ValueError):
                    stale = True  # unreadable/empty lock: treat as stale
                if stale and attempt == 0:
                    # reclaim ATOMICALLY: rename, don't unlink — with two
                    # contenders both judging the lock stale, exactly one
                    # rename wins; an unlink race could delete the
                    # winner's freshly-created lock and let two writers in
                    reclaimed = lock + f".stale.{os.getpid()}"
                    try:
                        os.rename(lock, reclaimed)
                        os.unlink(reclaimed)
                    except FileNotFoundError:
                        pass  # another contender reclaimed first
                    continue
                raise RuntimeError(
                    f"concurrent commit in progress on {self.root} (LOCK "
                    f"held by pid {holder}); "
                    "single-writer per commit — if the holder crashed, "
                    f"delete {lock} to recover") from None
        raise AssertionError("unreachable")

    def _commit(self, snap: Snapshot) -> Snapshot:
        """Optimistic-concurrency commit (the Iceberg commit protocol in
        miniature): an O_EXCL lock file serializes the commit window, and
        the parent check rejects a commit whose base snapshot is no longer
        CURRENT — a second writer fails loudly instead of silently
        clobbering the first writer's snapshot."""
        lock = os.path.join(self.manifest_dir, "LOCK")
        fd = self._acquire_lock(lock)
        try:
            if snap.parent_id is not None and os.path.exists(self._current_path()) \
                    and self.current().snapshot_id != snap.parent_id:
                raise RuntimeError(
                    f"commit conflict on {self.root}: base snapshot "
                    f"{snap.parent_id} is no longer CURRENT")
            name = f"snap-{snap.snapshot_id:08d}.json"
            path = os.path.join(self.manifest_dir, name)
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {"snapshot_id": snap.snapshot_id, "parent_id": snap.parent_id,
                     "operation": snap.operation, "files": snap.files, "meta": snap.meta},
                    f, sort_keys=True)
            os.replace(tmp, path)
            ptr_tmp = self._current_path() + ".tmp"
            with open(ptr_tmp, "w") as f:
                f.write(name)
            os.replace(ptr_tmp, self._current_path())  # the atomic commit point
        finally:
            os.close(fd)
            os.unlink(lock)
        return snap
