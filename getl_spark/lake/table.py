"""LakeTable — snapshot-versioned parquet table with atomic commits.

On-disk layout::

    <location>/
      data/snap-<sid>-<i>-b<bucket>.parquet
      metadata/v<N>.metadata.json
      metadata/VERSION            # contains N; updated by atomic rename

Metadata JSON::

    {
      "format_version": 1,
      "name": "...",
      "partition_spec": {"kind": "bucket"|"none", "columns": [...], "num_buckets": 16},
      "schemas": {"0": <spark StructType json>},
      "current_schema_id": 0,
      "evolution_log": [{"result_schema_id": 1, "op": "add|widen|rename", ...}],
      "snapshots": [{"snapshot_id", "parent_id", "operation", "schema_id",
                     "summary": {...}, "files": [{"path","bucket","schema_id",
                     "rows","bytes"}]}],
      "current_snapshot_id": 3,
      "properties": {...}
    }

Scale design notes:
- The per-snapshot file list is the "manifest". Driver-side bucket
  pruning (`read(buckets=...)`) selects only the files whose bucket is
  touched — the same pruning Iceberg does from manifest partition
  stats. At 100 TB the list becomes a manifest tree; the API is
  unchanged.
- Copy-on-write overwrites rewrite only touched buckets; untouched
  files are carried forward by reference (no data movement).
- Commits are O(metadata); data files are written once and never
  mutated, so readers are never blocked and time travel is free.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FORMAT_VERSION = 1


class CommitConflict(Exception):
    """Another writer committed a conflicting change."""


class CommitSkipped(Exception):
    """A commit precondition failed after a refresh: another writer
    already committed what this one was about to (e.g. the same
    epoch's watermark). The caller should treat the operation as a
    no-op, not an error."""


@dataclass
class PartitionSpec:
    """bucket(N, cols) partition spec (Iceberg-style bucket transform).

    ``kind`` is "bucket" or "none". The bucket value of a row is
    ``pmod(xxhash64(*columns), num_buckets)`` — deterministic across
    sessions, computable on read without storing the column.
    """

    kind: str = "none"
    columns: list = field(default_factory=list)
    num_buckets: int = 0

    @staticmethod
    def bucket(num_buckets: int, *columns: str) -> "PartitionSpec":
        return PartitionSpec("bucket", list(columns), num_buckets)

    @staticmethod
    def none() -> "PartitionSpec":
        return PartitionSpec("none", [], 0)

    def bucket_expr(self):
        assert self.kind == "bucket"
        return F.pmod(F.xxhash64(*[F.col(c) for c in self.columns]), F.lit(self.num_buckets))

    def to_json(self) -> dict:
        return {"kind": self.kind, "columns": self.columns, "num_buckets": self.num_buckets}

    @staticmethod
    def from_json(d: dict) -> "PartitionSpec":
        return PartitionSpec(d["kind"], list(d.get("columns", [])), int(d.get("num_buckets", 0)))


def _atomic_write(path: str, text: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class LakeTable:
    """A snapshot-versioned table. Construct via :meth:`create` / :meth:`load`."""

    def __init__(self, location: str, meta: dict, version: int):
        self.location = location
        self.meta = meta
        self.version = version

    # ------------------------------------------------------------------ paths
    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.location, "metadata")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.location, "data")

    # ------------------------------------------------------------ create/load
    @staticmethod
    def create(
        location: str,
        schema: StructType,
        partition_spec: PartitionSpec | None = None,
        properties: dict | None = None,
        name: str = "",
    ) -> "LakeTable":
        if os.path.exists(os.path.join(location, "metadata", "VERSION")):
            raise FileExistsError(f"table already exists at {location}")
        os.makedirs(os.path.join(location, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        meta = {
            "format_version": FORMAT_VERSION,
            "name": name or os.path.basename(location.rstrip("/")),
            "partition_spec": (partition_spec or PartitionSpec.none()).to_json(),
            "schemas": {"0": json.loads(schema.json())},
            "current_schema_id": 0,
            "evolution_log": [],
            "snapshots": [],
            "current_snapshot_id": None,
            "properties": dict(properties or {}),
        }
        t = LakeTable(location, meta, 0)
        with open(os.path.join(t._meta_dir, "v0.metadata.json"), "x") as f:
            json.dump(meta, f)
        _atomic_write(os.path.join(t._meta_dir, "VERSION"), "0")
        return t

    @staticmethod
    def _live_version(location: str) -> int:
        """The table's live version = highest committed metadata file.

        VERSION is a hint, not the source of truth: a writer that won
        the os.link claim for v_N but stalled before its VERSION bump
        can write the pointer AFTER adopters have advanced it past N,
        transiently rolling it back. Every v<N>.metadata.json is linked
        atomically from an fsync'd temp file (never partial), so the
        highest N present is always a complete, adopted-or-adoptable
        commit — deriving the version from the files makes a stale
        pointer harmless to readers without requiring them to write.

        Versions are contiguous by construction, so instead of listing
        the whole directory (O(total commits) per refresh — refresh is
        on the per-epoch hot path) we probe upward from the hint:
        O(gap + 1) stat calls, gap almost always 0.
        """
        meta_dir = os.path.join(location, "metadata")
        with open(os.path.join(meta_dir, "VERSION")) as f:
            version = int(f.read().strip())
        if not os.path.exists(os.path.join(meta_dir, f"v{version}.metadata.json")):
            # pointer landed below the metadata-cleanup horizon (a
            # regressed write whose slot was expired): recover from
            # the full listing
            best = -1
            for p in glob.glob(os.path.join(meta_dir, "v*.metadata.json")):
                try:
                    n = int(os.path.basename(p)[1:].split(".", 1)[0])
                except ValueError:
                    continue
                best = max(best, n)
            if best < 0:
                raise FileNotFoundError(f"no metadata versions under {meta_dir}")
            version = best
        while os.path.exists(os.path.join(meta_dir, f"v{version + 1}.metadata.json")):
            version += 1
        return version

    @staticmethod
    def load(location: str) -> "LakeTable":
        version = LakeTable._live_version(location)
        with open(os.path.join(location, "metadata", f"v{version}.metadata.json")) as f:
            meta = json.load(f)
        return LakeTable(location, meta, version)

    @staticmethod
    def exists(location: str) -> bool:
        return os.path.exists(os.path.join(location, "metadata", "VERSION"))

    def refresh(self) -> "LakeTable":
        t = LakeTable.load(self.location)
        self.meta, self.version = t.meta, t.version
        return self

    # ------------------------------------------------------------- accessors
    @property
    def partition_spec(self) -> PartitionSpec:
        return PartitionSpec.from_json(self.meta["partition_spec"])

    @property
    def current_schema_id(self) -> int:
        return int(self.meta["current_schema_id"])

    def schema(self, schema_id: int | None = None) -> StructType:
        sid = self.current_schema_id if schema_id is None else schema_id
        return StructType.fromJson(self.meta["schemas"][str(sid)])

    @property
    def current_snapshot(self) -> dict | None:
        sid = self.meta["current_snapshot_id"]
        if sid is None:
            return None
        return next(s for s in self.meta["snapshots"] if s["snapshot_id"] == sid)

    def snapshot(self, snapshot_id: int) -> dict:
        return next(s for s in self.meta["snapshots"] if s["snapshot_id"] == snapshot_id)

    def current_files(self, snapshot_id: int | None = None) -> list:
        snap = self.current_snapshot if snapshot_id is None else self.snapshot(snapshot_id)
        return list(snap["files"]) if snap else []

    def history(self) -> list:
        return [
            {k: s[k] for k in ("snapshot_id", "parent_id", "operation", "summary", "schema_id")}
            for s in self.meta["snapshots"]
        ]

    @property
    def properties(self) -> dict:
        return self.meta["properties"]

    # ------------------------------------------------------------ committing
    def _try_commit(self, new_meta: dict) -> bool:
        """Claim the next metadata version; False if a concurrent writer won.

        Crash-safe claim protocol: the candidate metadata is written
        COMPLETELY to a temp file (fsync'd), then the version slot is
        claimed with os.link — atomic, and the claimed file can never
        be partial. If the slot is already claimed but VERSION still
        points below it, the claimant either crashed between link and
        the VERSION bump (orphan — the table would otherwise be
        permanently unwritable) or is about to bump it; completing the
        bump ourselves is safe and idempotent in both cases because
        every writer writes the identical VERSION content.
        """
        next_v = self.version + 1
        path = os.path.join(self._meta_dir, f"v{next_v}.metadata.json")
        vfile = os.path.join(self._meta_dir, "VERSION")
        # Stale-writer guard, checked BEFORE linking: metadata cleanup
        # (expire_snapshots) deletes old version files, so a writer
        # stale by more than the cleanup buffer could otherwise link
        # into a freed slot below the live head and believe it
        # committed while no reader ever resolves to it. Any staleness
        # detected here returns False so the caller rebases. (This must
        # NOT be checked after a successful link: by then a concurrent
        # adopter may already have built the next version on top of our
        # commit, and withdrawing it would both orphan their parent and
        # double-apply our caller's retry.)
        if LakeTable._live_version(self.location) > self.version:
            return False
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(new_meta, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            try:
                with open(vfile) as f:
                    current = int(f.read().strip())
            except (OSError, ValueError):
                current = next_v
            if current < next_v:
                _atomic_write(vfile, str(next_v))  # adopt the orphan commit
            return False
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        # Success-path bump is guarded: if adopters already advanced
        # VERSION past next_v while we stalled between link and here,
        # writing next_v would roll the pointer back and hide their
        # acknowledged commits from pointer-trusting readers. (load()
        # additionally derives the live version from the metadata-file
        # listing, so even the residual read-then-write race window
        # cannot make a commit invisible.)
        try:
            with open(vfile) as f:
                current = int(f.read().strip())
        except (OSError, ValueError):
            current = -1
        if current < next_v:
            _atomic_write(vfile, str(next_v))
        self.meta, self.version = new_meta, next_v
        return True

    def _commit_snapshot(
        self,
        operation: str,
        files: list,
        summary: dict | None = None,
        properties_update: dict | None = None,
        max_retries: int = 50,
        replaced_buckets: Iterable[int] | None = None,
        precondition=None,
    ) -> dict:
        """Commit a new snapshot whose live file set is ``files``.

        ``precondition(meta) -> bool`` is re-evaluated against the
        freshly-refreshed metadata on EVERY attempt — the rebase paths
        otherwise commit blindly, so without it two same-name writers
        that both passed the caller-level idempotency check can
        double-apply an epoch (append rebase) or regress a watermark
        property (disjoint-bucket rebase). A failed precondition
        raises :class:`CommitSkipped`.

        On a concurrent-commit race, reloads metadata and retries with
        jittered exponential backoff (without it, many writers can
        livelock each other out of all retries — measured with 6
        processes). Rebase rules:

        - pure appends always rebase (the new files are disjoint);
        - bucket overwrites carrying ``replaced_buckets`` use
          PARTITION-LEVEL conflict detection (Iceberg semantics): a
          concurrent commit that only touched OTHER buckets rebases —
          current files outside our buckets + our new files — so
          writers on disjoint key ranges never conflict; an overlap on
          the same bucket raises :class:`CommitConflict` (the caller
          must re-read and re-merge — MergeBuilder.execute retries);
        - whole-table overwrites raise on any file-set divergence.
        """
        import random

        replaced = set(int(b) for b in replaced_buckets) if replaced_buckets is not None else None
        for attempt in range(max_retries):
            if attempt:
                time.sleep(min(0.001 * (2 ** min(attempt, 8)), 0.2) * (0.5 + random.random()))
            if precondition is not None and not precondition(self.meta):
                raise CommitSkipped(f"commit precondition failed on {self.location}")
            snap_id = (self.meta["current_snapshot_id"] or 0) + 1
            snap = {
                "snapshot_id": snap_id,
                "parent_id": self.meta["current_snapshot_id"],
                "operation": operation,
                "schema_id": self.current_schema_id,
                "timestamp_ms": int(time.time() * 1000),
                "summary": dict(summary or {}),
                "files": files,
            }
            new_meta = json.loads(json.dumps(self.meta))
            new_meta["snapshots"].append(snap)
            new_meta["current_snapshot_id"] = snap_id
            if properties_update:
                new_meta["properties"].update(properties_update)
            if self._try_commit(new_meta):
                return snap
            base = self.current_files()  # our stale base
            base_paths = {f["path"] for f in base}
            self.refresh()
            cur = self.current_files()
            cur_paths = {f["path"] for f in cur}
            if operation == "append":
                # rebase: keep the concurrent snapshot's files + ours
                ours = [f for f in files if f["path"] not in base_paths]
                files = cur + ours
            elif replaced is not None:
                by_path = {f["path"]: f for f in base}
                by_path.update({f["path"]: f for f in cur})
                their_buckets = {
                    by_path[p]["bucket"] for p in base_paths ^ cur_paths
                }
                if their_buckets & replaced:
                    raise CommitConflict(
                        f"concurrent {operation} touched buckets "
                        f"{sorted(their_buckets & replaced)} on {self.location}"
                    )
                ours_new = [f for f in files if f["bucket"] in replaced]
                files = [f for f in cur if f["bucket"] not in replaced] + ours_new
            elif cur_paths != base_paths:
                raise CommitConflict(f"concurrent {operation} on {self.location}")
        raise CommitConflict(f"gave up after {max_retries} retries on {self.location}")

    # ----------------------------------------------------------- data files
    def _write_data_files(self, df: DataFrame, tag: str) -> list:
        """Write df as immutable parquet data files; return file entries.

        Bucketed tables are written ``partitionBy(_bucket)`` after a
        ``repartition(num_buckets, _bucket)`` so each task writes few
        buckets (few, large files). Files are moved from a staging dir
        into ``data/`` and recorded with their bucket + parquet-footer
        row count — the manifest stats used for pruning.
        """
        import pyarrow.parquet as pq

        spec = self.partition_spec
        staging = os.path.join(self.location, f"_staging-{tag}-{uuid.uuid4().hex[:8]}")
        try:
            if spec.kind == "bucket":
                out = df.withColumn("_bucket", spec.bucket_expr())
                # skew salting: a hot bucket (zipf repo) fans out over
                # `write.salt` tasks instead of serializing on one.
                raw_salt = str(self.properties.get("write.salt", "1"))
                # "auto" is resolved by the pipeline before its first
                # write; a direct table write before that is unsalted
                salt = int(raw_salt) if raw_salt.isdigit() else 1
                if salt > 1:
                    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))
                    out = out.repartition(spec.num_buckets * salt, F.col("_bucket"), salt_col)
                else:
                    out = out.repartition(spec.num_buckets, "_bucket")
                out.write.partitionBy("_bucket").parquet(staging, mode="overwrite")
                parts = sorted(glob.glob(os.path.join(staging, "_bucket=*", "*.parquet")))
            else:
                df.write.parquet(staging, mode="overwrite")
                parts = sorted(glob.glob(os.path.join(staging, "*.parquet")))
            from concurrent.futures import ThreadPoolExecutor

            def register(arg):
                i, p = arg
                bucket = None
                d = os.path.basename(os.path.dirname(p))
                if d.startswith("_bucket="):
                    bucket = int(d.split("=", 1)[1])
                md = pq.ParquetFile(p).metadata
                if md.num_rows == 0:
                    return None
                fname = (
                    f"snap-{tag}-{i:05d}"
                    + (f"-b{bucket}" if bucket is not None else "")
                    + ".parquet"
                )
                dest = os.path.join(self._data_dir, fname)
                os.replace(p, dest)
                return {
                    "path": os.path.join("data", fname),
                    "bucket": bucket,
                    "schema_id": self.current_schema_id,
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(dest),
                }

            # footer reads + renames parallelized: this is driver-side
            # serial time otherwise (matters at many files per commit)
            with ThreadPoolExecutor(max_workers=16) as ex:
                entries = [e for e in ex.map(register, enumerate(parts)) if e]
            return entries
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # ------------------------------------------------------------ operations
    def _write_pandas_file(self, pdf) -> dict:
        """Write a SMALL pandas frame as one parquet data file via
        pyarrow (no Spark job); returns the manifest entry (uncommitted)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        if self.partition_spec.kind != "none":
            raise ValueError("pandas writes support non-partitioned tables only")
        schema = to_arrow_schema(self.schema())
        tbl = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        fname = f"snap-{uuid.uuid4().hex[:8]}-pandas.parquet"
        dest = os.path.join(self._data_dir, fname)
        pq.write_table(tbl, dest)
        return {
            "path": os.path.join("data", fname),
            "bucket": None,
            "schema_id": self.current_schema_id,
            "rows": len(pdf),
            "bytes": os.path.getsize(dest),
        }

    def append_pandas(self, pdf, summary: dict | None = None) -> dict:
        """Append bookkeeping rows without a Spark job."""
        entry = self._write_pandas_file(pdf)
        s = {"added_files": 1, "added_rows": len(pdf)}
        s.update(summary or {})
        return self._commit_snapshot("append", self.current_files() + [entry], s)

    def overwrite_pandas(self, pdf, summary: dict | None = None) -> dict:
        """Atomically replace the whole (small) table's contents."""
        files = [self._write_pandas_file(pdf)] if len(pdf) else []
        return self._commit_snapshot("overwrite", files, summary)

    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        properties_update: dict | None = None,
        precondition=None,
        validate=None,
    ) -> dict:
        """``validate(new_file_entries)`` (optional) runs AFTER the data
        write but BEFORE the commit: raising aborts the commit and the
        fresh files are removed — callers fold post-write invariant
        checks (e.g. row-count expectations from parquet footers) into
        the write action instead of paying a separate verification job."""
        new = self._write_data_files(df.select(*self.schema().fieldNames()), uuid.uuid4().hex[:8])
        try:
            if validate is not None:
                validate(new)
            files = self.current_files() + new
            s = {"added_files": len(new), "added_rows": sum(f["rows"] for f in new)}
            s.update(summary or {})
            return self._commit_snapshot("append", files, s, properties_update, precondition=precondition)
        except Exception:
            for f in new:  # our files never became visible
                try:
                    os.remove(os.path.join(self.location, f["path"]))
                except OSError:
                    pass
            raise

    def overwrite_buckets(
        self,
        df: DataFrame,
        buckets: Iterable[int],
        summary: dict | None = None,
        properties_update: dict | None = None,
        precondition=None,
        validate=None,
    ) -> dict:
        """Copy-on-write: replace all files in ``buckets`` with ``df``.

        Untouched buckets are carried forward by reference — this is
        the physical form of a bucket-pruned MERGE INTO.

        ``validate(new_file_entries)`` (optional) runs AFTER the data
        write but BEFORE the commit: raising aborts the commit and the
        fresh files are removed — callers fold post-write invariant
        checks into the write action instead of a separate job.
        """
        buckets = set(int(b) for b in buckets)
        new = self._write_data_files(df.select(*self.schema().fieldNames()), uuid.uuid4().hex[:8])
        try:
            if validate is not None:
                validate(new)
            bad = [f for f in new if f["bucket"] not in buckets and f["bucket"] is not None]
            if bad:
                raise ValueError(f"overwrite produced rows outside declared buckets: {bad[:3]}")
            kept = [f for f in self.current_files() if f["bucket"] not in buckets]
            s = {
                "replaced_buckets": sorted(buckets),
                "added_files": len(new),
                "added_rows": sum(f["rows"] for f in new),
            }
            s.update(summary or {})
            return self._commit_snapshot(
                "overwrite", kept + new, s, properties_update,
                replaced_buckets=buckets, precondition=precondition,
            )
        except Exception:
            # our fresh files never became visible — delete them
            # instead of leaving orphans for maintenance (kept files
            # belong to prior snapshots and stay)
            for f in new:
                try:
                    os.remove(os.path.join(self.location, f["path"]))
                except OSError:
                    pass
            raise

    def overwrite_all(self, df: DataFrame, summary: dict | None = None) -> dict:
        new = self._write_data_files(df.select(*self.schema().fieldNames()), uuid.uuid4().hex[:8])
        return self._commit_snapshot("overwrite", new, summary)

    def truncate(self) -> dict:
        return self._commit_snapshot("delete", [], {"truncated": True})

    def delete_where(self, spark: SparkSession, condition) -> dict:
        """DELETE FROM t WHERE cond — copy-on-write rewrite of matching buckets.

        Reference parity: deleteRows
        (/root/reference/src/main/groovy/getl/jdbc/JDBCDriver.groovy:2270-2310).
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        # SQL DELETE semantics: only rows where cond is TRUE are
        # deleted; a NULL-evaluating condition KEEPS the row (a bare
        # ~cond would silently drop NULL rows from the keep set)
        cond = F.coalesce(cond, F.lit(False))
        spec = self.partition_spec
        if spec.kind == "bucket":
            hit = (
                self.read(spark, with_bucket_col=True)
                .filter(cond)
                .select("_bucket")
                .distinct()
                .collect()
            )
            buckets = [r[0] for r in hit]
            if not buckets:
                return self.current_snapshot
            keep = self.read(spark, buckets=buckets).filter(~cond)
            return self.overwrite_buckets(keep, buckets, {"delete_where": str(condition)})
        keep = self.read(spark).filter(~cond)
        return self.overwrite_all(keep, {"delete_where": str(condition)})

    def drop(self) -> None:
        shutil.rmtree(self.location, ignore_errors=True)

    def update_properties(self, props: dict) -> None:
        new_meta = json.loads(json.dumps(self.meta))
        new_meta["properties"].update(props)
        while not self._try_commit(new_meta):
            self.refresh()
            new_meta = json.loads(json.dumps(self.meta))
            new_meta["properties"].update(props)

    def transform_properties(self, fn, max_retries: int = 50) -> dict:
        """CAS property update: ``fn(current_properties) -> updates``
        is re-evaluated against freshly-read properties on every commit
        conflict, so read-modify-write reservations (sequence blocks,
        counters) never apply a stale absolute value twice. Returns the
        updates that actually committed."""
        import random

        for attempt in range(max_retries):
            if attempt:
                time.sleep(min(0.001 * (2 ** min(attempt, 8)), 0.2) * (0.5 + random.random()))
            self.refresh()
            updates = fn(dict(self.meta["properties"]))
            new_meta = json.loads(json.dumps(self.meta))
            new_meta["properties"].update(updates)
            if self._try_commit(new_meta):
                return updates
        raise CommitConflict(f"transform_properties gave up after {max_retries} retries")

    # ----------------------------------------------------------------- read
    def read(
        self,
        spark: SparkSession,
        buckets: Iterable[int] | None = None,
        snapshot_id: int | None = None,
        with_bucket_col: bool = False,
    ) -> DataFrame:
        """Scan the table at the current (or given) snapshot.

        ``buckets`` prunes to the given partition buckets driver-side —
        only matching data files enter the scan (manifest pruning).
        Old-schema files are upgraded to the current schema via
        per-file-group select (add->null, widen->cast, rename->alias).
        """
        from getl_spark.lake.evolution import upgrade_exprs

        snap = self.current_snapshot if snapshot_id is None else self.snapshot(snapshot_id)
        target_sid = self.current_schema_id if snapshot_id is None else snap["schema_id"]
        target_schema = self.schema(target_sid)
        files = list(snap["files"]) if snap else []
        if buckets is not None:
            bset = set(int(b) for b in buckets)
            files = [f for f in files if f["bucket"] in bset]
        if not files:
            df = spark.createDataFrame([], target_schema)
            if with_bucket_col:
                df = df.withColumn("_bucket", F.lit(None).cast("int"))
            return df

        by_sid: dict[int, list[str]] = {}
        for f in files:
            by_sid.setdefault(int(f["schema_id"]), []).append(
                os.path.join(self.location, f["path"])
            )
        parts = []
        for sid, paths in sorted(by_sid.items()):
            df = spark.read.schema(self.schema(sid)).parquet(*paths)
            if sid != target_sid:
                df = df.select(*upgrade_exprs(self, sid, target_sid))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if with_bucket_col:
            spec = self.partition_spec
            if spec.kind == "bucket":
                out = out.withColumn("_bucket", spec.bucket_expr().cast("int"))
            else:
                out = out.withColumn("_bucket", F.lit(0))
        return out

    def read_pandas(self, columns: list[str] | None = None):
        """Driver-side read via pyarrow — for SMALL bookkeeping tables
        (_checkpoints, _lineage): no Spark job, sub-ms per call. Only
        valid when all files are at the current schema."""
        import pandas as pd
        import pyarrow.parquet as pq

        files = self.current_files()
        cur_fields = self.schema().fieldNames()
        if not files:
            cols = columns or cur_fields
            return pd.DataFrame({c: [] for c in cols})
        want = columns or cur_fields
        # rename history: a legacy file's old column name reads as the
        # current name (add/rename are the only evolutions bookkeeping
        # tables perform; width never changes there). Renames apply
        # only if recorded AFTER the file's schema version — otherwise
        # rename(x->y) followed by a later re-add of x would map a new
        # file's x column onto y (upgrade_exprs does the same).
        rename_log = [
            (int(e["result_schema_id"]), e["column"], e["new_name"])
            for e in self.meta.get("evolution_log", [])
            if e["op"] == "rename"
        ]

        def final_name(n: str, file_sid: int) -> str:
            for rid, old, new in rename_log:
                if rid > file_sid and n == old:
                    n = new
            return n

        parts = []
        for f in files:
            pf = pq.ParquetFile(os.path.join(self.location, f["path"]))
            fsid = int(f.get("schema_id", 0))
            file_cols = {c: final_name(c, fsid) for c in pf.schema_arrow.names}
            extra = [c for c, cur in file_cols.items() if cur not in cur_fields]
            if extra:
                # dropped columns need the Spark reader's full upgrade
                # path; bookkeeping tables only ever add/rename
                raise ValueError(
                    "read_pandas supports add/rename-only schema evolution; "
                    f"file {f['path']} has non-current columns {extra}"
                )
            # project at the parquet reader — this is a per-epoch hot
            # path (checkpoint/lineage reads), don't materialize columns
            # the caller didn't ask for
            read_cols = [c for c, cur in file_cols.items() if cur in want]
            pdf = pf.read(columns=read_cols).to_pandas()
            pdf.columns = [file_cols[c] for c in pdf.columns]
            for c in want:  # file predates an add_column: typed null
                if c not in pdf.columns:
                    pdf[c] = None
            pdf = pdf[want]
            parts.append(pdf)
        return pd.concat(parts, ignore_index=True)

    def count_rows(self, buckets: Iterable[int] | None = None) -> int:
        """COUNT(*) from manifest stats — no scan (getl countRow analog,
        /root/reference/src/main/groovy/getl/jdbc/TableDataset.groovy:219-231)."""
        files = self.current_files()
        if buckets is not None:
            bset = set(int(b) for b in buckets)
            files = [f for f in files if f["bucket"] in bset]
        return sum(f["rows"] for f in files)

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows ADDED between two snapshots (exclusive `from`, inclusive
        `to`) — Iceberg's incremental append scan: only the data files
        present in `to` but not in `from` are read, so a downstream
        consumer tails the table at O(new data), the lake-level form of
        the high-watermark incremental read (getl ReadSpec.where,
        /root/reference/src/main/groovy/getl/jdbc/opts/ReadSpec.groovy:73).

        Raises if any snapshot in the range is not an append: after an
        overwrite/delete the manifest diff no longer equals a row-level
        diff (rewritten files mix old and new rows).
        """
        from getl_spark.lake.evolution import upgrade_exprs

        to_id = (
            to_snapshot_id
            if to_snapshot_id is not None
            else self.meta["current_snapshot_id"]
        )
        # empty-result frames are pinned to the `to` snapshot's schema,
        # matching the non-empty path (a to_id below the latest schema
        # evolution must not see the current schema)
        def _empty():
            try:
                sid = self.snapshot(to_id)["schema_id"] if to_id else None
            except StopIteration:
                sid = None
            return spark.createDataFrame([], self.schema(sid))

        if to_id is None or to_id <= from_snapshot_id:
            return _empty()
        span = [
            s
            for s in self.meta["snapshots"]
            if from_snapshot_id < s["snapshot_id"] <= to_id
        ]
        non_append = [s["snapshot_id"] for s in span if s["operation"] != "append"]
        if non_append:
            raise ValueError(
                f"incremental read crosses non-append snapshots {non_append}: "
                "the file diff is not a row diff — read a full snapshot instead"
            )
        # snapshot ids start at 1; 0 is the genesis sentinel (empty table)
        try:
            from_files = (
                set()
                if from_snapshot_id <= 0
                else {f["path"] for f in self.current_files(from_snapshot_id)}
            )
        except StopIteration:
            raise ValueError(
                f"snapshot {from_snapshot_id} has been expired from "
                f"{self.location}: the incremental range is gone — rebuild "
                f"from a full snapshot (incremental_sync "
                f"on_non_append='rebuild')"
            ) from None
        new_files = [
            f for f in self.current_files(to_id) if f["path"] not in from_files
        ]
        if not new_files:
            return _empty()
        target_sid = self.snapshot(to_id)["schema_id"]
        by_sid: dict[int, list[str]] = {}
        for f in new_files:
            by_sid.setdefault(int(f["schema_id"]), []).append(
                os.path.join(self.location, f["path"])
            )
        parts = []
        for sid, paths in sorted(by_sid.items()):
            df = spark.read.schema(self.schema(sid)).parquet(*paths)
            if sid != target_sid:
                df = df.select(*upgrade_exprs(self, sid, target_sid))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------------------------------------------------------------- merge
    def merge(self, source: DataFrame) -> "MergeBuilder":
        from getl_spark.lake.merge import MergeBuilder

        return MergeBuilder(self, source)

    # ------------------------------------------------------------ evolution
    def add_column(self, name: str, dtype: str, nullable: bool = True) -> None:
        from getl_spark.lake.evolution import apply_evolution

        apply_evolution(self, {"op": "add", "column": name, "type": dtype, "nullable": nullable})

    def widen_column(self, name: str, new_type: str) -> None:
        from getl_spark.lake.evolution import apply_evolution

        apply_evolution(self, {"op": "widen", "column": name, "type": new_type})

    def rename_column(self, name: str, new_name: str) -> None:
        from getl_spark.lake.evolution import apply_evolution

        apply_evolution(self, {"op": "rename", "column": name, "new_name": new_name})

    def drop_column(self, name: str) -> None:
        """Drop a column (lazy: old files project it out on read; a
        later re-added column of the same name reads NULL from
        pre-drop files). Partition and primary-key columns cannot be
        dropped — bucket pruning / MERGE keys depend on them."""
        from getl_spark.lake.evolution import apply_evolution

        if name in self.partition_spec.columns:
            raise ValueError(f"cannot drop partition column {name!r}")
        pk = self.properties.get("primary.key", "")
        if name in [k.strip() for k in pk.split(",") if k]:
            raise ValueError(f"cannot drop primary-key column {name!r}")
        apply_evolution(self, {"op": "drop", "column": name})

    # ------------------------------------------------------------ maintenance
    def compact(self, spark: SparkSession, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Rewrite buckets whose live file count is high into one file each.

        Small-file compaction — the binpack rewrite Iceberg's
        rewrite_data_files performs. Only buckets with >1 file are
        rewritten.
        """
        spec = self.partition_spec
        if spec.kind != "bucket":
            return self.overwrite_all(self.read(spark), {"compaction": True})
        counts: dict[int, int] = {}
        for f in self.current_files():
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        buckets = [b for b, c in counts.items() if c > 1]
        if not buckets:
            return self.current_snapshot
        df = self.read(spark, buckets=buckets)
        return self.overwrite_buckets(df, buckets, {"compaction": True})

    def remove_orphan_files(self, older_than_seconds: float = 3600) -> int:
        """Delete data files referenced by NO snapshot (Iceberg's
        remove_orphan_files): a writer that loses a commit conflict —
        or crashes between writing its data files and committing —
        leaves its files in ``data/`` forever, since expire_snapshots
        only deletes files that WERE referenced. The mtime grace
        period (default 1 h) protects concurrent writers whose commit
        is in flight: their files are new, orphans from dead commits
        age past it."""
        self.refresh()
        referenced = {
            f["path"] for s in self.meta["snapshots"] for f in s["files"]
        }
        removed = 0
        now = time.time()
        for p in glob.glob(os.path.join(self._data_dir, "*.parquet")):
            rel = os.path.join("data", os.path.basename(p))
            if rel in referenced:
                continue
            try:
                if now - os.path.getmtime(p) < older_than_seconds:
                    continue
                os.remove(p)
                removed += 1
            except FileNotFoundError:
                continue
        # staging dirs from writers that crashed mid-_write_data_files
        # (their finally-cleanup never ran) hold unregistered parquet
        # parts outside data/ — same orphan class, same grace period
        for d in glob.glob(os.path.join(self.location, "_staging-*")):
            try:
                if now - os.path.getmtime(d) < older_than_seconds:
                    continue
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
            except FileNotFoundError:
                continue
        return removed

    def expire_snapshots(self, keep_last: int = 1, keep_metadata_versions: int = 8) -> int:
        """Drop old snapshots and delete data files no longer referenced.

        The metadata-growth bound for long-lived tables: every commit
        appends a snapshot (whose manifest repeats the full live file
        list) and writes a new v<N>.metadata.json — unbounded, both
        the JSON grows O(snapshots x files) and the directory grows
        one file per commit. Expiring keeps the commit O(keep_last x
        files) forever. Stale metadata-version files below
        ``version - keep_metadata_versions`` are deleted too (each is
        self-contained; the buffer keeps files a concurrent reader
        mid-load may still be opening). Incremental consumers whose
        watermark falls behind the horizon get a clear error from
        ``read_incremental`` and recover via the rebuild path.
        """
        if keep_last < 1:
            raise ValueError("expire_snapshots requires keep_last >= 1")
        snaps = self.meta["snapshots"]
        dead_count = 0
        if len(snaps) > keep_last:
            keep = snaps[-keep_last:]
            live = {f["path"] for s in keep for f in s["files"]}
            dead = {f["path"] for s in snaps for f in s["files"]} - live
            new_meta = json.loads(json.dumps(self.meta))
            new_meta["snapshots"] = keep
            while not self._try_commit(new_meta):
                self.refresh()
                new_meta = json.loads(json.dumps(self.meta))
                new_meta["snapshots"] = new_meta["snapshots"][-keep_last:]
            for p in dead:
                try:
                    os.remove(os.path.join(self.location, p))
                except FileNotFoundError:
                    pass
            dead_count = len(dead)
        horizon = self.version - int(keep_metadata_versions)
        for p in glob.glob(os.path.join(self._meta_dir, "v*.metadata.json")):
            try:
                n = int(os.path.basename(p)[1:].split(".", 1)[0])
            except ValueError:
                continue
            if n < horizon:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
        return dead_count
