"""Snapshot commits over immutable files, after Paimon's
(PaimonIngestor.java:269-276). Their users: the serving table,
streaming sketch state, the dedup line-count and band-key indexes, the
IVF lists and the term index.

- Data files are immutable and uniquely named (Spark's per-job file
  names). The root table's are in ``{path}/`` or in partition
  directories one or more levels deep (``{path}/k=v/``,
  ``{path}/a=1/b=2/``); a state may keep unpartitioned sub-tables of
  their own schemas beside it (``{path}/_name/``).
- Commit N+1 writes ``{path}/_snapshots/N+1.json`` (the live files per
  directory, each table's schema and the caller's metadata) to a temp
  name and renames it into place only if N+1 is absent. That rename is
  the commit, so the tables one commit writes become visible together.
  ``_snapshots/LATEST`` is a hint a reader starts from.
- A reader pins the newest snapshot and scans its explicit file list:
  no directory listing, no recovery, no writes. A crashed writer leaves
  only files no snapshot references; the next commit deletes them.

One writer per path is assumed. HDFS refuses a rename onto an existing
file and the local filesystem checks before it renames; on S3A rename
is a copy, so the if-absent guard is not atomic there. Every file
operation is a call through the ``fs`` module, looked up at call time.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark import fs

SNAPSHOT_DIR = "_snapshots"


class SnapshotLog:
    """The snapshots of the state at ``path``. ``leftovers`` are the
    suffixes of sibling paths an older rename-based protocol parked or
    staged the state under; one of them on disk with no snapshot here
    raises ``fs.leftover_error``."""

    def __init__(self, spark: SparkSession, path: str, leftovers: tuple[str, ...] = ()):
        self.spark = spark
        self.path = path.rstrip("/")
        self.leftovers = leftovers

    def _file(self, n: int) -> str:
        return f"{self.path}/{SNAPSHOT_DIR}/{n}.json"

    @property
    def _hint(self) -> str:
        return f"{self.path}/{SNAPSHOT_DIR}/LATEST"

    def _dir(self, d: str) -> str:
        """A snapshot directory key ("" is the root) as a path."""
        return f"{self.path}/{d}" if d else self.path

    def _on_disk(self, dirs: list[str] | None = None, tables=()) -> dict[str, set[str]]:
        """The parquet file names in each of ``dirs``; None lists the
        root, every partition directory under it at any depth and those
        of ``tables`` (sub-table names) it holds."""
        listed = {}
        if dirs is None:
            listed[""] = fs.list_names(self.spark, self.path)
            dirs = [n for n in listed[""] if "=" in n or n in tables]
            for d in dirs:  # grows by the nested partition directories found
                listed[d] = fs.list_names(self.spark, self._dir(d))
                dirs += [f"{d}/{n}" for n in listed[d] if "=" in n]
        else:
            listed.update((d, fs.list_names(self.spark, self._dir(d))) for d in dirs)
        return {d: {n for n in names if n.endswith(".parquet")} for d, names in listed.items()}

    def latest(self) -> dict | None:
        """The newest snapshot, or None for a state never committed.
        Starts at the LATEST hint and steps forward while a newer
        snapshot exists. A snapshot gone before it is read was expired
        by a concurrent commit, which moved the hint on first: start
        over from the new hint. If the hint has not moved, the snapshot
        is missing for good."""
        hint = fs.read_text(self.spark, self._hint)
        while True:
            n = int(hint) if hint else 0
            while fs.exists(self.spark, self._file(n + 1)):
                n += 1
            if n == 0:
                for suffix in self.leftovers:
                    if fs.exists(self.spark, self.path + suffix):
                        raise fs.leftover_error(self.path + suffix)
                return None
            raw = fs.read_text(self.spark, self._file(n))
            if raw is not None:
                return json.loads(raw)
            seen, hint = hint, fs.read_text(self.spark, self._hint)
            if hint == seen:
                raise FileNotFoundError(f"{self.path}: snapshot {n} is missing")

    def read(self, snap: dict, dirs: list[str] | None = None, table: str = "") -> DataFrame:
        """The rows of ``snap``'s table ``table`` ("" the root, else a
        sub-table it has written) under its schema: for the root, only
        the files in ``dirs`` when given, partition columns included. No
        files is an empty frame."""
        tables = snap.get("tables", {})
        if table:
            schema, dirs = tables[table], [table]
        else:
            schema = snap["schema"]
            dirs = [d for d in snap["files"] if d not in tables and (dirs is None or d in dirs)]
        paths = [f"{self._dir(d)}/{n}" for d in sorted(dirs) for n in snap["files"].get(d, ())]
        schema = T.StructType.fromJson(schema)
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).option("basePath", self._dir(table)).parquet(*paths)

    def _claim(self) -> None:
        """Before the first commit: refuse a directory that holds files
        but no ``_snapshots/`` (state written before snapshot commits,
        or plain parquet), since the commit would delete them as
        garbage. Then create ``_snapshots/``, which marks whatever a
        crash of this commit leaves behind as this state's own."""
        root = fs.list_names(self.spark, self.path)
        if SNAPSHOT_DIR not in root and any(not n.startswith(".") for n in root):
            raise IOError(
                f"{self.path} holds data but no snapshot: state written "
                "before snapshot commits is not adopted; rewrite it at a "
                "new path"
            )
        fs.mkdirs(self.spark, f"{self.path}/{SNAPSHOT_DIR}")

    def commit(
        self,
        snap: dict | None,
        df: DataFrame | dict[str, DataFrame],
        meta: dict | Callable[[dict[str, list[str]]], dict],
        partition_by: tuple[str, ...] = (),
        replace: list[str] | None = None,
        into: list[str] | None = None,
    ) -> dict:
        """Append ``df`` as new files and publish the snapshot after
        ``snap`` with ``meta``; returns it. ``df`` is the root table's
        frame, or a dict of frames by table: "" the root, any other name
        a sub-table written to ``{path}/{name}/``. ``partition_by``
        partitions the root frame by its columns, outermost first.
        ``replace`` names the directories whose files in ``snap`` the
        new ones replace: None is every directory, ``[]`` none (an
        append), a list exactly those ("__bucket=3", "band=0/vb=3", ""
        for the root, "_termdict" for a sub-table). ``into`` names the
        root directories ("" or "k=v") the root frame writes into; by
        default those ``replace`` names, and with none named, any.
        ``meta`` may be a callable: it is given the files this commit
        added, by directory, and returns the metadata.

        Garbage is the parquet on disk that ``snap`` does not reference:
        the files the commit that made ``snap`` replaced, and a crashed
        commit's leftovers. It is deleted after the write, so a reader
        pinned to the snapshot before ``snap`` has the whole write to
        finish. With a list, only the directories written, its own and
        those ``snap``'s commit replaced are listed: leftovers elsewhere
        are never read and go when their directory is next rewritten.
        The listing before the write tells this commit's new files apart
        from leftovers."""
        frames = df if isinstance(df, dict) else {"": df}
        live = snap["files"] if snap else {}
        # a snapshot without "replaced" (written before it was recorded)
        # gets the whole-table scan
        replaced = snap.get("replaced") if snap else None
        # every sub-table ever written keeps its schema, so a full
        # listing finds the files of one a commit dropped
        tables = dict(snap.get("tables", {})) if snap else {}
        tables.update((t, f.schema.jsonValue()) for t, f in frames.items() if t)
        parts = into if into is not None else [d for d in replace or () if d == "" or "=" in d]
        written = None if "" in frames and not parts else parts + [t for t in frames if t]
        if snap is None:
            self._claim()
        if written is None or replaced is None:
            on_disk = self._on_disk(None, tables)
        else:
            on_disk = self._on_disk(sorted(set(written) | set(replace or ()) | set(replaced)))
        for t, frame in frames.items():
            # a crashed Spark write's task output: the next append's job
            # commit would otherwise move it into the data directories
            fs.delete(self.spark, f"{self._dir(t)}/_temporary")
            writer = frame.write.mode("append")
            if partition_by and not t:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self._dir(t))

        after = self._on_disk(written, tables)
        files = {} if replace is None else {d: f for d, f in live.items() if d not in replace}
        added = {}
        for d, names in after.items():
            new = names - on_disk.get(d, set())
            if new:
                added[d] = sorted(new)
                files[d] = sorted(new.union(files.get(d, ())))
        for d, names in on_disk.items():
            for name in sorted(names - set(live.get(d, ()))):
                fs.delete(self.spark, f"{self._dir(d)}/{name}")

        if "" in frames:
            # partition columns read back last and in nesting order, so
            # the schema lists them so
            order = {c: i + 1 for i, c in enumerate(partition_by)}
            fields = sorted(frames[""].schema.fields, key=lambda f: order.get(f.name, 0))
            schema = T.StructType(fields).jsonValue()
        else:
            schema = snap["schema"]
        n = (snap["id"] if snap else 0) + 1
        new_snap = {
            "id": n,
            "files": files,
            "replaced": replace,
            "schema": schema,
            "tables": tables,
            **(meta(added) if callable(meta) else meta),
        }
        tmp = self._file(n) + ".tmp"
        fs.write_text(self.spark, tmp, json.dumps(new_snap))
        if not fs.rename(self.spark, tmp, self._file(n)):
            raise IOError(f"{self.path}: snapshot {n} already exists (concurrent writer?)")
        fs.write_text_atomic(self.spark, self._hint, str(n))
        if n > 2:  # snapshot n-2's files were deleted above; so goes its manifest
            fs.delete(self.spark, self._file(n - 2))
        return new_snap
