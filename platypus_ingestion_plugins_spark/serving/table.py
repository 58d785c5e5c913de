"""Idempotent key-merged serving table (the 'index' sink).

Reference sink: addDocuments-upsert + deleteByQuery + commit per batch
(PaimonRowProcessor.java:242-260; KafkaIngestor.java:251-289). Spark
has no Lucene index; the serving layer is a parquet table that always
holds exactly one live row per key, merged per micro-batch via the
CDC reduce (operators/cdc.py). Merges are idempotent — replaying a
batch after a failed checkpoint converges to the same state, which is
the at-least-once-to-effectively-once upgrade the reference gets from
commit-after-index (KafkaIngestor.java:204-230).

Scale design (100 TB): with ``num_buckets`` set the table is laid out
as hash-bucket partitions (``__bucket = pmod(hash(key), N)``) and a
micro-batch rewrites ONLY the buckets containing changed keys, so
per-batch cost is O(touched buckets), not O(table).
``num_buckets=0`` keeps the simple full rewrite for small tables.

Commit protocol: Paimon-style numbered snapshots (PaimonIngestor.java:
269-276).

- Data files are immutable and uniquely named (Spark's per-job file
  names), under ``{path}/__bucket=b/`` (``{path}/`` when unbucketed).
- Commit N+1 writes ``{path}/_snapshots/N+1.json`` — the live files
  per bucket, the data schema and the commit record — to a temp name
  and renames it into place only if N+1 is absent. That rename is the
  commit: before it the new files are invisible, after it they are
  the table. ``_snapshots/LATEST`` is a hint a reader starts from.
- A reader pins the newest snapshot and scans its explicit file list
  under its schema: no directory listing, no recovery, no writes. A
  crashed writer leaves only files no snapshot references, or a temp
  snapshot no reader opens.
- Each commit deletes the files on disk that the snapshot it builds
  on does not reference: crash leftovers, and files replaced before
  that snapshot. It looks only in the buckets it rewrites and those
  the previous commit replaced. The previous snapshot's files stay
  until the next commit, so a reader that pinned it still finds them.
- A directory holding data but no ``_snapshots/`` (a table written
  before snapshot commits) is refused by the first commit, not
  cleaned.

One writer per table is assumed. HDFS refuses a rename onto an
existing file and the local filesystem checks before it renames; on
S3A rename is a copy, so the if-absent guard is not atomic there.
All file operations go through the Hadoop FileSystem API
(platypus_ingestion_plugins_spark.fs), so ``path`` may be local,
``hdfs://`` or ``s3a://`` (reference parity: S3ALoader.java:32-89).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark import fs
from platypus_ingestion_plugins_spark.operators.cdc import apply_changelog

BUCKET_COL = "__bucket"
SNAPSHOT_DIR = "_snapshots"


class ServingTable:
    """A queryable, upsertable materialized table at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str | list[str],
        num_buckets: int = 0,
        auto_register_fields: bool = True,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.key = [key] if isinstance(key, str) else list(key)
        self.num_buckets = num_buckets
        # reference parity (IngestionConfig.autoRegisterFields,
        # default FALSE there): with auto-register ON (our default —
        # schema evolution is the lakehouse norm) a batch carrying new
        # columns widens the table; with it OFF the snapshot's schema
        # is a CONTRACT and an unknown column is an ingest error,
        # caught before any data lands
        self.auto_register_fields = auto_register_fields
        self._frame: tuple[dict, DataFrame] | None = None  # (snapshot, its frame)

    def _bucket_col(self) -> Column:
        return F.pmod(F.hash(*[F.col(k) for k in self.key]), F.lit(self.num_buckets))

    def _snapshot_file(self, n: int) -> str:
        return f"{self.path}/{SNAPSHOT_DIR}/{n}.json"

    @property
    def _hint(self) -> str:
        return f"{self.path}/{SNAPSHOT_DIR}/LATEST"

    def _dir(self, d: str) -> str:
        """A snapshot directory key ("" is the table root) as a path."""
        return f"{self.path}/{d}" if d else self.path

    def _parquet_names(self, d: str) -> set[str]:
        return {n for n in fs.list_names(self.spark, self._dir(d)) if n.endswith(".parquet")}

    def _latest(self) -> dict | None:
        """The newest snapshot, or None for a table never committed.
        Starts at the LATEST hint and steps forward while a newer
        snapshot exists. A snapshot gone before it is read was expired
        by a concurrent commit, which moved the hint on first: start
        over from the new hint. If the hint has not moved, the snapshot
        is missing for good."""
        hint = fs.read_text(self.spark, self._hint)
        while True:
            n = int(hint) if hint else 0
            while fs.exists(self.spark, self._snapshot_file(n + 1)):
                n += 1
            if n == 0:
                return None
            raw = fs.read_text(self.spark, self._snapshot_file(n))
            if raw is not None:
                return json.loads(raw)
            seen, hint = hint, fs.read_text(self.spark, self._hint)
            if hint == seen:
                raise FileNotFoundError(f"serving table {self.path}: snapshot {n} is missing")

    def exists(self) -> bool:
        return self._latest() is not None

    def read(self, snapshot: dict | None = None) -> DataFrame | None:
        """The rows of ``snapshot`` (default: the newest; None for a
        table never committed), read under its schema: after
        add-column evolution older files read NULL for the new
        columns, and a snapshot with no files is an empty frame. The
        frame is reused while the snapshot is unchanged (its files are
        immutable): Spark resolving a read of named files costs more,
        and varies more, than planning a query on it."""
        snap = snapshot or self._latest()
        if snap is None:
            return None
        frame = self._frame
        if frame is None or frame[0] != snap:
            schema = T.StructType.fromJson(snap["schema"])
            if snap["num_buckets"]:
                schema = schema.add(BUCKET_COL, T.IntegerType())
            paths = [f"{self._dir(d)}/{n}" for d, names in sorted(snap["files"].items()) for n in names]
            reader = self.spark.read.schema(schema).option("basePath", self.path)
            df = reader.parquet(*paths) if paths else self.spark.createDataFrame([], schema)
            frame = self._frame = (snap, df)
        return frame[1]

    def commits(self) -> list[dict]:
        """The commit log (oldest first); empty for a fresh table.
        ``_commits.json`` holds the last 1000 ``{commit_id, kind,
        n_rows, buckets}`` records — the audit surface Paimon gives via
        snapshot metadata — and is written after each snapshot; no
        read depends on it."""
        raw = fs.read_text(self.spark, f"{self.path}/_commits.json")
        return json.loads(raw) if raw else []

    def _check_registered_fields(self, changelog: DataFrame, snap: dict | None) -> None:
        """auto_register_fields=False contract: a changelog column
        absent from the latest snapshot's schema (ignoring CDC
        bookkeeping columns) is an error, raised BEFORE any merge work
        or data lands — mirroring the reference's refusal to index
        unregistered fields when auto-registration is off."""
        if self.auto_register_fields or snap is None:
            return  # the first-ever batch REGISTERS the schema
        known = {f["name"] for f in snap["schema"]["fields"]}
        internal = {BUCKET_COL, "_row_kind", "_seq", "_is_poison", "_snapshot"}
        unknown = sorted(set(changelog.columns) - known - internal)
        if unknown:
            raise ValueError(
                f"auto_register_fields is off and the batch carries "
                f"unregistered column(s) {unknown}; registered schema: "
                f"{sorted(known)}"
            )

    def _claim(self, root: list[str]) -> None:
        """Before a table's first commit: refuse a directory that holds
        data but no ``_snapshots/`` (a table from before snapshot
        commits, or plain parquet) — the commit would delete its files
        as garbage. Then create ``_snapshots/``, which marks whatever a
        crash of this commit leaves behind as the table's own."""
        if SNAPSHOT_DIR not in root and any(
            n.endswith(".parquet")
            or n.startswith(f"{BUCKET_COL}=")
            or n in ("_SUCCESS", "_schema.json", "_commits.json")
            for n in root
        ):
            raise IOError(
                f"{self.path} holds data but no snapshot: a table written "
                "before snapshot commits must be migrated (rewrite it "
                "through overwrite() at a new path)"
            )
        fs.mkdirs(self.spark, f"{self.path}/{SNAPSHOT_DIR}")

    def _commit(
        self,
        snap: dict | None,
        df: DataFrame,
        buckets: list[int] | None,
        kind: str,
        n_rows: int,
    ) -> None:
        """The one commit path: write ``df`` as new files replacing
        ``buckets`` (None: the whole table) of ``snap``, then publish
        snapshot N+1 and append the commit record to the log.

        Garbage is the parquet on disk that ``snap`` does not reference:
        the files the commit that made ``snap`` replaced, and a crashed
        commit's leftovers. It is deleted after the write, so a reader
        pinned to the snapshot before ``snap`` has the whole write to
        finish. Only the directories this commit rewrites and those
        ``snap``'s commit replaced are listed (all when either is the
        whole table): leftovers elsewhere are never read and go when
        their bucket is next rewritten. The listing before the write
        tells this commit's new files apart from leftovers."""
        if self.num_buckets:
            ids = range(self.num_buckets) if buckets is None else buckets
            dirs = [f"{BUCKET_COL}={b}" for b in ids]
        else:
            dirs = [""]
        live = snap["files"] if snap else {}
        replaced = snap["commit"]["buckets"] if snap else None
        if buckets is None or replaced is None:
            root = fs.list_names(self.spark, self.path)
            if snap is None:
                self._claim(root)
            on_disk = {"": {n for n in root if n.endswith(".parquet")}}
            scan = [n for n in root if n.startswith(f"{BUCKET_COL}=")]
        else:
            on_disk = {}
            scan = sorted(set(dirs) | {f"{BUCKET_COL}={b}" for b in replaced})
        on_disk.update((d, self._parquet_names(d)) for d in scan)
        # a crashed Spark write's task output: the next append's job
        # commit would otherwise move it into the bucket directories
        fs.delete(self.spark, f"{self.path}/_temporary")

        if self.num_buckets:
            df = df.withColumn(BUCKET_COL, self._bucket_col())  # replaces a scanned one
            df.write.mode("append").partitionBy(BUCKET_COL).parquet(self.path)
        else:
            df.drop(BUCKET_COL).write.mode("append").parquet(self.path)

        files = {} if buckets is None else {d: f for d, f in live.items() if d not in dirs}
        for d in dirs:
            new = self._parquet_names(d) - on_disk.get(d, set())
            if new:
                files[d] = sorted(new)
        for d, names in on_disk.items():
            for name in sorted(names - set(live.get(d, ()))):
                fs.delete(self.spark, f"{self._dir(d)}/{name}")

        log_path = f"{self.path}/_commits.json"
        raw = fs.read_text(self.spark, log_path)
        entries = json.loads(raw) if raw else []
        record = {
            "commit_id": (entries[-1]["commit_id"] + 1) if entries else 0,
            "kind": kind,
            "n_rows": n_rows,
            "buckets": buckets,
        }
        n = (snap["id"] if snap else 0) + 1
        data_schema = T.StructType([f for f in df.schema.fields if f.name != BUCKET_COL])
        tmp = self._snapshot_file(n) + ".tmp"
        fs.write_text(
            self.spark,
            tmp,
            json.dumps(
                {
                    "id": n,
                    "num_buckets": self.num_buckets,
                    "schema": data_schema.jsonValue(),
                    "files": files,
                    "commit": record,
                }
            ),
        )
        if not fs.rename(self.spark, tmp, self._snapshot_file(n)):
            raise IOError(f"{self.path}: snapshot {n} already exists (concurrent writer?)")
        fs.write_text_atomic(self.spark, self._hint, str(n))
        if n > 2:  # snapshot n-2's files were deleted above; so goes its manifest
            fs.delete(self.spark, self._snapshot_file(n - 2))
        entries.append(record)
        fs.write_text_atomic(self.spark, log_path, json.dumps(entries[-1000:]))

    def overwrite(self, df: DataFrame) -> None:
        """Full rewrite: one commit whose snapshot lists only ``df``'s
        files."""
        self._commit(self._latest(), df, None, "overwrite", -1)

    def apply_batch(self, changelog: DataFrame) -> None:
        """Apply one CDC micro-batch: last-wins + merge + commit.

        Bucketed tables rewrite only the hash-bucket partitions whose
        keys appear in the changelog; untouched buckets keep their
        files and are not read or rewritten.

        On the bucketed (scale) path the commit log's row count rides
        the SAME aggregate action that finds the touched buckets — a
        per-bucket count instead of a distinct — so no dedicated
        ``changelog.count()`` rescans the source per micro-batch. (An
        ``observe()`` metric was tried first and DEADLOCKS when
        apply_batch runs inside ``foreachBatch``: the micro-batch's
        DataFrame belongs to a cloned SparkSession whose listener bus
        never delivers the observation, so ``Observation.get`` blocks
        forever — don't reintroduce it.)"""
        snap = self._latest()
        self._check_registered_fields(changelog, snap)
        current = self.read(snap) if snap else None
        if current is None or not self.num_buckets or snap["num_buckets"] != self.num_buckets:
            if current is not None:
                current = current.drop(BUCKET_COL)
            merged = apply_changelog(changelog, self.key, target=current)
            self._commit(snap, merged, None, "batch", changelog.count())
            return

        # buckets touched by this batch (bounded by num_buckets, tiny),
        # and the batch row count off the same single aggregate action
        per_bucket = (
            changelog.groupBy(self._bucket_col().alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        changed = sorted(r["b"] for r in per_bucket)
        if not changed:
            return
        target = current.filter(F.col(BUCKET_COL).isin(changed)).drop(BUCKET_COL)  # pruned scan
        merged = apply_changelog(changelog, self.key, target=target)
        self._commit(snap, merged, changed, "batch", sum(r["n"] for r in per_bucket))

    def compact(self, max_files_per_bucket: int = 4) -> list[int]:
        """Small-file compaction: rewrite buckets holding more than
        ``max_files_per_bucket`` files in the latest snapshot down to
        one parquet file each, through the same commit as apply_batch.

        Every micro-batch write fans a bucket's rows across its shuffle
        tasks, so a hot bucket accumulates up to #tasks files per
        rewrite; query-side scan cost grows with file count, not data
        size (the classic streaming-sink pathology at scale — the
        reference delegates this to Paimon's own compaction). Returns
        the bucket ids compacted.

        Unbucketed tables compact to a single file via the full-rewrite
        path when the table holds too many files.
        """
        snap = self._latest()
        if snap is None:
            return []
        if not self.num_buckets:
            if len(snap["files"].get("", [])) <= max_files_per_bucket:
                return []
            self.overwrite(self.query().coalesce(1))
            return [0]
        oversized = sorted(
            int(d.split("=", 1)[1])
            for d, names in snap["files"].items()
            if d.startswith(f"{BUCKET_COL}=") and len(names) > max_files_per_bucket
        )
        if not oversized:
            return []
        # one shuffle partition per bucket -> exactly one output file each
        rows = (
            self.read(snap)
            .filter(F.col(BUCKET_COL).isin(oversized))
            .repartition(len(oversized), F.col(BUCKET_COL))
        )
        self._commit(snap, rows, oversized, "compact", -1)
        return oversized

    def query(self) -> DataFrame:
        df = self.read()
        if df is None:
            raise FileNotFoundError(f"serving table {self.path} does not exist yet")
        if BUCKET_COL in df.columns:
            df = df.drop(BUCKET_COL)
        return df

    def lookup(self, *key_values) -> DataFrame:
        """Point lookup by key: on a bucketed table the key's bucket is
        computed at plan time, so the scan partition-prunes to ONE
        bucket's files (~1/num_buckets of the files) — the serving
        layer's Q3 term query at its cheapest. Falls back to a plain
        filter on unbucketed tables."""
        if len(key_values) != len(self.key):
            raise ValueError(f"lookup expects {len(self.key)} value(s) for key {self.key}")
        df = self.read()
        if df is None:
            raise FileNotFoundError(f"serving table {self.path} does not exist yet")
        # murmur3 is TYPE-sensitive: hash(5 as int) != hash(5 as bigint),
        # and a bare Python int literal becomes IntegerType while keys
        # written through createDataFrame/parquet are typically LongType.
        # Cast every literal to the table's key column type so both the
        # bucket hash and the equality predicate see the stored type —
        # otherwise the bucket filter prunes to the WRONG directory and
        # the lookup silently returns nothing. Casts of literals fold at
        # plan time, so partition pruning is preserved.
        lits = [
            F.lit(v).cast(df.schema[k].dataType)
            for k, v in zip(self.key, key_values)
        ]
        cond = None
        for k, lit in zip(self.key, lits):
            c = F.col(k) == lit
            cond = c if cond is None else cond & c
        if self.num_buckets and BUCKET_COL in df.columns:
            b = F.pmod(F.hash(*lits), F.lit(self.num_buckets))
            cond = (F.col(BUCKET_COL) == b) & cond
        return df.filter(cond).drop(BUCKET_COL) if BUCKET_COL in df.columns else df.filter(cond)


def update_by_query(
    table: ServingTable,
    predicate: Column,
    assignments: dict[str, Column],
) -> int:
    """Elasticsearch ``_update_by_query`` on the serving table
    (NEW r15): apply column ``assignments`` to every CURRENT row
    matching ``predicate``, routed through the SAME CDC apply path as
    any ingest batch (last-wins merge, bucket-pruned rewrite, commit
    log) — updates are upsert batches, not a second write path, so
    crash recovery, schema checks, and read-your-writes hold without
    new machinery. Returns the number of rows updated.

    Scale shape: one read + filter (bucket/partition pruning applies
    to the predicate like any query), assignments are codegen
    expressions, and ``apply_batch`` rewrites ONLY the touched
    buckets. Assigning a key column is rejected — that is a delete +
    insert, not an update (ES rejects id reassignment in scripts for
    the same reason)."""
    for col in assignments:
        if col in table.key:
            raise ValueError(
                f"update_by_query cannot reassign key column {col!r}; "
                "delete and re-ingest instead"
            )
    cur = table.query()
    matched = cur.filter(predicate)
    upd = matched
    for col, expr in assignments.items():
        upd = upd.withColumn(col, expr)
    changelog = upd.withColumn("_row_kind", F.lit("+U")).withColumn(
        "_seq", F.monotonically_increasing_id()
    )
    # the changelog is derived from the very files apply_batch replaces
    # and apply_batch evaluates it more than once — pin it
    # (lineage-free) BEFORE the apply so every pass sees the same rows
    changelog = changelog.localCheckpoint(eager=True)
    n = changelog.count()
    if n:
        table.apply_batch(changelog)
    return n


def delete_by_query(table: ServingTable, predicate: Column) -> int:
    """Elasticsearch ``_delete_by_query``: route matching rows through
    the CDC path as ``-D`` ops (same rationale as update_by_query).
    Returns the number of rows deleted."""
    cur = table.query()
    matched = cur.filter(predicate)
    changelog = matched.withColumn("_row_kind", F.lit("-D")).withColumn(
        "_seq", F.monotonically_increasing_id()
    )
    # same self-reference pin as update_by_query
    changelog = changelog.localCheckpoint(eager=True)
    n = changelog.count()
    if n:
        table.apply_batch(changelog)
    return n


_ALIAS_SIDECAR = "_alias"


def set_alias(
    spark: SparkSession,
    alias_path: str,
    table_path: str,
    filter_dsl: dict | None = None,
) -> None:
    """Index alias (the Elasticsearch aliases API, NEW r15): an
    atomic name -> table-path indirection, the zero-downtime swap
    primitive — rebuild a corpus at a new path, point the alias,
    readers move on their next resolve with no partial state
    (fs.write_text_atomic = temp + rename, the serving table's own
    commit discipline). The target must exist — aliasing a
    nonexistent table is always a deploy bug.

    ``filter_dsl`` makes it a FILTERED alias (ES's per-tenant /
    per-slice view primitive): a ``parse_query`` DSL dict stored WITH
    the indirection; ``read_alias`` applies it on every read, so a
    tenant handed the alias can never see past the filter. The DSL
    compiles eagerly here — a typo'd stored filter must fail at
    set time, not on some future read."""
    import json as _json

    probe = ServingTable(spark, table_path, key="_probe")
    if not probe.exists():
        raise FileNotFoundError(
            f"alias target {table_path} is not a serving table"
        )
    if filter_dsl is not None:
        from platypus_ingestion_plugins_spark.serving.query import parse_query

        parse_query(filter_dsl)  # eager validation
        payload = _json.dumps(
            {"target": table_path, "filter": filter_dsl}, sort_keys=True
        )
    else:
        payload = table_path
    fs.write_text_atomic(
        spark, f"{alias_path.rstrip('/')}/{_ALIAS_SIDECAR}", payload
    )


def _alias_record(spark: SparkSession, alias_path: str) -> dict:
    import json as _json

    raw = fs.read_text(
        spark, f"{alias_path.rstrip('/')}/{_ALIAS_SIDECAR}"
    )
    if not raw:
        raise FileNotFoundError(f"no alias at {alias_path}")
    if raw.lstrip().startswith("{"):
        rec = _json.loads(raw)
        return {"target": rec["target"], "filter": rec.get("filter")}
    return {"target": raw, "filter": None}  # pre-filter plain format


def resolve_alias(spark: SparkSession, alias_path: str) -> str:
    """The table path an alias currently points at; raises on a
    dangling or never-set alias — and on a FILTERED alias: handing
    out the bare target path would let the documented
    resolve-then-read pattern bypass the stored tenant filter; a
    filtered alias is only readable through ``read_alias``."""
    rec = _alias_record(spark, alias_path)
    if rec["filter"] is not None:
        raise ValueError(
            f"{alias_path} is a FILTERED alias — read it through "
            "read_alias(); resolving the bare target would bypass "
            "the stored filter"
        )
    return rec["target"]


def read_alias(
    spark: SparkSession, alias_path: str, key: str | list[str]
) -> DataFrame:
    """Read the serving table behind an alias — the reader-side hop
    clients use so a swap needs no reader redeploy. A FILTERED alias
    applies its stored ``parse_query`` filter on every read."""
    rec = _alias_record(spark, alias_path)
    out = ServingTable(spark, rec["target"], key=key).query()
    if rec["filter"] is not None:
        from platypus_ingestion_plugins_spark.serving.query import parse_query

        out = out.filter(parse_query(rec["filter"]))
    return out
