"""Idempotent key-merged serving table (the 'index' sink).

Reference sink: addDocuments-upsert + deleteByQuery + commit per batch
(PaimonRowProcessor.java:242-260; KafkaIngestor.java:251-289). Spark
has no Lucene index; the serving layer is a parquet table whose reads
hold exactly one live row per key, merged per micro-batch via the CDC
reduce (operators/cdc.py). Merges are idempotent — replaying a batch
after a failed checkpoint converges to the same state, which is the
at-least-once-to-effectively-once upgrade the reference gets from
commit-after-index (KafkaIngestor.java:204-230).

Merge-on-read, after Paimon's sorted runs (PaimonIngestor.java:673-701):
a micro-batch does not read the table. It reduces its changelog to one
last-wins op per key and appends the result as one delta run per
bucket it touches: one file per bucket, keeping ``_row_kind``, ``_seq``
and ``_run``, the id of the snapshot that added it. A reader of a
snapshot with runs merges them into the base with the same last-wins,
ordered by (``_run``, ``_seq``), so a later batch wins whatever its
``_seq``; a reader of a snapshot without runs scans the base alone.
When a bucket would hold more than ``MAX_RUNS`` runs, the batch's own
commit folds that bucket instead: base, runs and batch in one last-wins
pass, the base as the oldest run, written as the bucket's new base.
``compact()`` folds every run.

Layout: with ``num_buckets`` set the table is hash-bucket partitions
(``__bucket = pmod(hash(key), N)``), so a batch writes O(its changed
keys) and a point lookup scans one bucket. ``num_buckets=0`` keeps one
bucket, the root.

Commit protocol: Paimon-style numbered snapshots
(platypus_ingestion_plugins_spark.snapshots). Data files are immutable
and uniquely named, under ``{path}/__bucket=b/`` (``{path}/`` when
unbucketed); each commit publishes ``{path}/_snapshots/N.json`` listing
the live files per bucket, which of them are delta runs, and the key
the table merges on. A reader pins the newest snapshot and scans
exactly those files. Reads never write. A directory holding data but
no ``_snapshots/`` (a table written before snapshot commits) is refused
by the first commit, not cleaned. One writer per table.

All file operations go through the Hadoop FileSystem API
(platypus_ingestion_plugins_spark.fs), so ``path`` may be local,
``hdfs://`` or ``s3a://`` (reference parity: S3ALoader.java:32-89).
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark import fs
from platypus_ingestion_plugins_spark.operators.cdc import (
    CHANGELOG_META,
    DELETE_KIND,
    ROW_KIND_COL,
    SEQ_COL,
    UPSERT_KINDS,
    apply_changelog,
    last_wins,
)
from platypus_ingestion_plugins_spark.snapshots import SnapshotLog

BUCKET_COL = "__bucket"
RUN_COL = "_run"
RUN_META = (ROW_KIND_COL, SEQ_COL, RUN_COL)
# A bucket holds at most this many delta runs: the batch that would add
# one more folds the bucket instead (Paimon's default
# num-sorted-run.compaction-trigger, 5 sorted runs, counts the base).
MAX_RUNS = 4


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
        self._log = SnapshotLog(spark, self.path)
        # (snapshot, (base, runs, merged)): the frames read from it
        self._frame: tuple[dict, tuple] | None = None

    def _bucket_col(self) -> Column:
        if not self.num_buckets:
            return F.lit(0)
        return F.pmod(F.hash(*[F.col(k) for k in self.key]), F.lit(self.num_buckets))

    def _dir(self, bucket: int) -> str:
        """A bucket's snapshot directory key ("" is the root)."""
        return f"{BUCKET_COL}={bucket}" if self.num_buckets else ""

    def _latest(self) -> dict | None:
        """The newest snapshot, or None for a table never committed."""
        return self._log.latest()

    def _key(self, snap: dict) -> list[str]:
        """The key ``snap``'s table merges on (snapshots written before
        it was recorded: this handle's)."""
        return snap.get("key", self.key)

    def _check_key(self, snap: dict | None) -> None:
        """A writer must merge on the key the table was committed with:
        another key would silently merge different rows."""
        if snap is not None and self._key(snap) != self.key:
            raise ValueError(
                f"serving table {self.path} is keyed on {self._key(snap)}, "
                f"not {self.key}"
            )

    def exists(self) -> bool:
        return self._latest() is not None

    def read(self, snapshot: dict | None = None) -> DataFrame | None:
        """The live rows of ``snapshot`` (default: the newest; None for
        a table never committed), read under its schema: after
        add-column evolution older files read NULL for the new
        columns, and a snapshot with no files is an empty frame. With
        delta runs, the base merged with them on the table's recorded
        key. The frame is reused while the snapshot is unchanged (its
        files are immutable): Spark resolving a read of named files
        costs more, and varies more, than planning a query on it."""
        snap = snapshot or self._latest()
        if snap is None:
            return None
        return self._pin(snap)[2]

    def _pin(self, snap: dict) -> tuple[DataFrame, DataFrame | None, DataFrame]:
        """(base, runs, merged) frames of ``snap``, built once."""
        if self._frame is None or self._frame[0] != snap:
            base, runs = self._scan(snap)
            merged = base if runs is None else self._merge(snap, base, runs)
            self._frame = (snap, (base, runs, merged))
        return self._frame[1]

    def _scan(self, snap: dict, dirs: list[str] | None = None) -> tuple[DataFrame, DataFrame | None]:
        """``snap``'s base rows and its delta runs (None when it has
        none), in ``dirs`` only when given. The base reads without the
        run columns, so a snapshot without runs reads as plain rows."""
        runs = {
            d: {n for run in r for n in run}
            for d, r in snap.get("runs", {}).items()
            if dirs is None or d in dirs
        }
        schema = snap["schema"]
        data = {**schema, "fields": [f for f in schema["fields"] if f["name"] not in RUN_META]}
        base_files = {d: [n for n in names if n not in runs.get(d, ())] for d, names in snap["files"].items()}
        base = self._log.read({**snap, "schema": data, "files": base_files}, dirs)
        if not runs:
            return base, None
        return base, self._log.read({**snap, "files": {d: sorted(r) for d, r in runs.items()}}, dirs)

    def _merge(self, snap: dict, base: DataFrame, runs: DataFrame) -> DataFrame:
        """The base with the runs' last op per key applied, later runs
        first."""
        return apply_changelog(runs, self._key(snap), target=base, seq_col=[RUN_COL, SEQ_COL])

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
        internal = {BUCKET_COL, *RUN_META, "_is_poison", *CHANGELOG_META}
        unknown = sorted(set(changelog.columns) - known - internal)
        if unknown:
            raise ValueError(
                f"auto_register_fields is off and the batch carries "
                f"unregistered column(s) {unknown}; registered schema: "
                f"{sorted(known)}"
            )

    def _commit(
        self,
        snap: dict | None,
        df: DataFrame,
        replace: list[int] | None,
        kind: str,
        n_rows: int,
        append: tuple[int, ...] | list[int] = (),
    ) -> None:
        """The one commit path: write ``df`` as new files that replace
        the buckets ``replace`` (None: the whole table) of ``snap`` and
        add one delta run to each bucket in ``append``, publish the
        next snapshot with the commit record, then append the record to
        the log."""
        log_path = f"{self.path}/_commits.json"
        raw = fs.read_text(self.spark, log_path)
        entries = json.loads(raw) if raw else []
        record = {
            "commit_id": (entries[-1]["commit_id"] + 1) if entries else 0,
            "kind": kind,
            "n_rows": n_rows,
            "buckets": None if replace is None else sorted({*replace, *append}),
        }
        replaced = None if replace is None else [self._dir(b) for b in replace]
        appended = [self._dir(b) for b in append]

        def meta(added: dict[str, list[str]]) -> dict:
            # the runs of the buckets this commit keeps, plus its own
            kept = (snap or {}).get("runs", {}) if replaced is not None else {}
            runs = {d: r for d, r in kept.items() if d not in replaced}
            for d in appended:
                if d in added:
                    runs[d] = [*runs.get(d, ()), added[d]]
            return {"num_buckets": self.num_buckets, "key": self.key, "runs": runs, "commit": record}

        into = None if replaced is None else sorted({*replaced, *appended})
        df = df.withColumn(BUCKET_COL, self._bucket_col())  # replaces a scanned one
        if self.num_buckets:
            self._log.commit(snap, df, meta, (BUCKET_COL,), replaced, into)
        else:
            self._log.commit(snap, df.drop(BUCKET_COL), meta, (), replaced, into)
        entries.append(record)
        fs.write_text_atomic(self.spark, log_path, json.dumps(entries[-1000:]))

    def overwrite(self, df: DataFrame) -> None:
        """Full rewrite: one commit whose snapshot lists only ``df``'s
        files, keyed on this handle's key."""
        self._commit(self._latest(), df, None, "overwrite", -1)

    def apply_batch(self, changelog: DataFrame) -> None:
        """Apply one CDC micro-batch: last-wins reduce, then one commit
        that appends the result as one delta run per touched bucket
        (folding the buckets that would hold more than ``MAX_RUNS``
        runs). The table itself is not read, except the buckets a fold
        rewrites. The first batch of a table, or the first after
        ``num_buckets`` changed, writes the merged rows as its base.

        The commit log's row count rides the SAME aggregate action that
        finds the touched buckets — a per-bucket count instead of a
        distinct — so no dedicated ``changelog.count()`` rescans the
        source per micro-batch. (An ``observe()`` metric was tried
        first and DEADLOCKS when apply_batch runs inside
        ``foreachBatch``: the micro-batch's DataFrame belongs to a
        cloned SparkSession whose listener bus never delivers the
        observation, so ``Observation.get`` blocks forever — don't
        reintroduce it.)"""
        snap = self._latest()
        self._check_key(snap)
        self._check_registered_fields(changelog, snap)
        changelog = changelog.drop(*CHANGELOG_META)
        if snap is None or snap["num_buckets"] != self.num_buckets:
            current = self.read(snap).drop(BUCKET_COL) if snap else None
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
        touched = sorted(r["b"] for r in per_bucket)
        if not touched:
            return
        runs = snap.get("runs", {})
        fold = [b for b in touched if len(runs.get(self._dir(b), ())) >= MAX_RUNS]
        rows = self._delta(snap, changelog, fold, len(touched))
        append = [b for b in touched if b not in fold]
        self._commit(snap, rows, fold, "batch", sum(r["n"] for r in per_bucket), append)

    def _delta(self, snap: dict, changelog: DataFrame, fold: list[int], parts: int) -> DataFrame:
        """The rows a batch writes: its changelog reduced to the last op
        per key, with the run columns. The buckets of ``fold`` join that
        reduce with their base as run 0 and their runs, and keep the
        winners that are not deletes, without the run columns: the
        bucket's new base."""
        data = T.StructType(
            [
                T.StructField.fromJson(f)
                for f in snap["schema"]["fields"]
                if f["name"] not in (*RUN_META, BUCKET_COL)
            ]
        )
        # every run carries the table's columns (NULL where the batch
        # has none) and widens the table by the batch's new ones
        ops = self.spark.createDataFrame([], data).unionByName(changelog, allowMissingColumns=True)
        if isinstance(ops.schema[SEQ_COL].dataType, T.IntegralType):
            ops = ops.withColumn(SEQ_COL, F.col(SEQ_COL).cast("long"))
        ops = ops.withColumn(RUN_COL, F.lit(snap["id"] + 1).cast("long"))
        if fold:
            base, runs = self._scan(snap, [self._dir(b) for b in fold])
            # the base is the oldest run: any op of a later one beats it
            base = (
                base.withColumn(ROW_KIND_COL, F.lit(UPSERT_KINDS[0]))
                .withColumn(SEQ_COL, F.lit(0).cast("long"))
                .withColumn(RUN_COL, F.lit(0).cast("long"))
            )
            for frame in (base, runs):
                if frame is not None:
                    ops = ops.unionByName(frame.drop(BUCKET_COL), allowMissingColumns=True)
        # one shuffle: a bucket's ops meet in one task, which the window
        # (keyed by bucket and key) runs in place, so a run is one file
        ops = ops.withColumn(BUCKET_COL, self._bucket_col())
        final = last_wins(
            ops.repartition(parts, BUCKET_COL), [BUCKET_COL, *self.key], seq_col=[RUN_COL, SEQ_COL]
        )
        cols = [c for c in final.columns if c not in (*RUN_META, BUCKET_COL)] + [*RUN_META, BUCKET_COL]
        if not fold:
            return final.select(*cols)
        in_fold = F.col(BUCKET_COL).isin(fold)
        return final.filter(~in_fold | (F.col(ROW_KIND_COL) != DELETE_KIND)).select(
            *[F.when(~in_fold, F.col(c)).alias(c) if c in RUN_META else c for c in cols]
        )

    def compact(self, max_files_per_bucket: int = 4) -> list[int]:
        """Fold every delta run into its bucket's base, and rewrite the
        buckets holding more than ``max_files_per_bucket`` files, each
        down to one parquet file, through the same commit as
        apply_batch. Returns the bucket ids rewritten (``[0]`` for an
        unbucketed table). A handle whose ``num_buckets`` is not the
        table's rewrites the whole table in its own layout, as
        apply_batch does.

        A fold inside a batch keeps a bucket at ``MAX_RUNS`` runs or
        fewer; this folds them all, so the snapshot that follows reads
        without a merge. A bucket whose keys were all deleted leaves
        the snapshot here. Writes fan a bucket's rows across their
        tasks, so a rewritten bucket holds up to #tasks files; scan
        cost grows with file count, not data size (the classic
        streaming-sink pathology at scale — the reference delegates
        this to Paimon's own compaction)."""
        snap = self._latest()
        if snap is None:
            return []
        self._check_key(snap)
        runs = snap.get("runs", {})
        relayout = snap["num_buckets"] != self.num_buckets
        dirs = sorted(
            d for d, names in snap["files"].items()
            if relayout or d in runs or len(names) > max_files_per_bucket
        )
        if not dirs:
            return []
        base, ops = self._scan(snap, dirs)
        rows = base if ops is None else self._merge(snap, base, ops)
        buckets = list(range(self.num_buckets or 1)) if relayout else [
            int(d.split("=", 1)[1]) if d else 0 for d in dirs
        ]
        if self.num_buckets:
            # one shuffle partition per bucket -> exactly one output file each
            rows = rows.repartition(len(buckets), self._bucket_col())
        else:
            rows = rows.coalesce(1)
        self._commit(snap, rows, None if relayout else buckets, "compact", -1)
        return buckets

    def query(self) -> DataFrame:
        df = self.read()
        if df is None:
            raise FileNotFoundError(f"serving table {self.path} does not exist yet")
        return df.drop(BUCKET_COL)

    def lookup(self, *key_values) -> DataFrame:
        """Point lookup by key: on a bucketed table the key's bucket is
        computed at plan time, so the scans partition-prune to ONE
        bucket's files (~1/num_buckets of the files) — the serving
        layer's Q3 term query at its cheapest. With delta runs the
        predicate filters the base and the runs before they merge, so
        both prune. Falls back to a plain filter on unbucketed
        tables."""
        snap = self._latest()
        if snap is None:
            raise FileNotFoundError(f"serving table {self.path} does not exist yet")
        df = self.read(snap)
        key = self._key(snap)
        if len(key_values) != len(key):
            raise ValueError(f"lookup expects {len(key)} value(s) for key {key}")
        # murmur3 is TYPE-sensitive: hash(5 as int) != hash(5 as bigint),
        # and a bare Python int literal becomes IntegerType while keys
        # written through createDataFrame/parquet are typically LongType.
        # Cast every literal to the table's key column type so both the
        # bucket hash and the equality predicate see the stored type —
        # otherwise the bucket filter prunes to the WRONG directory and
        # the lookup silently returns nothing. Casts of literals fold at
        # plan time, so partition pruning is preserved.
        lits = [F.lit(v).cast(df.schema[k].dataType) for k, v in zip(key, key_values)]
        cond = reduce(lambda a, b: a & b, [F.col(k) == lit for k, lit in zip(key, lits)])
        if snap["num_buckets"]:
            b = F.pmod(F.hash(*lits), F.lit(snap["num_buckets"]))
            cond = (F.col(BUCKET_COL) == b) & cond
        base, runs, _ = self._pin(snap)
        if runs is None:
            return df.filter(cond).drop(BUCKET_COL)
        return self._merge(snap, base.filter(cond), runs.filter(cond)).drop(BUCKET_COL)


def update_by_query(
    table: ServingTable,
    predicate: Column,
    assignments: dict[str, Column],
) -> int:
    """Elasticsearch ``_update_by_query`` on the serving table
    (NEW r15): apply column ``assignments`` to every CURRENT row
    matching ``predicate``, routed through the SAME CDC apply path as
    any ingest batch (last-wins reduce, delta-run append, commit log)
    — updates are upsert batches, not a second write path, so crash
    recovery, schema checks, and read-your-writes hold without new
    machinery. Returns the number of rows updated.

    Scale shape: one read + filter (bucket/partition pruning applies
    to the predicate like any query), assignments are codegen
    expressions, and ``apply_batch`` appends one delta run per touched
    bucket. The run orders after every earlier batch although its
    ``_seq`` (``monotonically_increasing_id``) starts again at 0.
    Assigning a key column is rejected — that is a delete + insert,
    not an update (ES rejects id reassignment in scripts for the same
    reason)."""
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
    # the changelog is derived from files a fold in apply_batch replaces
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
