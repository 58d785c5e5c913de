"""CDC-convention parquet table source (the Paimon-table equivalent).

Layout convention (SURVEY §1.1): a parquet table whose rows carry
  _row_kind  string  (+I/+U/-U/-D)
  _seq       long    (total order within a key's bucket)
  _snapshot  long    (snapshot id, monotone per incremental drop)
  _bucket    int     (ordering/distribution unit; optional)

The reference plans new splits per scan and checkpoints the consumed
snapshot (PaimonIngestor.java:248-269, StreamTableScan.checkpoint).
Here incremental reads are `_snapshot > last_snapshot` filters over a
snapshot-partitioned table — Catalyst partition-prunes old snapshots
at the manifest level, the same file-skipping the reference gets from
Paimon, and the checkpoint is just the last consumed snapshot id
(or, in streaming mode, the Structured Streaming checkpoint dir).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platypus_ingestion_plugins_spark import fs

SNAPSHOT_COL = "_snapshot"


def write_cdc_snapshot(df: DataFrame, path: str, snapshot_id: int) -> None:
    """Append one snapshot's changelog, partitioned by snapshot id so
    incremental readers prune files (append = new snapshot dirs only)."""
    (
        df.withColumn(SNAPSHOT_COL, F.lit(snapshot_id).cast("long"))
        .write.mode("append")
        .partitionBy(SNAPSHOT_COL)
        .parquet(path)
    )


def read_cdc_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Full-table read of the CDC log."""
    return spark.read.parquet(path)


def read_cdc_incremental(
    spark: SparkSession, path: str, last_snapshot: int | None = None
) -> DataFrame:
    """Splits since the checkpoint: `_snapshot > last_snapshot`.

    The filter lands on the partition column, so pruning happens at
    file-listing time — old snapshots are never opened (the
    reference's manifest-level skip, paimon-plugin/README.md:247-271).
    """
    df = spark.read.parquet(path)
    if last_snapshot is not None:
        df = df.filter(F.col(SNAPSHOT_COL) > F.lit(last_snapshot))
    return df


def latest_snapshot_id(spark: SparkSession, path: str) -> int | None:
    """Max snapshot id present (directory listing, no data read).

    Listing goes through the Hadoop FileSystem API so the table may
    live on any supported store (local/HDFS/s3a)."""
    snaps = snapshot_ids(spark, path)
    return max(snaps) if snaps else None


def snapshot_ids(spark: SparkSession, path: str) -> list[int]:
    """Sorted snapshot ids present, from the directory listing — the
    one parser for the ``_snapshot=<id>`` layout convention (shared by
    latest_snapshot_id / read_as_of / compact_snapshots)."""
    return sorted(
        int(n.split("=", 1)[1])
        for n in fs.list_names(spark, path)
        if n.startswith(f"{SNAPSHOT_COL}=")
    )


def read_as_of(
    spark: SparkSession,
    path: str,
    snapshot: int,
    key: str | list[str],
    seq_col: str = "_seq",
) -> DataFrame:
    """Time-travel read: the table's materialized state AS OF
    ``snapshot`` — Paimon's `VERSION AS OF` on the CDC-convention
    layout. The changelog is append-only and snapshot-partitioned, so
    every historical state remains reconstructible: filter
    ``_snapshot <= snapshot`` (partition-pruned at file-listing time —
    later snapshots are never opened) and apply the same last-wins
    reduction the live materialization uses. A snapshot id that never
    existed raises rather than silently returning a state nobody
    wrote.

    Scale shape: identical to a live materialization over the kept
    prefix — one keyed window; the prune means cost tracks the
    history you ask for, not the history that exists after it."""
    from platypus_ingestion_plugins_spark.operators.cdc import apply_changelog

    snaps = snapshot_ids(spark, path)
    if not snaps:
        raise ValueError(f"no snapshots at {path}")
    if snapshot not in snaps:
        raise ValueError(
            f"snapshot {snapshot} does not exist at {path}; have {snaps}"
        )
    log = spark.read.parquet(path).filter(
        F.col(SNAPSHOT_COL) <= F.lit(snapshot)
    )
    return apply_changelog(log.drop(SNAPSHOT_COL), key, seq_col=seq_col)


def compact_snapshots(
    spark: SparkSession,
    path: str,
    upto: int,
    key: str | list[str],
    seq_col: str = "_seq",
) -> None:
    """Changelog compaction / snapshot expiry (Paimon's snapshot
    expiration on the CDC-convention layout): fold every snapshot
    <= ``upto`` into ONE materialized base snapshot carrying each
    key's last-wins WINNING ROW VERBATIM — original row kind and seq,
    including -D tombstones (see the crash-window comment below for
    why deletes are kept) — then drop the originals. History cost
    stops growing with ingest age while BOTH invariants hold:

    - the LATEST materialized state is unchanged (each surviving key
      keeps its original max ``seq``, so later snapshots' rows still
      order correctly against the base — a base row never "wins" over
      an op it already lost to);
    - ``read_as_of(s)`` for every s >= ``upto`` is unchanged; reads
      before the horizon now raise (their history is gone — that IS
      expiry, surfaced loudly rather than as silently wrong state).

    No rename (``fs.rewrite_dirs``): the base is appended into
    ``_snapshot=<upto>`` as new files, then the files it replaces are
    deleted, ``<upto>``'s originals first and each earlier snapshot
    directory whole. A crash before the deletes finish leaves the base
    beside some originals, which reads the same latest state: each
    leftover row either lost to its key's winner or IS the winner,
    tying on seq with its verbatim copy in the base. A re-run folds
    base and leftovers into the same base. A ``.compact-N.old`` park
    left by the older rename-based compactor raises ``IOError`` with
    every file kept."""
    from platypus_ingestion_plugins_spark.operators.cdc import last_wins

    for name in fs.list_names(spark, path):
        if name.startswith(".compact-") and name.endswith(".old"):
            raise fs.leftover_error(f"{path}/{name}")
    snaps = snapshot_ids(spark, path)
    if upto not in snaps:
        raise ValueError(f"snapshot {upto} does not exist at {path}; have {snaps}")
    fold = [s for s in snaps if s <= upto]
    if fold == [upto]:
        return  # nothing before the horizon: already compact
    log = spark.read.parquet(path).filter(F.col(SNAPSHOT_COL) <= F.lit(upto))
    # The base is the folded range's last-wins winners VERBATIM —
    # including -D tombstones. Eliding deletes looks tempting (the key
    # is gone, why keep a row?) but breaks the crash-window
    # coexistence guarantee: a leftover earlier file holding the key's
    # +I would RESURRECT it with nothing left to outrank it (caught by
    # the insert-then-delete-across-snapshots test case). A tombstone
    # at its original max seq beats any folded-range leftover, and
    # apply_changelog drops it from materialized state as always.
    base = last_wins(log.drop(SNAPSHOT_COL), key, seq_col=seq_col)
    # <upto>'s originals go first: until the earlier directories are
    # deleted, a re-run still sees work to do and converges
    dirs = [f"{path}/{SNAPSHOT_COL}={s}" for s in [upto] + fold[:-1]]
    fs.rewrite_dirs(
        spark, dirs, lambda: write_cdc_snapshot(base, path, upto), [path]
    )
