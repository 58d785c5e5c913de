"""CDC changelog operators: RowKind routing, last-wins reduction, merge.

The heart of the reference (PaimonRowProcessor.java:119-183): a
changelog stream of (+I insert, +U update-after, -U update-before,
-D delete) rows with a per-key total order given by
(snapshot_id, sequence_number) within a bucket
(PaimonIngestor.java:673-712; per-bucket ordering README:396-400).

The reference preserves op order with single-threaded buckets and
transition-flushed batches (PaimonRowProcessor.java:136-165, 208-240).
Spark-first equivalence: within one micro-batch only the FINAL state
per key matters, so a window `row_number() over (partition by key
order by _seq desc) = 1` reduction plus an upsert/delete split yields
the identical end state (the reference's own E2E proves the invariant:
INSERT->DELETE->INSERT leaves exactly the last version,
PaimonIngestorE2ETest.java:649-766).

Scale: the reduction is one hash shuffle on the key — map-side
row_number is not possible, but AQE handles skewed keys, and the
shuffle replaces the reference's single-threaded-per-bucket replay
with full cluster parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROW_KIND_COL = "_row_kind"
SEQ_COL = "_seq"

UPSERT_KINDS = ("+I", "+U")
DELETE_KIND = "-D"
SKIP_KIND = "-U"
KNOWN_KINDS = ("+I", "+U", "-U", "-D")
# source bookkeeping a changelog may carry; never part of the state
CHANGELOG_META = ("_snapshot", "_snapshot_id", "_bucket")


def last_wins(
    df: DataFrame,
    key: str | list[str],
    seq_col: str | list[str] = SEQ_COL,
    kind_col: str = ROW_KIND_COL,
) -> DataFrame:
    """Reduce a changelog to one row per key: the highest-sequence op.
    Several ``seq_col`` compare in order: the serving table orders its
    delta runs by (run, seq).

    -U (update-before) rows are dropped first — they never carry final
    state (PaimonRowProcessor.java:152-158) — as are unknown row kinds
    (warn-and-skip in the reference, :171-181; here filtered
    declaratively). Ties on seq keep the delete last (a delete and an
    insert with equal seq cannot both be final; reference order is
    arrival order, so we order (-D after +I/+U) to match the
    insert-then-delete E2E).
    """
    keys = [key] if isinstance(key, str) else list(key)
    seqs = [seq_col] if isinstance(seq_col, str) else list(seq_col)
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in seqs],
        # tie-break: delete outranks upsert at equal seq
        F.when(F.col(kind_col) == DELETE_KIND, 1).otherwise(0).desc(),
    )
    return (
        df.filter(F.col(kind_col).isin([k for k in KNOWN_KINDS if k != SKIP_KIND]))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def split_upserts_deletes(final_ops: DataFrame, kind_col: str = ROW_KIND_COL) -> tuple[DataFrame, DataFrame]:
    """Split a last-wins frame into (upserts, deletes), dropping the kind col."""
    upserts = final_ops.filter(F.col(kind_col).isin(list(UPSERT_KINDS))).drop(kind_col)
    deletes = final_ops.filter(F.col(kind_col) == DELETE_KIND).drop(kind_col)
    return upserts, deletes


def merge_upsert(
    target: DataFrame | None,
    upserts: DataFrame,
    changed: DataFrame,
    key: str | list[str],
    allow_schema_evolution: bool = True,
) -> DataFrame:
    """MERGE semantics without Delta: last-write-wins against a target.

    Equivalent of the sink's addDocuments-upsert + deleteByQuery
    (PaimonRowProcessor.java:242-260): the target rows whose key is in
    ``changed`` (the key of every final op, upsert or delete) are
    removed, ``upserts`` are added, everything else is kept.
    Implemented as anti-join + union — a key-hash join Catalyst can
    broadcast when the changelog side is small (the usual case:
    micro-batch << serving table). A repeated key in ``changed``
    changes nothing in an anti-join, so it need not be deduplicated.
    """
    if target is None:
        return upserts
    keys = [key] if isinstance(key, str) else list(key)
    kept = target.join(changed.select(*keys), on=keys, how="left_anti")
    # add-column evolution: a new column in the changelog widens the
    # table (existing rows read NULL); a column missing from the batch
    # stays NULL on its rows. Matches lakehouse upsert-sink behavior;
    # pass False to fail fast on any schema drift instead.
    return kept.unionByName(upserts, allowMissingColumns=allow_schema_evolution)


def apply_changelog(
    changelog: DataFrame,
    key: str | list[str],
    target: DataFrame | None = None,
    seq_col: str | list[str] = SEQ_COL,
    kind_col: str = ROW_KIND_COL,
    drop_meta: bool = True,
    allow_schema_evolution: bool = True,
) -> DataFrame:
    """Full CDC apply: last-wins reduce -> split -> merge into target.

    Returns the materialized serving state (one row per live key).
    """
    final_ops = last_wins(changelog, key, seq_col=seq_col, kind_col=kind_col)
    upserts, _ = split_upserts_deletes(final_ops, kind_col=kind_col)
    if drop_meta:
        seqs = [seq_col] if isinstance(seq_col, str) else list(seq_col)
        upserts = upserts.drop(*[c for c in (*seqs, *CHANGELOG_META) if c in upserts.columns])
    # every key with a final op loses its target row, whichever the op:
    # read off the changelog itself, so the last-wins window runs once
    changed = changelog.filter(F.col(kind_col).isin(*UPSERT_KINDS, DELETE_KIND))
    return merge_upsert(
        target, upserts, changed, key,
        allow_schema_evolution=allow_schema_evolution,
    )
