"""ServingTable: bucketed partial rewrite, snapshot commits, FS shim.

Covers the snapshot commit (a crashed writer leaves only files no
snapshot references; reads never write), the InFlightBatch-style
no-commit-until-complete barrier (InFlightBatch.java:27-113) and the
O(touched-buckets) merge the reference gets from per-bucket processing
(PaimonIngestor.java:661-712)."""

import hashlib
import os
import random
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import Row
from pyspark.sql import types as T

from platypus_ingestion_plugins_spark import fs
from platypus_ingestion_plugins_spark.serving.table import BUCKET_COL, MAX_RUNS, ServingTable

CDC_SCHEMA = T.StructType(
    [
        T.StructField("_seq", T.LongType()),
        T.StructField("_row_kind", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("title", T.StringType()),
    ]
)


def _batch(spark, *ops):
    return spark.createDataFrame(
        [Row(_seq=s, _row_kind=k, id=i, title=t) for s, k, i, t in ops], CDC_SCHEMA
    )


def _dir_digest(path):
    """Stable digest of a directory tree: relative names + bytes."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for name in sorted(files):
            if name.startswith("."):
                continue  # CRC sidecars
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _parquet_in(d):
    return sorted(n for n in os.listdir(d) if n.endswith(".parquet")) if os.path.isdir(d) else []


def _plant_parquet(path, **cols):
    """A data file a crashed writer could have left behind."""
    pq.write_table(pa.table({k: pa.array(v) for k, v in cols.items()}), path)


def _bucket_of(spark, table, key):
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame([Row(id=key)])
        .select(F.pmod(F.hash("id"), F.lit(table.num_buckets)).alias("b"))
        .collect()[0][0]
    )


def test_partial_rewrite_leaves_untouched_buckets_bitwise_identical(spark, tmp_path):
    path = str(tmp_path / "serving")
    tbl = ServingTable(spark, path, key="id", num_buckets=8)
    keys = [f"k{i}" for i in range(32)]
    tbl.apply_batch(_batch(spark, *[(i, "+I", k, "v1") for i, k in enumerate(keys)]))

    target = keys[0]
    tb = _bucket_of(spark, tbl, target)
    before = {
        d: _dir_digest(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith(f"{BUCKET_COL}=")
    }
    assert len(before) > 1  # data actually spread over several buckets

    tbl.apply_batch(_batch(spark, (100, "+U", target, "v2")))

    after = {
        d: _dir_digest(os.path.join(path, d))
        for d in os.listdir(path)
        if d.startswith(f"{BUCKET_COL}=")
    }
    changed_dir = f"{BUCKET_COL}={tb}"
    assert after[changed_dir] != before[changed_dir]
    for d, digest in before.items():
        if d != changed_dir:
            assert after[d] == digest, f"untouched bucket {d} was rewritten"

    state = {r.id: r.title for r in tbl.query().collect()}
    assert state[target] == "v2"
    assert len(state) == 32
    # no write-job or temp-snapshot residue after a committed batch
    assert not os.path.exists(os.path.join(path, "_temporary"))
    assert not [n for n in os.listdir(os.path.join(path, "_snapshots")) if ".tmp" in n]


def test_partial_rewrite_drops_emptied_bucket_dir(spark, tmp_path):
    path = str(tmp_path / "serving")
    tbl = ServingTable(spark, path, key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, (1, "+I", "only", "v1")))
    b = _bucket_of(spark, tbl, "only")
    assert os.path.isdir(os.path.join(path, f"{BUCKET_COL}={b}"))

    part = f"{BUCKET_COL}={b}"
    tbl.apply_batch(_batch(spark, (2, "-D", "only", "v1")))
    # the delete is a delta run beside the base until the bucket folds
    assert len(tbl._latest()["runs"][part]) == 1
    assert tbl.query().count() == 0 and tbl.lookup("only").count() == 0
    assert tbl.compact() == [b]
    assert part not in tbl._latest()["files"]
    assert tbl.query().count() == 0
    # the emptied bucket's files served the previous snapshot; the next
    # commit deletes them
    stale = set(_parquet_in(os.path.join(path, part)))
    assert len(stale) == 2
    tbl.apply_batch(_batch(spark, (3, "-D", "only", "v1")))
    assert _parquet_in(os.path.join(path, part)) == tbl._latest()["files"][part]
    assert not stale & set(tbl._latest()["files"][part])


def test_full_rewrite_crash_between_renames_recovers(spark, tmp_path):
    """A full rewrite that crashed after its data files landed but
    before its snapshot rename: readers never see those files or the
    temp snapshot, and the next commit deletes both."""
    path = str(tmp_path / "serving")
    tbl = ServingTable(spark, path, key="id")
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))

    crashed = os.path.join(path, "part-99999-crashed.snappy.parquet")
    _plant_parquet(crashed, id=["a", "z"], title=["torn", "torn"])
    tmp_snap = os.path.join(path, "_snapshots", "2.json.tmp")
    with open(tmp_snap, "w") as f:
        f.write('{"id": 2, "fil')

    state = {r.id: r.title for r in tbl.query().collect()}
    assert state == {"a": "v1"}

    tbl.apply_batch(_batch(spark, (2, "+I", "b", "v1")))
    assert {r.id: r.title for r in tbl.query().collect()} == {"a": "v1", "b": "v1"}
    assert not os.path.exists(crashed)
    assert not os.path.exists(tmp_snap)


def test_bucket_swap_crash_mid_swap_restores_bucket(spark, tmp_path):
    """A bucketed commit that crashed mid-write: one new file already in
    the bucket directory, more still under Spark's ``_temporary``, no
    snapshot. Every committed key stays readable with its committed
    value, the replayed batch converges, and the commit after it
    deletes the leftovers instead of adopting them."""
    path = str(tmp_path / "serving")
    tbl = ServingTable(spark, path, key="id", num_buckets=8)
    keys = [f"k{i}" for i in range(32)]
    tbl.apply_batch(_batch(spark, *[(i, "+I", k, "v1") for i, k in enumerate(keys)]))

    part = f"{BUCKET_COL}={_bucket_of(spark, tbl, 'k0')}"
    crashed = os.path.join(path, part, "part-00000-crashed.c000.snappy.parquet")
    _plant_parquet(crashed, id=["k0"], title=["torn"])
    task_dir = os.path.join(path, "_temporary", "0", "task_crashed_m_000001", part)
    os.makedirs(task_dir)
    _plant_parquet(os.path.join(task_dir, "part-00001-crashed.c000.snappy.parquet"),
                   id=["k0"], title=["torn"])

    state = {r.id: r.title for r in tbl.query().collect()}
    assert len(state) == 32, "keys in the crashed commit's bucket were lost"
    assert state["k0"] == "v1"

    replay = _batch(spark, (100, "+U", "k0", "v2"))
    for _ in range(2):  # the redelivery converges to the same state
        tbl.apply_batch(replay)
        state = {r.id: r.title for r in tbl.query().collect()}
        assert len(state) == 32 and state["k0"] == "v2"
        assert tbl.query().count() == 32  # no leftover row adopted beside k0
    assert not os.path.exists(crashed)
    assert not os.path.exists(os.path.join(path, "_temporary"))


def test_full_rewrite_completed_swap_cleanup_drops_stale_copy(spark, tmp_path):
    """After a full rewrite the replaced files stay on disk for readers
    that pinned the previous snapshot, but no new reader sees them —
    the new table may legitimately have dropped a bucket — and the
    next commit deletes them."""
    path = str(tmp_path / "serving")
    tbl = ServingTable(spark, path, key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, (1, "+I", "gone", "v1")))
    part = f"{BUCKET_COL}={_bucket_of(spark, tbl, 'gone')}"
    stale = [os.path.join(path, part, n) for n in tbl._latest()["files"][part]]
    # overwrite to a state WITHOUT key "gone"
    tbl.overwrite(spark.createDataFrame([Row(id="kept", title="v1")]))
    assert all(os.path.exists(p) for p in stale)  # retained for pinned readers
    assert {r.id for r in tbl.query().collect()} == {"kept"}
    assert tbl.lookup("gone").count() == 0

    tbl.apply_batch(_batch(spark, (2, "+U", "kept", "v2")))
    assert not any(os.path.exists(p) for p in stale)
    assert {r.id: r.title for r in tbl.query().collect()} == {"kept": "v2"}


def test_lookup_int_key_prunes_to_right_bucket(spark, tmp_path):
    """murmur3 is type-sensitive: hash(7 as int) != hash(7 as bigint).
    A Python int literal must be cast to the stored key type before the
    bucket hash, or the lookup prunes to the wrong directory and
    silently returns nothing."""
    schema = T.StructType(
        [
            T.StructField("_seq", T.LongType()),
            T.StructField("_row_kind", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("title", T.StringType()),
        ]
    )
    tbl = ServingTable(spark, str(tmp_path / "ik"), key="id", num_buckets=8)
    rows = [Row(_seq=i, _row_kind="+I", id=i, title=f"v{i}") for i in range(64)]
    tbl.apply_batch(spark.createDataFrame(rows, schema))
    got = tbl.lookup(7).collect()
    assert [(r.id, r.title) for r in got] == [(7, "v7")]
    assert tbl.lookup(10**6).count() == 0


def test_commit_log_atomic_and_tmp_residue_ignored(spark, tmp_path):
    """The commit log lands via stage-and-rename: a crash-leftover
    .tmp never corrupts it, and no .tmp residue survives a commit."""
    path = str(tmp_path / "al")
    tbl = ServingTable(spark, path, key="id", num_buckets=2)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    # crash-leftover junk from a torn staged write
    with open(os.path.join(path, "_commits.json.tmp"), "w") as f:
        f.write('[{"cor')
    tbl.apply_batch(_batch(spark, (2, "+U", "a", "v2")))
    log = tbl.commits()
    assert [e["commit_id"] for e in log] == [0, 1]
    assert not os.path.exists(os.path.join(path, "_commits.json.tmp"))


def test_stale_staging_is_discarded(spark, tmp_path):
    """A crashed Spark write's ``_temporary`` task output is never
    read, and never moved into the table by the next write's job
    commit: the next commit discards it first."""
    path = str(tmp_path / "serving")
    tbl = ServingTable(spark, path, key="id")
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    task_dir = os.path.join(path, "_temporary", "0", "task_crashed_m_000000")
    os.makedirs(task_dir)
    _plant_parquet(os.path.join(task_dir, "part-00000-crashed.snappy.parquet"),
                   id=["a", "z"], title=["torn", "torn"])
    assert {r.id: r.title for r in tbl.query().collect()} == {"a": "v1"}
    tbl.apply_batch(_batch(spark, (2, "+U", "a", "v2")))
    assert {r.id: r.title for r in tbl.query().collect()} == {"a": "v2"}
    assert not os.path.exists(os.path.join(path, "_temporary"))


def test_bucketed_replay_idempotent(spark, tmp_path):
    tbl = ServingTable(spark, str(tmp_path / "serving"), key="id", num_buckets=4)
    b1 = _batch(spark, (1, "+I", "a", "v1"), (2, "+I", "b", "v1"))
    b2 = _batch(spark, (3, "+U", "a", "v2"), (4, "-D", "b", "v1"))
    tbl.apply_batch(b1)
    tbl.apply_batch(b2)
    tbl.apply_batch(b2)  # at-least-once redelivery
    assert {r.id: r.title for r in tbl.query().collect()} == {"a": "v2"}


def test_atomic_write_crash_between_delete_and_rename_recovers(spark, tmp_path):
    """Crash-injection for write_text_atomic's delete->rename window:
    the destination was deleted but the staged .tmp never renamed in.
    read_text must fall back to the complete .tmp, so commits() still
    returns the staged log and commit ids keep advancing."""
    path = str(tmp_path / "aw")
    tbl = ServingTable(spark, path, key="id", num_buckets=2)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    tbl.apply_batch(_batch(spark, (2, "+U", "a", "v2")))
    log_path = os.path.join(path, "_commits.json")
    # simulate the crash: delete done, rename not — only the staged
    # sibling (complete by construction) remains
    os.rename(log_path, log_path + ".tmp")
    assert tbl.commits() != []
    assert [e["commit_id"] for e in tbl.commits()] == [0, 1]
    # the next commit heals the file through the normal staged write
    tbl.apply_batch(_batch(spark, (3, "+U", "a", "v3")))
    assert os.path.exists(log_path)
    assert [e["commit_id"] for e in tbl.commits()] == [0, 1, 2]
    assert not os.path.exists(log_path + ".tmp")


def test_atomic_write_torn_first_stage_reads_absent(spark, tmp_path):
    """A crash mid-write of the very first stage leaves only a torn
    .inprogress — never a .tmp — so read_text still reports absent
    instead of returning torn bytes."""
    p = str(tmp_path / "x.json")
    with open(p + ".inprogress", "w") as f:
        f.write('[{"cor')  # torn
    assert fs.read_text(spark, p) is None
    # and a subsequent atomic write overwrites the torn stage cleanly
    fs.write_text_atomic(spark, p, '["ok"]')
    assert fs.read_text(spark, p) == '["ok"]'
    assert not os.path.exists(p + ".inprogress")
    assert not os.path.exists(p + ".tmp")


def test_fs_shim_roundtrip(spark, tmp_path):
    base = str(tmp_path / "fsdir")
    assert not fs.exists(spark, base)
    fs.mkdirs(spark, base + "/sub")
    assert fs.is_dir(spark, base + "/sub")
    assert fs.list_names(spark, base) == ["sub"]
    fs.rename(spark, base + "/sub", base + "/sub2")
    assert fs.list_names(spark, base) == ["sub2"]
    fs.delete(spark, base)
    assert not fs.exists(spark, base)
    assert fs.list_names(spark, base) == []


def test_compact_bucketed(spark, tmp_path):
    tbl = ServingTable(spark, str(tmp_path / "t"), key="id", num_buckets=2)
    # a wide write fans each bucket across many tasks -> small files
    wide = spark.createDataFrame(
        [Row(id=f"k{i}", title=f"v{i}") for i in range(40)]
    ).repartition(8)
    tbl.overwrite(wide)
    before = {r.id: r.title for r in tbl.query().collect()}

    def files_per_bucket():  # as the latest snapshot lists them
        return {d: len(names) for d, names in tbl._latest()["files"].items()}

    assert any(n > 1 for n in files_per_bucket().values())
    compacted = tbl.compact(max_files_per_bucket=1)
    assert compacted  # something was oversized
    assert all(n == 1 for n in files_per_bucket().values())
    # data identical, and a second compact is a no-op
    assert {r.id: r.title for r in tbl.query().collect()} == before
    assert tbl.compact(max_files_per_bucket=1) == []


def test_compact_unbucketed(spark, tmp_path):
    tbl = ServingTable(spark, str(tmp_path / "u"), key="id")
    tbl.apply_batch(_batch(spark, *[(i, "+I", f"k{i}", f"v{i}") for i in range(40)]))
    before = {r.id: r.title for r in tbl.query().collect()}
    if len(tbl._latest()["files"][""]) > 1:
        assert tbl.compact(max_files_per_bucket=1) == [0]
    assert len(tbl._latest()["files"][""]) == 1
    assert {r.id: r.title for r in tbl.query().collect()} == before


def test_compact_with_another_layout_rewrites_whole_table(spark, tmp_path):
    """A handle whose num_buckets is not the table's compacts by
    rewriting the whole table in its own layout: every live row once,
    no root file left beside the new buckets."""
    path = str(tmp_path / "relayout")
    plain = ServingTable(spark, path, key="id")
    plain.apply_batch(_batch(spark, *[(i, "+I", f"k{i}", "v1") for i in range(16)]))
    plain.apply_batch(_batch(spark, (20, "+U", "k1", "v2"), (21, "-D", "k2", "")))
    tbl = ServingTable(spark, path, key="id", num_buckets=4)
    rewritten = tbl.compact()
    got = sorted((r.id, r.title) for r in tbl.query().collect())
    assert len(got) == 15 and ("k1", "v2") in got and "k2" not in dict(got)
    assert rewritten == [0, 1, 2, 3]
    snap = tbl._latest()
    assert snap["num_buckets"] == 4 and not snap["runs"] and not snap["files"].get("")
    assert [r.title for r in tbl.lookup("k1").collect()] == ["v2"]


def test_lookup_prunes_to_one_bucket(spark, tmp_path):
    from pyspark.sql import functions as F

    tbl = ServingTable(spark, str(tmp_path / "pt"), key="id", num_buckets=8)
    tbl.apply_batch(
        _batch(spark, *[(i, "+I", f"k{i}", f"v{i}") for i in range(64)])
    )
    n_dirs = sum(
        1 for n in fs.list_names(spark, tbl.path) if n.startswith(f"{BUCKET_COL}=")
    )
    assert n_dirs > 1
    hit = tbl.lookup("k7")
    rows = hit.collect()
    assert [(r.id, r.title) for r in rows] == [("k7", "v7")]
    # the scan touched exactly one bucket directory
    touched = {
        r.f.split(f"{BUCKET_COL}=")[1].split("/")[0]
        for r in tbl.lookup("k7").select(F.input_file_name().alias("f")).collect()
    }
    assert len(touched) == 1
    # missing key -> empty, not an error
    assert tbl.lookup("ghost").count() == 0

    # with delta runs the base and the runs both prune to the key's bucket
    tbl.apply_batch(_batch(spark, (100, "+U", "k7", "v8"), (101, "-D", "k9", "v9")))
    assert tbl._latest()["runs"]
    hit = tbl.lookup("k7")
    assert [(r.id, r.title) for r in hit.collect()] == [("k7", "v8")]
    assert tbl.lookup("k9").count() == 0
    b = _bucket_of(spark, tbl, "k7")
    plan = hit._jdf.queryExecution().executedPlan().toString()
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert len(scans) >= 2  # the base and the runs
    for scan in scans:
        assert f"= {b})" in scan.split("PartitionFilters:")[1].split("]")[0], scan


def test_schema_evolution_adds_column(spark, tmp_path):
    """A later micro-batch carries a NEW column: the table widens,
    pre-existing rows read NULL for it — lakehouse add-column
    evolution through the same idempotent merge."""
    tbl = ServingTable(spark, str(tmp_path / "evo"), key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1"), (2, "+I", "b", "v1")))

    evolved = spark.createDataFrame(
        [Row(_seq=3, _row_kind="+U", id="a", title="v2", lang="en")],
        T.StructType(list(CDC_SCHEMA.fields) + [T.StructField("lang", T.StringType())]),
    )
    tbl.apply_batch(evolved)
    got = {r.id: (r.title, r.lang) for r in tbl.query().collect()}
    assert got == {"a": ("v2", "en"), "b": ("v1", None)}
    # next batch WITHOUT the new column still merges (column stays NULL)
    tbl.apply_batch(_batch(spark, (4, "+U", "b", "v3")))
    got2 = {r.id: (r.title, r.lang) for r in tbl.query().collect()}
    assert got2 == {"a": ("v2", "en"), "b": ("v3", None)}


def test_composite_key_lookup(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("_seq", T.LongType()),
            T.StructField("_row_kind", T.StringType()),
            T.StructField("tenant", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("title", T.StringType()),
        ]
    )
    tbl = ServingTable(spark, str(tmp_path / "ck"), key=["tenant", "id"], num_buckets=4)
    rows = [
        Row(_seq=1, _row_kind="+I", tenant="t1", id="a", title="v1"),
        Row(_seq=2, _row_kind="+I", tenant="t2", id="a", title="v2"),
    ]
    tbl.apply_batch(spark.createDataFrame(rows, schema))
    # same id under two tenants: distinct rows, lookup scoped by full key
    assert {r.tenant: r.title for r in tbl.query().collect()} == {"t1": "v1", "t2": "v2"}
    got = tbl.lookup("t2", "a").collect()
    assert [(r.tenant, r.id, r.title) for r in got] == [("t2", "a", "v2")]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tbl.lookup("t2")


def test_commit_log(spark, tmp_path):
    tbl = ServingTable(spark, str(tmp_path / "log"), key="id", num_buckets=4)
    assert tbl.commits() == []
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1"), (2, "+I", "b", "v1")))
    tbl.apply_batch(_batch(spark, (3, "-D", "a", "v1")))
    log = tbl.commits()
    assert [e["commit_id"] for e in log] == [0, 1]
    assert log[0]["kind"] == "batch" and log[0]["n_rows"] == 2
    assert log[1]["n_rows"] == 1
    # bucketed commits record which buckets moved
    assert log[1]["buckets"] is not None and len(log[1]["buckets"]) >= 1


def test_commit_log_survives_full_rewrite_and_compact(spark, tmp_path):
    tbl = ServingTable(spark, str(tmp_path / "log2"), key="id", num_buckets=2)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    tbl.overwrite(spark.createDataFrame([Row(id="a", title="v2")]))
    tbl.compact(max_files_per_bucket=0)
    kinds = [e["kind"] for e in tbl.commits()]
    assert kinds[:2] == ["batch", "overwrite"]
    assert kinds[-1] == "compact" if len(kinds) == 3 else True
    ids = [e["commit_id"] for e in tbl.commits()]
    assert ids == list(range(len(ids)))  # monotonic across the swap


def test_atomic_write_heals_orphaned_tmp_before_staging(spark, tmp_path):
    """A predecessor crashed between delete and rename, leaving only a
    .tmp. The NEXT atomic write must promote that sole surviving copy
    before staging deletes it — never a window with zero readable
    copies — and then land the new content normally."""
    p = str(tmp_path / "h.json")
    fs.write_text(spark, p + ".tmp", '["old"]')
    assert fs.read_text(spark, p) == '["old"]'  # fallback sees it
    fs.write_text_atomic(spark, p, '["new"]')
    assert fs.read_text(spark, p) == '["new"]'
    assert not os.path.exists(p + ".tmp")
    assert not os.path.exists(p + ".inprogress")


def test_compact_preserves_evolved_column(spark, tmp_path):
    """Compacting a bucket whose files mix old and new footers must
    read under the persisted sidecar schema: raw parquet inference
    picking an old footer would rewrite the bucket WITHOUT the evolved
    column, silently destroying its committed values."""
    tbl = ServingTable(spark, str(tmp_path / "cevo"), key="id", num_buckets=4)
    # spread keys over several buckets, all OLD schema footers
    keys = [f"k{i}" for i in range(16)]
    for s, k in enumerate(keys):
        tbl.apply_batch(_batch(spark, (s, "+I", k, "v1")))
    # evolve ONE bucket: its files carry the new footer, the other
    # buckets keep old footers — the mixed-footer table raw inference
    # mis-handles
    evolved = spark.createDataFrame(
        [Row(_seq=100, _row_kind="+U", id="k0", title="v2", lang="en")],
        T.StructType(list(CDC_SCHEMA.fields) + [T.StructField("lang", T.StringType())]),
    )
    tbl.apply_batch(evolved)
    before = {r.id: (r.title, r.lang) for r in tbl.query().collect()}
    assert before["k0"] == ("v2", "en")
    assert len(before) == 16

    compacted = tbl.compact(max_files_per_bucket=1)
    assert compacted, "expected at least one oversized bucket"
    after = {r.id: (r.title, r.lang) for r in tbl.query().collect()}
    assert after == before, "compact dropped or altered the evolved column"


def test_commit_log_retention_caps_entries(spark, tmp_path):
    """The audit log keeps the last 1000 records: a long-lived stream's
    per-batch commits must not grow the driver-side read-modify-write
    unboundedly. commit_id keeps advancing monotonically past the cap."""
    import json as _json

    path = str(tmp_path / "ret")
    tbl = ServingTable(spark, path, key="id", num_buckets=2)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    # seed a full log (cheaper than 1000 real batches)
    seeded = [
        {"commit_id": i, "kind": "merge", "n_rows": 1, "buckets": [0]}
        for i in range(1000)
    ]
    from platypus_ingestion_plugins_spark import fs as _fs

    _fs.write_text_atomic(spark, os.path.join(path, "_commits.json"), _json.dumps(seeded))
    tbl.apply_batch(_batch(spark, (2, "+U", "a", "v2")))
    log = tbl.commits()
    assert len(log) == 1000
    assert log[-1]["commit_id"] == 1000  # advanced past the seeded head
    assert log[0]["commit_id"] == 1  # oldest record aged out


def test_auto_register_fields_off_rejects_unknown_columns(spark, tmp_path):
    """Reference parity (IngestionConfig.autoRegisterFields=false):
    with auto-registration off the sidecar schema is a contract — a
    batch carrying an unregistered column is refused BEFORE any data
    lands; the permissive default still widens."""
    import pytest
    from pyspark.sql import Row

    strict = ServingTable(
        spark, str(tmp_path / "strict"), key="id", auto_register_fields=False
    )
    first = spark.createDataFrame(
        [Row(_seq=1, _row_kind="+I", id="a", title="v1")]
    )
    strict.apply_batch(first)  # first batch REGISTERS the schema
    assert {r.id for r in strict.query().collect()} == {"a"}

    widened = spark.createDataFrame(
        [Row(_seq=2, _row_kind="+I", id="b", title="v1", extra="nope")]
    )
    with pytest.raises(ValueError, match=r"unregistered column\(s\) \['extra'\]"):
        strict.apply_batch(widened)
    # nothing landed: table unchanged
    assert {r.id for r in strict.query().collect()} == {"a"}

    # the permissive default widens as before
    loose = ServingTable(spark, str(tmp_path / "loose"), key="id")
    loose.apply_batch(first)
    loose.apply_batch(widened)
    rows = {r.id: r.asDict().get("extra") for r in loose.query().collect()}
    assert rows == {"a": None, "b": "nope"}


def test_snapshot_commit_refuses_taken_number(spark, tmp_path):
    """Snapshot N+1 is renamed into place only if absent: a commit that
    lost the race to another writer raises and publishes nothing."""
    import pytest

    path = str(tmp_path / "race")
    tbl = ServingTable(spark, path, key="id", num_buckets=2)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    snap = tbl._latest()
    assert snap["id"] == 1 and snap["commit"]["kind"] == "batch"
    with open(os.path.join(path, "_snapshots", "2.json"), "w") as f:
        f.write(open(os.path.join(path, "_snapshots", "1.json")).read().replace('"id": 1', '"id": 2'))
    with pytest.raises(IOError, match="snapshot 2 already exists"):
        tbl._commit(snap, tbl.query(), [0, 1], "batch", 0)
    assert tbl._latest()["id"] == 2


def test_reads_never_write(spark, tmp_path, monkeypatch):
    """read / exists / query / lookup / commits — and the actions on
    what they return — make no mutating filesystem call."""
    tbl = ServingTable(spark, str(tmp_path / "ro"), key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, *[(i, "+I", f"k{i}", "v1") for i in range(16)]))
    writes = []
    for name in ("delete", "rename", "_rename_or_raise", "mkdirs", "write_text", "write_text_atomic"):
        orig = getattr(fs, name)
        monkeypatch.setattr(
            fs, name, lambda *a, _n=name, _o=orig, **k: writes.append(_n) or _o(*a, **k)
        )
    reader = ServingTable(spark, tbl.path, key="id", num_buckets=4)
    assert reader.exists()
    assert reader.read().count() == 16
    assert reader.query().count() == 16
    assert [r.title for r in reader.lookup("k3").collect()] == ["v1"]
    assert len(reader.commits()) == 1
    assert ServingTable(spark, str(tmp_path / "absent"), key="id").read() is None
    assert writes == []


def test_read_launches_no_job_before_action(spark, tmp_path):
    """A read names its snapshot's files, so building the DataFrame
    lists nothing in a Spark job — even past Spark's default 32-path
    parallel-listing threshold."""
    tbl = ServingTable(spark, str(tmp_path / "nj"), key="id", num_buckets=8)
    wide = spark.createDataFrame(
        [Row(id=f"k{i}", title="v") for i in range(400)]
    ).repartition(8)
    tbl.overwrite(wide)
    assert sum(len(v) for v in tbl._latest()["files"].values()) > 32
    sc = spark.sparkContext
    sc.setJobGroup("read-no-job", "read-no-job")
    try:
        df = tbl.read()
        assert sc.statusTracker().getJobIdsForGroup("read-no-job") == []
        assert df.count() == 400
        assert sc.statusTracker().getJobIdsForGroup("read-no-job") != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_read_reuses_frame_until_next_commit(spark, tmp_path):
    """Reads of an unchanged snapshot share one frame; after a commit
    the next read is a new frame over the new snapshot, and the old
    frame still reads the snapshot it pinned."""
    tbl = ServingTable(spark, str(tmp_path / "fr"), key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    first = tbl.read()
    assert tbl.read() is first
    tbl.apply_batch(_batch(spark, (2, "+U", "a", "v2"), (3, "+I", "b", "v1")))
    second = tbl.read()
    assert second is not first
    assert sorted((r.id, r.title) for r in second.collect()) == [("a", "v2"), ("b", "v1")]
    assert [(r.id, r.title) for r in first.collect()] == [("a", "v1")]


def test_concurrent_reader_sees_every_commit(spark, tmp_path):
    """A reader thread keeps looking up keys no batch touches and
    counting the table while the main thread applies bucketed batches:
    no lookup misses, no reader raises, and the final state equals a
    plain last-wins over the same changelog."""
    path = str(tmp_path / "live")
    tbl = ServingTable(spark, path, key="id", num_buckets=4)
    static = {f"s{i}": "static" for i in range(16)}
    tbl.apply_batch(_batch(spark, *[(i, "+I", k, v) for i, (k, v) in enumerate(static.items())]))

    rng = random.Random(7)
    seq = 100
    batches, changelog = [], []
    for b in range(12):
        ops = []
        for _ in range(12):
            seq += 1
            ops.append((seq, rng.choice(["+I", "+U", "+U", "-D"]), f"d{rng.randrange(24)}", f"v{b}"))
        batches.append(ops)
        changelog += ops

    done = threading.Event()
    misses, errors, ops_done = [], [], [0]

    def read_loop():
        reader = ServingTable(spark, path, key="id", num_buckets=4)
        i = 0
        while not done.is_set():
            key = f"s{i % len(static)}"
            try:
                got = [(r.id, r.title) for r in reader.lookup(key).collect()]
                if got != [(key, "static")]:
                    misses.append((key, got))
                if i % 4 == 0 and reader.query().count() < len(static):
                    misses.append(("count", i))
            except Exception as exc:  # noqa: BLE001 - every failure counts
                errors.append(repr(exc))
            ops_done[0] += 1
            i += 1

    t = threading.Thread(target=read_loop, daemon=True)
    t.start()
    try:
        for ops in batches:
            tbl.apply_batch(_batch(spark, *ops))
    finally:
        done.set()
        t.join(timeout=120)
    assert not t.is_alive()
    assert errors == []
    assert misses == []
    assert ops_done[0] >= 5

    expected = dict(static)
    for _seq, kind, key, title in sorted(changelog):
        if kind == "-D":
            expected.pop(key, None)
        else:
            expected[key] = title
    assert {r.id: r.title for r in tbl.query().collect()} == expected


def test_read_text_rereads_destination_when_tmp_vanishes(spark, tmp_path, monkeypatch):
    """The destination is missing and the ``.tmp`` fallback exists —
    then a writer renames the ``.tmp`` into place before it is opened.
    read_text returns the renamed content instead of raising."""
    p = str(tmp_path / "r.json")
    with open(p + ".tmp", "w") as f:
        f.write('["staged"]')
    real_read = fs._read_if_present
    opened = []

    def racing_read(spark_, path):
        opened.append(path)
        if path == p + ".tmp":
            os.rename(p + ".tmp", p)  # the writer wins the race
        return real_read(spark_, path)

    monkeypatch.setattr(fs, "_read_if_present", racing_read)
    assert fs.read_text(spark, p) == '["staged"]'
    assert opened == [p, p + ".tmp", p]
    assert not os.path.exists(p + ".tmp")


def test_first_commit_refuses_unsnapshotted_data(spark, tmp_path):
    """A directory holding data but no ``_snapshots/`` — a table written
    before snapshot commits — is refused by the first commit, and its
    files stay. A crashed first commit's leftovers (``_snapshots/`` made,
    no snapshot yet) are the table's own and are cleaned instead."""
    import pytest

    old = tmp_path / "old"
    (old / f"{BUCKET_COL}=0").mkdir(parents=True)
    data = old / f"{BUCKET_COL}=0" / "part-00000-old.c000.snappy.parquet"
    _plant_parquet(str(data), id=["a"], title=["kept"])
    (old / "_schema.json").write_text("{}")
    tbl = ServingTable(spark, str(old), key="id", num_buckets=2)
    assert not tbl.exists()
    with pytest.raises(IOError, match="no snapshot"):
        tbl.apply_batch(_batch(spark, (1, "+I", "b", "v1")))
    assert data.exists() and (old / "_schema.json").exists()
    assert not (old / "_snapshots").exists()

    crashed = tmp_path / "crashed"
    (crashed / "_snapshots").mkdir(parents=True)
    (crashed / f"{BUCKET_COL}=0").mkdir()
    leftover = crashed / f"{BUCKET_COL}=0" / "part-00000-crashed.c000.snappy.parquet"
    _plant_parquet(str(leftover), id=["a"], title=["torn"])
    tbl = ServingTable(spark, str(crashed), key="id", num_buckets=2)
    tbl.apply_batch(_batch(spark, (1, "+I", "b", "v1")))
    assert {r.id: r.title for r in tbl.query().collect()} == {"b": "v1"}
    assert not leftover.exists()


def test_missing_hinted_snapshot_raises(spark, tmp_path):
    """A LATEST hint naming a snapshot that is gone, with no newer one,
    raises naming the table rather than retrying forever."""
    import pytest

    path = str(tmp_path / "pruned")
    tbl = ServingTable(spark, path, key="id")
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1")))
    os.remove(os.path.join(path, "_snapshots", "1.json"))
    with pytest.raises(FileNotFoundError, match="snapshot 1 is missing"):
        tbl.exists()


def test_partial_commit_lists_only_touched_buckets(spark, tmp_path, monkeypatch):
    """A bucketed commit lists only the buckets it writes and those the
    previous commit replaced: an append replaces nothing, a fold its
    bucket. A leftover in any other bucket is never read, and goes when
    its bucket is next written."""
    path = str(tmp_path / "scoped")
    tbl = ServingTable(spark, path, key="id", num_buckets=8)
    keys = {}
    for i in range(64):
        keys.setdefault(_bucket_of(spark, tbl, f"k{i}"), f"k{i}")
    b1, b2, b3 = sorted(keys)[:3]
    tbl.apply_batch(_batch(spark, *[(i, "+I", k, "v1") for i, k in enumerate(keys.values())]))
    for s in range(MAX_RUNS):
        tbl.apply_batch(_batch(spark, (100 + s, "+U", keys[b1], "v2")))
    leftover = os.path.join(path, f"{BUCKET_COL}={b3}", "part-00000-crashed.c000.snappy.parquet")
    _plant_parquet(leftover, id=[keys[b3]], title=["torn"])

    listed = []
    real = fs.list_names
    monkeypatch.setattr(fs, "list_names", lambda s, p: listed.append(p) or real(s, p))
    tbl.apply_batch(_batch(spark, (110, "+U", keys[b1], "v3")))  # folds b1
    assert f"{BUCKET_COL}={b1}" not in tbl._latest()["runs"]
    assert sorted(listed) == [f"{path}/{BUCKET_COL}={b1}"] * 2  # before and after the write
    listed.clear()
    tbl.apply_batch(_batch(spark, (111, "+U", keys[b2], "v2")))
    assert sorted(listed) == sorted(
        f"{path}/{BUCKET_COL}={b}" for b in (b1, b2, b2)  # b2 again after the write
    )
    assert os.path.exists(leftover)
    assert tbl.lookup(keys[b3]).collect()[0].title == "v1"

    tbl.apply_batch(_batch(spark, (112, "+U", keys[b3], "v2")))
    assert not os.path.exists(leftover)
    assert tbl.query().count() == len(keys)
    assert tbl.lookup(keys[b1]).collect()[0].title == "v3"


def _last_wins(changelog, start=None):
    """Pure-Python state after applying ``changelog`` batches in order:
    a later batch wins whatever its ``_seq``; within a batch the
    highest ``_seq`` wins and a delete outranks an upsert at equal
    ``_seq``."""
    state = dict(start or {})
    for ops in changelog:
        final = {}
        for seq, kind, key, row in ops:
            if kind == "-U":
                continue
            rank = (seq, kind == "-D")
            if key not in final or rank > final[key][0]:
                final[key] = (rank, kind, row)
        for key, (_rank, kind, row) in final.items():
            if kind == "-D":
                state.pop(key, None)
            else:
                state[key] = row
    return state


def test_apply_batch_refuses_another_key(spark, tmp_path):
    """The key is snapshot metadata: a writer with another key raises
    before any work, and reads merge on the recorded key whatever key
    the handle was opened with."""
    import pytest

    path = str(tmp_path / "keyed")
    tbl = ServingTable(spark, path, key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, (1, "+I", "a", "v1"), (2, "+I", "b", "v1")))
    tbl.apply_batch(_batch(spark, (3, "+U", "a", "v2")))
    assert tbl._latest()["key"] == ["id"]
    other = ServingTable(spark, path, key="title", num_buckets=4)
    with pytest.raises(ValueError, match="keyed on"):
        other.apply_batch(_batch(spark, (4, "+U", "a", "v3")))
    assert tbl._latest()["id"] == 2
    probe = ServingTable(spark, path, key="_probe", num_buckets=4)
    assert sorted((r.id, r.title) for r in probe.query().collect()) == [("a", "v2"), ("b", "v1")]


def test_ordering_across_runs_and_compaction(spark, tmp_path):
    """Runs order by commit, then ``_seq``: an update_by_query whose
    ``_seq`` restarts at 0 beats an earlier ingest batch, a delete then
    a re-insert in later runs leaves the re-inserted row, and a
    replayed batch changes nothing, before and after a compaction."""
    from pyspark.sql import functions as F

    from platypus_ingestion_plugins_spark.serving.table import update_by_query

    tbl = ServingTable(spark, str(tmp_path / "order"), key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, (1000, "+I", "a", "ingest"), (1001, "+I", "b", "v1")))
    tbl.apply_batch(_batch(spark, (1002, "+U", "a", "ingest2")))
    assert update_by_query(tbl, F.col("id") == "a", {"title": F.lit("updated")}) == 1
    tbl.apply_batch(_batch(spark, (5, "-D", "b", "v1")))
    reinsert = _batch(spark, (1, "+I", "b", "back"))
    tbl.apply_batch(reinsert)
    expected = {"a": "updated", "b": "back"}
    assert {r.id: r.title for r in tbl.query().collect()} == expected
    tbl.apply_batch(reinsert)  # at-least-once redelivery
    assert {r.id: r.title for r in tbl.query().collect()} == expected
    assert tbl.compact(max_files_per_bucket=0)
    assert not tbl._latest().get("runs")
    assert {r.id: r.title for r in tbl.query().collect()} == expected
    tbl.apply_batch(reinsert)
    assert {r.id: r.title for r in tbl.query().collect()} == expected
    assert [r.title for r in tbl.lookup("a").collect()] == ["updated"]


@pytest.mark.parametrize("num_buckets", [0, 4])
def test_random_batches_match_python_last_wins(spark, tmp_path, num_buckets):
    """Random batches with hot keys, deletes, re-inserts and one
    evolved column, across in-batch folds: after every batch query()
    and a lookup in every bucket equal a pure-Python last-wins, on the
    unbucketed table (the root is its one bucket) and a bucketed one."""
    rng = random.Random(11)
    tbl = ServingTable(spark, str(tmp_path / "rand"), key="id", num_buckets=num_buckets)
    keys = [f"k{i}" for i in range(24)]
    probes = {}
    for k in keys:
        probes.setdefault(_bucket_of(spark, tbl, k) if num_buckets else 0, k)
    assert len(probes) == max(num_buckets, 1)
    schema = T.StructType(list(CDC_SCHEMA.fields) + [T.StructField("lang", T.StringType())])
    batches, folds = [], 0
    for b in range(12):
        ops = []
        for _ in range(10):
            key = rng.choice(keys[:3]) if rng.random() < 0.4 else rng.choice(keys)
            kind = rng.choice(["+I", "+U", "+U", "-D", "-U"])
            lang = f"l{b}" if b >= 6 and rng.random() < 0.5 else None
            # _seq restarts every batch and repeats inside one
            ops.append((rng.randrange(6), kind, key, (f"v{b}", lang)))
        batches.append(ops)
        rows = [Row(_seq=s, _row_kind=k, id=i, title=t, lang=l) for s, k, i, (t, l) in ops]
        df = spark.createDataFrame(rows, schema)
        full = tbl._latest()["runs"] if b else {}
        tbl.apply_batch(df if b >= 6 else df.drop("lang"))
        folded = [t for t in tbl.commits()[-1]["buckets"] or () if len(full.get(tbl._dir(t), ())) >= MAX_RUNS]
        assert not any(tbl._dir(t) in tbl._latest()["runs"] for t in folded)
        folds += len(folded)
        expected = _last_wins(batches)
        got = {r.id: (r.title, r.asDict().get("lang")) for r in tbl.query().collect()}
        assert got == expected, f"batch {b}"
        for k in probes.values():
            hit = [(r.title, r.asDict().get("lang")) for r in tbl.lookup(k).collect()]
            assert hit == ([expected[k]] if k in expected else []), f"batch {b} key {k}"
    assert folds, "no batch folded a bucket"


def test_frame_pinned_before_appends_still_collects(spark, tmp_path):
    """Appends replace no file, so a query() frame pinned before
    several of them still collects, and reads the state it pinned."""
    tbl = ServingTable(spark, str(tmp_path / "pin"), key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, *[(i, "+I", f"k{i}", "v1") for i in range(16)]))
    tbl.apply_batch(_batch(spark, (20, "+U", "k1", "v2")))
    pinned = tbl.query()
    for s in range(MAX_RUNS - 1):
        tbl.apply_batch(_batch(spark, (30 + s, "+U", "k1", f"v{3 + s}"), (40 + s, "-D", f"k{2 + s}", "")))
    got = {r.id: r.title for r in pinned.collect()}
    assert len(got) == 16 and got["k1"] == "v2"
    assert tbl.query().count() == 16 - (MAX_RUNS - 1)


def test_plans_without_runs_have_no_merge(spark, tmp_path):
    """A snapshot without delta runs reads as a plain scan: no Join and
    no Window in the plans of query() and lookup()."""
    tbl = ServingTable(spark, str(tmp_path / "plain"), key="id", num_buckets=4)
    tbl.apply_batch(_batch(spark, *[(i, "+I", f"k{i}", "v1") for i in range(16)]))
    tbl.apply_batch(_batch(spark, (20, "+U", "k1", "v2")))
    assert tbl._latest()["runs"]
    tbl.compact()
    for df in (tbl.query(), tbl.lookup("k1")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Window" not in plan, plan
    assert [r.title for r in tbl.lookup("k1").collect()] == ["v2"]
