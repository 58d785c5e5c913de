"""Snapshot commits for streaming sketch state, the line-count index and
the term index: a reader racing a writer sees the old state or the new
one, reads never write, and nothing outside ``fs`` and ``snapshots``
renames."""

import ast
import datetime as dt
import hashlib
import pathlib
import threading

from pyspark.sql import Row

from platypus_ingestion_plugins_spark.functions.sketches import (
    countmin_counters,
    countmin_merge_into,
    countmin_read,
    sketch_read,
)
from platypus_ingestion_plugins_spark.operators import dedup
from platypus_ingestion_plugins_spark.serving import text_index as TI


def _race(reader):
    """An ``fs_spy`` hook: after each mutating ``fs`` call this thread
    makes, ``reader()`` runs to completion on another thread. Returns
    (hook, reader answers, reader errors)."""
    writer = threading.current_thread()
    answers, errors = [], []

    def hook():
        if threading.current_thread() is not writer:
            return  # the reader's own calls

        def run():
            try:
                answers.append(reader())
            except Exception as exc:  # noqa: BLE001 - every failure counts
                errors.append(repr(exc))

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=120)
        if t.is_alive():
            errors.append("reader did not finish")

    return hook, answers, errors


def _counters(spark, path):
    return {(r.i, r.b): r.c for r in countmin_read(spark, path).collect()}


def test_countmin_merge_races_reader(spark, tmp_path, fs_spy):
    """A countmin_read after every mutating fs call of a merge sees the
    state before the merge or after it, and the merge lands in full."""
    df = spark.createDataFrame([Row(i=i, k=f"t{i % 7}") for i in range(450)])
    path = str(tmp_path / "cm")
    countmin_merge_into(df.filter("i < 150"), "k", path, depth=3, width=32, batch_id=0)
    countmin_merge_into(df.filter("i >= 150 AND i < 300"), "k", path, depth=3, width=32, batch_id=1)
    before = _counters(spark, path)
    after = {
        (r.i, r.b): r.c for r in countmin_counters(df, "k", depth=3, width=32).collect()
    }

    hook, answers, errors = _race(lambda: _counters(spark, path))
    calls = fs_spy(hook)
    countmin_merge_into(df.filter("i >= 300"), "k", path, depth=3, width=32, batch_id=2)
    assert errors == []
    assert all(a in (before, after) for a in answers)
    assert _counters(spark, path) == after
    assert answers[-1] == after
    assert len(answers) == len(calls) >= 3


def test_line_count_compaction_races_readers(spark, tmp_path, fs_spy):
    """line_count_index_exists and read_line_counts_pruned after every
    mutating fs call of a compaction, then of an append, see the totals
    before or after it; both writers succeed, and the final totals equal
    the counts of every document at once."""
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [Row(doc_id=i, text=f"unique {i % 4}\nShared footer") for i in range(lo, hi)]
    )
    idx = str(tmp_path / "idx")
    for lo, hi in [(0, 5), (5, 10), (10, 15)]:
        dedup.append_line_count_index(
            dedup.line_count_keys(mk(lo, hi), "text", "doc_id"), idx, key_buckets=4, batch_id=lo
        )
    probe = dedup.line_count_keys(mk(0, 20), "text", "doc_id")

    def totals():
        return {r.line_key: r.n for r in dedup.read_line_counts_pruned(spark, idx, probe).collect()}

    def reader():
        return dedup.line_count_index_exists(spark, idx), totals()

    before = totals()
    hook, answers, errors = _race(reader)
    calls = fs_spy(hook)
    assert dedup.compact_line_count_index(spark, idx, max_files_per_bucket=1)
    assert errors == []
    assert len(answers) == len(calls) >= 3
    assert all(a == (True, before) for a in answers)

    answers.clear()
    dedup.append_line_count_index(
        dedup.line_count_keys(mk(15, 20), "text", "doc_id"), idx, key_buckets=4, batch_id=15
    )
    oneshot = {r.line_key: r.n for r in probe.collect()}
    assert errors == []
    assert answers and all(a in ((True, before), (True, oneshot)) for a in answers)
    assert answers[-1] == (True, oneshot)
    assert totals() == oneshot
    fk = hashlib.sha256(b"shared footer").hexdigest()
    assert oneshot[fk] == 20


def test_sketch_and_line_count_reads_never_write(spark, tmp_path, fs_spy):
    """Every reader of sketch state and of the line-count index makes no
    mutating fs call."""
    from platypus_ingestion_plugins_spark.operators.analytics import (
        ewma_anomalies_read,
        hourly_counts_merge_into,
        rate_anomalies_read,
    )
    from platypus_ingestion_plugins_spark.operators.profile import (
        profile_merge_into,
        profile_read,
    )

    base = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [Row(ts=base + dt.timedelta(hours=h, minutes=m), e="x") for h in range(10) for m in (0, 20)]
    )
    docs = spark.createDataFrame(
        [Row(doc_id=i, src=f"s{i % 2}", text=f"word {i % 3}\nfooter") for i in range(12)]
    )
    cm, hourly, prof, idx = (str(tmp_path / n) for n in ("cm", "hourly", "prof", "idx"))
    for b, part in enumerate((docs.filter("doc_id < 6"), docs.filter("doc_id >= 6"))):
        countmin_merge_into(part, "text", cm, depth=2, width=16, batch_id=b)
        profile_merge_into(part, "text", "doc_id", "src", prof, k=8, batch_id=b)
        dedup.append_line_count_index(
            dedup.line_count_keys(part, "text", "doc_id"), idx, key_buckets=4, batch_id=b
        )
    hourly_counts_merge_into(events, "ts", "e", hourly, batch_id=0)
    probe = dedup.line_count_keys(docs, "text", "doc_id")

    calls = fs_spy()
    assert countmin_read(spark, cm).count() > 0
    assert sketch_read(spark, f"{prof}/counts").count() == 2
    assert profile_read(spark, prof, "src").count() == 2
    rate_anomalies_read(spark, hourly).collect()
    ewma_anomalies_read(spark, hourly).collect()
    assert dedup.line_count_index_exists(spark, idx)
    assert not dedup.line_count_index_exists(spark, str(tmp_path / "absent"))
    assert dedup.read_line_counts_pruned(spark, idx, probe).count() == 4
    assert calls == []


def test_only_fs_and_snapshots_rename():
    """Nothing in the package but ``fs`` and ``snapshots`` calls
    ``rename`` or ``_rename_or_raise``: every other module commits
    through the snapshot log or rename-free compaction."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "platypus_ingestion_plugins_spark"
    allowed = {pkg / "fs.py", pkg / "snapshots.py"}
    found = []
    for src in sorted(pkg.rglob("*.py")):
        if src in allowed:
            continue
        for node in ast.walk(ast.parse(src.read_text(), str(src))):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in ("rename", "_rename_or_raise"):
                    found.append(f"{src.relative_to(pkg)}:{node.lineno}")
    assert found == []


def _term_answers(spark, idx):
    """Term, BM25, phrase and suggest answers over a positional index."""
    return (
        sorted(r.doc_id for r in TI.search_terms_indexed(spark, idx, ["beta"]).collect()),
        sorted((r.doc_id, r.bm25) for r in TI.bm25_indexed(spark, idx, "alpha beta").collect()),
        sorted(r.doc_id for r in TI.search_phrase_indexed(spark, idx, "beta alpha").collect()),
        sorted((r.term, r.doc_freq) for r in TI.suggest_terms(spark, idx, "beta").collect()),
    )


def test_term_index_rebuild_and_compaction_race_readers(spark, tmp_path, fs_spy):
    """Term, BM25, phrase and suggest answers after every mutating fs
    call of a rebuild under a new scheme, then of a compaction, are
    those from before the operation or after it: never an error or a
    mix of the two."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "beta alpha delta"), (4, "beta alpha")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "tidx")
    TI.build_term_index(docs.filter("doc_id < 4"), "text", "doc_id", idx, buckets=4, positions=True)
    TI.delete_docs(spark, idx, spark.createDataFrame([(2,)], "doc_id long"))
    before = _term_answers(spark, idx)

    hook, answers, errors = _race(lambda: _term_answers(spark, idx))
    calls = fs_spy(hook)
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=8, positions=True)
    after = _term_answers(spark, idx)
    assert errors == []
    assert before != after and after[0] == [1, 2, 3, 4]
    assert len(answers) == len(calls) >= 3
    assert all(a in (before, after) for a in answers)
    assert answers[-1] == after

    # a replayed append and a tombstone, then the compaction folds both
    TI.build_term_index(docs.filter("doc_id = 4"), "text", "doc_id", idx, buckets=8,
                        positions=True, mode="append")
    TI.delete_docs(spark, idx, spark.createDataFrame([(3,)], "doc_id long"))
    before = _term_answers(spark, idx)
    answers.clear()
    calls.clear()
    TI.compact_term_index(spark, idx)
    assert errors == []
    assert len(answers) == len(calls) >= 3
    assert all(a == before for a in answers)
    assert TI.term_index_stats(spark, idx).first().n_deleted == 0


def test_term_index_reads_never_write(spark, tmp_path, fs_spy):
    """Every term-index reader makes no mutating fs call, whether the
    dictionary is the persisted one or derived under tombstones."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "beta alpha delta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "tidx")
    TI.build_term_index(docs, "text", "doc_id", idx, buckets=4, positions=True)
    TI.compact_term_index(spark, idx)

    def read_all():
        TI.read_postings_pruned(spark, idx, ["beta"]).collect()
        TI.search_terms_indexed(spark, idx, ["alpha", "beta"], require_all=True).collect()
        TI.search_phrase_indexed(spark, idx, "beta alpha", slop=1).collect()
        TI.search_span_near(spark, idx, ["alpha", "delta"], slop=1, in_order=False).collect()
        TI.bm25_indexed(spark, idx, "alpha beta").collect()
        TI.search_wildcard_indexed(spark, idx, "al*").collect()
        TI.search_regexp_indexed(spark, idx, "g.*").collect()
        TI.search_prefix_indexed(spark, idx, "del").collect()
        TI.term_index_stats(spark, idx).collect()
        TI.search_bool_indexed(spark, idx, must=["beta"], must_not=["gamma"]).collect()
        TI.more_like_this_indexed(spark, idx, "alpha beta").collect()
        TI.suggest_terms(spark, idx, "betta").collect()
        TI.did_you_mean(spark, idx, "alpah betta").collect()

    calls = fs_spy()
    read_all()
    assert calls == []
    TI.delete_docs(spark, idx, spark.createDataFrame([(2,)], "doc_id long"))
    assert calls  # the spy sees the index's writes
    calls.clear()
    read_all()
    assert calls == []


def test_text_index_commits_only_by_snapshot():
    """``serving/text_index.py`` writes only through its snapshot log
    and reads only the files a snapshot names: it calls none of
    ``write_text``, ``write_text_atomic``, ``rewrite_dirs``,
    ``list_names`` or ``delete``, and no ``.read.parquet``."""
    src = pathlib.Path(TI.__file__)
    banned = ("write_text", "write_text_atomic", "rewrite_dirs", "list_names", "delete")
    found = []
    for node in ast.walk(ast.parse(src.read_text(), str(src))):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            reads_path = (
                name == "parquet"
                and isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "read"
            )
            if name in banned or reads_path:
                found.append(f"{src.name}:{node.lineno}")
    assert found == []
