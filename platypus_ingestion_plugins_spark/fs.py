"""Hadoop FileSystem-backed path operations (local, HDFS, ``s3a://``).

The reference performs its table-directory management through Paimon's
FileIO abstraction, which it extends to S3A (S3ALoader.java:32-89) so
the same code path works against local disks in tests and object
stores in production. The Spark equivalent is the Hadoop FileSystem
API already on the JVM classpath: every helper here resolves the
filesystem from the path's scheme, so ``file:/``, ``hdfs://`` and
``s3a://`` (with the fs.s3a.* session confs from session.s3a_options)
all behave identically from the caller's point of view.

No mutable state renames its data. The serving table, streaming sketch
state, the dedup line-count index and the term index commit by snapshot
(platypus_ingestion_plugins_spark.snapshots), the only other module
that calls ``rename``: it renames a manifest into place if absent. The
band-key, IVF and CDC compactors write new files beside the old ones
and then delete the old ones (``rewrite_dirs``), as Paimon drops
replaced data files after a commit (PaimonIngestor.java:269-276).
"""

from __future__ import annotations

from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child basenames of a directory; [] if the path does not exist."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Move src to dst (dst must not exist). Returns success."""
    fs, s = _fs_path(spark, src)
    _, d = _fs_path(spark, dst)
    return bool(fs.rename(s, d))


def delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; no-op (False) if the path does not exist."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, True))


def mkdirs(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.mkdirs(p))


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (metadata sidecars)."""
    fs, p = _fs_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Replace a small text file via stage-and-rename: the new content
    is fully written to a ``.tmp`` sibling before the destination is
    touched, so a crash at any point leaves either the old file, the
    new file, or (between delete and rename) only a complete ``.tmp``
    — never a torn half-write. ``read_text`` closes that last window
    by falling back to the staged sibling when the destination is
    missing, so the content is never unreadable.

    The ``.tmp`` is itself produced by rename (bytes land in an
    ``.inprogress`` file first), so a ``.tmp`` on disk is complete by
    construction — the read-side fallback can never observe a torn
    stage, even for a first-ever write with no destination to fall
    back on.

    Heal-before-stage: when the destination is missing but a ``.tmp``
    survives (a prior writer crashed inside its delete->rename window),
    that ``.tmp`` is the ONLY durable copy — it is promoted to the
    destination before any staging deletes it, so a second crash during
    this write can never leave zero readable copies. Every rename's
    boolean result is checked: Hadoop FileSystem.rename reports failure
    by returning false, and silently proceeding would delete the
    destination with nothing to put in its place."""
    tmp = path + ".tmp"
    inprog = path + ".inprogress"
    write_text(spark, inprog, text)
    fs, p = _fs_path(spark, path)
    _, ptmp = _fs_path(spark, tmp)
    if not fs.exists(p) and fs.exists(ptmp):
        # promote the sole surviving copy left by a crashed predecessor
        _rename_or_raise(spark, tmp, path)
    if fs.exists(ptmp):
        fs.delete(ptmp, False)
    _rename_or_raise(spark, inprog, tmp)
    if fs.exists(p):
        fs.delete(p, False)
    _rename_or_raise(spark, tmp, path)


def _rename_or_raise(spark: SparkSession, src: str, dst: str) -> None:
    if not rename(spark, src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def rewrite_dirs(
    spark: SparkSession,
    dirs: list[str],
    write: Callable[[], None],
    outputs: list[str],
) -> None:
    """Rename-free compaction: replace the files in ``dirs`` with the
    ones ``write`` appends.

    1. List the files in ``dirs``; delete a crashed Spark write's
       ``_temporary`` under each path in ``outputs`` (the next job
       commit would otherwise move its task output in).
    2. ``write()`` appends the compacted rows into the same
       directories as new, uniquely named part files.
    3. Delete the files listed in step 1, in ``dirs`` order. A
       directory the write added nothing to is deleted whole.

    A crash between steps 2 and 3 leaves old and new files side by
    side, so this serves only tables that read the same either way (a
    set read distinct, a last-wins log whose copies tie on seq). A
    re-run compacts both into one."""
    old = [(d, set(list_names(spark, d))) for d in dirs]
    for out in outputs:
        delete(spark, f"{out}/_temporary")
    write()
    for d, names in old:
        if set(list_names(spark, d)) <= names:
            delete(spark, d)
        else:
            for name in sorted(names):
                delete(spark, f"{d}/{name}")


def leftover_error(path: str) -> IOError:
    """The error for a directory an older, rename-based commit or
    compaction left behind (a parked original or a staged copy). It may
    hold the only copy of some rows, so it is never dropped silently."""
    return IOError(
        f"{path} is left over from an interrupted rename-based commit "
        "or compaction and may hold the only copy of some rows; recover "
        "them by hand, then delete it"
    )


def read_text(spark: SparkSession, path: str) -> str | None:
    """Contents of a small text file, or None if absent.

    Recovery-on-read for ``write_text_atomic``'s delete->rename
    window: when the destination is missing but a ``.tmp`` sibling
    exists, the staged content is returned. The fallback fires ONLY
    with no destination — a ``.tmp`` beside a live file is ignored,
    because the destination always wins. A ``.tmp`` written by
    ``write_text_atomic`` is complete by construction (it appears via
    rename from the ``.inprogress`` stage), so the fallback never
    returns torn content. A ``.tmp`` that vanishes before it is opened
    was just renamed onto the destination by a writer: the destination
    is read again rather than raising."""
    for candidate in (path, path + ".tmp", path):
        text = _read_if_present(spark, candidate)
        if text is not None:
            return text
    return None


def _read_if_present(spark: SparkSession, path: str) -> str | None:
    fs, p = _fs_path(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        missing = spark._jvm.java.lang.Class.forName("java.io.FileNotFoundException")
        if missing.isInstance(e.java_exception):
            return None
        raise
    jvm = spark._jvm
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 4096, True)
    return bytes(baos.toByteArray()).decode("utf-8")
