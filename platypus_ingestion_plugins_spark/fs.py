"""Hadoop FileSystem-backed path operations (local, HDFS, ``s3a://``).

The reference performs its table-directory management through Paimon's
FileIO abstraction, which it extends to S3A (S3ALoader.java:32-89) so
the same code path works against local disks in tests and object
stores in production. The Spark equivalent is the Hadoop FileSystem
API already on the JVM classpath: every helper here resolves the
filesystem from the path's scheme, so ``file:/``, ``hdfs://`` and
``s3a://`` (with the fs.s3a.* session confs from session.s3a_options)
all behave identically from the caller's point of view.

The serving table commits by snapshot (serving/table.py): immutable
data files plus a numbered manifest renamed into place only if that
number is absent. ``rename`` onto an existing file fails on HDFS
(atomically) and on the local filesystem; on S3A rename is a
server-side copy and the if-absent check is not atomic, so one writer
per table is assumed there.
"""

from __future__ import annotations

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


def rename_numbered(
    spark: SparkSession, src: str, dst_dir: str, name: str
) -> str:
    """Move ``src`` into ``dst_dir`` as ``name``, falling back to
    ``healed-N-<name>`` for the first free N when the destination is
    taken — the idempotent-under-repeated-crashes heal rename shared
    by the band-key and IVF compactors (a crash mid-heal leaves both
    <name> and healed-1-<name>; the re-run must find a free slot, not
    fail every subsequent compaction). Returns the destination used."""
    dst = f"{dst_dir}/{name}"
    n_try = 0
    while exists(spark, dst):
        n_try += 1
        dst = f"{dst_dir}/healed-{n_try}-{name}"
    _rename_or_raise(spark, src, dst)
    return dst


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
