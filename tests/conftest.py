import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from platypus_ingestion_plugins_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def crash_on_old_delete(monkeypatch):
    """``with crash_on_old_delete(root, skip=k):`` lets the first ``k``
    ``fs.delete`` calls on files or directories that already existed
    under ``root`` through and makes the next one raise, as if a
    compactor died after writing its new files while dropping the old
    ones. The block must hit that crash."""
    from platypus_ingestion_plugins_spark import fs

    @contextlib.contextmanager
    def arm(root, skip=0):
        old = set()
        for dirpath, dirnames, filenames in os.walk(root):
            old.update(os.path.join(dirpath, n) for n in dirnames + filenames)
        real = fs.delete
        passed = []

        def delete(spark, path):
            if path in old:
                if len(passed) == skip:
                    raise OSError(f"injected crash deleting {path}")
                passed.append(path)
            return real(spark, path)

        monkeypatch.setattr(fs, "delete", delete)
        try:
            with pytest.raises(OSError, match="injected crash"):
                yield
        finally:
            monkeypatch.setattr(fs, "delete", real)

    return arm
