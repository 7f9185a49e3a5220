"""The worker daemon's zipimport patch (``bigquack_spark/pydaemon.py``):
an importer re-reads its archive only when the archive changed."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pytest

from bigquack_spark import pydaemon

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 no longer re-reads zips eagerly")


@pytest.fixture()
def stamped(tmp_path, monkeypatch):
    """An importer over a one-module zip, stamped by one patched call, and
    the list of archive reads made after that."""
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod_a.py", "X = 1\n")
    imp = zipimport.zipimporter(str(path))
    pydaemon.invalidate_caches(imp)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return path, imp, reads


def test_unchanged_archive_is_not_reread(stamped):
    path, imp, reads = stamped
    for _ in range(3):
        pydaemon.invalidate_caches(imp)
    assert reads == []
    assert imp.find_spec("zmod_a") is not None


def test_changed_archive_is_reread(stamped):
    path, imp, reads = stamped
    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("zmod_b.py", "Y = 2\n")
    assert imp.find_spec("zmod_b") is None  # still the old directory
    pydaemon.invalidate_caches(imp)
    assert reads == [str(path)]
    assert imp.find_spec("zmod_b") is not None
    pydaemon.invalidate_caches(imp)
    assert reads == [str(path)]


def test_session_workers_run_under_the_patched_daemon(spark):
    """get_spark's sessions start Python workers from this daemon, so a
    worker's zipimporter carries the patch."""
    assert spark.sparkContext.getConf().get(
        "spark.python.daemon.module") == "bigquack_spark.pydaemon"

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"m": [zipimport.zipimporter.invalidate_caches.__code__.co_filename]})

    got = spark.range(1).mapInArrow(probe, "m string").collect()
    assert got[0].m.endswith("bigquack_spark/pydaemon.py")
