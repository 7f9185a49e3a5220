"""Commit-primitive seam contracts (r10 verdict #5).

The rename-swap marker protocol assumes POSIX-atomic rename + O_EXCL —
both false on S3-class object stores.  These tests pin the seam: an
incapable backend makes every writer refuse LOUDLY at the lease choke
point (before anything is staged), and the POSIX protocol converges even
when a crash interleaves with the copy+delete window a non-atomic rename
would expose.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from bigquack_spark.operators import fsops
from bigquack_spark.operators.fsops import (
    PosixBackend,
    UnsupportedCommitStoreError,
    set_backend,
)
from tests.conftest import SF_SMOKE


class _ObjectStoreBackend(PosixBackend):
    """An S3-like store: rename is copy+delete (NOT atomic), no O_EXCL."""

    name = "fake-object-store"
    atomic_rename = False
    exclusive_create = False


class _ConditionalPutBackend(PosixBackend):
    """A 2024-era object store: conditional PUT gives exclusive-create,
    but rename is still copy+delete."""

    name = "fake-conditional-put"
    atomic_rename = False
    exclusive_create = True


@pytest.fixture
def object_store():
    prev = set_backend(_ObjectStoreBackend())
    try:
        yield
    finally:
        set_backend(prev)


def test_lease_refuses_on_incapable_store(tmp_path, object_store):
    from bigquack_spark.operators.lease import acquire_table_lease

    with pytest.raises(UnsupportedCommitStoreError) as ei:
        acquire_table_lease(str(tmp_path / "tbl"), owner="compact")
    msg = str(ei.value)
    assert "atomic rename" in msg and "exclusive create" in msg
    assert "lakehouse" in msg  # the remedy is named, not just the refusal
    assert not os.path.exists(tmp_path / "tbl"), "refusal must precede staging"


def test_conditional_put_still_refuses_marker_protocol(tmp_path):
    """Exclusive-create alone is not enough: the marker/data swap needs
    atomic rename, so a conditional-PUT store still refuses."""
    from bigquack_spark.operators.lease import acquire_table_lease

    prev = set_backend(_ConditionalPutBackend())
    try:
        with pytest.raises(UnsupportedCommitStoreError) as ei:
            acquire_table_lease(str(tmp_path / "tbl"))
        assert "atomic rename" in str(ei.value)
        assert "exclusive create" not in str(ei.value)
    finally:
        set_backend(prev)


def test_maintenance_writer_refuses_before_touching_table(spark, tmp_path, object_store):
    """The gate sits at the lease — every mutating pass inherits it, and
    the table bytes are untouched by the refusal."""
    from bigquack_spark.operators.maintenance import compact_small_files

    path = str(tmp_path / "t")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").write.parquet(path)
    before = sorted(os.listdir(path))
    with pytest.raises(UnsupportedCommitStoreError):
        compact_small_files(spark, path)
    assert sorted(os.listdir(path)) == before


def test_default_backend_is_posix_and_seam_passthrough(tmp_path):
    assert fsops.backend().name == "posix"
    src, dst = str(tmp_path / "a"), str(tmp_path / "b")
    with open(src, "w") as fh:
        fh.write("x")
    fsops.replace(src, dst)
    assert not os.path.exists(src) and os.path.exists(dst)
    fd = fsops.create_exclusive(str(tmp_path / "lock"))
    os.close(fd)
    with pytest.raises(FileExistsError):
        fd2 = fsops.create_exclusive(str(tmp_path / "lock"))
        os.close(fd2)
    assert "lock" in fsops.listdir(str(tmp_path))


def test_marker_protocol_converges_across_torn_publish(spark, tmp_path):
    """POSIX convergence contract: simulate the exact state a non-atomic
    rename would strand — a staged data file already COPIED into the leaf
    (published name exists) while the staging copy and marker survive (the
    delete half never ran).  Resume must complete the swap idempotently:
    retired olds gone, each staged file published exactly once, staging
    cleaned — no duplicate rows."""
    from bigquack_spark.operators.maintenance import (
        MARKER,
        STAGING_DIR,
        _resume_partition,
    )

    leaf = str(tmp_path / "leaf")
    os.makedirs(leaf)
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.mode(
        "overwrite"
    ).parquet(leaf)
    olds = [
        [n, os.path.getsize(os.path.join(leaf, n))]
        for n in os.listdir(leaf)
        if n.endswith(".parquet")
    ]
    want = spark.read.parquet(leaf).count()

    staging = os.path.join(leaf, STAGING_DIR)
    data_dir = os.path.join(staging, "data")
    os.makedirs(data_dir)
    # the replacement file (same rows, rewritten)
    spark.read.parquet(leaf).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "new")
    )
    new_name = next(
        n for n in os.listdir(str(tmp_path / "new")) if n.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(str(tmp_path / "new"), new_name),
        os.path.join(data_dir, new_name),
    )
    with open(os.path.join(staging, MARKER), "w") as fh:
        json.dump({"gen": "g1", "olds": olds, "prefix": "compacted"}, fh)
    # torn publish: the copy half of a copy+delete rename already landed
    shutil.copy(
        os.path.join(data_dir, new_name),
        os.path.join(leaf, f"compacted-g1-{new_name}"),
    )

    assert _resume_partition(leaf) == "resumed"
    names = [n for n in os.listdir(leaf) if n.endswith(".parquet")]
    assert names == [f"compacted-g1-{new_name}"], names
    assert not os.path.isdir(staging)
    assert spark.read.parquet(leaf).count() == want  # no duplicates
    assert _resume_partition(leaf) == "none"  # fully idempotent


def test_leaseless_publishers_hit_the_gate(tmp_path, object_store):
    """AtomicWriter's PENDING publish and merge's orphan recovery rename
    without taking a lease — they must hit the capability gate themselves
    (r11 review: the lease-side gate never covered them), but only for
    the rename they actually perform: COMMITTED appends in place and must
    keep working on a rename-less store (second review pass)."""
    from bigquack_spark.sinks.atomic import AtomicWriter, WriteStreamType
    from bigquack_spark.sinks.merge import _recover_orphaned_swap

    with pytest.raises(UnsupportedCommitStoreError):
        AtomicWriter(str(tmp_path / "t"))
    with pytest.raises(UnsupportedCommitStoreError):
        _recover_orphaned_swap(str(tmp_path / "t"))
    # COMMITTED: no rename, no lock — not gated
    AtomicWriter(str(tmp_path / "t2"), WriteStreamType.COMMITTED)
    # conditional-PUT store (rename still copy+delete): PENDING refuses on
    # the rename alone, without demanding the exclusive-create it never uses
    prev = set_backend(_ConditionalPutBackend())
    try:
        with pytest.raises(UnsupportedCommitStoreError) as ei:
            AtomicWriter(str(tmp_path / "t3"))
        assert "exclusive create" not in str(ei.value)
    finally:
        set_backend(prev)


def test_create_exclusive_write_failure_is_loud(tmp_path, monkeypatch):
    """r11 advice: a failed payload write inside create_exclusive must not
    yield a created-but-EMPTY marker with no signal — the half-created
    file is undone and the OSError propagates."""
    path = str(tmp_path / "marker")

    real_write = os.write

    def failing_write(fd, data):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(os, "write", failing_write)
    with pytest.raises(OSError, match="No space left"):
        fsops.create_exclusive(path, b"payload")
    monkeypatch.setattr(os, "write", real_write)
    assert not os.path.exists(path)  # no empty marker left behind

    # success path unchanged: payload lands, fd usable
    fd = fsops.create_exclusive(path, b"payload")
    os.close(fd)
    with open(path, "rb") as fh:
        assert fh.read() == b"payload"


def _package_root():
    import bigquack_spark

    return os.path.dirname(bigquack_spark.__file__)


def test_fsops_is_the_only_renamer():
    """Every rename in the package goes through ``fsops.replace`` and every
    small-file publish through ``fsops.write_atomic``: no ``os.replace`` /
    ``os.rename`` / ``shutil.move`` call (under any import alias) outside
    ``operators/fsops.py``, and no function that writes a file with
    ``open(..., "w")`` and then renames it with ``fsops.replace`` — the
    hand-rolled "tmp, then dump, then rename" publish."""
    import ast

    root = _package_root()
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, root)
            if rel == os.path.join("operators", "fsops.py"):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), rel)
            aliases = {"os": "os", "shutil": "shutil"}
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name in ("os", "shutil"):
                            aliases[a.asname or a.name] = a.name
                elif isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
                    for a in node.names:
                        if a.name in ("replace", "rename", "move"):
                            offenders.append(f"{rel}:{node.lineno} imports {a.name}")
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                    and (aliases.get(node.func.value.id), node.func.attr)
                    in {("os", "replace"), ("os", "rename"), ("shutil", "move")}
                ):
                    offenders.append(f"{rel}:{node.lineno} {node.func.value.id}.{node.func.attr}")
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    calls = [n for n in ast.walk(node) if isinstance(n, ast.Call)]
                    writes = any(
                        isinstance(c.func, ast.Name) and c.func.id == "open"
                        and any(
                            isinstance(a, ast.Constant) and str(a.value).startswith("w")
                            for a in c.args[1:2] + [k.value for k in c.keywords if k.arg == "mode"]
                        )
                        for c in calls
                    )
                    renames = any(
                        isinstance(c.func, ast.Attribute) and c.func.attr == "replace"
                        and isinstance(c.func.value, ast.Name) and c.func.value.id == "fsops"
                        for c in calls
                    )
                    if writes and renames:
                        offenders.append(f"{rel}:{node.lineno} {node.name} hand-rolls a publish")
    assert offenders == []


class _RecordingBackend(PosixBackend):
    """POSIX semantics that remember every published basename."""

    name = "recording"

    def __init__(self):
        self.published: list[str] = []

    def replace(self, src: str, dst: str) -> None:
        super().replace(src, dst)
        self.published.append(os.path.basename(dst))


def test_commit_files_publish_through_the_backend(spark, tmp_path):
    """One PENDING AtomicWriter finalize and one ExactlyOnceBatchSink batch
    publish their metadata through the installed backend, with the same
    ``_BQ_COMMIT`` content as ever and no staging file left behind."""
    from bigquack_spark.sinks.atomic import AtomicWriter, WriteStreamType
    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink

    rec = _RecordingBackend()
    prev = set_backend(rec)
    try:
        target = str(tmp_path / "atomic")
        w = AtomicWriter(target, WriteStreamType.PENDING)
        w.write(spark.range(5).selectExpr("id"))
        w.write(spark.range(5, 8).selectExpr("id"))
        assert w.finalize() == 8
        sink_target = str(tmp_path / "stream")
        ExactlyOnceBatchSink(sink_target)(spark.range(3).selectExpr("id"), 0)
    finally:
        set_backend(prev)
    for name in ("_BQ_COMMIT", "_LINEAGE.json", "_COMMITTED_BATCH"):
        assert name in rec.published, name
    with open(os.path.join(target, "_BQ_COMMIT")) as fh:
        assert json.load(fh) == {"rows": 8, "batches": 2}
    with open(os.path.join(sink_target, "_COMMITTED_BATCH")) as fh:
        assert json.load(fh) == {"next_batch_id": 1}
    for d in (target, sink_target):
        assert not [f for f in os.listdir(d) if f.endswith(".tmp")]
