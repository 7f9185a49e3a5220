from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile

import pytest

from bigquack_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Subprocess sharding (r12 verdict "next round" #2: the serial suite takes
# 78-100 min, which does not fit the driver's ~25 min verify window, so a
# fully green run was recorded as tests_ok=false).  pytest-xdist is not
# installable here (no network), so this is a minimal vendored equivalent:
# the first `pytest tests/` process becomes the MASTER — it re-invokes
# itself N times with BQ_TEST_SHARD=i/N, each worker deterministically keeps
# every N-th collected item, and the master aggregates exit codes and
# summary lines.  Workers are plain pytest runs: same plugins, same
# fixtures (each builds its own session-scoped SparkSession), same flags
# (-x fails a worker fast and the master propagates the failure).
# The worker count defaults to what the host's cores and memory hold
# (_default_shards); set BQ_TEST_SHARDS=N to override it, =1 to force the
# old serial behavior.  SPARK_GRAFT_DRIVER_MEM, if set, overrides the
# per-worker heap.
# ---------------------------------------------------------------------------

_SHARD_ENV = "BQ_TEST_SHARD"
_NSHARDS_ENV = "BQ_TEST_SHARDS"
_DRIVER_MEM_ENV = "SPARK_GRAFT_DRIVER_MEM"
#: Host memory one worker takes at its peak: its JVM heap, about as much
#: again off-heap (codegen classes, code cache, Netty), the pytest process
#: and its Python UDF workers.  Six workers with get_spark's 8g default heap
#: overcommit a 16 GiB host, and a kernel OOM kill of one worker's JVM fails
#: every remaining test in that shard.
_WORKER_GIB = 5
#: Share of physical memory all worker JVM heaps may claim together.
_HEAP_SHARE = 0.4


def _is_worker() -> bool:
    return bool(os.environ.get(_SHARD_ENV))


def _phys_mem() -> int:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return 0


def _default_shards() -> int:
    """As many workers as there are cores, up to 6, and no more than
    ``_WORKER_GIB`` of physical memory each allows."""
    mem = _phys_mem()
    by_mem = mem // (_WORKER_GIB << 30) if mem else 6
    return max(1, min(6, os.cpu_count() or 1, by_mem))


def _worker_driver_mem(nshards: int) -> str:
    """Per-worker JVM heap: an even split of ``_HEAP_SHARE`` of physical
    memory, clamped to [1g, 8g]."""
    mem = _phys_mem()
    if not mem:
        return "8g"
    mib = int(mem * _HEAP_SHARE / nshards) >> 20
    return f"{max(1024, min(8192, mib))}m"


def pytest_cmdline_main(config):
    if _is_worker():
        return None  # workers run pytest normally
    nshards = int(os.environ.get(_NSHARDS_ENV) or _default_shards())
    if nshards <= 1:
        return None
    opt = config.option
    # Only take over plain test runs; introspection modes stay in-process.
    if getattr(opt, "collectonly", False) or getattr(opt, "markers", False) \
            or getattr(opt, "fixtures", False) or getattr(opt, "help", False):
        return None
    args = [a for a in config.invocation_params.args]
    procs: list[tuple[subprocess.Popen, str]] = []
    driver_mem = os.environ.get(_DRIVER_MEM_ENV) or _worker_driver_mem(nshards)
    for i in range(nshards):
        out = tempfile.NamedTemporaryFile(
            mode="w+", suffix=f".shard{i}.log", delete=False
        )
        env = dict(os.environ)
        env[_SHARD_ENV] = f"{i}/{nshards}"
        env[_DRIVER_MEM_ENV] = driver_mem
        p = subprocess.Popen(
            [sys.executable, "-m", "pytest", *args],
            stdout=out, stderr=subprocess.STDOUT, env=env,
            cwd=str(config.invocation_params.dir),
        )
        procs.append((p, out.name))
    rcs: list[int] = []
    passed = failed = skipped = errors = 0
    for i, (p, logpath) in enumerate(procs):
        rc = p.wait()
        rcs.append(rc)
        try:
            with open(logpath) as fh:
                text = fh.read()
        except OSError:
            text = ""
        for kind in ("passed", "failed", "skipped", "error"):
            m = re.findall(rf"(\d+) {kind}", text)
            if m:
                n = int(m[-1])
                if kind == "passed":
                    passed += n
                elif kind == "failed":
                    failed += n
                elif kind == "skipped":
                    skipped += n
                else:
                    errors += n
        tail = "\n".join(text.strip().splitlines()[-12:])
        sys.stdout.write(f"\n--- shard {i}/{nshards} rc={rc} ({logpath}) ---\n{tail}\n")
    summary = (
        f"\n=== sharded total: {passed} passed, {skipped} skipped, "
        f"{failed} failed, {errors} errors across {nshards} workers; "
        f"rcs={rcs} ===\n"
    )
    sys.stdout.write(summary)
    sys.stdout.flush()
    bad = [rc for rc in rcs if rc not in (0, 5)]  # 5 = shard got no items
    if bad:
        return bad[0]
    return 5 if all(rc == 5 for rc in rcs) else 0


def pytest_collection_modifyitems(config, items):
    shard = os.environ.get(_SHARD_ENV)
    if not shard:
        return
    i, n = (int(x) for x in shard.split("/"))
    keep = [item for idx, item in enumerate(items) if idx % n == i]
    drop = [item for idx, item in enumerate(items) if idx % n != i]
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


_worker_exitstatus: list[int] = [0]


@pytest.hookimpl(trylast=True)
def pytest_sessionfinish(session, exitstatus):
    _worker_exitstatus[0] = int(exitstatus)


def pytest_unconfigure(config):
    # Teardown quirk on this box (documented r12): the interpreter/JVM
    # teardown AFTER a fully green run can abort the process, so the run
    # log ends at [100%] with no summary and a nonzero rc.  Workers
    # hard-exit with pytest's computed status once reporting is done
    # (unconfigure runs after the terminal summary — exiting at
    # sessionfinish raced the reporter and ate the "N passed" line),
    # skipping the teardown race entirely.
    if _is_worker():
        sys.stdout.flush()
        sys.stderr.flush()
        os._exit(_worker_exitstatus[0])


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="bigquack-spark-tests",
        master=f"local[{min(8, os.cpu_count() or 8)}]",
        shuffle_partitions=8,
        warehouse_dir=warehouse,
    )
    yield spark
    # No spark.stop(): the JVM dies with the process, and an explicit stop
    # participates in the teardown race above.  Workers os._exit anyway.


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_SMOKE}/{name}.parquet')"
        )
    yield con
    con.close()
