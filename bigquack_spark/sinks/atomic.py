"""Atomic, exactly-once batch writes — the Storage Write API analogue.

Reference protocol (bigquery_write.go):
- create a write stream, PENDING (default, :123) or COMMITTED (:384-394)
- ``WriteRecord``: schema gate (:422-424), append at an explicit offset,
  block on ack, advance offset (:448-460) — idempotent/exactly-once
- ``Finalize``: no more appends, then ``BatchCommitWriteStreams`` makes all
  pending data visible atomically (:466-485)

Spark-native mapping: COMMITTED ≅ ``mode("append")`` parquet writes (each
batch visible as it lands, job-commit-atomic per batch); PENDING ≅ staging
directory + atomic rename at finalize (the FileOutputCommitter pattern; on a
real cluster/object store, Delta Lake's transaction log is the production
version of the same contract — SURVEY §2.2 K3/K4).

Exactly-once: the reference makes replays idempotent via explicit offsets —
re-appending an already-acked offset is rejected by the server.  Here the
writer tracks ``next_offset``; an append at ``offset < next_offset`` is a
silent no-op (replay), ``offset > next_offset`` is an error (gap), matching
the managed-writer contract.

Pipelined PENDING appends: a PENDING ``write()`` runs the finalized check,
the schema gate, the offset rules and the lineage capture in the caller's
thread, then hands the batch's landing job (its observed count plus the
parquet append) to a per-writer thread pool and returns the offset, so a
stream of small batches keeps the cores busy instead of running one short
job after another.  At most ``defaultParallelism`` batches are in flight; a
further ``write()`` blocks until one lands.  Each batch lands in its own
``<staging>/batch-<offset>`` directory, because concurrent appends into one
directory share FileOutputCommitter's ``_temporary``.  The ack moves from
``write()`` to ``finalize()``: it waits for every batch, raises the first
failure without publishing anything, and only then publishes.  A ``write()``
after an observed failure raises that failure, and ``close()`` waits for the
in-flight batches before it drops staging.  Readers cannot tell, since
PENDING data is invisible until finalize anyway.  The one rule for callers:
a batch's source must stay readable until ``finalize()`` returns.  COMMITTED
streams stay synchronous: each batch must be visible when ``write()``
returns.
"""

from __future__ import annotations

import enum
import functools
import json
import os
import shutil
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from bigquack_spark.operators import fsops


class WriteStreamType(enum.Enum):
    PENDING = "pending"
    COMMITTED = "committed"


def _source_key(source: dict) -> tuple:
    """Merge identity of a lineage source: one table at one location."""
    return source["table"], tuple(source["paths"])


class AtomicWriter:
    """Managed write stream over a parquet target directory."""

    def __init__(self, target: str, stream_type: WriteStreamType = WriteStreamType.PENDING):
        # the PENDING publish is a directory rename — same commit primitive
        # as the maintenance marker protocol, same gate (r11 review: the
        # writer takes no lease, so the lease-side gate never covers it).
        # COMMITTED appends in place with no rename and no lock, so only
        # PENDING is gated, and only on atomic rename (second review pass:
        # the writer never uses exclusive-create in any mode).
        if stream_type is WriteStreamType.PENDING:
            from bigquack_spark.operators.fsops import require_commit_capabilities

            require_commit_capabilities("AtomicWriter(PENDING)",
                                        exclusive_create=False)
        self.target = target
        self.stream_type = stream_type
        self.next_offset = 0
        self.rows_written = 0
        self.finalized = False
        self._schema = None
        self._lineage_sources: list[dict] = []  # merged across batches
        self._output_columns: list[str] = []
        self._column_lineage: dict[str, list[dict]] = {}
        self._pool: ThreadPoolExecutor | None = None  # PENDING batch jobs
        self._inflight: list[Future] = []  # in offset order
        self._failure: BaseException | None = None
        if stream_type is WriteStreamType.PENDING:
            self._dest = f"{target}.staging-{uuid.uuid4().hex[:12]}"
        else:
            self._dest = target

    # -- bigquery_write.go:421-462 WriteRecord -------------------------------
    def write(self, df: DataFrame, offset: int | None = None) -> int:
        """Append one batch at an explicit offset; returns the offset.

        Offset semantics per managed-writer: ``None`` means next-in-line;
        a replayed (already-accepted) offset is a no-op; a future offset is
        a protocol error.

        COMMITTED: the batch has landed and is visible when this returns.
        PENDING: the batch's job is queued behind at most
        ``defaultParallelism`` in-flight batches (this blocks while that
        many run) and lands before ``finalize()`` returns, which is where
        its failure surfaces; a later ``write()`` raises an already observed
        failure.  The batch's source must stay readable until then.
        """
        if self.finalized:
            raise RuntimeError("write stream already finalized")
        self._reap()
        if self._schema is None:
            self._schema = df.schema
        elif {(f.name, f.dataType) for f in df.schema.fields} != {
            (f.name, f.dataType) for f in self._schema.fields
        }:
            # schema-equality gate, bigquery_write.go:422-424
            raise ValueError("record schema does not match expected schema")
        if offset is None:
            offset = self.next_offset
        if offset < self.next_offset:  # replay — already durable, exactly-once
            return offset
        if offset > self.next_offset:
            raise ValueError(f"offset gap: expected {self.next_offset}, got {offset}")
        # write-side lineage (r5 verdict #4): record which sources feed this
        # batch BEFORE executing — a driver-side plan walk, zero data cost.
        # Failures here must never block the write protocol itself.
        try:
            from bigquack_spark.lineage import (
                capture_column_lineage,
                capture_lineage,
                quoted_name,
            )

            cap = capture_lineage(df)
            self._output_columns = cap["output_columns"]
            seen = {_source_key(s) for s in self._lineage_sources}
            for s in cap["sources"]:
                if _source_key(s) not in seen:
                    self._lineage_sources.append(s)
            # column-grain edges cost one plan compile PER COLUMN — too
            # much for every micro-batch of a steady pipeline (r7 review).
            # A probe's scans are a subset of the batch's, and the merge
            # below only adds a (table, paths) source a column does not list
            # yet, so only a column that is new or lacks one of this batch's
            # sources can gain anything: probe just those.  Batches that
            # differ only in a literal probe once per stream.
            batch = {_source_key(s) for s in cap["sources"]}
            stale = [
                c for c in df.columns
                if c not in self._column_lineage
                or not batch <= {_source_key(s) for s in self._column_lineage[c]}
            ]
            if stale:
                probe = df.select(*(quoted_name(c) for c in stale))
                for col, sources in capture_column_lineage(probe).items():
                    have = self._column_lineage.setdefault(col, [])
                    keys = {_source_key(s) for s in have}
                    have.extend(s for s in sources if _source_key(s) not in keys)
        except Exception:  # pragma: no cover - defensive
            pass
        if self.stream_type is WriteStreamType.COMMITTED:
            self.rows_written += self._land(df, offset, self._dest)
        else:
            self._submit(df, offset)
        self.next_offset += 1
        return offset

    @staticmethod
    def _land(df: DataFrame, offset: int, path: str) -> int:
        """One batch's job: append it to ``path`` and return its row count.
        The count rides the append via ``df.observe`` — a ``df.count()``
        would re-execute the batch's whole lineage a second time."""
        obs = Observation(f"atomic_write_{offset}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(path)
        return int(obs.get["n"])

    def _submit(self, df: DataFrame, offset: int) -> None:
        """Queue a PENDING batch's job into its own staging subdirectory."""
        spark = df.sparkSession
        if self._pool is None:
            self._bound = spark.sparkContext.defaultParallelism
            self._pool = ThreadPoolExecutor(self._bound, thread_name_prefix="atomic-writer")
        self._reap(keep=self._bound - 1)
        # wrapped here, in the caller's thread, so the job runs under the
        # caller's job group, local properties and tags
        job = inheritable_thread_target(spark)(
            functools.partial(self._land, df, offset,
                              os.path.join(self._dest, f"batch-{offset}")))
        self._inflight.append(self._pool.submit(job))

    def _reap(self, keep: int | None = None) -> None:
        """Fold the landed batches' counts into ``rows_written``; with
        ``keep``, first wait until at most ``keep`` batches are in flight.
        Raises the first failed batch's error, now and on every later call."""
        while True:
            done = [f for f in self._inflight if f.done()]
            self._inflight = [f for f in self._inflight if f not in done]
            for fut in done:
                if fut.exception() is None:
                    self.rows_written += fut.result()
                elif self._failure is None:
                    self._failure = fut.exception()
            if keep is None or len(self._inflight) <= keep:
                break
            wait(self._inflight, return_when=FIRST_COMPLETED)
        if self._failure is not None:
            raise self._failure

    def _drain(self) -> None:
        """Wait for every in-flight batch and stop the pool."""
        if self._pool is not None:
            self._pool.shutdown(wait=True)
            self._pool = None

    # -- bigquery_write.go:466-485 Finalize + BatchCommit ---------------------
    def finalize(self) -> int:
        """Stop appends; atomically publish pending data.  Returns row count.

        PENDING: first waits for every in-flight batch.  If one failed, its
        error is raised and nothing is published; ``close()`` then drops
        the staging data.  Otherwise each batch's files move up from its
        ``batch-<offset>`` subdirectory and the staging directory publishes
        as one.
        """
        if self.finalized:
            return self.rows_written
        self._drain()
        self._reap()
        self.finalized = True
        if self.stream_type is WriteStreamType.PENDING and os.path.exists(self._dest):
            for batch in os.listdir(self._dest):
                sub = os.path.join(self._dest, batch)
                for name in os.listdir(sub):
                    fsops.replace(os.path.join(sub, name), os.path.join(self._dest, name))
                os.rmdir(sub)
            if not os.path.exists(self.target):
                fsops.replace(self._dest, self.target)  # atomic publish
            else:  # target pre-exists: move batch files in, then success-mark
                for name in os.listdir(self._dest):
                    if name.startswith(("part-", ".part-")):
                        fsops.replace(os.path.join(self._dest, name), os.path.join(self.target, name))
                shutil.rmtree(self._dest, ignore_errors=True)
        if os.path.isdir(self.target):
            fsops.write_atomic(
                os.path.join(self.target, "_BQ_COMMIT"),
                json.dumps({"rows": self.rows_written, "batches": self.next_offset}),
            )
            # output->input edge, written at publish so PENDING streams that
            # never commit leave no lineage record (nothing became visible)
            from bigquack_spark.lineage import write_lineage_manifest

            write_lineage_manifest(
                self.target,
                output=self.target,
                sources=self._lineage_sources,
                output_columns=self._output_columns,
                rows=self.rows_written,
                extra={"batches": self.next_offset, "sink": "AtomicWriter"},
                column_lineage=self._column_lineage or None,
            )
        return self.rows_written

    def close(self) -> None:
        """Abort if never finalized: pending staging data is discarded
        (uncommitted stream drop, bigquery_write.go:488-503).  In-flight
        PENDING batches land first, so nothing is written after the drop."""
        self._drain()
        if not self.finalized and self.stream_type is WriteStreamType.PENDING:
            shutil.rmtree(self._dest, ignore_errors=True)

    def __enter__(self) -> "AtomicWriter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            if exc_type is None and not self.finalized:
                self.finalize()
        finally:
            self.close()
