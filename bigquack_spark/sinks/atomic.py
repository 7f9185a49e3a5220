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
"""

from __future__ import annotations

import enum
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
        if stream_type is WriteStreamType.PENDING:
            self._dest = f"{target}.staging-{uuid.uuid4().hex[:12]}"
        else:
            self._dest = target

    # -- bigquery_write.go:421-462 WriteRecord -------------------------------
    def write(self, df: DataFrame, offset: int | None = None) -> int:
        """Append one batch at an explicit offset; returns the ack'd offset.

        Offset semantics per managed-writer: ``None`` means next-in-line;
        a replayed (already-acked) offset is a no-op; a future offset is a
        protocol error.
        """
        if self.finalized:
            raise RuntimeError("write stream already finalized")
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
        # batch count rides the append via df.observe — the old df.count()
        # re-executed the batch's whole lineage a second time per offset
        from pyspark.sql import Observation

        obs = Observation(f"atomic_write_{offset}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(
            self._dest
        )
        self.rows_written += int(obs.get["n"])
        self.next_offset += 1
        return offset

    # -- bigquery_write.go:466-485 Finalize + BatchCommit ---------------------
    def finalize(self) -> int:
        """Stop appends; atomically publish pending data.  Returns row count."""
        if self.finalized:
            return self.rows_written
        self.finalized = True
        if self.stream_type is WriteStreamType.PENDING and os.path.exists(self._dest):
            if not os.path.exists(self.target):
                fsops.replace(self._dest, self.target)  # atomic publish
            else:  # target pre-exists: move batch files in, then success-mark
                for name in os.listdir(self._dest):
                    if name.startswith(("part-", ".part-")):
                        shutil.move(os.path.join(self._dest, name), os.path.join(self.target, name))
                shutil.rmtree(self._dest, ignore_errors=True)
        marker = os.path.join(self.target, "_BQ_COMMIT")
        if os.path.isdir(self.target):
            with open(marker, "w") as fh:
                json.dump({"rows": self.rows_written, "batches": self.next_offset}, fh)
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
        (uncommitted stream drop, bigquery_write.go:488-503)."""
        if not self.finalized and self.stream_type is WriteStreamType.PENDING:
            shutil.rmtree(self._dest, ignore_errors=True)

    def __enter__(self) -> "AtomicWriter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None and not self.finalized:
            self.finalize()
        self.close()
