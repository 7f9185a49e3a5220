"""Arrow IPC shard export/import — the reference's native currency
(arrow.Record batches end to end, SURVEY §1.1) as a FILE handoff.

JSONL (sinks/jsonl.py) is the text handoff; Arrow IPC stream files are
the zero-parse one: embeddings, token-id arrays, and binary payloads
round-trip with exact types and no string re-encoding, and any Arrow
consumer (DuckDB, polars, pyarrow dataloaders) memory-maps them
directly.  The writer is ``mapInArrow`` — each executor task serializes
ITS batches into one IPC stream file named by partition id, so the
export is fully distributed (no driver collect, no single writer), the
same per-stream fan-out discipline as the reference's parallel read
streams (bigquery.go:93).  A manifest with per-shard row counts is
written LAST (publish step); readers verify count parity before use.

Scope: ``path`` must be a filesystem ALL participants see — local mode
(one host) or a shared mount (NFS/FUSE-mounted object store).  On a
cluster with executor-local disks the shard files would land on
different machines than the driver-side manifest; there this sink is
the wrong tool and the parquet/JSONL sinks (driver-coordinated Spark
writers) are the right ones.  Within that scope the write is
crash/retry-safe: each task writes ``shard-NNNNN.arrows.<attempt>.tmp``
and ``fsops.replace()``s it into place, so a retried or speculative task
attempt republishes the whole shard atomically instead of re-opening
and half-overwriting a file a concurrent reader may hold open.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from bigquack_spark.operators import fsops


def export_arrow_shards(df: DataFrame, path: str) -> dict:
    """Write one Arrow IPC stream file per partition under ``path``;
    returns (and persists) the manifest {shard -> n_rows, total}."""
    import pyarrow as pa

    os.makedirs(path, exist_ok=True)
    # sweep orphaned temp files from prior crashed/preempted attempts —
    # nothing else ever removes them, and this export owns the directory
    for stale in os.listdir(path):
        if stale.startswith("shard-") and stale.endswith(".tmp"):
            try:
                os.remove(os.path.join(path, stale))
            except OSError:
                pass

    def write_partition(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        final = os.path.join(path, f"shard-{pid:05d}.arrows")
        # Per-attempt temp name + atomic rename: a retried/speculative task
        # never mutates the published file in place, and the losing attempt's
        # replace() is idempotent (same content, same final name).
        tmp = f"{final}.{ctx.taskAttemptId()}.tmp"
        writer = None
        n = 0
        for batch in batches:
            if writer is None:
                writer = pa.ipc.new_stream(tmp, batch.schema)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            fsops.replace(tmp, final)
        import pyarrow as _pa

        yield _pa.record_batch({"shard": [f"shard-{pid:05d}.arrows"], "n_rows": [n]})

    counts_schema = "shard string, n_rows long"
    counts = df.mapInArrow(write_partition, counts_schema).collect()
    shards = {r["shard"]: r["n_rows"] for r in counts if r["n_rows"] > 0}
    manifest = {"shards": shards, "n_records": int(sum(shards.values()))}
    fsops.write_atomic(os.path.join(path, "_MANIFEST.json"), json.dumps(manifest))
    # write-side lineage next to the shard manifest (r5 verdict #4): which
    # tables/columns/filters produced this export, counts from the write pass
    from bigquack_spark.lineage import (
        capture_column_lineage,
        capture_lineage,
        write_lineage_manifest,
    )

    cap = capture_lineage(df)
    try:
        col_lin = capture_column_lineage(df)
    except Exception:  # metadata nicety must never fail a finished write
        col_lin = None
    write_lineage_manifest(
        path,
        output=path,
        sources=cap["sources"],
        output_columns=cap["output_columns"],
        rows=manifest["n_records"],
        extra={"sink": "export_arrow_shards"},
        column_lineage=col_lin,
    )
    return manifest


def read_arrow_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read an Arrow shard directory back into a DataFrame, verifying the
    manifest's row counts (raises on mismatch — a missing/truncated shard
    must fail loudly, not silently shrink the corpus)."""
    import pyarrow as pa

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    tables = []
    for shard, want in sorted(manifest["shards"].items()):
        with pa.ipc.open_stream(os.path.join(path, shard)) as reader:
            t = reader.read_all()
        if t.num_rows != want:
            raise ValueError(
                f"arrow shard {shard}: manifest says {want} rows, file has {t.num_rows}"
            )
        tables.append(t)
    full = pa.concat_tables(tables)
    return spark.createDataFrame(full.to_pandas())
