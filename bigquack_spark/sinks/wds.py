"""WebDataset-style tar shard export — the dataloader handoff format
multimodal training stacks standardized on (one tar per shard; each
sample is a group of files sharing a key prefix, one file per column,
e.g. ``000042.txt`` + ``000042.bin`` + ``000042.json``).

Completes the delivery triad: JSONL (text handoff, sinks/jsonl.py),
Arrow IPC (zero-parse typed handoff, sinks/arrow.py), and tar shards
(the sequential-read format WebDataset/tar-based loaders stream from
object storage without random access).  The writer follows arrow.py's
discipline exactly: one tar per partition written by ``mapInArrow`` on
the executors (no driver collect, no single writer), per-attempt temp
names with atomic rename (a retried/speculative attempt republishes the
whole shard), stale-temp sweep on entry, and a manifest written LAST
with per-shard sample counts.  Same scope note as arrow.py: ``path``
must be a filesystem all participants share (local mode or a shared
mount); on executor-local disks use the Spark-writer sinks instead.

Column encoding: binary columns are written verbatim (suffix ``.bin``
unless overridden), string columns as UTF-8 ``.txt``, and everything
else as JSON (``.json``) — the member suffix IS the decode hint, per
the WebDataset convention.  At 100 TB: ``df.repartition(n_shards)``
upstream controls shard count/size; each task streams its rows into
the tar sequentially, so executor memory stays batch-sized.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from bigquack_spark.operators import fsops


def export_webdataset_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    suffixes: dict[str, str] | None = None,
) -> dict:
    """Write one ``shard-NNNNN.tar`` per partition under ``path``; each row
    becomes one sample keyed by ``key_col`` (zero-padded), one tar member
    per remaining column.  ``suffixes`` overrides the per-column member
    suffix (default: binary -> .bin, string -> .txt, other -> .json).
    Returns (and persists as ``_MANIFEST.json``) {shards: {tar: n}, ...}."""
    import pyarrow as pa

    os.makedirs(path, exist_ok=True)
    for stale in os.listdir(path):
        if stale.startswith("shard-") and stale.endswith(".tmp"):
            try:
                os.remove(os.path.join(path, stale))
            except OSError:
                pass

    cols = [c for c in df.columns if c != key_col]
    if not cols:
        raise ValueError("export_webdataset_shards: need at least one payload column")
    kinds = {}
    for f in df.schema.fields:
        if f.name == key_col:
            continue
        kind = (
            "bin"
            if f.dataType.simpleString() == "binary"
            else "txt" if f.dataType.simpleString() == "string" else "json"
        )
        kinds[f.name] = (suffixes or {}).get(f.name, kind)
    # member suffix IS the column identity on read-back: two columns sharing
    # one suffix would write duplicate tar member names (silent overwrite)
    # and collapse into one column on read — fail loudly, demand explicit
    # per-column suffixes (the WebDataset convention: one extension per field)
    dupes = {s for s in kinds.values() if list(kinds.values()).count(s) > 1}
    if dupes:
        clash = sorted(c for c, s in kinds.items() if s in dupes)
        raise ValueError(
            f"export_webdataset_shards: columns {clash} map to the same member "
            f"suffix; pass suffixes={{col: unique_ext}} to disambiguate"
        )
    # read_webdataset_shards splits member names on the LAST dot, so a
    # suffix containing '.' (e.g. 'seg.json') can never match on read and
    # the column would silently vanish from every sample — reject it here
    dotted = sorted(c for c, s in kinds.items() if "." in s)
    if dotted:
        raise ValueError(
            f"export_webdataset_shards: suffixes for columns {dotted} contain "
            f"'.'; member suffixes must be a single extension without dots"
        )

    def write_partition(batches):
        import tarfile

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        final = os.path.join(path, f"shard-{pid:05d}.tar")
        tmp = f"{final}.{ctx.taskAttemptId()}.tmp"
        n = 0
        tar = None
        import io
        import time as _time

        seen_keys = set()
        for batch in batches:
            rows = batch.to_pylist()
            if tar is None and rows:
                tar = tarfile.open(tmp, "w")
            for row in rows:
                key = f"{row[key_col]:012d}" if isinstance(row[key_col], int) else str(row[key_col])
                # duplicate keys would write duplicate member names that only
                # surface as a misleading manifest-vs-tar mismatch on read
                if key in seen_keys:
                    tar.close()
                    os.remove(tmp)
                    raise ValueError(
                        f"export_webdataset_shards: duplicate {key_col}={key!r} "
                        f"in partition {pid}; sample keys must be unique"
                    )
                wrote_member = False
                for c in cols:
                    v = row[c]
                    if v is None:
                        continue
                    suffix = kinds[c]
                    if suffix == "bin":
                        payload = bytes(v)
                    elif suffix == "txt":
                        payload = str(v).encode("utf-8")
                    else:
                        payload = json.dumps(v, default=str).encode("utf-8")
                    info = tarfile.TarInfo(name=f"{key}.{suffix}")
                    info.size = len(payload)
                    info.mtime = 0  # deterministic archives: content-addressable
                    tar.addfile(info, io.BytesIO(payload))
                    wrote_member = True
                # an all-NULL row writes zero members; counting it would make
                # the manifest overcount and read-back raise a false
                # truncation error on a valid export
                if wrote_member:
                    seen_keys.add(key)
                    n += 1
        if tar is not None:
            tar.close()
            fsops.replace(tmp, final)
        yield pa.record_batch({"shard": [f"shard-{pid:05d}.tar"], "n_samples": [n]})

    counts = df.mapInArrow(write_partition, "shard string, n_samples long").collect()
    shards = {r["shard"]: r["n_samples"] for r in counts if r["n_samples"] > 0}
    manifest = {
        "shards": shards,
        "n_samples": int(sum(shards.values())),
        "key_col": key_col,
        "columns": kinds,
    }
    fsops.write_atomic(os.path.join(path, "_MANIFEST.json"), json.dumps(manifest))
    # write-side lineage next to the shard manifest (r5 verdict #4)
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
        rows=manifest["n_samples"],
        extra={"sink": "export_webdataset_shards"},
        column_lineage=col_lin,
    )
    return manifest


def read_webdataset_shards(spark: SparkSession, path: str) -> DataFrame:
    """Read a tar-shard directory back into a DataFrame (verification /
    small-scale path: a training loader streams the tars directly).
    Raises when a shard's sample count disagrees with the manifest —
    a truncated shard must fail loudly."""
    import tarfile

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    kinds = manifest["columns"]
    rows = []
    for shard, want in sorted(manifest["shards"].items()):
        samples: dict[str, dict] = {}
        with tarfile.open(os.path.join(path, shard)) as tar:
            for member in tar.getmembers():
                key, _, suffix = member.name.rpartition(".")
                payload = tar.extractfile(member).read()
                col = next((c for c, s in kinds.items() if s == suffix), None)
                if col is None:
                    continue
                if suffix == "txt":
                    value = payload.decode("utf-8")
                elif suffix == "bin":
                    value = payload
                else:
                    value = json.loads(payload)
                samples.setdefault(key, {"__key__": key})[col] = value
        if len(samples) != want:
            raise ValueError(
                f"webdataset shard {shard}: manifest says {want} samples, tar has {len(samples)}"
            )
        rows.extend(samples.values())
    return spark.createDataFrame(rows)
