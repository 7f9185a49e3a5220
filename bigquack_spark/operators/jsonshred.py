"""Schema-on-write JSON shredding — the remedy for the per-query JSON
parse cost measured at the 100x bench tier in round 4.

The reference maps BQ JSON to STRING (bigquery_write.go:189-190) and every
query re-parses it.  At the 100x bench tier that re-parse is 9x the cost
of the scan+aggregate around it, and NO honest per-query JSON path moves
the number (get_json_object 1.37 s, from_json 1.44 s, Spark 4 VARIANT
1.22 s — engine parse-throughput, not plan shape).  The 100 TB answer is
to parse ONCE at ingest: a single `from_json` pass promotes the fields a
pipeline actually queries into typed top-level columns, and every later
query reads columnar values (measured: 0.095 s vs 1.43 s — 15x — for the
q20 aggregate; the one-time shred cost amortizes after ~2 queries).

This is the same tradeoff VARIANT shredding makes inside Iceberg/Delta,
expressed as a plain parquet rewrite so it composes with every sink in
this repo.  Fields NOT in the shred schema stay available via the
optional retained raw column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def shred_json(
    df: DataFrame,
    json_col: str,
    schema: str,
    keep_raw: bool = False,
) -> DataFrame:
    """Promote the fields of a JSON string column to typed top-level
    columns with ONE parse (``from_json`` with ``schema``, e.g.
    ``"k INT, tag STRING"``).  Unparseable rows yield NULL fields (JSON
    semantics, same as per-query extraction).  Pure projection — rides
    the scan, no shuffle."""
    parsed = F.from_json(F.col(json_col), schema)
    shredded = df.withColumn("__shred", parsed)
    # collision guard (r4 review finding): a shred field that shadows an
    # existing column would emit duplicate names — every later select on
    # the written table dies with AMBIGUOUS_REFERENCE.  Fail loudly now.
    field_names = [f.name for f in shredded.schema["__shred"].dataType.fields]
    existing = set(df.columns) if keep_raw else set(df.columns) - {json_col}
    clash = sorted(existing & set(field_names))
    if clash:
        raise ValueError(
            f"shred_json: schema fields {clash} collide with existing columns; "
            f"rename them in the shred schema or drop the originals first"
        )
    # struct-star expansion promotes every parsed field, robust to nested
    # types in the schema string (a naive comma-split is not)
    out = shredded.select("*", F.col("__shred.*")).drop("__shred")
    return out if keep_raw else out.drop(json_col)


def shred_ingest(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    json_col: str,
    schema: str,
    keep_raw: bool = False,
) -> dict:
    """One-time ingest rewrite: parquet at ``src_path`` -> shredded parquet
    at ``dst_path``.  Returns {n_rows, columns}.  Fully distributed (plain
    Spark parquet write); run once per dataset revision, then point every
    JSON-touching query at the shredded table."""
    from pyspark.sql import Observation

    df = shred_json(spark.read.parquet(src_path), json_col, schema, keep_raw=keep_raw)
    # row count rides the write itself via df.observe (r4 verdict #4): at
    # 100 TB the old read-back count was a second full scan for a metric
    obs = Observation("shred_ingest")
    df = df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    df.write.mode("overwrite").parquet(dst_path)
    return {"n_rows": int(obs.get["n_rows"]), "columns": df.columns}


def auto_shred_spec(
    df: DataFrame,
    predicates: "list[str] | None" = None,
    sample_rows: int = 256,
    max_fields: int = 16,
    min_json_share: float = 0.9,
    min_workload_refs: int = 3,
) -> "dict | None":
    """Resolve ``transfer(shred="auto")`` into a concrete shred spec, or
    None when the frame carries no JSON-bearing string column (land raw).

    Two bases, workload first (r10 verdict #4 — accept the advisor's own
    recommendation when confidence is high):

    - **workload**: when ``predicates`` (the target table's captured
      predicate log, available on re-ingest) extract JSON paths from a
      string column at least ``min_workload_refs`` times, shred exactly
      the referenced fields — the advisor's recommendation, applied
      instead of proposed.
    - **sample**: otherwise, ``sample_rows`` rows are inspected; a string
      column qualifies when >= ``min_json_share`` of its non-null samples
      parse as JSON objects, and its ``max_fields`` most frequent
      top-level fields are shredded.

    ``keep_raw`` is always True for auto: the spec derives from a bounded
    sample/window, so unreferenced or late-drifting fields must stay
    recoverable — dropping the raw column is an explicit operator
    decision, never inference."""
    import json
    from collections import Counter

    from pyspark.sql import types as T

    from bigquack_spark.operators.planner import (
        promote_json_field_types,
        rank_json_refs,
        safe_json_fields,
    )

    str_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    if not str_cols:
        return None
    sample = df.select(*str_cols).limit(sample_rows).collect()

    def spec_for(col: str, fields: list[str], basis: str, refs: int) -> dict:
        vals = [r[col] for r in sample if r[col] is not None]
        clash = set(df.columns)
        # keep_raw keeps every existing column, so shadowing keys are
        # skipped; non-identifier keys would break the from_json DDL (or
        # inject columns via ', ') — shred_json never sees them, the raw
        # column retains them (r11 review)
        fields = [f for f in safe_json_fields(fields) if f not in clash]
        if not fields:
            return None
        types = promote_json_field_types(vals, fields)
        schema = ", ".join(f"{f} {types[f]}" for f in fields)
        return {"col": col, "schema": schema, "keep_raw": True,
                "basis": basis, "n_json_refs": refs}

    if predicates:
        ranked = rank_json_refs(predicates, set(str_cols))
        if ranked is not None:
            target, fields, _n, field_refs = ranked
            # confidence counts only the fields that will actually shred
            # (identifier-safe, non-shadowing) — references to skipped
            # keys must not clear the threshold (second r11 review pass)
            survivors = [
                f for f in safe_json_fields(fields) if f not in set(df.columns)
            ]
            n_surv = sum(field_refs[f] for f in survivors)
            if survivors and n_surv >= min_workload_refs:
                got = spec_for(target, survivors, "workload", n_surv)
                if got:
                    return got

    best = None
    for col in str_cols:
        vals = [r[col] for r in sample if r[col] is not None]
        if not vals:
            continue
        keys = Counter()
        n_obj = 0
        for s in vals:
            try:
                obj = json.loads(s)
            except (ValueError, TypeError):
                continue
            if isinstance(obj, dict):
                n_obj += 1
                keys.update(k for k in obj if isinstance(k, str))
        if n_obj / len(vals) < min_json_share or not keys:
            continue
        fields = [f for f, _n in sorted(keys.items(), key=lambda kv: (-kv[1], kv[0]))]
        got = spec_for(col, fields[:max_fields], "sample", 0)
        if got and (best is None or n_obj > best[0]):
            best = (n_obj, got)
    return best[1] if best else None
