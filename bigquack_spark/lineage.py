"""Plan-derived source lineage — what a query actually reads, from Spark
itself rather than from documentation.

The reference logs only row counts (bigquack.go:127-137); a governed
deployment needs the other half of the audit: WHICH tables a result came
from, which columns left each scan, and which predicates were pushed into
it.  Catalyst already knows all of this — the executed plan's FileScan
nodes carry location, pruned read schema, and pushed filters — so lineage
capture is a plan walk, not instrumentation: zero cost in the data path,
impossible to drift from what actually executed (the same property
planlint.py relies on).

Used for: audit manifests next to exported shards, impact analysis for
q256-style erasure requests (which outputs touched a table), and
verifying scan contracts (columns pruned / filters pushed) in CI.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import DataFrame

#: Render confs that truncate plan strings by default; raised while the
#: lineage snapshot is taken, then restored.
_RENDER_CONFS = {
    "spark.sql.debug.maxToStringFields": "10000",
    "spark.sql.maxMetadataStringLength": "100000",
}

# Path scans render "FileScan parquet [cols]"; catalog tables render
# "FileScan parquet spark_catalog.default.t[cols]" (no space before '[')
_SCAN_RE = re.compile(
    r"FileScan (?P<fmt>\w+) (?P<cat>[\w.$]+)?\[(?P<cols>[^\]]*)\].*?"
    r"Location: \w+\((?:\d+ paths?)\)\[(?P<paths>[^\]]*)\].*?"
    r"PushedFilters: \[(?P<filters>[^\]]*)\]",
)
_ATTR_ID_RE = re.compile(r"#\d+L?\b")


def _plan_string(df: DataFrame) -> str:
    spark = df.sparkSession
    old = {k: spark.conf.get(k, None) for k in _RENDER_CONFS}
    try:
        for k, v in _RENDER_CONFS.items():
            spark.conf.set(k, v)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def capture_lineage(df: DataFrame) -> dict[str, Any]:
    """Walk ``df``'s executed plan and return its source-level lineage::

        {
          "output_columns": [...],
          "sources": [
            {"table": "lineitem", "format": "parquet",
             "paths": [".../lineitem.parquet"],
             "columns": ["l_orderkey", ...],      # pruned read schema
             "pushed_filters": ["IsNotNull(l_orderkey)", ...]},
            ...
          ],
        }

    One entry per scan (a self-join reads a table twice and reports it
    twice — that IS the lineage).  Capture is driver-side plan analysis:
    nothing runs on the cluster.
    """
    plan = _plan_string(df)
    sources = []
    for m in _SCAN_RE.finditer(plan):
        paths = [p.strip() for p in m.group("paths").split(",") if p.strip()]
        cols = [
            _ATTR_ID_RE.sub("", c).strip()
            for c in m.group("cols").split(",")
            if c.strip()
        ]
        filters = [f.strip() for f in m.group("filters").split(",")]
        # filter args contain commas (GreaterThan(x,5)): re-join fragments
        # until parens balance
        merged: list[str] = []
        for frag in filters:
            if merged and merged[-1].count("(") > merged[-1].count(")"):
                merged[-1] += "," + frag
            elif frag:
                merged.append(frag)
        if m.group("cat"):  # catalog table: last component of its FQN
            table = m.group("cat").rstrip(".").rsplit(".", 1)[-1]
        else:
            table = os.path.basename(paths[0]).replace(".parquet", "") if paths else None
        sources.append(
            {
                "table": table,
                "format": m.group("fmt"),
                "paths": paths,
                "columns": cols,
                "pushed_filters": merged,
            }
        )
    return {"output_columns": list(df.columns), "sources": sources}


def lineage_tables(df: DataFrame) -> set[str]:
    """Just the distinct source table names — the erasure-impact shape."""
    return {s["table"] for s in capture_lineage(df)["sources"] if s["table"]}


def capture_column_lineage(df: DataFrame) -> dict[str, list[dict[str, Any]]]:
    """Column-grain lineage (r6 verdict #4): for EACH output column, which
    source (table, columns) fed it — the resolution table-grain lineage
    can't give ("which outputs used ``o_custkey``?", the q281 GDPR
    question).

    No expression walking: each output column is probed as ``df.select(c)``
    and Catalyst's own column pruning shrinks every scan's read schema to
    exactly what that column needs — the optimizer computes the dependency
    closure, this function just reads it off the plan.  That closure
    includes CONTROL dependencies (filter predicates, join keys): a column
    that decided which rows survive shaped the output even if its values
    never appear, which is precisely the conservative answer an erasure
    impact assessment needs.  Renames/aliases resolve for free (the probe
    follows the expression, not the name), and a self-join reports each
    side's scan separately with its own pruned columns.

    Returns ``{output_column: [{table, format, paths, columns,
    pushed_filters}, ...]}``.  Cost: one driver-side plan compile per
    output column, nothing executed — metadata-priced at any data scale."""
    if len(set(df.columns)) != len(df.columns):
        dupes = sorted({c for c in df.columns if df.columns.count(c) > 1})
        raise ValueError(
            f"capture_column_lineage: duplicate output column names {dupes} — "
            "alias them apart; per-column probes would be ambiguous"
        )
    return {
        c: capture_lineage(df.select(quoted_name(c)))["sources"] for c in df.columns
    }


def quoted_name(c: str) -> str:
    """Backtick-quote a column name for ``df.select``: a column whose NAME
    contains a dot would otherwise resolve as a nested-field path and raise
    (df[c] parses the same way — only a quoted identifier pins the literal
    name)."""
    return "`" + c.replace("`", "``") + "`"


def _iter_manifests(roots: list[str]):
    """Yield (manifest_dict, dirpath) for every readable ``_LINEAGE.json``
    under ``roots`` — the one walk both blast-radius grains share."""
    import json

    for root in roots:
        for dirpath, _dirnames, filenames in os.walk(root):
            if LINEAGE_FILE not in filenames:
                continue
            try:
                with open(os.path.join(dirpath, LINEAGE_FILE)) as fh:
                    yield json.load(fh), dirpath
            except (OSError, ValueError):
                continue


def blast_radius_columns(roots: list[str], table: str, column: str) -> list[str]:
    """Column-grain erasure impact from manifests alone: outputs whose
    recorded ``column_lineage`` shows ANY output column depending on
    ``table.column``.  Manifests written before column lineage existed
    (no ``column_lineage`` key) are counted conservatively when their
    table-grain inputs include ``table`` — over-reporting beats missing an
    erasure obligation."""
    hits = []
    for m, dirpath in _iter_manifests(roots):
        col_lin = m.get("column_lineage")
        if col_lin is None:
            if table in m.get("input_tables", []):
                hits.append(m.get("output", dirpath))
            continue
        if any(
            s.get("table") == table and column in s.get("columns", [])
            for sources in col_lin.values()
            for s in sources
        ):
            hits.append(m.get("output", dirpath))
    return sorted(hits)


#: File name every lineage-emitting sink writes next to its data/manifest.
LINEAGE_FILE = "_LINEAGE.json"


def write_lineage_manifest(
    out_dir: str,
    output: str,
    sources: list[dict],
    output_columns: list[str],
    rows: int | None = None,
    extra: dict | None = None,
    column_lineage: dict | None = None,
) -> dict:
    """Persist the write-side half of the audit (r5 verdict #4): which
    inputs produced THIS output.  Written atomically (temp + rename) as
    ``_LINEAGE.json`` inside ``out_dir`` so a governed deployment can
    resolve erasure blast radius from manifests alone — no plan re-run, no
    table scans.  ``sources`` is ``capture_lineage(df)["sources"]`` taken
    from the DataFrame that was written; ``rows`` should come from the
    write pass itself (df.observe / sink counts), never a re-read."""
    import json

    from bigquack_spark.operators import fsops

    manifest = {
        "output": output,
        "output_columns": output_columns,
        "inputs": sources,
        "input_tables": sorted({s["table"] for s in sources if s.get("table")}),
    }
    if rows is not None:
        manifest["rows"] = int(rows)
    if column_lineage is not None:
        manifest["column_lineage"] = column_lineage
    if extra:
        manifest.update(extra)
    os.makedirs(out_dir, exist_ok=True)
    fsops.write_atomic(os.path.join(out_dir, LINEAGE_FILE), json.dumps(manifest, indent=1))
    return manifest


def blast_radius(roots: list[str], table: str) -> list[str]:
    """Erasure impact from manifests ALONE (the q256 shape, write side):
    walk ``roots`` for ``_LINEAGE.json`` files and return the outputs whose
    recorded inputs include ``table``.  Pure metadata — never opens a data
    file, so it costs the same at 100 TB as at 100 rows."""
    return sorted(
        m.get("output", dirpath)
        for m, dirpath in _iter_manifests(roots)
        if table in m.get("input_tables", [])
    )
