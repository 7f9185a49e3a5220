"""Stats-driven planning — the consumers of ``_STATS.json`` (r7 verdict #2).

``collect_table_stats`` (operators/maintenance.py) persists row counts,
null fractions, min/max and HLL ndv bound to the table's data-file
fingerprint.  This module closes the loop: layout decisions (partition
key choice, cluster key choice, compaction ROI) are answered from that
manifest plus the file LISTING — **zero data files opened**.  The core
recommenders take no SparkSession at all, and the workload advisor uses
one only for zero-row ANALYSIS probes: at 100 TB that is the difference
between a planning call that returns in milliseconds and one that costs a
table scan.

Freshness is a hard gate, not advice: every reader goes through
:func:`load_fresh_stats`, which raises :class:`StaleStatsError` when the
manifest is missing or its fingerprint no longer matches the live files —
a planner that silently used stale ndv would pick yesterday's layout for
tomorrow's data.  The remediation is incremental since r9: the manifest
keeps per-file partials, so ``update_table_stats`` /
``refresh_table_stats`` fold appends, merges, retention and purges
forward at affected-file cost (removals re-derive from surviving
partials without opening a data file); one ``collect_table_stats``
(scan-priced) is only ever needed to seed or upgrade a manifest.

The scan-priced twins of these answers are the oracle-paired audit
queries q304 (null profile), q305 (partition-key audit) and q308
(compaction ROI) — same arithmetic, computed from data; pytest holds the
two paths consistent.
"""

from __future__ import annotations

import math
import os
import re

from bigquack_spark.operators import fsops
from bigquack_spark.operators.maintenance import (
    DEFAULT_TARGET_FILE_BYTES,
    STATS_FILE,
    _is_data_file,
    _table_fingerprint,
    stats_are_fresh,
)


class StaleStatsError(RuntimeError):
    """The ``_STATS.json`` manifest is missing or no longer matches the
    live data files — run ``collect_table_stats`` and retry."""


def load_fresh_stats(path: str) -> dict:
    """The manifest, iff its recorded fingerprint still matches the live
    data files.  Raises :class:`StaleStatsError` otherwise — planning on
    stale statistics is refused, never silently degraded."""
    import json

    p = os.path.join(path, STATS_FILE)
    if not os.path.exists(p):
        raise StaleStatsError(
            f"no {STATS_FILE} at {path!r} — run collect_table_stats first"
        )
    if not stats_are_fresh(path):
        raise StaleStatsError(
            f"{STATS_FILE} at {path!r} is stale (data files changed since it "
            "was computed) — re-run collect_table_stats"
        )
    with open(p) as fh:
        return json.load(fh)


#: Partition-count guidance: below this many distinct values a key cannot
#: spread load; above, the object-store listing and per-partition file
#: minimums dominate (the classic over-partitioning failure).
_MIN_PARTITIONS = 2
_DEFAULT_MAX_PARTITIONS = 10_000


def recommend_partition_keys(
    path: str,
    candidates: list[str] | None = None,
    max_partitions: int = _DEFAULT_MAX_PARTITIONS,
) -> list[dict]:
    """Rank partition-key candidates from fresh stats alone — the
    metadata-priced sibling of the q305 audit (which runs the same
    arithmetic as a scan, BEFORE stats exist).

    A good hive-partition key has (1) bounded cardinality — every distinct
    value becomes a directory, so ndv must sit in [2, max_partitions];
    (2) few NULLs — NULL rows land in a ``__HIVE_DEFAULT_PARTITION__``
    catch-all that defeats pruning; (3) balanced occupancy — estimated as
    rows/ndv.  Returns one dict per viable candidate, best first:
    ``{column, ndv_approx, null_fraction, est_rows_per_partition,
    viable}``; non-viable candidates are included (viable=False, reason)
    so the caller sees WHY a column lost."""
    stats = load_fresh_stats(path)
    rows = max(stats["rows"], 1)
    cols = stats["columns"]
    names = candidates if candidates is not None else list(cols)
    out = []
    for c in names:
        if c not in cols:
            raise KeyError(f"no stats for column {c!r} at {path!r}")
        s = cols[c]
        ndv = s.get("ndv_approx")
        null_frac = s["null_count"] / rows
        rec = {
            "column": c,
            "ndv_approx": ndv,
            "null_fraction": round(null_frac, 6),
            "est_rows_per_partition": (rows // max(ndv, 1)) if ndv else None,
            "viable": True,
            "reason": "",
        }
        if ndv is None:
            rec["viable"], rec["reason"] = False, "type not countable (map)"
        elif not s["type"] in (
            "tinyint", "smallint", "int", "bigint", "string", "date", "boolean"
        ):
            rec["viable"], rec["reason"] = False, f"type {s['type']} unsuited"
        elif null_frac > 0.5:
            rec["viable"], rec["reason"] = False, "majority NULL"
        elif ndv < _MIN_PARTITIONS:
            rec["viable"], rec["reason"] = False, "constant column"
        elif ndv > max_partitions:
            rec["viable"], rec["reason"] = (
                False,
                f"ndv {ndv} > max_partitions {max_partitions}",
            )
        out.append(rec)
    # best first: viable, then most balanced occupancy (largest partitions
    # of those under the cap), then fewest NULLs
    out.sort(
        key=lambda r: (
            not r["viable"],
            -(r["est_rows_per_partition"] or 0),
            r["null_fraction"],
        )
    )
    return out


def recommend_cluster_key(
    path: str, candidates: list[str] | None = None
) -> dict | None:
    """Pick the range-clustering key for ``save_clustered`` from fresh
    stats: the RANGEABLE column (min/max recorded -> parquet footers carry
    usable zone maps) with the highest ndv — high cardinality makes file
    ranges narrow, which is what footer pruning feeds on.  Returns
    ``{column, ndv_approx, min, max}`` or None when no candidate
    qualifies."""
    stats = load_fresh_stats(path)
    cols = stats["columns"]
    names = candidates if candidates is not None else list(cols)
    best = None
    for c in names:
        s = cols.get(c)
        if not s or "min" not in s or s.get("ndv_approx") is None:
            continue
        if best is None or s["ndv_approx"] > best[1]:
            best = (c, s["ndv_approx"])
    if best is None:
        return None
    s = cols[best[0]]
    return {
        "column": best[0],
        "ndv_approx": s["ndv_approx"],
        "min": s["min"],
        "max": s["max"],
    }


def estimate_compaction_roi(
    path: str, target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES
) -> dict:
    """Compaction return-on-investment from the file LISTING plus fresh
    stats — the metadata-priced sibling of q308 (which computes the same
    shape by scanning).  Scan cost at 100 TB is ~one task per file below
    split size, so the ROI is the task-count delta; bytes_rewritten is the
    price paid once.

    Returns ``{files_before, files_after_est, bytes_total, avg_file_bytes,
    small_file_fraction, est_task_reduction, rows}``."""
    stats = load_fresh_stats(path)  # freshness gate + rows (no data read)
    sizes = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        sizes += [
            os.path.getsize(os.path.join(dirpath, n))
            for n in filenames
            if _is_data_file(n)
        ]
    files_before = len(sizes)
    total = sum(sizes)
    files_after = max(1, math.ceil(total / target_file_bytes)) if total else 0
    small = sum(1 for s in sizes if s < target_file_bytes // 2)
    return {
        "files_before": files_before,
        "files_after_est": min(files_after, files_before) if files_before else 0,
        "bytes_total": total,
        "avg_file_bytes": (total // files_before) if files_before else 0,
        "small_file_fraction": round(small / files_before, 6) if files_before else 0.0,
        "est_task_reduction": max(0, files_before - files_after),
        "rows": stats["rows"],
    }


def rebind_stats_fingerprint(path: str) -> bool:
    """Re-bind an existing ``_STATS.json`` to the CURRENT data files —
    sound only when the caller has proven row content unchanged (the
    compaction executor's checksum gate does exactly that).  A
    content-preserving rewrite changes every file name/size, so without
    this the manifest would read stale after every compaction despite
    every statistic still being exact.  Returns True iff a manifest was
    re-bound; missing manifest is a no-op (False).

    LEGACY manifests only (r9): a partials-carrying manifest must NOT be
    fingerprint-rebound — the per-file keys would go stale underneath the
    fold — so this refuses (False) and the caller routes through
    ``update_table_stats`` instead (compaction's call site does)."""
    import json

    p = os.path.join(path, STATS_FILE)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    if "files" in manifest:
        return False
    manifest["fingerprint"] = _table_fingerprint(path)
    fsops.write_atomic(p, json.dumps(manifest, indent=1))
    return True


def _predicate_columns(spark, col_types: dict[str, str], predicate: str) -> set[str]:
    """Which columns a predicate references — determined by ANALYSIS, not
    string parsing: the predicate is resolved against a zero-row frame
    with each column removed in turn; removal breaking analysis means the
    predicate needs that column.  Driver-side plan compiles over an empty
    local frame only — no data, metadata-priced.

    Logged single-table predicates may carry a table qualifier
    (``o.o_orderkey = 5`` — r11 advice): a dotted prefix that is NOT
    itself a column is treated as the table alias and applied to the
    probe frame.  Two distinct qualifiers would mean a multi-table
    predicate, which a single-table advisor cannot score — refused
    loudly like any other non-analyzing predicate.  Dotted text inside
    SQL string literals (``url = 'cdn.example.com'``) is NOT a
    qualifier — literals are blanked before the scan (r12 review)."""
    no_literals = re.sub(r"'(?:[^']|'')*'", "''", predicate)
    qualifiers = {
        m.group(1) for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\.", no_literals)
    } - set(col_types)
    if len(qualifiers) > 1:
        raise ValueError(
            f"workload predicate {predicate!r} references {len(qualifiers)} "
            f"table qualifiers {sorted(qualifiers)} — a single-table layout "
            "advisor cannot score a multi-table predicate"
        )
    alias = next(iter(qualifiers), None)

    def _frame(cols: list[str]):
        f = spark.createDataFrame(
            [], ", ".join(f"`{c}` {col_types[c]}" for c in cols)
        )
        return f.alias(alias) if alias else f

    try:
        _frame(list(col_types)).filter(predicate).columns
    except Exception as exc:
        raise ValueError(
            f"workload predicate {predicate!r} does not analyze against the "
            f"table schema: {exc}"
        ) from None
    refs = set()
    lowered = predicate.lower()
    for c in col_types:
        if c.lower() not in lowered:
            continue  # an identifier must appear textually to be referenced
        # the frame must be BUILT without the column — merely .drop()ing
        # it doesn't work, the analyzer resolves filter references through
        # projections back to the source.  A frame must keep >=1 column
        # (empty DDL fails to parse and would falsely mark the column) —
        # pad with a probe column no predicate can reference.
        others = [x for x in col_types if x != c]
        schema = ", ".join(f"`{x}` {col_types[x]}" for x in others)
        probe = spark.createDataFrame(
            [], schema if others else "`__probe__` int"
        )
        if alias:
            probe = probe.alias(alias)
        try:
            probe.filter(predicate).columns
        except Exception:
            refs.add(c)
    return refs


def recommend_layout_for_workload(
    spark,
    path: str,
    predicates: list[str],
    max_partitions: int = _DEFAULT_MAX_PARTITIONS,
) -> dict:
    """Workload-driven layout advice: given the predicates the table's
    queries actually filter on, pick the hive-partition key and the
    range-cluster key that prune the most — stats viability
    (:func:`recommend_partition_keys` / :func:`recommend_cluster_key`)
    weighted by how often each column appears in the workload.  A column
    no query filters on prunes nothing no matter how pretty its ndv.

    Stats gate applies (StaleStatsError when missing/stale); the only
    Spark work is zero-row analysis probes per predicate.  Returns
    ``{partition_key, cluster_key, column_usage, n_predicates}`` — keys
    are None when no referenced column is viable for that role."""
    stats = load_fresh_stats(path)
    col_types = {c: s["type"] for c, s in stats["columns"].items()}
    usage: dict[str, int] = {c: 0 for c in col_types}
    for pred in predicates:
        for c in _predicate_columns(spark, col_types, pred):
            usage[c] += 1

    ranked = recommend_partition_keys(path, max_partitions=max_partitions)
    part_best = None
    for r in ranked:
        if r["viable"] and usage.get(r["column"], 0) > 0:
            score = (usage[r["column"]], r["est_rows_per_partition"] or 0)
            if part_best is None or score > part_best[0]:
                part_best = (score, r)
    # the table's EXISTING hive-partition columns are constant per leaf:
    # nothing to cluster or z-order (optimize_layout refuses them), and
    # the directory grain already prunes them (r9 review pass 2)
    from bigquack_spark.operators.maintenance import _partition_leaves

    existing_parts = set(_partition_leaves(path)[0])
    cluster_best = None
    rangeable = []
    for c, n in usage.items():
        if n == 0 or c in existing_parts:
            continue
        s = stats["columns"].get(c, {})
        if "min" not in s or s.get("ndv_approx") is None:
            continue  # not rangeable: footers can't zone-map it
        score = (n, s["ndv_approx"])
        # zorder candidates keep the RECOMMENDED partition pick:
        # Z-ordering is the alternative when the table stays
        # un-repartitioned, so the advice must not assume that
        # directory-grain pruning exists yet
        rangeable.append((score, c))
        if part_best and c == part_best[1]["column"]:
            continue  # cluster key: already pruned at directory grain
        if cluster_best is None or score > cluster_best[0]:
            cluster_best = (score, c)
    # >= 2 workload-referenced rangeable columns: recommend a Z-order set
    # (optimize_layout(zorder_cols=...)) — single-key range clustering
    # would leave every non-prefix column's footer ranges at full width
    rangeable.sort(key=lambda t: (-t[0][0], -t[0][1], t[1]))
    zorder = [c for _s, c in rangeable[:2]] if len(rangeable) >= 2 else None
    # Bucket advice (r10 verdict #8): an EQUALITY-shaped, id-cardinality
    # column is join/distinct-shaped — the layout win bucketing buys
    # (q68/q21 class) that range clustering cannot.  Consumable directly
    # by pipeline.transfer(bucket_by=...); num_buckets sizes to ~4M rows
    # per bucket, power of two, so both sides of a co-located join can
    # agree on it from each table's own stats grain.
    n_rows = int(stats.get("rows", 0) or 0)
    eq_usage: dict[str, int] = {}
    for pred in predicates:
        for c in col_types:
            # Qualified references count too: `o.o_orderkey = 5` is an
            # equality use of o_orderkey (r11 advice — the old lookbehind
            # rejected any preceding '.', undercounting aliased workloads).
            if re.search(
                rf"(?:^|(?<=[^\w.`])|(?<=\w\.)){re.escape(c)}`?\s*(=|IN\s*\()",
                pred,
                re.IGNORECASE,
            ):
                eq_usage[c] = eq_usage.get(c, 0) + 1
    bucket_best = None
    for c, n_eq in eq_usage.items():
        if usage.get(c, 0) == 0 or c in existing_parts:
            continue
        ndv = (stats["columns"].get(c, {}) or {}).get("ndv_approx")
        if ndv is None or ndv < max(1000, n_rows // 100):
            continue  # low-cardinality: a groupBy on it barely shuffles
        score = (n_eq, ndv)
        if bucket_best is None or score > bucket_best[0]:
            bucket_best = (score, c)
    bucket_by = None
    if bucket_best:
        nb = 1 << max(3, math.ceil(math.log2(max(1, n_rows) / 4_000_000)) if n_rows else 3)
        bucket_by = {"cols": [bucket_best[1]], "num_buckets": min(4096, nb)}
    return {
        "partition_key": part_best[1]["column"] if part_best else None,
        "cluster_key": cluster_best[1] if cluster_best else None,
        "zorder_cols": zorder,
        "bucket_by": bucket_by,
        "shred": recommend_shred_for_workload(spark, path, predicates, col_types),
        "column_usage": {c: n for c, n in sorted(usage.items()) if n},
        "n_predicates": len(predicates),
    }


# ----------------------------------------------------- JSON shred advice

#: get_json_object(col, '$.field') / json_extract-style references in a
#: predicate: the signal that queries re-parse a JSON string per run and a
#: schema-on-write shred (operators.jsonshred) would serve them typed.
_JSON_PATH_RE = None  # compiled lazily


def _json_path_refs(predicate: str) -> list[tuple[str, str]]:
    """(column, top-level field) pairs a predicate extracts from JSON via
    ``get_json_object`` / ``json_extract`` / ``json_extract_string``.
    Regex here is safe — unlike bare column references, the call shape
    pins both the column identifier and the quoted path."""
    global _JSON_PATH_RE
    import re

    if _JSON_PATH_RE is None:
        _JSON_PATH_RE = re.compile(
            r"(?:get_json_object|json_extract(?:_string)?)\s*\(\s*`?(\w+)`?\s*,"
            r"\s*'\$\.([A-Za-z0-9_]+)", re.IGNORECASE,
        )
    return [(m.group(1), m.group(2)) for m in _JSON_PATH_RE.finditer(predicate)]


def _infer_json_field_types(
    spark, path: str, col: str, fields: list[str], sample_rows: int = 256
) -> dict[str, str]:
    """Field -> SQL type from a BOUNDED sample of the raw JSON column
    (``sample_rows`` strings collected — metadata-priced, never a scan).
    Promotion: int+float -> DOUBLE; any other mix (or nested values) ->
    STRING (JSON semantics keep the raw text).  Fields absent from every
    sample stay typed STRING — from_json yields NULL for them anyway.

    Known limit: the sample reads the table head, so a type that only
    drifts later (ints early, floats beyond the window) infers too
    narrow and from_json NULLs those values in the typed column.  This
    is why the advice ships ``keep_raw=True`` — the raw column stays the
    ground truth; re-run the advisor (or widen the schema by hand) when
    a typed column's null-rate audit disagrees with the raw parse."""
    samples = [
        r[0]
        for r in spark.read.parquet(path).select(col).limit(sample_rows).collect()
        if r[0] is not None
    ]
    return promote_json_field_types(samples, fields)


def promote_json_field_types(samples: list[str], fields: list[str]) -> dict[str, str]:
    """The promotion rules shared by the workload advisor and
    ``transfer(shred="auto")``: int -> BIGINT, int+float -> DOUBLE,
    bool -> BOOLEAN, anything mixed/nested/absent -> STRING."""
    import json as _json

    seen: dict[str, set[type]] = {f: set() for f in fields}
    for s in samples:
        try:
            obj = _json.loads(s)
        except (ValueError, TypeError):
            continue
        if not isinstance(obj, dict):
            continue
        for f in fields:
            v = obj.get(f)
            if v is not None:
                seen[f].add(type(v))
    out = {}
    for f in fields:
        types = seen[f]
        if types <= {int} and types:
            out[f] = "BIGINT"
        elif types <= {int, float} and types:
            out[f] = "DOUBLE"
        elif types == {bool}:
            out[f] = "BOOLEAN"
        elif types == {str}:
            out[f] = "STRING"
        else:
            out[f] = "STRING"  # absent everywhere, or mixed/nested
    return out


def safe_json_fields(fields: "list[str]") -> "list[str]":
    """Only fields that are valid unquoted SQL identifiers may enter a DDL
    schema string: a key like ``user-agent`` fails ``from_json``'s parser,
    and a key containing ``, `` could inject extra columns — shred advice
    (and ``transfer(shred="auto")``) silently skips such keys; the raw
    column retains them."""
    import re

    return [f for f in fields if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", f)]


def rank_json_refs(
    predicates: "list[str]", str_cols: "set[str]"
) -> "tuple[str, list[str], int, dict[str, int]] | None":
    """The one aggregation the workload-shred advisor AND
    ``transfer(shred="auto")`` share (r11 review: two copies had already
    appeared): count (column, field) JSON-path references across the
    predicates, pick the most-referenced string column, and return
    ``(target, fields_by_refcount, n_refs, field_refs)`` — or None when
    nothing extracts JSON from a string column."""
    from collections import Counter

    refs = Counter()
    for pred in predicates:
        for col, field in _json_path_refs(pred):
            if col in str_cols:
                refs[(col, field)] += 1
    if not refs:
        return None
    by_col = Counter()
    for (col, _f), n in refs.items():
        by_col[col] += n
    target, n = by_col.most_common(1)[0]
    fields = sorted(
        (f for (c, f) in refs if c == target),
        key=lambda f: (-refs[(target, f)], f),
    )
    return target, fields, int(n), {f: int(refs[(target, f)]) for f in fields}


def recommend_shred_for_workload(
    spark, path: str, predicates: list[str], col_types: dict[str, str]
) -> dict | None:
    """Schema-on-write shred advice (r9 verdict #4): when the captured
    workload keeps re-parsing a JSON string column via
    ``get_json_object``-style calls, propose the ``shred={...}`` dict that
    :func:`bigquack_spark.pipeline.transfer` / ``shred_ingest`` accept —
    the measured 15x remedy for per-query JSON parse cost
    (operators/jsonshred.py) stops being a manual opt-in.

    Picks the most-referenced JSON column; the schema covers every
    referenced top-level field, ordered by reference count then name,
    types inferred from a bounded sample.  Returns ``{col, schema,
    keep_raw, n_json_refs, fields}`` or None when no predicate extracts
    JSON paths from a string column.  ``keep_raw`` defaults TRUE: the
    advice derives from a bounded workload window, so fields the window
    never referenced must stay recoverable in the retained raw column —
    dropping it is an explicit operator decision, never advice."""
    # only string-typed real columns qualify — a typo'd identifier or an
    # already-shredded typed column must not trigger advice
    str_cols = {
        c for c, t in col_types.items() if t.lower() in ("string", "varchar")
    }
    ranked = rank_json_refs(predicates, str_cols)
    if ranked is None:
        return None
    target, fields, _n_refs, field_refs = ranked
    fields = safe_json_fields(fields)
    if not fields:
        return None
    types = _infer_json_field_types(spark, path, target, fields)
    schema = ", ".join(f"{f} {types[f]}" for f in fields)
    return {
        "col": target,
        "schema": schema,
        "keep_raw": True,
        # evidence count covers ONLY the fields actually shredded —
        # references to identifier-unsafe keys must not inflate the
        # advice's confidence (second r11 review pass)
        "n_json_refs": sum(field_refs[f] for f in fields),
        "fields": {f: field_refs[f] for f in fields},
    }


# ------------------------------------------------------- workload capture

WORKLOAD_FILE = "_WORKLOAD.jsonl"

#: recommend_layout_from_log reads at most this many newest entries — an
#: old table's log tail reflects TODAY's workload; ancient predicates
#: should not outvote it (and the analysis probes are per-predicate).
_DEFAULT_MAX_LOGGED = 10_000

#: Appends trim the log once it passes this size (~4x the bytes the
#: bounded read will ever use), so the file stays O(max-entries).
_LOG_TRIM_BYTES = 8 * 1024 * 1024

#: Generous per-line byte budget for the tail read.
_LOG_BYTES_PER_LINE = 512


def log_workload_predicate(path: str, predicate: str, ts: float | None = None) -> None:
    """Append one query predicate to the table's workload log
    (``_WORKLOAD.jsonl`` at the table root, one JSON object per line).

    This is the capture half the layout advisor was missing (r8 verdict
    #7): :func:`recommend_layout_for_workload` took hand-supplied
    predicates; now every logged scan feeds it.  Append-only single-line
    ``O_APPEND`` writes — safe under concurrent readers logging from many
    processes, no lease needed (the log is advisory input, not table
    state), invisible to data scans (underscore prefix).  The log is
    SELF-BOUNDING: once it grows past ``_LOG_TRIM_BYTES`` the append
    trims it back to the newest ``_DEFAULT_MAX_LOGGED`` entries — a hot
    table scanned millions of times amortizes the occasional trim
    instead of accreting a multi-GB file (r9 review)."""
    import json
    import time

    line = json.dumps(
        {"predicate": str(predicate), "ts": time.time() if ts is None else ts}
    )
    os.makedirs(path, exist_ok=True)
    p = os.path.join(path, WORKLOAD_FILE)
    with open(p, "a") as fh:
        fh.write(line + "\n")
    try:
        if os.path.getsize(p) > _LOG_TRIM_BYTES:
            trim_workload_log(path, keep_last=_DEFAULT_MAX_LOGGED)
    except OSError:
        pass


def read_workload_log(path: str, max_entries: int = _DEFAULT_MAX_LOGGED) -> list[str]:
    """The newest ``max_entries`` logged predicates, oldest-first among
    those kept.  Reads only the file TAIL (seek from the end, generous
    per-line budget) — a bounded answer must not pay O(history) parse
    (r9 review).  Unreadable lines (a torn concurrent append, or the
    partial first line of a mid-file seek) are skipped, not fatal."""
    import json

    p = os.path.join(path, WORKLOAD_FILE)
    if not os.path.exists(p):
        return []
    budget = max_entries * _LOG_BYTES_PER_LINE
    with open(p, "rb") as fh:
        fh.seek(0, os.SEEK_END)
        size = fh.tell()
        # Predicates longer than the per-line estimate must not silently
        # shrink the window (r9 advice): double the seek-back budget until
        # the tail yields max_entries complete lines or reaches file start.
        while True:
            start = max(0, size - budget)
            fh.seek(start)
            chunk = fh.read().decode("utf-8", errors="replace")
            lines = chunk.split("\n")
            if start > 0:
                lines = lines[1:]  # partial first line of a mid-file seek
            complete = [ln for ln in lines if ln.strip()]
            if start == 0 or len(complete) >= max_entries:
                break
            budget *= 2
    preds = []
    for line in lines:
        try:
            preds.append(str(json.loads(line)["predicate"]))
        except (ValueError, KeyError, TypeError):
            continue
    return preds[-max_entries:]


def trim_workload_log(path: str, keep_last: int = _DEFAULT_MAX_LOGGED) -> int:
    """Bound the log: keep the newest ``keep_last`` entries, drop the
    rest.  Returns lines dropped.  Atomic (tmp + rename)."""
    p = os.path.join(path, WORKLOAD_FILE)
    if not os.path.exists(p):
        return 0
    with open(p) as fh:
        lines = fh.readlines()
    if len(lines) <= keep_last:
        return 0
    fsops.write_atomic(p, "".join(lines[-keep_last:]))
    return len(lines) - keep_last


def scan_table(
    spark,
    path: str,
    predicate: str | None = None,
    columns: list[str] | None = None,
    log_workload: bool = True,
):
    """Maintained-table scan with pushdown AND workload capture: the
    predicate/columns push into the parquet reader exactly as
    ``sources.load_table`` does, and the predicate is appended to the
    table's workload log so :func:`recommend_layout_from_log` learns what
    the table's queries actually filter on.  The capture costs one
    appended line — nothing touches the query plan."""
    # mergeSchema matches the evolved-table read convention
    # (formats.load_managed_table, merge_upsert schema_evolution=True):
    # without it a mixed-footer table can silently omit evolved columns
    # depending on which footer Spark samples.
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if predicate:
        df = df.filter(predicate)
        if log_workload:
            log_workload_predicate(path, predicate)
    if columns:
        df = df.select(*columns)
    return df


def recommend_layout_from_log(
    spark,
    path: str,
    max_partitions: int = _DEFAULT_MAX_PARTITIONS,
    max_entries: int = _DEFAULT_MAX_LOGGED,
) -> dict:
    """End-to-end advisor over the CAPTURED workload: read the newest
    logged predicates and hand them to
    :func:`recommend_layout_for_workload` (same stats gate, same zero-row
    analysis probes — each predicate's referenced columns are resolved by
    analysis, never string parsing).  Refuses an empty log loudly: advice
    from no evidence would be a guess wearing a recommendation's
    clothes.  Returns the advisor dict plus ``n_logged``."""
    preds = read_workload_log(path, max_entries=max_entries)
    if not preds:
        raise ValueError(
            f"recommend_layout_from_log: no workload log at {path!r} — "
            "capture scans via scan_table/log_workload_predicate first, or "
            "call recommend_layout_for_workload with explicit predicates"
        )
    rec = recommend_layout_for_workload(
        spark, path, preds, max_partitions=max_partitions
    )
    rec["n_logged"] = len(preds)
    return rec


#: Distinct-strategy gates (r11 verdict #5).  The rows gate marks tables
#: where an exact distinct's value-set shuffle dominates (the q118 exact
#: profile measured 8.98x the engine baseline at its 100x tier, ~15M rows,
#: while the q252 sketch profile holds a within-5pct contract); the ndv
#: gate exempts low-cardinality columns, whose exact distinct is already
#: cheap — partial aggregation collapses each partition to ~ndv values
#: before the shuffle, so a sketch buys nothing there.
_DISTINCT_ROWS_GATE = 10_000_000
_DISTINCT_NDV_GATE = 100_000


def recommend_distinct_strategy(
    path: str,
    columns: list[str] | None = None,
    row_threshold: int = _DISTINCT_ROWS_GATE,
    ndv_threshold: int = _DISTINCT_NDV_GATE,
    rsd: float = 0.05,
) -> dict:
    """Stats-gated exact-vs-approx distinct advice (r11 verdict #5): for
    each column, should ``count(DISTINCT c)`` be computed exactly or as
    ``approx_count_distinct(c, rsd)``?

    The cost asymmetry the rule encodes: an exact distinct shuffles the
    column's VALUE SET — ``min(rows, ndv x partitions)`` values cross the
    wire, and combining it with other aggregates Expand-multiplies every
    input row — while HyperLogLog++ ships a fixed O(2^p) sketch per
    partition regardless of table size.  So approx wins exactly when BOTH
    gates pass: the table is large (``rows > row_threshold``) AND the
    column's cardinality is high (``ndv_approx > ndv_threshold``); a
    low-ndv column collapses in the partial aggregate and stays exact.

    Freshness-gated like every planner call (:class:`StaleStatsError`).
    Returns ``{column: {strategy, reason, rsd, rewrite, ndv_approx}}``
    plus ``rows``; ``rewrite`` is the drop-in expression.  The accuracy
    contract for the approx path is the q252 driver check: estimates
    within 5pct of exact at rsd=0.05 (queries/quality.py
    q252_column_profile_approx)."""
    stats = load_fresh_stats(path)
    rows = int(stats.get("rows", 0) or 0)
    cols = stats["columns"]
    names = columns if columns is not None else list(cols)
    out: dict = {"rows": rows, "columns": {}}
    for c in names:
        if c not in cols:
            raise KeyError(f"no stats for column {c!r} at {path!r}")
        ndv = cols[c].get("ndv_approx")
        if ndv is None:
            rec = {
                "strategy": "exact",
                "reason": "type not sketchable from stats (map) — no advice",
            }
        elif rows <= row_threshold:
            rec = {
                "strategy": "exact",
                "reason": f"table has {rows} rows <= {row_threshold}: the "
                          "value-set shuffle is small, exact is fine",
            }
        elif ndv <= ndv_threshold:
            rec = {
                "strategy": "exact",
                "reason": f"ndv~{ndv} <= {ndv_threshold}: partial aggregation "
                          "collapses each partition to ~ndv values before the "
                          "shuffle — exact distinct is already cheap",
            }
        else:
            rec = {
                "strategy": "approx",
                "rsd": rsd,
                "rewrite": f"approx_count_distinct({c}, {rsd})",
                "reason": f"{rows} rows x ndv~{ndv}: the exact value-set "
                          "shuffle dominates (q118 exact profile measured "
                          "8.98x baseline at its 100x tier); the sketch holds "
                          "the q252 within-5pct contract at rsd=0.05",
                "contract": "q252_column_profile_approx: within 5pct of exact",
            }
        rec["ndv_approx"] = ndv
        out["columns"][c] = rec
    return out
