"""Table-maintenance executors — the operators that ACT on what the audit
queries plan (r6 verdict #1).

q254 ranks small-file debt and ``sinks/compact.plan_compaction`` selects the
partitions worth rewriting; this module executes that plan with the crash
guarantees a 100 TB lakehouse needs.  The reference's entire purpose is
moving bytes into query-efficient form (bigquack.go:64-141 drives a one-shot
BQ->DuckDB load); on Spark the same table lives for years under thousands of
micro-batch appends, so "query-efficient form" is a maintenance LOOP:
plan debt -> rewrite bin-packed -> verify content -> swap atomically.

Publish protocol (the requarantine roll-forward pattern, sinks/quarantine.py,
with its r6-advice generation binding):

1. **Stage**: the partition's undersized files are read ONCE and rewritten
   bin-packed (``coalesce(n_out)``, or range-clustered when ``cluster_cols``)
   into ``<leaf>/.compact-staging/data``.
2. **Verify before commit**: :func:`bigquack_spark.operators.reconcile.
   table_checksum` of the staged copy must equal the checksum of the source
   files — a rewrite that would lose or mutate rows aborts here, leaving
   the live layout untouched.  (Costs one extra read of just the
   undersized files — maintenance-window priced, and the only honest way
   to compare both physical layouts.)
3. **Marker** (the commit point): ``_COMPACT_ID`` records the generation id
   and the exact (name, size) list of old files to retire.  Written
   atomically (tmp + rename).
4. **Swap**: retire the listed olds, then move each staged file in as
   ``compacted-<gen>-<name>`` (per-file ``fsops.replace`` — atomic, idempotent
   on re-drive).
5. **Commit**: remove staging.

Any crash rolls FORWARD: a marker-less staging dir is pre-commit residue and
is discarded (the next run re-plans); a marker-ed one resumes the swap.  The
marker's file list doubles as the adoption gate — if the live partition
holds data files that are neither recorded olds (name+size) nor this
generation's news, the partition was REBUILT underneath a crashed
compaction, so the stale staging is discarded instead of republishing
superseded rows (the exact failure class the r6 advice closed in
requarantine).  Like every filesystem-coordinated maintenance op here, run
it while no concurrent writer mutates the table.

Scale posture: planning walks file METADATA (one row per file); each
partition rewrite is an independent bounded Spark job (never the whole
table, never driver memory); verification is two one-row checksum
aggregates per partition over only the rewritten bytes.  Untouched
partitions keep their files bit-identical.
"""

from __future__ import annotations

import base64
import json
import os
import re
import shutil
import time as _time
import uuid

from pyspark.sql import DataFrame, SparkSession

from bigquack_spark.operators import fsops
from bigquack_spark.operators.lease import table_lease
from bigquack_spark.operators.reconcile import table_checksum
from bigquack_spark.sinks.compact import (
    DEFAULT_TARGET_FILE_BYTES,
    PartitionPlan,
    _is_data_file,
    plan_compaction,
)

STAGING_DIR = ".compact-staging"
MARKER = "_COMPACT_ID"


def _local_path(uri: str) -> str:
    """input_file_name() yields a percent-encoded file:// URI — one
    decoder shared by purge, merge, and every other affected-file finder."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme else uri


def _checksum_row(df: DataFrame) -> tuple:
    row = table_checksum(df, df.columns).collect()[0]
    return (row.n_rows, row.xor_checksum, row.sum_checksum_mod)


def _write_marker(
    staging: str,
    gen: str,
    olds: list[list],
    prefix: str = "compacted",
    others: list[list] | None = None,
) -> None:
    """``olds`` are retired by the swap; ``others`` are the leaf's
    UNAFFECTED data files (name, size), recorded so the resume adoption
    gate can tell 'this leaf legitimately holds more than the olds'
    (purge touches a subset of a leaf) from 'the partition was rebuilt
    underneath the crash' (r7 review finding: without this, resuming a
    partial-leaf purge discarded the staging that held the only copy of
    the retired files' kept rows)."""
    fsops.write_atomic(  # the commit point
        os.path.join(staging, MARKER),
        json.dumps({"gen": gen, "olds": olds, "prefix": prefix, "others": others or []}),
    )


def _resume_partition(leaf: str) -> str:
    """Roll a crashed swap forward (or discard stale/pre-commit staging).

    Returns ``"none"`` (nothing to do), ``"discarded"`` (pre-commit residue
    or stale generation dropped), or ``"resumed"`` (swap completed).
    Handles both maintenance rewrites (compaction and purge) — the marker
    records which news prefix the swap publishes under."""
    staging = os.path.join(leaf, STAGING_DIR)
    marker = os.path.join(staging, MARKER)
    if not os.path.isdir(staging):
        return "none"
    if not os.path.exists(marker):
        shutil.rmtree(staging, ignore_errors=True)  # pre-commit residue
        return "discarded"
    try:
        with open(marker) as fh:
            rec = json.load(fh)
        gen, olds = rec["gen"], [tuple(o) for o in rec["olds"]]
        prefix = rec.get("prefix", "compacted")
        others = {name: size for name, size in rec.get("others", [])}
    except (ValueError, KeyError):
        shutil.rmtree(staging, ignore_errors=True)  # unreadable: never adopt
        return "discarded"
    # adoption gate: every live data file must be a recorded old (name+size,
    # to retire), a recorded unaffected file (name+size, left alone), or
    # this generation's published news — anything else means the partition
    # was rebuilt underneath the crashed swap
    old_names = {name: size for name, size in olds}
    for name in fsops.listdir(leaf):
        if not _is_data_file(name):
            continue
        if name.startswith(f"{prefix}-{gen}-"):
            continue
        size = os.path.getsize(os.path.join(leaf, name))
        if old_names.get(name) == size or others.get(name) == size:
            continue
        shutil.rmtree(staging, ignore_errors=True)
        return "discarded"
    _finish_swap(leaf, staging, gen, olds, prefix)
    return "resumed"


def _resume_tree(path: str) -> tuple[int, int]:
    """Roll every crashed swap under ``path`` forward before planning new
    work.  Returns (resumed, discarded) counts."""
    resumed = discarded = 0
    for dirpath, dirnames, _files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        state = _resume_partition(dirpath)
        if state == "resumed":
            resumed += 1
        elif state == "discarded":
            discarded += 1
    return resumed, discarded


def _finish_swap(
    leaf: str,
    staging: str,
    gen: str,
    olds: list[tuple],
    prefix: str = "compacted",
) -> None:
    """Steps 4-5 of the protocol — idempotent, resumable at any point."""
    for name, _size in olds:
        p = os.path.join(leaf, name)
        if os.path.exists(p):
            os.remove(p)
    data_dir = os.path.join(staging, "data")
    if os.path.isdir(data_dir):
        for name in sorted(fsops.listdir(data_dir)):
            if _is_data_file(name):
                fsops.replace(
                    os.path.join(data_dir, name),
                    os.path.join(leaf, f"{prefix}-{gen}-{name}"),
                )
    shutil.rmtree(staging, ignore_errors=True)


def _compact_partition(
    spark: SparkSession,
    plan: PartitionPlan,
    cluster_cols: list[str] | None,
    verify: bool,
    lease=None,
    cluster_expr=None,
) -> dict:
    leaf = plan.directory
    staging = os.path.join(leaf, STAGING_DIR)
    shutil.rmtree(staging, ignore_errors=True)  # pre-commit residue only
    data_dir = os.path.join(staging, "data")
    olds = [
        [f, os.path.getsize(os.path.join(leaf, f))] for f in sorted(plan.files)
    ]

    df = spark.read.parquet(*(os.path.join(leaf, f) for f in plan.files))
    if cluster_expr is not None:
        # multi-key z-order: cluster on the precomputed interleaved-bits
        # curve (table-global boundaries, so every leaf shares the grid)
        df = (
            df.withColumn("__z", cluster_expr)
            .repartitionByRange(plan.n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif cluster_cols:
        df = df.repartitionByRange(plan.n_out, *cluster_cols).sortWithinPartitions(
            *cluster_cols
        )
    else:
        df = df.coalesce(plan.n_out)
    df.write.parquet(data_dir)

    if verify:
        # pre-commit gate: the staged copy must carry exactly the source's
        # rows — compare order-insensitive checksums of both layouts while
        # the olds are still live (abort leaves the table untouched)
        want = _checksum_row(
            spark.read.parquet(*(os.path.join(leaf, f) for f in plan.files))
        )
        got = _checksum_row(spark.read.parquet(data_dir))
        if want != got:
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"compact_small_files: staged rewrite of {leaf} does not "
                f"checksum-match its source (want {want}, got {got}) — "
                "aborted before publish; live layout untouched"
            )

    n_new = sum(1 for f in fsops.listdir(data_dir) if _is_data_file(f))
    gen = uuid.uuid4().hex[:12]
    if lease is not None:
        lease.check()  # fencing gate: die pre-commit if the lease was stolen
    _write_marker(staging, gen, olds)  # commit point
    _finish_swap(leaf, staging, gen, [tuple(o) for o in olds])
    return {
        "files_before": len(plan.files),
        "files_after": n_new,
        "bytes_rewritten": plan.bytes,
    }


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_mb: int | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files: int = 2,
    cluster_cols: list[str] | None = None,
    verify: bool = True,
    zorder: bool = False,
    lease=None,
) -> dict:
    """Execute q254's compaction plan over ``path`` with checksum-verified,
    crash-safe partition swaps (module doc has the full protocol).

    ``zorder=True`` with >= 2 ``cluster_cols`` rewrites each partition
    Z-ORDER-clustered instead of lexicographically: one table-global
    ``approxQuantile`` pass fixes the per-column bucket grid, every
    leaf's rewrite interleaves the bucket bits
    (``sinks/clustered.zorder_expr`` — the identical curve
    ``save_zordered`` writes), so footer ranges stay simultaneously
    narrow on EVERY listed column and predicates on any of them prune
    files.  Lexicographic multi-key clustering only prunes on the
    prefix.

    ``target_mb`` is the deployment-facing knob (``target_file_bytes``
    remains for byte-exact tests).  Returns ``{partitions_compacted,
    files_before, files_after, bytes_rewritten, resumed, discarded_stale,
    verified}``.  Re-running converges: healthy partitions plan no work and
    a crashed run's partitions are rolled forward before re-planning.
    Runs under the table writer lease (``operators/lease.py``): a
    concurrent maintenance writer raises ``LeaseHeldError`` instead of
    interleaving; pass ``lease=`` to compose under an outer holder."""
    if target_mb is not None:
        target_file_bytes = target_mb * 1024 * 1024
    report = {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after": 0,
        "bytes_rewritten": 0,
        "resumed": 0,
        "discarded_stale": 0,
        "verified": bool(verify),
    }
    if zorder and (not cluster_cols or len(cluster_cols) < 2):
        raise ValueError(
            "compact_small_files: zorder=True needs >= 2 cluster_cols "
            "(single-key range clustering already prunes that column)"
        )
    if zorder and 6 * len(cluster_cols) > 62:
        # eager: the interleave budget must refuse even when the plan
        # turns out empty (the lazy boundary pass would never validate)
        raise ValueError(
            f"bits_per_dim * len(zorder_cols) = {6 * len(cluster_cols)} "
            "exceeds 62"
        )
    with table_lease(path, owner="compact", lease=lease) as held:
        # roll any crashed swap forward FIRST so planning sees the layout
        report["resumed"], report["discarded_stale"] = _resume_tree(path)
        stats_fresh_at_entry = stats_are_fresh(path)
        plans = list(plan_compaction(path, target_file_bytes, min_files))
        cluster_expr = None
        if zorder and plans:
            # boundary grid: INSIDE the lease and AFTER roll-forward (a
            # half-swapped table would skew the buckets; an unleased scan
            # could race a concurrent writer's retires), and only when
            # the plan actually rewrites something — a healthy-table
            # no-op must not pay a table scan (r9 review pass 2).  Shared
            # helper keeps the grid identical to save_zordered's.
            from bigquack_spark.sinks.clustered import (
                zorder_boundaries,
                zorder_expr,
            )

            whole = spark.read.parquet(path).select(*cluster_cols)
            boundaries = zorder_boundaries(whole, cluster_cols)
            dtypes = {f.name: f.dataType for f in whole.schema.fields}
            cluster_expr = zorder_expr(
                cluster_cols, boundaries, dtypes=dtypes
            )
        for plan in plans:
            got = _compact_partition(
                spark, plan, cluster_cols, verify, lease=held,
                cluster_expr=cluster_expr,
            )
            report["partitions_compacted"] += 1
            for k in ("files_before", "files_after", "bytes_rewritten"):
                report[k] += got[k]
        report["stats_rebound"] = False
        if verify and stats_fresh_at_entry and report["partitions_compacted"]:
            # content equality was checksum-proven per partition, so every
            # TABLE-level statistic in _STATS.json is still exact — refresh
            # the manifest instead of letting it read stale (the planning
            # loop's metadata answer, r7 verdict #2).  A partials-carrying
            # manifest folds forward (update_table_stats re-keys the compacted
            # leaves by scanning just the freshly-written files — the same
            # bytes the verify pass already read back); a legacy manifest
            # re-binds the fingerprint for free.  Gated on entry freshness:
            # refreshing an already-stale manifest would bless numbers some
            # OTHER write invalidated.
            p = os.path.join(path, STATS_FILE)
            has_partials = False
            if os.path.exists(p):
                try:
                    with open(p) as fh:
                        has_partials = "files" in json.load(fh)
                except (OSError, ValueError):
                    has_partials = False
            if has_partials:
                update_table_stats(spark, path)
                report["stats_rebound"] = True
            else:
                from bigquack_spark.operators.planner import rebind_stats_fingerprint

                report["stats_rebound"] = rebind_stats_fingerprint(path)
    return report


def purge_rows(
    spark: SparkSession,
    path: str,
    predicate: str,
    verify: bool = True,
    refresh_stats: bool = False,
    lease=None,
) -> dict:
    """Erasure executor (the GDPR DELETE, the destructive half of
    :func:`bigquack_spark.lineage.blast_radius_columns`'s impact answer):
    remove every row of the parquet table at ``path`` matching
    ``predicate``, rewriting ONLY the files that contain a match.

    The Delta/Iceberg DELETE algorithm re-expressed over plain parquet:

    1. **Find** — one scan evaluates the predicate and collects the
       DISTINCT ``input_file_name()`` set of matching rows (file-count
       metadata, never row data; a predicate on a partition column prunes
       the scan to those directories before any file is opened).
    2. **Rewrite** — per affected leaf directory, the affected files are
       read once and re-written WITHOUT the matching rows into staging;
       the staged copy must checksum-equal the kept rows (computed from
       the same source files) before anything publishes.
    3. **Swap** — the compaction marker/roll-forward protocol, news
       published under a ``purged-<gen>-`` prefix.  Any crash rolls
       forward; a rebuilt-underneath partition discards its stale staging
       (same adoption gate).  A file whose every row matches is simply
       retired (no staged successor).

    Untouched files are byte-identical afterwards — at 100 TB an erasure
    request costs the affected file set, not a table rewrite.  A
    ``_PURGE-<gen>.json`` at the table root records predicate, deleted
    count, and rewritten files: the auditable evidence an erasure
    obligation needs.  Returns ``{n_deleted, files_rewritten,
    files_retired, partitions_touched, resumed, discarded_stale,
    generation}`` (generation None when nothing matched).  Runs under the
    table writer lease (``operators/lease.py``): a concurrent maintenance
    writer raises ``LeaseHeldError`` instead of interleaving."""
    with table_lease(path, owner="purge", lease=lease) as held:
        return _purge_rows_locked(
            spark, path, predicate, verify, refresh_stats, held
        )


def _purge_rows_locked(
    spark: SparkSession,
    path: str,
    predicate: str,
    verify: bool,
    refresh_stats: bool,
    lease,
) -> dict:
    import uuid as _uuid

    from pyspark.sql import functions as F

    resumed, discarded = _resume_tree(path)
    report = {
        "n_deleted": 0,
        "files_rewritten": 0,
        "files_retired": 0,
        "partitions_touched": 0,
        "resumed": resumed,
        "discarded_stale": discarded,
        "generation": None,
    }
    df = spark.read.parquet(path)
    hit_files = [
        _local_path(r.f)
        for r in df.filter(predicate)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    if not hit_files:
        return report
    by_leaf: dict[str, list[str]] = {}
    for f in hit_files:
        by_leaf.setdefault(os.path.dirname(f), []).append(os.path.basename(f))

    gen = _uuid.uuid4().hex[:12]
    report["generation"] = gen
    affected_files: list[str] = []
    # a row is DELETED iff the predicate is TRUE for it (the find step's
    # filter(predicate) semantics); rows where the predicate evaluates to
    # NULL (e.g. "user_id = 42" on a NULL user_id) must be KEPT — plain
    # NOT(predicate) would silently drop them under three-valued logic
    # (r7 review finding), and the checksum gate could not catch it
    # because both sides would share the same wrong expression
    keep_pred = f"NOT coalesce(({predicate}), false)"
    for leaf, names in sorted(by_leaf.items()):
        names = sorted(names)
        staging = os.path.join(leaf, STAGING_DIR)
        shutil.rmtree(staging, ignore_errors=True)  # pre-commit residue only
        data_dir = os.path.join(staging, "data")
        olds = [[n, os.path.getsize(os.path.join(leaf, n))] for n in names]
        name_set = set(names)
        others = [
            [n, os.path.getsize(os.path.join(leaf, n))]
            for n in sorted(fsops.listdir(leaf))
            if _is_data_file(n) and n not in name_set
        ]
        files = [os.path.join(leaf, n) for n in names]

        # basePath keeps partition columns resolvable for the predicate
        # while still scanning ONLY the affected files; they are dropped
        # again before writing so staged files match the leaf's raw schema
        raw_cols = spark.read.parquet(files[0]).columns
        src = spark.read.option("basePath", path).parquet(*files)
        part_cols = [c for c in src.columns if c not in raw_cols]

        def kept():
            return spark.read.option("basePath", path).parquet(*files).filter(
                keep_pred
            ).drop(*part_cols)

        n_src = src.count()
        # per-file kept counts: files whose every row matched are RETIRED
        # (no staged successor) — needed for honest accounting (r7 review)
        kept_per_file = {
            os.path.basename(_local_path(r.f)): r.n
            for r in spark.read.option("basePath", path)
            .parquet(*files)
            .filter(keep_pred)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_keep = sum(kept_per_file.values())
        retired_here = [n for n in names if kept_per_file.get(n, 0) == 0]
        if n_keep:
            kept().write.parquet(data_dir)
            if verify:
                want = _checksum_row(kept())
                got = _checksum_row(spark.read.parquet(data_dir))
                if want != got:
                    shutil.rmtree(staging, ignore_errors=True)
                    raise RuntimeError(
                        f"purge_rows: staged rewrite of {leaf} does not "
                        f"checksum-match its kept rows (want {want}, got "
                        f"{got}) — aborted before publish; live layout "
                        "untouched"
                    )
        else:
            os.makedirs(data_dir, exist_ok=True)  # empty: retire-only swap
        lease.check()  # fencing gate: die pre-commit if the lease was stolen
        _write_marker(staging, gen, olds, prefix="purged", others=others)
        _finish_swap(leaf, staging, gen, [tuple(o) for o in olds], prefix="purged")
        report["n_deleted"] += n_src - n_keep
        report["files_rewritten"] += len(names) - len(retired_here)
        report["files_retired"] += len(retired_here)
        report["partitions_touched"] += 1
        affected_files += files

    audit = {
        "generation": gen,
        "predicate": predicate,
        "n_deleted": report["n_deleted"],
        "affected_files": sorted(affected_files),
        # snapshots PIN bytes (hardlinks): an erasure obligation must
        # also drop_snapshot/re-snapshot these — recorded so the audit
        # trail shows the follow-up owed (snapshot_table's GDPR note)
        "snapshots_pinning_bytes": list_snapshots(path),
    }
    fsops.write_atomic(os.path.join(path, f"_PURGE-{gen}.json"), json.dumps(audit, indent=1))
    if refresh_stats:
        # a destructive rewrite invalidates _STATS.json — fold it forward
        # from the per-file partials (removed files subtract by re-derive,
        # the rewritten staged files are the only scan; legacy manifests
        # fall back to one full recollect) so the planning loop stays
        # metadata-answerable at affected-file cost.
        refresh_table_stats(spark, path)
    return report


STATS_FILE = "_STATS.json"


def _table_fingerprint(path: str) -> list[list]:
    """(relative name, size) of every data file — the staleness key stats
    manifests are bound to."""
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for name in filenames:
            if _is_data_file(name):
                p = os.path.join(dirpath, name)
                out.append([os.path.relpath(p, path), os.path.getsize(p)])
    return sorted(out)


def _typestr_hashable(t: str) -> bool:
    """simpleString twin of :func:`_hashable_type` for manifest-recorded
    types: a map at any nesting depth cannot be hashed/sketched."""
    return "map<" not in t


_RANGEABLE_BASES = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz", "decimal",
}


def _typestr_rangeable(t: str) -> bool:
    """simpleString twin of :func:`_rangeable_type`."""
    return t.split("(")[0] in _RANGEABLE_BASES


def _file_schema_cols(path: str, rel: str) -> list[str]:
    """Columns a data file actually CARRIES: its parquet footer schema
    plus the hive-partition columns encoded in its directory path.  One
    driver-side footer read — metadata-priced, and only ever run for
    files being (re)folded, never the whole table."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    cols = list(pq.read_schema(os.path.join(path, rel)).names)
    for seg in rel.replace(os.sep, "/").split("/")[:-1]:
        if "=" in seg:
            cols.append(unquote(seg.split("=", 1)[0]))
    return cols


def _file_partials(
    spark: SparkSession, path: str, rels: list[str]
) -> tuple[dict, dict]:
    """Per-file statistics partials for the given relative file names —
    the subtractable/re-unionable grain the incremental stats lifecycle
    folds over.  ONE scan of exactly those files, grouped by
    ``input_file_name()`` (partial aggregation map-side; the group count
    is the file count, never the row count).

    Each partial records the file's row count, its OWN column set
    (footer + partition dirs — so a later fold can tell "file predates
    this column" from "column dropped table-wide"), and per batch-union
    column: null count, min/max (rangeable types), and an HLL ndv sketch
    (hashable types).  Returns ``(partials_by_rel, union_types)``."""
    from pyspark.sql import functions as F

    abs_path = os.path.abspath(path)
    files = [os.path.join(path, rel) for rel in rels]
    batch = (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(*files)
    )
    types = {f.name: f.dataType.simpleString() for f in batch.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in batch.schema.fields:
        aggs += _stats_aggs(f.name, f.dataType)
    grouped = batch.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()

    partials: dict[str, dict] = {}
    for r in grouped:
        d = r.asDict()
        rel = os.path.relpath(_local_path(d["__f"]), abs_path)
        cols = {}
        for c in types:
            e: dict = {"null_count": int(d[f"__null__{c}"] or 0)}
            sk = d.get(f"__hll__{c}")
            if sk is not None:
                e["ndv_sketch"] = base64.b64encode(sk).decode("ascii")
            if f"__min__{c}" in d:
                e["min"] = _jsonable(d[f"__min__{c}"])
                e["max"] = _jsonable(d[f"__max__{c}"])
            cols[c] = e
        partials[rel] = {
            "rows": int(d["__n"]),
            "schema": _file_schema_cols(path, rel),
            "columns": cols,
        }
    for rel in rels:
        if rel not in partials:  # zero-row file: the groupBy emits nothing
            partials[rel] = {
                "rows": 0,
                "schema": _file_schema_cols(path, rel),
                "columns": {},
            }
    return partials, types


def _derive_table_stats(
    spark: SparkSession, partials: dict, types: dict
) -> tuple[int, dict]:
    """Fold per-file partials into the table-level ``columns`` section.
    Rows, null counts and min/max are EXACT (sums and min/max fold
    associatively).  ndv unions the per-file HLL sketches — deterministic
    given the file set, and equal to a full recompute over the same files
    (both paths union the same partials); after a content-preserving
    regrouping (compaction) the union estimator can shift within the
    sketch's error bound, because datasketches unions report the raw
    estimator while a directly-built sketch reports HIP.  Driver cost is
    O(files x columns) metadata; the only Spark work is ONE
    sketch-union job."""
    from pyspark.sql import functions as F

    total = sum(p["rows"] for p in partials.values())
    live: set[str] = set()
    for p in partials.values():
        live.update(p["schema"])
    columns: dict[str, dict] = {}
    union_rows: list[tuple[str, bytes]] = []
    for c, t in types.items():
        if c not in live:
            continue  # no surviving file carries it — dropped table-wide
        nc = 0
        mn = mx = None
        for p in partials.values():
            e = p["columns"].get(c)
            if e is None:
                nc += p["rows"]  # file predates the column: reads back NULL
                continue
            nc += int(e["null_count"])
            if e.get("min") is not None:
                mn = e["min"] if mn is None else min(mn, e["min"])
                mx = e["max"] if mx is None else max(mx, e["max"])
            sk = e.get("ndv_sketch")
            if sk:
                union_rows.append((c, base64.b64decode(sk)))
        col: dict = {"type": t, "null_count": nc}
        if _typestr_hashable(t):
            col["ndv_approx"] = 0  # overwritten below when sketches exist
        if _typestr_rangeable(t):
            col["min"] = mn
            col["max"] = mx
        columns[c] = col
    if union_rows:
        for r in (
            spark.createDataFrame(union_rows, "c string, sk binary")
            .groupBy("c")
            .agg(F.hll_union_agg("sk").alias("u"))
            .select("c", "u", F.hll_sketch_estimate("u").alias("e"))
            .collect()
        ):
            columns[r.c]["ndv_sketch"] = base64.b64encode(r.u).decode("ascii")
            columns[r.c]["ndv_approx"] = int(r.e)
    return total, columns


def collect_table_stats(spark: SparkSession, path: str) -> dict:
    """ANALYZE TABLE for a plain-parquet layout: one scan computes row
    count plus per-column null count, min/max (numeric/date/timestamp
    columns only — string extremes are collation-sensitive), and an
    HLL-approximate distinct count, persisted atomically as ``_STATS.json``
    at the table root.  The manifest records the data-file fingerprint it
    was computed from, so :func:`stats_are_fresh` answers "can the planner
    trust these?" from metadata alone — the q304/q305 planning queries'
    cached sibling.

    The scan is grouped by ``input_file_name()`` and the manifest keeps
    the PER-FILE partials (r9, closing the stats lifecycle over
    destructive writers): rows/null counts per file, min/max, and a
    mergeable HLL sketch per hashable column.  Rows, null counts and
    min/max derived from partials are exact; ndv is the deterministic
    HLL union of the per-file sketches — and :func:`update_table_stats`
    can now fold REMOVALS (merge rewrites, retention, purge) by
    re-deriving from the surviving partials, scanning only files it has
    never seen.  At production scale
    the ``files`` section is the JSON rendition of what would live as a
    parquet stats sidecar; the fold contract is identical.

    Scale posture: one pass, partial aggregation map-side, group count =
    file count; the union job's input is files x columns sketch rows.
    Reads with ``mergeSchema`` so a schema-drifted table yields stats
    over the UNION of columns — single-footer inference could silently
    miss live columns depending on which file Spark samples."""
    fingerprint = _table_fingerprint(path)
    rels = [rel for rel, _size in fingerprint]
    partials, types = _file_partials(spark, path, rels)
    rows, columns = _derive_table_stats(spark, partials, types)
    manifest = {
        "rows": rows,
        "columns": columns,
        "files": partials,
        "fingerprint": fingerprint,
    }
    fsops.write_atomic(os.path.join(path, STATS_FILE), json.dumps(manifest, indent=1))
    return manifest


def _jsonable(v):
    import decimal

    if isinstance(v, decimal.Decimal):
        # json.dump rejects Decimal; float is advisory-grade for planning
        # min/max (r8 review: TPC-H-style money columns crashed the
        # manifest write otherwise)
        return float(v)
    return v.isoformat() if hasattr(v, "isoformat") else v


def _quoted_col(name: str):
    """Quoted identifier: a literal dot in the name must not be read as a
    nested-field path (r7 advisor finding)."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


def _hashable_type(dt) -> bool:
    """Whether Spark can hash the type (maps — at any nesting depth —
    cannot be hashed or distinct-counted; r7 advisor finding)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def _rangeable_type(dt) -> bool:
    """min/max worth recording (string extremes are collation-sensitive)."""
    from pyspark.sql import types as T

    return isinstance(
        dt, (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)
    )


def _stats_aggs(c: str, dt) -> list:
    """The per-column aggregate set shared by collect_table_stats (full
    scan) and update_table_stats (new-files-only fold) — one definition so
    the two paths can never desynchronize."""
    from pyspark.sql import functions as F

    q = _quoted_col(c)
    aggs = [F.sum(q.isNull().cast("long")).alias(f"__null__{c}")]
    if _hashable_type(dt):
        # ndv as a MERGEABLE datasketches HLL over xxhash64 (which hashes
        # every non-map type uniformly): update_table_stats folds a new
        # batch's partial sketch into the stored one instead of rescanning
        # the table — the property a plain approx_count_distinct number
        # cannot offer.  NULLs are masked BEFORE hashing: xxhash64(NULL)
        # is the seed value, not NULL, and would count as a distinct.
        aggs.append(
            F.hll_sketch_agg(F.when(q.isNotNull(), F.xxhash64(q))).alias(
                f"__hll__{c}"
            )
        )
    if _rangeable_type(dt):
        aggs.append(F.min(q).alias(f"__min__{c}"))
        aggs.append(F.max(q).alias(f"__max__{c}"))
    return aggs


def stats_are_fresh(path: str) -> bool:
    """True iff a ``_STATS.json`` exists and its recorded fingerprint still
    matches the live data files — pure metadata, no Spark session."""
    p = os.path.join(path, STATS_FILE)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as fh:
            recorded = json.load(fh)["fingerprint"]
    except (OSError, ValueError, KeyError):
        return False
    return [list(x) for x in recorded] == _table_fingerprint(path)


def update_table_stats(spark: SparkSession, path: str) -> dict:
    """Incremental ANALYZE over the per-file partials (the 100 TB
    maintained-table posture): fold the manifest forward to the CURRENT
    file layout, scanning only files the manifest has never seen.

    - **Appends** scan the new files once (per-file partials, one job).
    - **Removals and rewrites** (merge_upsert, apply_retention,
      purge_rows, compaction) drop/replace the affected partials; the
      table section re-derives from the survivors — rows and null counts
      re-sum exactly, min/max re-fold, and ndv re-unions the surviving
      HLL sketches (register-wise max, so the result is bit-identical to
      a full recompute).  A CDC-merged table's planners are never a full
      recollect behind (r8 verdict #1).
    - **Schema drift folds honestly**: files missing a manifest column
      contribute their rows as NULLs; new columns enter with stats from
      the files that carry them and null_count covering every older row
      (exactly what a mergeSchema recompute would report).

    No-op (returns the manifest) when nothing changed.  Raises
    :class:`ValueError` on a manifest that predates per-file partials —
    run :func:`collect_table_stats` once to upgrade the format."""
    p = os.path.join(path, STATS_FILE)
    if not os.path.exists(p):
        raise ValueError(
            f"update_table_stats: no {STATS_FILE} at {path!r} — run "
            "collect_table_stats first"
        )
    with open(p) as fh:
        manifest = json.load(fh)
    if "files" not in manifest:
        raise ValueError(
            "update_table_stats: the manifest predates per-file partials "
            "(pre-r9 format) — run collect_table_stats once to upgrade"
        )
    recorded = {tuple(x) for x in manifest["fingerprint"]}
    current_fp = _table_fingerprint(path)
    current = {tuple(x) for x in current_fp}
    if recorded == current:
        return manifest

    partials: dict[str, dict] = manifest["files"]
    for rel, _size in recorded - current:
        partials.pop(rel, None)  # removed or rewritten: subtract by re-derive
    types = {c: s["type"] for c, s in manifest["columns"].items()}
    added = current - recorded
    if added:
        new_partials, batch_types = _file_partials(
            spark, path, sorted({rel for rel, _size in added})
        )
        for c, t in batch_types.items():
            types.setdefault(c, t)  # schema evolution: adopt new columns
        partials.update(new_partials)

    rows, columns = _derive_table_stats(spark, partials, types)
    manifest = {
        "rows": rows,
        "columns": columns,
        "files": partials,
        "fingerprint": current_fp,
    }
    fsops.write_atomic(os.path.join(path, STATS_FILE), json.dumps(manifest, indent=1))
    return manifest


def refresh_table_stats(spark: SparkSession, path: str) -> dict | None:
    """The post-destructive-write stats remedy every maintenance writer
    shares: incremental fold when the manifest carries per-file partials,
    one full recollect otherwise (legacy manifests).  No-op returning
    None when the table has no manifest at all — a table nobody ever
    ANALYZEd owes the planners nothing."""
    if not os.path.exists(os.path.join(path, STATS_FILE)):
        return None
    try:
        return update_table_stats(spark, path)
    except ValueError:
        return collect_table_stats(spark, path)


def vacuum(path: str, keep_purge_manifests: int = 5, lease=None) -> dict:
    """Housekeeping sweep for a maintained table — pure filesystem
    metadata, no Spark session, so it costs the same at 100 TB as at 100
    rows:

    1. Roll forward (or discard) any crashed compaction/purge swap
       (:func:`_resume_tree` — the same protocol the executors run on
       entry, available here for tables nobody is compacting right now).
    2. Sweep crashed writers' ``*.tmp`` partials: every writer in this
       repo publishes via temp + atomic rename, so a surviving ``.tmp``
       is always an abandoned attempt, never live data.  Quarantine
       re-drive staging (``*.redrive-staging``) is left alone — it has
       its own adoption protocol and may hold the only copy of a
       crashed drive's snapshot.
    3. Retain only the newest ``keep_purge_manifests`` audit manifests of
       EACH kind (``_PURGE-*`` / ``_MERGE-*`` / ``_RETENTION-*``, by
       mtime) so audit evidence stays bounded.
    4. Drop abandoned ``.merge-insert-staging`` dirs — pre-commit merge
       residue (the change set is the source of truth; a crashed merge
       is re-run anyway).
    5. Drop crashed snapshot builds (``_snapshots/<name>.tmp`` dirs) —
       invisible to readers, safely re-creatable.

    Returns ``{resumed, discarded_stale, tmp_swept,
    purge_manifests_pruned, merge_manifests_pruned,
    retention_manifests_pruned, insert_staging_swept,
    snapshot_tmp_swept, snapshots, snapshot_pinned_bytes}`` — manifest
    pruning is counted PER KIND so the report matches the per-kind
    retention it promises (r8 advisor), and ``snapshot_pinned_bytes``
    quantifies the bytes ONLY snapshots keep alive (inode-exact — what
    :func:`expire_snapshots` would reclaim).
    Runs under the table writer lease: vacuum discards pre-commit staging
    and ``*.tmp`` partials, which would destroy a LIVE writer's in-flight
    work — the lease makes "nobody is compacting right now" enforced
    rather than assumed."""
    with table_lease(path, owner="vacuum", lease=lease) as _held:
        return _vacuum_locked(path, keep_purge_manifests)


def _vacuum_locked(path: str, keep_purge_manifests: int) -> dict:
    resumed, discarded = _resume_tree(path)
    report = {
        "resumed": resumed,
        "discarded_stale": discarded,
        "tmp_swept": 0,
        "purge_manifests_pruned": 0,
        "merge_manifests_pruned": 0,
        "retention_manifests_pruned": 0,
        "insert_staging_swept": 0,
        "snapshot_tmp_swept": 0,
    }
    manifests: dict[str, list[str]] = {"_PURGE-": [], "_MERGE-": [], "_RETENTION-": []}
    pruned_key = {
        "_PURGE-": "purge_manifests_pruned",
        "_MERGE-": "merge_manifests_pruned",
        "_RETENTION-": "retention_manifests_pruned",
    }
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.endswith(".redrive-staging")]
        for d in list(dirnames):
            if d == ".merge-insert-staging":
                shutil.rmtree(os.path.join(dirpath, d), ignore_errors=True)
                dirnames.remove(d)
                report["insert_staging_swept"] += 1
            elif d.endswith(".tmp") and os.path.basename(dirpath) == SNAPSHOT_DIR:
                shutil.rmtree(os.path.join(dirpath, d), ignore_errors=True)
                dirnames.remove(d)
                report["snapshot_tmp_swept"] += 1
        for name in filenames:
            p = os.path.join(dirpath, name)
            if name.endswith(".tmp"):
                try:
                    os.remove(p)
                    report["tmp_swept"] += 1
                except OSError:
                    pass
            elif name.endswith(".json"):
                for prefix, acc in manifests.items():
                    if name.startswith(prefix):
                        acc.append(p)
                        break
    for prefix, acc in manifests.items():
        acc.sort(key=os.path.getmtime, reverse=True)
        for p in acc[keep_purge_manifests:]:
            try:
                os.remove(p)
                report[pruned_key[prefix]] += 1
            except OSError:
                pass
    # pinned-vs-reclaimable: bytes only snapshots keep alive (inode-exact,
    # one stat per file) — the number expire_snapshots would free
    snaps = list_snapshots(path)
    report["snapshots"] = len(snaps)
    report["snapshot_pinned_bytes"] = (
        snapshot_storage_report(path)["total_pinned_bytes"] if snaps else 0
    )
    return report


def _partition_leaves(path: str) -> tuple[list[str], list[tuple[str, dict]]]:
    """Partition columns (in directory order) and every leaf dir with its
    parsed ``col=value`` map — pure filesystem metadata, no Spark, no
    file opened."""
    from urllib.parse import unquote

    part_cols: list[str] = []
    leaves: list[tuple[str, dict]] = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if not any(_is_data_file(f) for f in filenames):
            continue
        rel = os.path.relpath(dirpath, path)
        vals: dict[str, str | None] = {}
        if rel != ".":
            for seg in rel.split(os.sep):
                if "=" not in seg:
                    return [], []  # not a hive layout
                c, v = seg.split("=", 1)
                vals[c] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                )
        for c in vals:
            if c not in part_cols:
                part_cols.append(c)
        leaves.append((dirpath, vals))
    return part_cols, leaves


# Strict forms matching what Spark's partition inference itself accepts.
# Python's int()/float()/date.fromisoformat() are LOOSER (underscored
# literals '1_0', Unicode digits, 'inf'/'nan', compact ISO dates on
# 3.11+) — typing a value here that Spark's scan path would leave as a
# string would evaluate the retention predicate under a different typing
# than the reader and retire the wrong leaves (r8 advisor).
_PART_INT_RE = re.compile(r"^-?[0-9]+$")
_PART_FLOAT_RE = re.compile(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$")
_PART_DATE_RE = re.compile(r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$")


def _infer_partition_type(values: list) -> str:
    """Spark's partition-value inference, simplified: int -> double ->
    date -> string over the non-NULL value set.  Values are validated by
    STRICT regexes, not Python's permissive parsers, so only values
    Spark's own reader would type as non-string take the metadata fast
    path."""
    import datetime

    nonnull = [v for v in values if v is not None]
    if not nonnull:
        return "string"
    if all(_PART_INT_RE.match(v) for v in nonnull):
        return "bigint"
    if all(_PART_FLOAT_RE.match(v) for v in nonnull):
        return "double"
    if all(_PART_DATE_RE.match(v) for v in nonnull):
        try:
            for v in nonnull:
                datetime.date.fromisoformat(v)  # month/day range check
            return "date"
        except ValueError:
            pass
    return "string"


def apply_retention(
    spark: SparkSession,
    path: str,
    predicate: str,
    verify: bool = True,
    refresh_stats: bool = False,
    lease=None,
) -> dict:
    """Retention executor — apply the TTL policy q306 sized: delete every
    row matching ``predicate`` (rows to RETIRE).

    **Metadata-only fast path**: when the predicate references ONLY
    partition columns, whole leaf directories retire under the shared
    marker/roll-forward protocol WITHOUT reading a single data file — the
    partition values are parsed from the directory names, typed by the
    same inference Spark's reader uses, and the predicate is evaluated
    driver-side over that leaf-count-sized table.  At 100 TB a
    "drop data older than N years" policy on a date-partitioned table
    costs a directory listing, not a scan (``purge_rows`` would scan to
    find hits even for pure partition predicates).

    Any predicate touching a data column falls back to
    :func:`purge_rows` (scan-priced, file-pruned).  Evidence lands as
    ``_RETENTION-<gen>.json`` at the table root.  ``refresh_stats=True``
    folds ``_STATS.json`` forward afterwards (:func:`refresh_table_stats`
    — in the fast path a removal-only fold that opens ZERO data files:
    retired partials drop, survivors re-derive).  Returns ``{mode,
    n_deleted, files_retired, bytes_retired, partitions_touched, resumed,
    discarded_stale, generation}`` — ``n_deleted`` is None in the fast
    path (row counts would require opening files; the sizing query is the
    row-grain answer).  Runs under the table writer lease
    (``operators/lease.py``): a concurrent maintenance writer raises
    ``LeaseHeldError`` instead of interleaving."""
    with table_lease(path, owner="retention", lease=lease) as held:
        return _apply_retention_locked(
            spark, path, predicate, verify, refresh_stats, held
        )


def _apply_retention_locked(
    spark: SparkSession,
    path: str,
    predicate: str,
    verify: bool,
    refresh_stats: bool,
    lease,
) -> dict:
    import uuid as _uuid

    part_cols, leaves = _partition_leaves(path)
    fast = False
    matched: list[str] = []
    if part_cols:
        # the predicate is partition-only iff it ANALYZES against a frame
        # holding just the typed partition columns — no expression parsing
        by_col = {c: [vals.get(c) for _leaf, vals in leaves] for c in part_cols}
        # infer each column's type ONCE — per-cell re-inference would make
        # this "metadata-priced" path O(leaves^2) on the driver
        col_type = {c: _infer_partition_type(by_col[c]) for c in part_cols}
        schema = ", ".join(
            f"`{c}` {col_type[c]}" for c in part_cols
        ) + ", __leaf string"

        def _typed(c: str, v: str | None):
            t = col_type[c]
            if v is None:
                return None
            if t == "bigint":
                return int(v)
            if t == "double":
                return float(v)
            if t == "date":
                import datetime

                return datetime.date.fromisoformat(v)
            return v

        rows = [
            tuple(_typed(c, vals.get(c)) for c in part_cols) + (leaf,)
            for leaf, vals in leaves
        ]
        pdf = spark.createDataFrame(rows, schema)
        try:
            matched = [r["__leaf"] for r in pdf.filter(predicate).collect()]
            fast = True
        except Exception:
            fast = False  # references a data column -> scan path

    if not fast:
        report = purge_rows(
            spark, path, predicate, verify=verify,
            refresh_stats=refresh_stats, lease=lease,
        )
        report["mode"] = "scan"
        report["bytes_retired"] = None
        return report

    resumed, discarded = _resume_tree(path)
    report = {
        "mode": "partition",
        "n_deleted": None,
        "files_retired": 0,
        "bytes_retired": 0,
        "partitions_touched": 0,
        "resumed": resumed,
        "discarded_stale": discarded,
        "generation": None,
    }
    if not matched:
        return report
    gen = _uuid.uuid4().hex[:12]
    report["generation"] = gen
    retired_leaves = []
    for leaf in sorted(matched):
        names = sorted(n for n in fsops.listdir(leaf) if _is_data_file(n))
        if not names:
            continue
        staging = os.path.join(leaf, STAGING_DIR)
        shutil.rmtree(staging, ignore_errors=True)  # pre-commit residue only
        os.makedirs(os.path.join(staging, "data"), exist_ok=True)
        olds = [[n, os.path.getsize(os.path.join(leaf, n))] for n in names]
        lease.check()  # fencing gate: die pre-commit if the lease was stolen
        _write_marker(staging, gen, olds, prefix="retired")  # commit point
        _finish_swap(leaf, staging, gen, [tuple(o) for o in olds], prefix="retired")
        report["files_retired"] += len(olds)
        report["bytes_retired"] += sum(s for _n, s in olds)
        report["partitions_touched"] += 1
        retired_leaves.append(os.path.relpath(leaf, path))
        # with every data file retired, the Hadoop .crc sidecars are
        # orphans — sweep them, then prune the empty directory chain
        if not any(_is_data_file(n) for n in os.listdir(leaf)):
            for n in os.listdir(leaf):
                if n.startswith(".") and n.endswith(".crc"):
                    os.remove(os.path.join(leaf, n))
        d = leaf
        while d != path and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)

    audit = {
        "generation": gen,
        "predicate": predicate,
        "mode": "partition",
        "leaves_retired": retired_leaves,
        "files_retired": report["files_retired"],
        "bytes_retired": report["bytes_retired"],
        # hardlinked snapshots pin retention-retired bytes exactly as they
        # pin purge-retired ones — record the drop_snapshot follow-up owed
        # (mirrors purge_rows' audit; r8 advisor)
        "snapshots_pinning_bytes": list_snapshots(path),
    }
    fsops.write_atomic(
        os.path.join(path, f"_RETENTION-{gen}.json"), json.dumps(audit, indent=1)
    )
    if refresh_stats:
        # removal-only fold: retired partials drop, the table section
        # re-derives from survivors — no data file opened (the fast
        # path's zero-scan property extends to its stats remedy)
        refresh_table_stats(spark, path)
    return report


def optimize_layout(
    spark: SparkSession,
    path: str,
    target_mb: int | None = None,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    candidates: list[str] | None = None,
    verify: bool = True,
    zorder_cols: list[str] | None = None,
    lease=None,
) -> dict:
    """One maintenance pass closing the planner -> executor loop for
    physical layout (the Delta OPTIMIZE ... ZORDER BY analogue, key
    chosen FROM STATS): :func:`bigquack_spark.operators.planner.
    recommend_cluster_key` picks the range-clustering key from the fresh
    ``_STATS.json`` (highest-ndv rangeable column — what footer pruning
    feeds on), then :func:`compact_small_files` rewrites undersized
    partitions bin-packed AND range-clustered on it in the same
    checksum-verified, crash-safe pass.  Raises StaleStatsError when the
    manifest is missing/stale (collect first — planning on stale ndv
    would cluster tomorrow's data on yesterday's key); with no viable
    key the pass compacts unclustered.

    ``zorder_cols`` (>= 2 columns, e.g. from
    ``recommend_layout_from_log``'s usage ranking) overrides the
    single-key recommendation: the rewrite Z-order-clusters so
    predicates on ANY listed column prune files.  Returns the
    compaction report plus ``cluster_key``."""
    from bigquack_spark.operators.planner import recommend_cluster_key

    # hive-partition columns are constant per leaf (nothing to range-
    # cluster) AND absent from the leaf-file frames the compaction pass
    # reads — clustering on one would crash the rewrite (r8 review pass 3)
    part_cols, _leaves = _partition_leaves(path)
    if zorder_cols:
        bad = [c for c in zorder_cols if c in part_cols]
        if bad:
            raise ValueError(
                f"optimize_layout: zorder_cols {bad!r} are hive-partition "
                "columns — constant per leaf, nothing to cluster"
            )
        from bigquack_spark.operators.planner import load_fresh_stats

        load_fresh_stats(path)  # same freshness gate as the keyed path
        with table_lease(path, owner="optimize_layout", lease=lease) as held:
            report = compact_small_files(
                spark,
                path,
                target_mb=target_mb,
                target_file_bytes=target_file_bytes,
                cluster_cols=list(zorder_cols),
                verify=verify,
                zorder=True,
                lease=held,
            )
        report["cluster_key"] = {"zorder": list(zorder_cols)}
        return report
    stats_cols = None
    if candidates is not None:
        stats_cols = [c for c in candidates if c not in part_cols]
    elif part_cols:
        from bigquack_spark.operators.planner import load_fresh_stats

        stats_cols = [
            c for c in load_fresh_stats(path)["columns"] if c not in part_cols
        ]
    rec = recommend_cluster_key(path, stats_cols)  # freshness-gated
    # one lease spans planning AND the compaction it drives; the inner
    # pass composes under it instead of racing for its own
    with table_lease(path, owner="optimize_layout", lease=lease) as held:
        report = compact_small_files(
            spark,
            path,
            target_mb=target_mb,
            target_file_bytes=target_file_bytes,
            cluster_cols=[rec["column"]] if rec else None,
            verify=verify,
            lease=held,
        )
    report["cluster_key"] = rec
    return report


SNAPSHOT_DIR = "_snapshots"


def _validate_snapshot_name(name: str) -> None:
    """Shared by create AND drop: a traversal name must never reach a
    filesystem call (drop_snapshot rmtree's the resolved path — r8 review
    pass 3), and a ``.tmp`` suffix would collide with the crashed-build
    convention vacuum sweeps and list_snapshots hides."""
    if (
        not name
        or "/" in name
        or os.sep in name
        or name.startswith(".")
        or ".." in name
        or name.endswith(".tmp")
    ):
        raise ValueError(f"invalid snapshot name {name!r}")


def snapshot_table(path: str, name: str, lease=None) -> dict:
    """Zero-copy table snapshot (plain-parquet time travel, the
    Delta/Iceberg VERSION AS OF analogue): hardlink every data file into
    ``_snapshots/<name>/data/<leaf-relative-path>`` and record the
    manifest.  Metadata-priced — no bytes copied, no Spark session; safe
    because every writer in this repo publishes NEW files and retires old
    ones (nothing ever mutates parquet bytes in place), so a hardlinked
    snapshot stays bit-stable under later compaction/purge/merge.

    Published atomically: the snapshot is built under ``<name>.tmp`` and
    renamed into place, so a crashed snapshot is invisible.  Falls back
    to a copy per file when hardlinks are unsupported (cross-device; an
    object-store deployment pins manifests instead — format-level time
    travel).  GDPR NOTE: a snapshot pins bytes — an erasure obligation
    must also :func:`drop_snapshot` (or re-snapshot) — ``purge_rows``
    records the snapshots that existed at purge time in its audit for
    exactly this follow-up.  Holds the table writer lease for the build
    (a writer retiring files mid-hardlink would tear the snapshot across
    generations) and checks it immediately before publish.  Returns
    ``{name, files, bytes}``."""
    _validate_snapshot_name(name)
    snap_root = os.path.join(path, SNAPSHOT_DIR)
    final = os.path.join(snap_root, name)
    if os.path.exists(final):
        raise ValueError(f"snapshot_table: snapshot {name!r} already exists")
    with table_lease(path, owner="snapshot", lease=lease) as held:
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        files = _table_fingerprint(path)
        if not files:
            raise ValueError(
                f"snapshot_table: no data files at {path!r} — nothing to snapshot"
            )
        n_bytes = 0
        for rel, size in files:
            src = os.path.join(path, rel)
            dst = os.path.join(tmp, "data", rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback
            n_bytes += size
        fsops.write_atomic(
            os.path.join(tmp, "manifest.json"),
            json.dumps(
                {"name": name, "files": files, "created_at": _time.time(),
                 "bytes": n_bytes},
                indent=1,
            ),
        )
        os.makedirs(snap_root, exist_ok=True)
        held.check()  # fencing gate: never publish a torn snapshot
        fsops.replace(tmp, final)
    return {"name": name, "files": len(files), "bytes": n_bytes}


def list_snapshots(path: str) -> list[str]:
    snap_root = os.path.join(path, SNAPSHOT_DIR)
    if not os.path.isdir(snap_root):
        return []
    return sorted(
        d for d in os.listdir(snap_root)
        if not d.endswith(".tmp")
        and os.path.isfile(os.path.join(snap_root, d, "manifest.json"))
    )


def drop_snapshot(path: str, name: str) -> bool:
    """Release a snapshot's pinned bytes (hardlinks drop; bytes free once
    no live file references them).  The erasure follow-up
    :func:`snapshot_table` documents."""
    _validate_snapshot_name(name)
    final = os.path.join(path, SNAPSHOT_DIR, name)
    if not os.path.isdir(final):
        return False
    shutil.rmtree(final)
    return True


def _snapshot_created_at(path: str, name: str) -> float:
    """Manifest ``created_at`` (written since r9), directory mtime for
    older snapshots — good enough to order an expiry policy."""
    manifest = os.path.join(path, SNAPSHOT_DIR, name, "manifest.json")
    try:
        with open(manifest) as fh:
            rec = json.load(fh)
        if "created_at" in rec:
            return float(rec["created_at"])
    except (OSError, ValueError):
        pass
    return os.path.getmtime(os.path.join(path, SNAPSHOT_DIR, name))


def _inode_sizes(root: str) -> dict[int, int]:
    """inode -> size over every data file under ``root``.  Hardlinked
    copies share an inode, so set arithmetic over these keys answers
    'which bytes does ONLY this reference keep alive' exactly — the
    physical truth a du-style per-directory sum cannot give."""
    out: dict[int, int] = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for n in filenames:
            if _is_data_file(n):
                st = os.stat(os.path.join(dirpath, n))
                out[st.st_ino] = st.st_size
    return out


def snapshot_storage_report(path: str) -> dict:
    """Pinned-vs-live accounting for every snapshot (metadata-priced: one
    ``os.stat`` per file, no Spark, no bytes read).

    Hardlinked snapshots share inodes with the live table, so a snapshot
    costs storage only for files the table has since retired (compaction,
    purge, merge, retention).  Returns ``{snapshots: {name: {files,
    bytes, created_at, pinned_bytes, reclaimable_bytes}},
    total_pinned_bytes}`` where per snapshot ``pinned_bytes`` counts bytes
    no longer referenced by the LIVE table (kept alive by snapshots) and
    ``reclaimable_bytes`` counts bytes that would actually free if ONLY
    this snapshot were dropped (not pinned by any sibling snapshot
    either); ``total_pinned_bytes`` counts each pinned inode once —
    exactly what dropping ALL snapshots would free.  This is the
    `snapshots_pinning_bytes` audit trail made quantitative: the erasure
    follow-up can now be sized, not just named."""
    live = _inode_sizes(path)
    per_snap: dict[str, dict[int, int]] = {
        name: _inode_sizes(os.path.join(path, SNAPSHOT_DIR, name, "data"))
        for name in list_snapshots(path)
    }
    report: dict = {"snapshots": {}, "total_pinned_bytes": 0}
    pinned_union: dict[int, int] = {}
    for name, inodes in per_snap.items():
        pinned = {i: s for i, s in inodes.items() if i not in live}
        pinned_union.update(pinned)
        reclaimable = {
            i: s
            for i, s in pinned.items()
            if not any(i in other for o, other in per_snap.items() if o != name)
        }
        report["snapshots"][name] = {
            "files": len(inodes),
            "bytes": sum(inodes.values()),
            "created_at": _snapshot_created_at(path, name),
            "pinned_bytes": sum(pinned.values()),
            "reclaimable_bytes": sum(reclaimable.values()),
        }
    report["total_pinned_bytes"] = sum(pinned_union.values())
    return report


def expire_snapshots(
    path: str,
    older_than_s: float | None = None,
    keep_last: int | None = None,
    lease=None,
) -> dict:
    """Snapshot retention — the expiry half :func:`snapshot_table` owed
    (r8 verdict #4; the Iceberg ``expire_snapshots(older_than,
    retain_last)`` analogue): drop every snapshot older than
    ``older_than_s`` seconds, always retaining the newest ``keep_last``
    regardless of age.  At least one of the two must be given (an
    unbounded expiry is an operator error, not a default).

    Byte accounting is inode-exact: ``bytes_freed`` counts bytes whose
    ONLY remaining reference was the expired snapshots (each inode once),
    so a purge-then-expire erasure obligation can prove the bytes
    actually left the disk; ``bytes_still_pinned`` is what the surviving
    snapshots keep alive.  Runs under the table writer lease — expiring a
    snapshot out from under a live restore would tear the restore's
    hardlink source."""
    if older_than_s is None and keep_last is None:
        raise ValueError(
            "expire_snapshots: pass older_than_s and/or keep_last — "
            "expiring every snapshot unconditionally must be spelled "
            "keep_last=0"
        )
    with table_lease(path, owner="expire_snapshots", lease=lease):
        now = _time.time()
        snaps = sorted(
            list_snapshots(path),
            key=lambda n: (_snapshot_created_at(path, n), n),
            reverse=True,
        )
        protected = set(snaps[: keep_last or 0])
        expired = [
            n
            for n in snaps
            if n not in protected
            and (
                older_than_s is None
                or now - _snapshot_created_at(path, n) > older_than_s
            )
        ]
        kept = [n for n in snaps if n not in expired]

        live = _inode_sizes(path)
        surviving: dict[int, int] = {}
        for n in kept:
            surviving.update(_inode_sizes(os.path.join(path, SNAPSHOT_DIR, n, "data")))
        freed: dict[int, int] = {}
        for n in expired:
            for i, s in _inode_sizes(
                os.path.join(path, SNAPSHOT_DIR, n, "data")
            ).items():
                if i not in live and i not in surviving:
                    freed[i] = s
        still_pinned = sum(s for i, s in surviving.items() if i not in live)
        for n in expired:
            shutil.rmtree(os.path.join(path, SNAPSHOT_DIR, n))
    return {
        "expired": expired,
        "kept": kept,
        "bytes_freed": sum(freed.values()),
        "bytes_still_pinned": still_pinned,
    }


def restore_snapshot(
    spark: SparkSession,
    path: str,
    name: str,
    verify: bool = True,
    dry_run: bool = False,
    lease=None,
) -> dict:
    """Roll the table back to a snapshot, leaf by leaf, under the shared
    marker/roll-forward protocol: per leaf, files not in the snapshot are
    retired and missing snapshot files are re-published (hardlinked from
    the snapshot — still zero-copy) as ``restored-<gen>-`` news; a file
    present with identical (name, size) is left untouched.  With
    ``verify`` the restored table must checksum-equal the snapshot's
    bytes read directly.  Content-identical, not name-identical (the
    protocol's generation prefix renames re-published files — checksums,
    not fingerprints, are the equality claim).  Crash mid-restore rolls
    forward via ``_resume_tree`` like every other maintenance swap.
    ``dry_run=True`` returns the same accounting (plus byte totals) from
    fingerprint arithmetic alone — no lease, no Spark job, nothing
    touched — the free preview before rolling back a 100 TB table.
    Returns ``{files_restored, files_retired, partitions_touched}``."""
    snap = os.path.join(path, SNAPSHOT_DIR, name)
    manifest_p = os.path.join(snap, "manifest.json")
    if not os.path.isfile(manifest_p):
        raise ValueError(f"restore_snapshot: no snapshot {name!r} at {path!r}")
    with open(manifest_p) as fh:
        want_files = [tuple(x) for x in json.load(fh)["files"]]
    if dry_run:
        # metadata-only preview: the same want/have fingerprint diff the
        # real pass walks, priced per leaf, touching nothing — pair with
        # diff_snapshots for the row-grain answer.  A crashed swap
        # pending roll-forward would make this preview diverge from the
        # real pass (which resumes first) — refuse loudly rather than
        # silently previewing the half-swapped state (r9 review).
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if not d.startswith("_")]
            if (
                os.path.basename(dirpath) == STAGING_DIR
                and MARKER in filenames
            ):
                raise RuntimeError(
                    f"restore_snapshot(dry_run=True): a crashed swap is "
                    f"pending roll-forward under {os.path.dirname(dirpath)!r}"
                    " — run vacuum (or any maintenance writer) to resume "
                    "it, then re-preview"
                )
        have = {rel: size for rel, size in _table_fingerprint(path)}
        want = {rel: size for rel, size in want_files}
        news = {f: s for f, s in want.items() if have.get(f) != s}
        olds = {f: s for f, s in have.items() if want.get(f) != s}
        leaves = {os.path.dirname(f) for f in news} | {
            os.path.dirname(f) for f in olds
        }
        return {
            "dry_run": True,
            "files_restored": len(news),
            "files_retired": len(olds),
            "bytes_restored": sum(news.values()),
            "bytes_retired": sum(olds.values()),
            "partitions_touched": len(leaves),
        }
    with table_lease(path, owner="restore", lease=lease) as held:
        return _restore_snapshot_locked(
            spark, path, name, verify, want_files, snap, held
        )


def _restore_snapshot_locked(
    spark: SparkSession,
    path: str,
    name: str,
    verify: bool,
    want_files: list[tuple],
    snap: str,
    lease,
) -> dict:
    _resume_tree(path)

    by_leaf_want: dict[str, dict[str, int]] = {}
    for rel, size in want_files:
        leaf = os.path.normpath(os.path.join(path, os.path.dirname(rel)))
        by_leaf_want.setdefault(leaf, {})[os.path.basename(rel)] = size
    by_leaf_have: dict[str, dict[str, int]] = {}
    for rel, size in _table_fingerprint(path):
        leaf = os.path.normpath(os.path.join(path, os.path.dirname(rel)))
        by_leaf_have.setdefault(leaf, {})[os.path.basename(rel)] = size

    report = {"files_restored": 0, "files_retired": 0, "partitions_touched": 0}
    gen = uuid.uuid4().hex[:12]
    for leaf in sorted(set(by_leaf_want) | set(by_leaf_have)):
        want = by_leaf_want.get(leaf, {})
        have = by_leaf_have.get(leaf, {})
        olds = [[n, s] for n, s in sorted(have.items()) if want.get(n) != s]
        news = [n for n, s in sorted(want.items()) if have.get(n) != s]
        # unaffected files MUST ride the marker as `others` or the resume
        # adoption gate reads them as a rebuilt-underneath partition and
        # discards the crashed restore's staging (the r7 partial-leaf
        # purge bug, restore flavor — r8 review pass 3)
        unaffected = [
            [n, s] for n, s in sorted(have.items()) if want.get(n) == s
        ]
        if not olds and not news:
            continue
        staging = os.path.join(leaf, STAGING_DIR)
        shutil.rmtree(staging, ignore_errors=True)
        data_dir = os.path.join(staging, "data")
        os.makedirs(data_dir, exist_ok=True)
        rel_leaf = os.path.relpath(leaf, path)
        for n in news:
            src = os.path.join(
                snap, "data", n if rel_leaf == "." else os.path.join(rel_leaf, n)
            )
            dst = os.path.join(data_dir, n)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        os.makedirs(leaf, exist_ok=True)
        lease.check()  # fencing gate: die pre-commit if the lease was stolen
        _write_marker(staging, gen, olds, prefix="restored", others=unaffected)
        _finish_swap(leaf, staging, gen, [tuple(o) for o in olds], prefix="restored")
        report["files_restored"] += len(news)
        report["files_retired"] += len(olds)
        report["partitions_touched"] += 1
        if not any(_is_data_file(x) for x in os.listdir(leaf)):
            for x in os.listdir(leaf):
                if x.startswith(".") and x.endswith(".crc"):
                    os.remove(os.path.join(leaf, x))
            d = leaf
            while d != path and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)

    if verify:
        want_df = spark.read.parquet(os.path.join(snap, "data"))
        got_df = spark.read.parquet(path)
        want_ck = _checksum_row(want_df.select(*sorted(want_df.columns)))
        got_ck = _checksum_row(got_df.select(*sorted(got_df.columns)))
        if want_ck != got_ck:
            raise RuntimeError(
                f"restore_snapshot: restored table does not checksum-match "
                f"snapshot {name!r} (want {want_ck}, got {got_ck})"
            )
    return report


def read_snapshot(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Time-travel read: the table exactly as snapshotted — a plain scan
    of the snapshot's hardlinked files (partition columns resolve from
    the mirrored hive layout), zero coordination with the live table."""
    snap = os.path.join(path, SNAPSHOT_DIR, name)
    if not os.path.isfile(os.path.join(snap, "manifest.json")):
        raise ValueError(f"read_snapshot: no snapshot {name!r} at {path!r}")
    return spark.read.parquet(os.path.join(snap, "data"))


def diff_snapshots(
    spark: SparkSession,
    path: str,
    a: str,
    b: str | None = None,
    key_cols: list[str] | None = None,
) -> dict:
    """What changed between snapshot ``a`` and snapshot ``b`` (or the live
    table when ``b`` is None) — the time-travel diff that prices a
    restore before anyone runs it.

    Two grains, priced independently:

    - **File level** (metadata-only — manifest/fingerprint set
      arithmetic, no Spark job): files and bytes added/removed.  At
      100 TB this is the free preview.
    - **Row level** (scan-priced): without ``key_cols``, multiset
      ``exceptAll`` both ways (rows_added / rows_removed — a replaced
      row counts once on each side).  With ``key_cols``, a keyed
      full-outer join comparing a hash of the non-key columns splits the
      delta into rows_added / rows_removed / rows_changed /
      rows_unchanged — the CDC decomposition a re-merge plan needs.

    Reads only, so no lease is taken.  A snapshot-vs-snapshot diff is
    stable under concurrent writers (both sides resolve through
    manifests); a diff against the LIVE side (``b=None``) scans the
    live table — under an active writer, snapshot first (or hold the
    lease) for a consistent read.
    Returns ``{files_added, files_removed, bytes_added, bytes_removed,
    rows_added, rows_removed, rows_changed, rows_unchanged}`` (the keyed
    fields are None without ``key_cols``)."""
    from pyspark.sql import functions as F

    def _manifest(name: str | None) -> dict[str, int]:
        if name is None:
            return {rel: size for rel, size in _table_fingerprint(path)}
        manifest_p = os.path.join(path, SNAPSHOT_DIR, name, "manifest.json")
        if not os.path.isfile(manifest_p):
            raise ValueError(f"diff_snapshots: no snapshot {name!r} at {path!r}")
        with open(manifest_p) as fh:
            return {rel: size for rel, size in json.load(fh)["files"]}

    files_a, files_b = _manifest(a), _manifest(b)
    added = {f: s for f, s in files_b.items() if files_a.get(f) != s}
    removed = {f: s for f, s in files_a.items() if files_b.get(f) != s}

    # union schema, NULL-filling the side that lacks a column: an
    # intersection would silently report rows whose only change is in a
    # schema-evolved column as unchanged (r9 review).  mergeSchema so a
    # mixed-footer (previously evolved) side resolves its own union.
    rd = spark.read.option("mergeSchema", "true")
    df_a = rd.parquet(os.path.join(path, SNAPSHOT_DIR, a, "data"))
    df_b = (
        rd.parquet(os.path.join(path, SNAPSHOT_DIR, b, "data"))
        if b
        else rd.parquet(path)
    )
    types = {f.name: f.dataType for f in df_b.schema.fields}
    types.update({f.name: f.dataType for f in df_a.schema.fields})
    cols = sorted(types)

    def _aligned(df):
        for c in cols:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        return df.select(*cols)

    da, db = _aligned(df_a), _aligned(df_b)

    report = {
        "files_added": len(added),
        "files_removed": len(removed),
        "bytes_added": sum(added.values()),
        "bytes_removed": sum(removed.values()),
        "rows_changed": None,
        "rows_unchanged": None,
    }
    if not key_cols:
        report["rows_added"] = db.exceptAll(da).count()
        report["rows_removed"] = da.exceptAll(db).count()
        return report

    val_cols = [c for c in cols if c not in key_cols]
    # xxhash64 of the stringified non-key columns: one BIGINT per side of
    # the join instead of every column — NULLs are disambiguated from the
    # string 'NULL' by a per-column marker prefix
    def _rowhash(df):
        parts = []
        for c in val_cols:
            parts.append(
                F.when(F.col(c).isNull(), F.lit(f"\x00{c}")).otherwise(
                    F.concat(F.lit(f"\x01{c}"), F.col(c).cast("string"))
                )
            )
        h = F.xxhash64(*parts) if parts else F.lit(0).cast("long")
        return df.select(*key_cols, h.alias("__h"))

    joined = _rowhash(da).alias("a").join(
        _rowhash(db).alias("b"), on=key_cols, how="full_outer"
    )
    agg = joined.agg(
        F.sum(F.col("a.__h").isNull().cast("long")).alias("added"),
        F.sum(F.col("b.__h").isNull().cast("long")).alias("removed"),
        F.sum(
            (F.col("a.__h").isNotNull() & F.col("b.__h").isNotNull()
             & (F.col("a.__h") != F.col("b.__h"))).cast("long")
        ).alias("changed"),
        F.sum(
            (F.col("a.__h").isNotNull() & (F.col("a.__h") == F.col("b.__h"))).cast("long")
        ).alias("unchanged"),
    ).first()
    report["rows_added"] = int(agg["added"] or 0)
    report["rows_removed"] = int(agg["removed"] or 0)
    report["rows_changed"] = int(agg["changed"] or 0)
    report["rows_unchanged"] = int(agg["unchanged"] or 0)
    return report
