"""One-call table autopilot — the maintenance LOOP as a single leased
pass (capstone of the r7-r9 lifecycle work).

Every piece exists on its own: vacuum (roll-forward + sweep), the stats
fold, retention, ROI-gated compaction / layout optimization, snapshot
expiry.  A real deployment runs them on a schedule, in the right order,
under ONE writer lease, with decisions it can audit.  ``maintain_table``
is that schedule body:

1. **Vacuum** — resume any crashed swap, sweep residue (planning must
   see the real layout).
2. **Stats** — heal a stale/missing ``_STATS.json`` (incremental fold
   when partials allow, one seeding collect otherwise) so every later
   decision is metadata-answerable.
3. **Retention** — apply the policy predicate (partition fast path when
   it qualifies), folding stats forward.
4. **Compaction** — ONLY when the metadata-priced ROI clears the policy
   gate (`estimate_compaction_roi`: small-file fraction and task
   reduction); optionally layout-optimized (stats-recommended cluster
   key) instead of plain bin-packing.
5. **Snapshot expiry** — keep_last / older_than policy, inode-exact
   freed-bytes accounting.

Each leg that does not run records WHY (``skipped``), so an operator
reads one report instead of diffing five.  Everything composes under
one lease acquired up front — the pass can never interleave with
another writer, and a healthy table costs a directory walk plus a few
stat calls.

The reference has no maintenance story at all (its tables live for one
pipeline run, bigquack.go:64-141); this is the piece that keeps a
100 TB Spark lakehouse query-efficient for years.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from bigquack_spark.operators.lease import table_lease
from bigquack_spark.operators.maintenance import (
    apply_retention,
    collect_table_stats,
    DEFAULT_TARGET_FILE_BYTES,
    compact_small_files,
    expire_snapshots,
    list_snapshots,
    optimize_layout,
    refresh_table_stats,
    stats_are_fresh,
    vacuum,
)

#: Policy defaults: compaction must clear BOTH gates to run.
DEFAULT_POLICY = {
    "target_file_bytes": DEFAULT_TARGET_FILE_BYTES,
    "compact_min_small_file_fraction": 0.5,
    "compact_min_task_reduction": 1,
    "optimize_layout": False,
    "zorder_cols": None,
    "zorder_from_workload": False,
    "shred_from_workload": False,
    "retention_predicate": None,
    "snapshot_keep_last": None,
    "snapshot_older_than_s": None,
    "keep_manifests": 5,
    "collect_stats_if_missing": True,
}


def maintain_table(
    spark: SparkSession,
    path: str,
    policy: dict | None = None,
    lease=None,
) -> dict:
    """Run the full maintenance pass over ``path`` under ``policy``
    (missing keys take :data:`DEFAULT_POLICY`; unknown keys are
    refused — a typo'd policy knob must not silently no-op).  Returns
    ``{vacuum, stats, retention, compaction, expiry, skipped}`` where
    each leg holds its executor's report (or None) and ``skipped`` maps
    leg name -> reason for every leg that did not run."""
    pol = dict(DEFAULT_POLICY)
    unknown = set(policy or ()) - set(pol)
    if unknown:
        raise ValueError(
            f"maintain_table: unknown policy keys {sorted(unknown)!r} — "
            f"valid keys: {sorted(pol)}"
        )
    pol.update(policy or {})

    report: dict = {
        "vacuum": None,
        "stats": None,
        "retention": None,
        "compaction": None,
        "expiry": None,
        "skipped": {},
    }

    _advice_cache: dict = {}

    def _workload_advice() -> dict | None:
        """One advisor run shared by the zorder and shred legs (a second
        end-to-end run would repeat the stats load, every per-predicate
        analysis probe, and the JSON sample collect).  Refusals —
        empty log (ValueError) or missing/stale stats (StaleStatsError,
        a RuntimeError the zorder leg's compaction gate shadows but the
        shred leg would otherwise crash the whole pass on) — cache as
        None with the reason."""
        if "rec" not in _advice_cache:
            from bigquack_spark.operators.planner import (
                StaleStatsError,
                recommend_layout_from_log,
            )

            try:
                _advice_cache["rec"] = recommend_layout_from_log(spark, path)
            except (ValueError, StaleStatsError) as exc:
                _advice_cache["rec"] = None
                _advice_cache["why"] = str(exc)
        return _advice_cache["rec"]
    with table_lease(path, owner="maintain", lease=lease) as held:
        # 1. heal first: planning must see the rolled-forward layout
        report["vacuum"] = vacuum(
            path, keep_purge_manifests=pol["keep_manifests"], lease=held
        )

        # 2. stats: every later decision reads the manifest
        import os

        from bigquack_spark.operators.maintenance import STATS_FILE

        if stats_are_fresh(path):
            report["stats"] = "fresh"
        elif os.path.exists(os.path.join(path, STATS_FILE)):
            refresh_table_stats(spark, path)
            report["stats"] = "refreshed"
        elif pol["collect_stats_if_missing"]:
            collect_table_stats(spark, path)
            report["stats"] = "collected"
        else:
            report["stats"] = "missing"
            report["skipped"]["compaction"] = (
                "no _STATS.json and collect_stats_if_missing=False — the "
                "ROI gate cannot be evaluated"
            )

        # 3. retention
        if pol["retention_predicate"]:
            report["retention"] = apply_retention(
                spark, path, pol["retention_predicate"],
                refresh_stats=True, lease=held,
            )
        else:
            report["skipped"]["retention"] = "no retention_predicate in policy"

        # 4. ROI-gated compaction / layout optimization
        if "compaction" not in report["skipped"]:
            from bigquack_spark.operators.planner import estimate_compaction_roi

            zcols = pol["zorder_cols"]
            if zcols is None and pol["zorder_from_workload"]:
                # close the capture loop: the Z-order pair comes from
                # what the table's logged queries actually filter on;
                # an empty log just means nothing captured yet — fall
                # through to the keyed/plain path, never guess
                zcols = (_workload_advice() or {}).get("zorder_cols")
                if zcols is None:
                    report["skipped"]["zorder"] = _advice_cache.get(
                        "why",
                        "workload references < 2 rangeable columns",
                    )
            roi = estimate_compaction_roi(
                path, target_file_bytes=pol["target_file_bytes"]
            )
            frac = roi["small_file_fraction"]
            reduction = roi["est_task_reduction"]
            if (
                frac >= pol["compact_min_small_file_fraction"]
                and reduction >= pol["compact_min_task_reduction"]
            ):
                if pol["optimize_layout"] or zcols:
                    report["compaction"] = optimize_layout(
                        spark, path,
                        target_file_bytes=pol["target_file_bytes"],
                        zorder_cols=zcols, lease=held,
                    )
                else:
                    report["compaction"] = compact_small_files(
                        spark, path,
                        target_file_bytes=pol["target_file_bytes"], lease=held,
                    )
                report["compaction"]["roi"] = roi
                if report["compaction"]["partitions_compacted"] == 0:
                    # the global ROI cleared the gate but no single
                    # partition holds >= 2 undersized files (each leaf is
                    # already one file) — planning cost only, record it
                    # as skipped so a healthy table reads as a no-op
                    report["skipped"]["compaction"] = (
                        "ROI gate passed but the plan found no partition "
                        "with >= 2 undersized files"
                    )
                    report["compaction"] = None
            else:
                report["skipped"]["compaction"] = (
                    f"ROI below policy gate: small_file_fraction {frac} < "
                    f"{pol['compact_min_small_file_fraction']} or "
                    f"task_reduction {reduction} < "
                    f"{pol['compact_min_task_reduction']}"
                )

        # 4b. JSON shred advice from the captured workload (r9 verdict #4):
        # PROPOSAL only — a shred changes the table's schema, so the
        # autopilot surfaces the ready-to-use dict (pipeline.transfer's
        # shred= / shred_ingest) instead of rewriting under live readers.
        if pol["shred_from_workload"]:
            report["shred_advice"] = (_workload_advice() or {}).get("shred")
            if report["shred_advice"] is None:
                report["skipped"]["shred"] = _advice_cache.get(
                    "why",
                    "workload log captured no JSON-path extraction",
                )

        # 5. snapshot expiry
        if (
            pol["snapshot_keep_last"] is not None
            or pol["snapshot_older_than_s"] is not None
        ):
            if list_snapshots(path):
                report["expiry"] = expire_snapshots(
                    path,
                    older_than_s=pol["snapshot_older_than_s"],
                    keep_last=pol["snapshot_keep_last"],
                    lease=held,
                )
            else:
                report["skipped"]["expiry"] = "no snapshots to expire"
        else:
            report["skipped"]["expiry"] = "no snapshot policy"
    return report
