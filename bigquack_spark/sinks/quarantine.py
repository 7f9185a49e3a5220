"""Row-level quarantine routing — the per-row complement of sinks/wap.py.

WAP gates a whole batch: one violation and nothing publishes.  Real ingest
feeds are rarely that binary — a 100 TB daily drop with 0.01% malformed
rows should land the 99.99% and park the rest where an operator can triage
them.  This router splits rows by declarative failure predicates (the same
(name, predicate) shape as q258's expectation suite), tags every rejected
row with the rules it violated, and writes BOTH streams in one pass.

Scale posture:
- **One scan, one write.** The router never runs the input twice: the
  quarantine flag becomes a partition column, so one distributed write
  lands good rows under ``quarantined=false/`` and rejects under
  ``quarantined=true/``.  Splitting into two DataFrames and writing each
  would scan the source twice (or force a cache of the whole batch).
- **Counts ride the write** via ``df.observe`` (the r4 verdict #4 rule):
  no post-write re-read for metrics.
- **Rejects carry their evidence**: a ``violated_rules`` column with the
  comma-joined rule names, so triage never re-derives why a row was
  parked.

The reference has no quality surface at all (SURVEY §2.6); this extends
its PENDING/COMMITTED visibility gate (bigquery_write.go:384-394) to row
granularity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigquack_spark.operators import fsops

#: A routing rule: (name, FAILURE predicate as a SQL expression string) —
#: a row violating ANY rule is quarantined.  Same shape as q258's
#: _DQ_RULES so an expectation suite doubles as a routing policy.
Rule = tuple[str, str]

QUARANTINE_COL = "quarantined"
REASON_COL = "violated_rules"


def tag_violations(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Append ``violated_rules`` (comma-joined names of every failed rule;
    NULL for clean rows) and the boolean ``quarantined`` partition flag.
    Pure projection — zero shuffle, whole-stage codegen.

    A predicate must evaluate TRUE to quarantine: a NULL result (SQL
    three-valued logic, e.g. ``v > 5`` on NULL v) passes the row.  Guard
    nullable columns explicitly (``v IS NULL OR v > 5``) when NULL itself
    is a violation."""
    if not rules:
        raise ValueError("tag_violations: at least one rule is required")
    for name, _ in rules:
        if "," in name:
            raise ValueError(f"rule name {name!r} contains ','(the join separator)")
    clash = {QUARANTINE_COL, REASON_COL} & set(df.columns)
    if clash:
        raise ValueError(
            f"tag_violations: input already has column(s) {sorted(clash)} — "
            "the router would silently overwrite them; rename before routing"
        )
    tags = F.array_compact(
        F.array(*[F.when(F.expr(pred), F.lit(name)) for name, pred in rules])
    )
    reason = F.when(F.size(tags) > 0, F.array_join(tags, ","))
    return df.withColumn(REASON_COL, reason).withColumn(
        QUARANTINE_COL, F.col(REASON_COL).isNotNull()
    )


def write_with_quarantine(
    df: DataFrame, base_path: str, rules: list[Rule]
) -> dict:
    """Route ``df`` through ``rules`` and write both streams in ONE pass:
    ``base_path/quarantined=false/`` holds the accepted rows,
    ``base_path/quarantined=true/`` the rejects with their
    ``violated_rules`` evidence.  Returns ``{n_rows, n_quarantined,
    accepted_path, quarantined_path, per_rule}`` with every count derived
    from the write pass itself (df.observe) — no re-read.

    ``base_path`` is REPLACED (mode=overwrite): this is the one-batch
    router.  For continuous ingest use streaming.QuarantineIngestSink,
    which nests the same layout under exactly-once per-batch dirs."""
    from pyspark.sql import Observation

    tagged = tag_violations(df, rules)
    obs = Observation("quarantine_route")
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(QUARANTINE_COL).cast("long")).alias("n_quarantined"),
    ]
    metrics += [
        F.sum(F.expr(pred).cast("long")).alias(f"rule_{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    tagged = tagged.observe(obs, *metrics)
    tagged.write.mode("overwrite").partitionBy(QUARANTINE_COL).parquet(base_path)
    got = obs.get
    return {
        "n_rows": int(got["n_rows"]),
        "n_quarantined": int(got["n_quarantined"] or 0),
        "accepted_path": os.path.join(base_path, f"{QUARANTINE_COL}=false"),
        "quarantined_path": os.path.join(base_path, f"{QUARANTINE_COL}=true"),
        "per_rule": {
            name: int(got[f"rule_{i}"] or 0) for i, (name, _) in enumerate(rules)
        },
    }


def _flag_is(df: DataFrame, value: str):
    # partition-value inference reads the boolean flag back as a string
    # ("true"/"false") — compare via a cast so both read paths work
    return F.lower(F.col(QUARANTINE_COL).cast("string")) == value


def read_accepted(spark: SparkSession, base_path: str) -> DataFrame:
    """The clean stream, evidence columns dropped — what downstream reads."""
    df = spark.read.parquet(base_path)
    return df.filter(_flag_is(df, "false")).drop(QUARANTINE_COL, REASON_COL)


def read_quarantined(spark: SparkSession, base_path: str) -> DataFrame:
    """The triage stream, evidence retained."""
    df = spark.read.parquet(base_path)
    return df.filter(_flag_is(df, "true")).drop(QUARANTINE_COL)


def requarantine(
    spark: SparkSession,
    base_path: str,
    rules: list[Rule],
    repair,
    adopt_staging: bool = False,
) -> dict:
    """Close the triage loop (r5 verdict #5): read the parked rows, apply
    ``repair`` (a ``DataFrame -> DataFrame`` transform; the input carries
    ``violated_rules`` so repairs can target their evidence), re-route the
    result through :func:`tag_violations`, and publish — rows the repair
    fixed land under ``quarantined=false/`` alongside the originally
    accepted data, rows still violating go back to ``quarantined=true/``
    with freshly derived evidence.  Returns ``{n_redriven, n_repaired,
    n_still_quarantined, per_rule}``; repeated calls converge (a second
    run over unrepairable rows changes nothing, and never duplicates
    already-published rows).

    Crash safety (the merge-swap self-heal pattern): the quarantine set is
    first SNAPSHOTTED to a staging dir with a generation marker, then the
    live ``quarantined=true/`` partition is cleared — from that point the
    staged copy is the single source of truth and any rerun rolls FORWARD
    from it: repaired files are republished under a ``redrive-<gen>-``
    prefix (stale partials from a crashed publish are swept by prefix
    before re-publishing), so no crash point loses rows or double-lands
    them.  One data pass over the quarantine set per drive — by posture a
    tiny fraction of the table, so re-driving costs triage-scale, not
    table-scale.

    The marker binds the snapshot to the dataset generation it was taken
    from: it records the ``quarantined=true/`` file list (name, size) at
    snapshot time.  On resume, a live partition that no longer matches
    means the dataset was REBUILT underneath a crashed drive
    (``write_with_quarantine`` is mode=overwrite) — the stale snapshot is
    discarded and the drive re-snapshots from the live data instead of
    deleting the new dataset's quarantine rows.  An absent/empty live
    partition is the normal mid-drive crash state and rolls forward.

    Like the streaming twin (streaming/sink.py ``redrive``), run this
    while no concurrent writer is mutating ``base_path`` — the router and
    re-driver coordinate through the filesystem, not a lock service."""
    import json
    import shutil
    import uuid

    from pyspark.sql import Observation

    staging = base_path.rstrip("/") + ".redrive-staging"
    marker = os.path.join(staging, "_REDRIVE_ID")
    data_dir = os.path.join(staging, "data")
    qdir = os.path.join(base_path, f"{QUARANTINE_COL}=true")
    empty = {"n_redriven": 0, "n_repaired": 0, "n_still_quarantined": 0, "per_rule": {}}

    fdir = os.path.join(base_path, f"{QUARANTINE_COL}=false")

    def _dir_fingerprint(d: str, skip_prefix: str | None = None) -> list[list]:
        if not os.path.isdir(d):
            return []
        return sorted(
            [name, os.path.getsize(os.path.join(d, name))]
            for name in os.listdir(d)
            if name.endswith(".parquet")
            and not (skip_prefix and name.startswith(skip_prefix))
        )

    if os.path.exists(marker):
        # resume path — adoption gate (the batch twin of the streaming
        # redrive's consumed.json gate).  The quarantine partition alone
        # cannot arbitrate: empty is BOTH the normal mid-drive state (we
        # cleared it) and the state after a rebuild that routed zero rows
        # there (r7 review finding).  So the marker also fingerprints the
        # ACCEPTED partition, which the drive itself only ever ADDS
        # redrive-<gen>- files to.
        #
        # Disposition on mismatch depends on what a discard would cost:
        # - live quarantine partition NON-EMPTY and different: discard the
        #   staging silently — the fresh path below re-snapshots the live
        #   rows; nothing is lost.
        # - live quarantine partition EMPTY but the accepted partition
        #   changed: the staged snapshot may be the ONLY copy of the
        #   parked rows, and a changed accepted partition is ambiguous
        #   (dataset rebuilt clean vs content-preserving maintenance
        #   rewriting files).  Refuse to arbitrate destructively: raise
        #   with remediation (delete the staging if the dataset was
        #   rebuilt; pass adopt_staging=True if only maintenance rewrote
        #   the accepted files).
        try:
            with open(marker) as fh:
                recorded = json.load(fh)
            live_q = _dir_fingerprint(qdir)
            live_f = _dir_fingerprint(
                fdir, skip_prefix=f"redrive-{recorded['gen']}-"
            )
            rec_f = recorded.get("false_fingerprint")  # absent: legacy marker
            q_stale = bool(live_q) and live_q != recorded["fingerprint"]
            f_stale = rec_f is not None and live_f != rec_f
            # adopt_staging= only arbitrates the AMBIGUOUS f_stale case
            # (maintenance rewrote accepted files vs rebuild).  q_stale is
            # never ambiguous: a live, different quarantine partition means
            # the dataset was rebuilt under the crashed drive and the fresh
            # path below re-snapshots it losslessly — adopting the stale
            # staging there would republish superseded rows INTO the rebuilt
            # dataset (r7 advisor finding), so the flag must not bypass it.
            if q_stale:
                shutil.rmtree(staging, ignore_errors=True)
            elif not adopt_staging:
                if f_stale:
                    if os.path.isdir(data_dir):
                        raise RuntimeError(
                            "requarantine: the accepted partition changed "
                            "under a crashed re-drive whose staging may hold "
                            "the only copy of the parked rows — cannot tell "
                            "a clean rebuild from content-preserving "
                            f"maintenance.  If the dataset was rebuilt, "
                            f"delete {staging!r} and re-run; if maintenance "
                            "only rewrote accepted files, re-run with "
                            "adopt_staging=True."
                        )
                    shutil.rmtree(staging, ignore_errors=True)  # no data: residue
        except (json.JSONDecodeError, KeyError):
            # unreadable marker: never adopt — re-snapshot from live data
            shutil.rmtree(staging, ignore_errors=True)

    if not os.path.exists(marker):
        # fresh drive: snapshot, then clear the live quarantine partition
        if not os.path.isdir(qdir) or not any(
            f.endswith(".parquet") for f in os.listdir(qdir)
        ):
            return empty
        shutil.rmtree(staging, ignore_errors=True)  # pre-marker residue only
        fingerprint = _dir_fingerprint(qdir)
        false_fingerprint = _dir_fingerprint(fdir)
        read_quarantined(spark, base_path).write.parquet(data_dir)
        fsops.write_atomic(
            marker,
            json.dumps(
                {
                    "gen": uuid.uuid4().hex[:12],
                    "fingerprint": fingerprint,
                    "false_fingerprint": false_fingerprint,
                }
            ),
        )
    with open(marker) as fh:
        gen = json.load(fh)["gen"]
    shutil.rmtree(qdir, ignore_errors=True)  # idempotent on roll-forward

    staged = spark.read.parquet(data_dir)
    repaired = repair(staged)
    if REASON_COL in repaired.columns:
        repaired = repaired.drop(REASON_COL)
    want = {f.name: f.dataType for f in staged.drop(REASON_COL).schema.fields}
    have = {f.name: f.dataType for f in repaired.schema.fields}
    if want != have:
        raise ValueError(
            "requarantine: repair changed the row schema — repaired rows "
            f"must publish alongside accepted data; expected {want}, got {have}"
        )
    tagged = tag_violations(repaired, rules)
    obs = Observation(f"requarantine_{gen}")
    metrics = [
        F.count(F.lit(1)).alias("n_redriven"),
        F.sum(F.col(QUARANTINE_COL).cast("long")).alias("n_still"),
    ] + [
        F.sum(F.expr(pred).cast("long")).alias(f"rule_{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    routed = os.path.join(staging, "routed")
    shutil.rmtree(routed, ignore_errors=True)
    tagged.observe(obs, *metrics).write.partitionBy(QUARANTINE_COL).parquet(routed)
    got = obs.get

    # publish, roll-forward idempotent: (1) sweep this generation's partial
    # files, (2) land repaired files under the generation prefix, (3) move
    # the still-bad partition back, (4) drop staging (the commit point)
    dst_false = os.path.join(base_path, f"{QUARANTINE_COL}=false")
    os.makedirs(dst_false, exist_ok=True)
    for name in os.listdir(dst_false):
        if name.startswith(f"redrive-{gen}-"):
            os.remove(os.path.join(dst_false, name))
    src_false = os.path.join(routed, f"{QUARANTINE_COL}=false")
    if os.path.isdir(src_false):
        for name in os.listdir(src_false):
            if name.startswith("part-"):
                shutil.copy(
                    os.path.join(src_false, name),
                    os.path.join(dst_false, f"redrive-{gen}-{name}"),
                )
    src_true = os.path.join(routed, f"{QUARANTINE_COL}=true")
    if os.path.isdir(src_true) and any(
        f.startswith("part-") for f in os.listdir(src_true)
    ):
        fsops.replace(src_true, qdir)
    shutil.rmtree(staging, ignore_errors=True)
    n_redriven = int(got["n_redriven"])
    n_still = int(got["n_still"] or 0)
    return {
        "n_redriven": n_redriven,
        "n_repaired": n_redriven - n_still,
        "n_still_quarantined": n_still,
        "per_rule": {
            name: int(got[f"rule_{i}"] or 0) for i, (name, _) in enumerate(rules)
        },
    }
