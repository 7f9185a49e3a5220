"""Exactly-once streaming sinks — the Storage Write API offset contract
(bigquery_write.go:448-460) carried into Structured Streaming.

``foreachBatch`` hands each micro-batch a monotonically increasing
``batch_id``; treating it as the append offset gives the managed-writer
idempotence.  :class:`BatchGate` owns that bookkeeping for every
offset-gated sink (the ones below and ``NearDupIngestSink`` /
``Scd2EnrichSink``):

- The committed offset is ``<root>/_COMMITTED_BATCH``, published with
  ``fsops.write_atomic`` next to the data, so the guarantee survives
  process restarts (the in-memory AtomicWriter covers the single-process
  case; this covers the resumed-query case).  An unreadable offset file
  reads as 0: the stream reprocesses rather than crashes.
- A batch id below the committed offset is a replay of a durable batch
  and no-ops.  A new batch lands, then the offset commits; a crash in
  between re-runs the batch on replay, so each sink's landing converges
  when re-run or says in its docstring what the window costs.
- **Reset rule.**  A genuine restart replays at most the one in-flight
  batch, so the first batch id a sink object sees may sit at most one
  below the committed offset.  Anything lower means the streaming
  checkpoint was reset or belongs to another query; the sink raises
  instead of dropping every new batch as a "replay".
- ``lease_table=True`` lands the batch and commits its offset inside the
  table writer lease (``operators/lease.py``), fenced by ``lease.check()``
  before the commit, so maintenance (compaction, merge, purge) and a live
  append serialize: a batch landing while maintenance holds the lease
  fails loudly (``LeaseHeldError``; the stream's retry redelivers it).
  Pure replays stay outside the lease.  Off by default: a sink whose table
  nobody maintains concurrently does not need the extra file ops.

``JoinViewSink`` keeps its own ``_STATE``, because its stream offset
commits together with its revision pointers, and applies the same reset
rule.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigquack_spark.operators import fsops


def _check_first_batch(sink, batch_id: int, committed: int, offset_file: str) -> None:
    """The reset rule (module docstring) for a sink's first batch."""
    # A fresh/relocated streaming checkpoint restarts batch ids at 0
    # while _COMMITTED_BATCH still holds the old high-water mark; the
    # replay gate would then silently DROP every new batch as a
    # "replay" (r11 advice — data loss, not duplicates).  A genuine
    # restart replays at most the one in-flight batch (regression of
    # exactly 1); anything deeper on the run's first batch is a
    # checkpoint/offset mismatch and must fail loudly.
    if batch_id < committed - 1:
        raise RuntimeError(
            f"{type(sink).__name__}: first batch id {batch_id} is far below "
            f"the committed offset {committed} in {offset_file} — the "
            "streaming checkpoint was reset or points at a different query "
            "than this sink's target. Restore the original checkpoint dir, "
            "or clear the target and remove the offset file to restart "
            "ingest from scratch."
        )


class BatchGate:
    """The offset gate every offset-gated ``foreachBatch`` sink lands
    through (module docstring).  A subclass implements :meth:`_land`;
    :meth:`_landed` runs after the offset commit, inside the lease span,
    and :meth:`_replayed` on a replayed batch id."""

    #: owner recorded on the table lease
    lease_owner = "stream-append"

    def __init__(self, root: str, lease_table: bool = False):
        self.lease_table = lease_table
        self._root = root
        self._offset_file = os.path.join(root, "_COMMITTED_BATCH")
        try:
            with open(self._offset_file) as fh:
                self.next_batch_id = json.load(fh)["next_batch_id"]
        except (OSError, ValueError, KeyError):
            self.next_batch_id = 0
        self._first_call = True

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._first_call:
            self._first_call = False
            _check_first_batch(self, batch_id, self.next_batch_id, self._offset_file)
        if batch_id < self.next_batch_id:
            self._replayed(batch_df)
            return
        if not self.lease_table:
            self._commit(batch_df, batch_id, None)
            return
        from bigquack_spark.operators.lease import table_lease

        with table_lease(self._root, owner=self.lease_owner) as held:
            self._commit(batch_df, batch_id, held)

    def _commit(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        self._land(batch_df, batch_id, lease)
        if lease is not None:
            # fencing gate before the offset commit: a batch that outlived
            # the TTL (lease stolen by maintenance) must not publish
            lease.check()
        fsops.write_atomic(self._offset_file, json.dumps({"next_batch_id": batch_id + 1}))
        self.next_batch_id = batch_id + 1
        self._landed(batch_df)

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        raise NotImplementedError

    def _landed(self, batch_df: DataFrame) -> None:
        pass

    def _replayed(self, batch_df: DataFrame) -> None:
        pass


class ExactlyOnceBatchSink(BatchGate):
    """foreachBatch handler that appends each batch to a parquet table.

    Each batch lands in its own ``batch_id=N`` partition directory with
    OVERWRITE mode, so the write itself is idempotent: a crash after the
    data write but before the offset commit (the r2-verdict crash window
    — a plain ``append`` with random part names would re-append on
    replay) just overwrites the same directory with the same rows on
    replay.  Readers ``spark.read.parquet(target)`` as usual — the
    batch_id partition column rides along.

    Usage::

        sink = ExactlyOnceBatchSink(target_dir)
        (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt).trigger(availableNow=True)
            .start().awaitTermination())
    """

    def __init__(self, target: str, lease_table: bool = False):
        super().__init__(target, lease_table)
        self.target = target
        self._migrate_legacy_layout()

    def _migrate_legacy_layout(self) -> None:
        """Pre-r3 versions of this sink appended flat ``part-*`` files at the
        target root; the current layout is ``batch_id=N/`` directories.  A
        mixed-depth target breaks Spark partition discovery ('Conflicting
        directory structures'), so a resumed stream over an old target would
        fail even with a valid offset file.  Absorb legacy flat part-files
        into a ``batch_id=-1`` partition directory (they predate offset
        tracking, so no real batch id claims them; -1 sorts before every
        genuine batch and can never collide with one).  Gated on the offset
        file: every genuine pre-r3 sink target carries _COMMITTED_BATCH, so
        a plain parquet dataset someone points this sink at by mistake is
        left untouched rather than restructured by a constructor side
        effect (r4 review finding)."""
        if not os.path.isfile(self._offset_file):
            return  # never a legacy sink target: do not touch foreign layouts
        try:
            legacy = [
                f
                for f in os.listdir(self.target)
                if f.startswith("part-") and os.path.isfile(os.path.join(self.target, f))
            ]
        except OSError:
            return  # fresh target: nothing to migrate
        if not legacy:
            return
        legacy_dir = os.path.join(self.target, "batch_id=-1")
        os.makedirs(legacy_dir, exist_ok=True)
        for f in legacy:
            fsops.replace(os.path.join(self.target, f), os.path.join(legacy_dir, f))
        for marker in ("_SUCCESS",):
            marker_path = os.path.join(self.target, marker)
            if os.path.isfile(marker_path):
                os.remove(marker_path)

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(self.target, f"batch_id={batch_id}")
        )


class ContinuousRollupSink:
    """Cascading continuous aggregate — the streaming twin of the batch
    ROLLUP (queries/events.q116): a ``foreachBatch`` handler that maintains
    an HOURLY table from the watermarked hourly aggregation stream and
    derives the DAILY tier from the hourly table's state.

    Per batch: (1) upsert the batch's changed hour rows into the hourly
    table (keyed MERGE on (hour_key, event_type) — late data re-emits an
    hour, the merge replaces it); (2) recompute ONLY the touched days from
    the merged hourly table and upsert them into the daily table.  The day
    tier always derives from hourly STATE, never from stream deltas, so
    replays and late-data re-emissions can never double-count — every step
    is idempotent on its key, which is a stronger property than the
    batch-id offset gate (sink above) and composes with it.

    Deployment shape: both tables day-partitioned with
    ``overwrite_partitions`` (or Delta MERGE) so each batch rewrites only
    the touched days, not the table; hours-per-day fan-in keeps the daily
    recompute bounded at 24 rows per (day, type) regardless of event
    volume."""

    def __init__(self, base_dir: str):
        self.hourly = os.path.join(base_dir, "hourly")
        self.daily = os.path.join(base_dir, "daily")

    def _upsert(self, target: str, rows: DataFrame, keys: list[str]) -> None:
        from bigquack_spark.sinks.merge import _recover_orphaned_swap, merge_upsert

        # a crash between merge_upsert's two swap renames leaves the table
        # in a .old- backup with target missing; recover BEFORE the exists
        # check or the fresh-write branch would silently truncate history
        _recover_orphaned_swap(target)
        if not os.path.exists(target):
            rows.write.parquet(target)
        else:
            merge_upsert(rows.sparkSession, target, rows, keys)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        if not batch_df.take(1):
            return
        spark = batch_df.sparkSession
        self._upsert(self.hourly, batch_df, ["hour_key", "event_type"])
        touched_days = batch_df.select(
            F.substring("hour_key", 1, 10).alias("day_key")
        ).distinct()
        hourly_state = spark.read.parquet(self.hourly).withColumn(
            "day_key", F.substring("hour_key", 1, 10)
        )
        day_rows = (
            hourly_state.join(touched_days, "day_key")
            .groupBy("day_key", "event_type")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_value").alias("total_value"),
            )
        )
        self._upsert(self.daily, day_rows, ["day_key", "event_type"])


class SketchRollupSink(BatchGate):
    """Streaming Count-Min rollup — the streaming twin of the batch CMS
    (queries/sketch.q157): a ``foreachBatch`` handler that maintains ONE
    persisted DEPTH x WIDTH counter table by ADDING each micro-batch's
    partial sketch into it.

    Mergeability is the whole point of the sketch: per-batch partials
    combine by counter addition, so the persisted summary stays
    4 KB-class forever while summarizing an unbounded stream.  Addition
    is NOT idempotent, so replay convergence is exactly-once by the
    offset gate, not by idempotence.  With ``lease_table=True`` the
    whole-dir rename swap — the one streaming commit a concurrent
    maintenance writer could tear mid-flight — runs under the lease.

    The partial build is the q157 plan (DEPTH-way projection union +
    map-side-combined groupBy); md5 buckets keep the persisted sketch a
    portable artifact any engine can extend or query."""

    lease_owner = "stream-sketch"

    def __init__(self, target: str, key_col: str, depth: int = 4,
                 width: int = 1024, lease_table: bool = False):
        super().__init__(target, lease_table)
        self.target = target
        self.key_col = key_col
        self.depth = depth
        self.width = width
        self.table = os.path.join(target, "sketch")

    def _partial(self, batch_df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        rows = None
        for j in range(self.depth):
            bucket = (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.lit(j), F.col(self.key_col).cast("string"))),
                        1, 12,
                    ), 16, 10,
                ).cast("bigint") % self.width
            )
            r = batch_df.select(F.lit(j).alias("j"), bucket.alias("bucket"))
            rows = r if rows is None else rows.unionByName(r)
        return rows.groupBy("j", "bucket").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        from bigquack_spark.sinks.merge import _recover_orphaned_swap

        # a crash between the two swap renames below leaves the table in a
        # .old-<id> backup with self.table missing; recover FIRST or the
        # exists() check silently resets the accumulated sketch to this
        # batch's partial (ADVICE r2) — same guard ContinuousRollupSink uses
        _recover_orphaned_swap(self.table)
        spark = batch_df.sparkSession
        partial = self._partial(batch_df)
        if os.path.exists(self.table):
            merged = (
                spark.read.parquet(self.table)
                .unionByName(partial)
                .groupBy("j", "bucket")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )
        else:
            merged = partial
        tmp = self.table + f".staging-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if lease is not None:
            lease.check()  # fencing gate: never swap after losing the table
        if os.path.exists(self.table):
            backup = self.table + f".old-{batch_id}"
            fsops.replace(self.table, backup)
            fsops.replace(tmp, self.table)
            import shutil

            shutil.rmtree(backup, ignore_errors=True)
        else:
            fsops.replace(tmp, self.table)

    def estimate(self, spark, keys: DataFrame, key_col: str) -> DataFrame:
        """CMS point estimates for a bounded key set: min over depth rows
        of the matching counters (the standard CMS upper-bound read)."""
        from pyspark.sql import functions as F

        sketch = spark.read.parquet(self.table)
        probes = None
        for j in range(self.depth):
            bucket = (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("|", F.lit(j), F.col(key_col).cast("string"))),
                        1, 12,
                    ), 16, 10,
                ).cast("bigint") % self.width
            )
            p = keys.select(F.col(key_col), F.lit(j).alias("j"), bucket.alias("bucket"))
            probes = p if probes is None else probes.unionByName(p)
        return (
            probes.join(sketch, ["j", "bucket"], "left")
            .groupBy(key_col)
            .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est"))
        )


class JoinViewSink:
    """Streaming incremental maintenance of a JOIN view — the streaming
    twin of the batch join-IVM (queries/relational.q250): the
    revenue-per-priority aggregate over orders ⋈ lineitem is kept current
    while BOTH base tables grow, without ever recomputing the full join.

    Update rule (the sequenced form of q250's bilinear decomposition):
    every delta — a lineitem micro-batch from the stream, or an orders
    batch via :meth:`add_orders` — joins the OTHER side's CURRENT
    accumulated state, and the resulting partial aggregate is added into
    the view.  Because updates are serialized, each cross term
    (ΔO⋈L_so_far, O_so_far⋈ΔL, and ΔO⋈ΔL via whichever side lands
    second) is counted exactly once — the textbook delta-join rule
    (ΔV = ΔL ⋈ O ∪ L ⋈ ΔO applied in sequence).

    Crash/replay safety is BY CONSTRUCTION, not by hoping merges don't
    double-apply: the view is an event-sourced snapshot chain
    ``view-R = f(view-(R-1), Δ_R)`` where every write OVERWRITES its own
    revision directory, so replaying any revision converges (same input
    snapshot, same delta, same output).  The committed revision pointers
    are persisted atomically LAST; a crash anywhere before that simply
    re-runs the revision.  Delta inputs land in per-revision overwrite
    directories (ExactlyOnceBatchSink's layout), and each SIDE has its
    own committed revision counter: accumulated state reads are filtered
    to ``rev <= committed``, so an UNCOMMITTED delta directory left by a
    crashed update of one side can never leak into the join state that a
    recovery-time update of the OTHER side reads (the interleaved-recovery
    double-count hazard — the crashed delta's cross term would otherwise
    be counted once via state and again when that delta is replayed).

    At 100 TB: per update the work is one delta-sized join against the
    big side (prunable by the delta's key set — broadcast semi-join or
    bucketed layout) plus a view-cardinality merge; the view snapshot is
    key-cardinality rows (5 priorities here), so the snapshot chain costs
    nothing.  State dirs: ``orders/rev=R``, ``lines/rev=R``, ``view-R``."""

    def __init__(self, base_dir: str):
        self.base = base_dir
        self.orders_dir = os.path.join(base_dir, "orders")
        self.lines_dir = os.path.join(base_dir, "lines")
        self._state_file = os.path.join(base_dir, "_STATE")
        os.makedirs(base_dir, exist_ok=True)
        try:
            with open(self._state_file) as fh:
                s = json.load(fh)
            state = s["rev"], s["orders_rev"], s["lines_rev"], s["next_stream_batch"]
        except (OSError, ValueError, KeyError):
            state = 0, 0, 0, 0
        self.rev, self.orders_rev, self.lines_rev, self.next_stream_batch = state
        self._first_call = True

    def _view_path(self, rev: int) -> str:
        return os.path.join(self.base, f"view-{rev}")

    @staticmethod
    def _partial(lines: DataFrame, orders: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint")
        return (
            lines.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(cents).cast("long").alias("revenue_cents"),
            )
        )

    def _accumulated(self, spark, root: str, committed: int) -> DataFrame | None:
        """COMMITTED accumulated state of one side: revision dirs beyond the
        side's committed counter (a crashed, never-committed update) are
        excluded by partition-pruned filter — see the class docstring's
        interleaved-recovery hazard."""
        from pyspark.sql import functions as F

        try:
            subdirs = [d for d in os.listdir(root) if d.startswith("rev=")]
        except OSError:
            return None
        if not subdirs or committed <= 0:
            return None
        return spark.read.parquet(root).filter(F.col("rev") <= committed).drop("rev")

    def _advance(
        self,
        spark,
        delta_partial: DataFrame,
        *,
        orders_rev: int | None = None,
        lines_rev: int | None = None,
        next_stream_batch: int | None = None,
    ) -> None:
        """Write the next view snapshot, then commit ALL counters (the
        side-specific ones passed by the caller) in one atomic persist.
        In-memory counters mutate ONLY after both succeed: if the snapshot
        or the persist raises, this sink object still holds the committed
        state, so a retried/replayed update re-runs the revision instead
        of (a) skipping it via a prematurely-bumped offset gate or (b)
        leaking the uncommitted delta dir into _accumulated()."""
        from pyspark.sql import functions as F

        new_rev = self.rev + 1
        prev = self._view_path(self.rev)
        if self.rev > 0 and os.path.exists(prev):
            merged = (
                spark.read.parquet(prev)
                .unionByName(delta_partial)
                .groupBy("o_orderpriority")
                .agg(
                    F.sum("n_items").cast("long").alias("n_items"),
                    F.sum("revenue_cents").cast("long").alias("revenue_cents"),
                )
            )
        else:
            merged = delta_partial
        # overwrite-own-revision: replaying this revision converges
        merged.write.mode("overwrite").parquet(self._view_path(new_rev))
        committed = {
            "rev": new_rev,
            "orders_rev": self.orders_rev if orders_rev is None else orders_rev,
            "lines_rev": self.lines_rev if lines_rev is None else lines_rev,
            "next_stream_batch": (
                self.next_stream_batch if next_stream_batch is None else next_stream_batch
            ),
        }
        fsops.write_atomic(self._state_file, json.dumps(committed))
        # in-memory counters mutate only after the durable commit succeeded
        self.rev = committed["rev"]
        self.orders_rev = committed["orders_rev"]
        self.lines_rev = committed["lines_rev"]
        self.next_stream_batch = committed["next_stream_batch"]
        stale = self._view_path(new_rev - 2)
        if new_rev >= 2 and os.path.exists(stale):
            import shutil

            shutil.rmtree(stale, ignore_errors=True)

    def add_orders(self, orders_delta: DataFrame) -> None:
        """Ingest an orders batch: joins the COMMITTED accumulated lineitem
        state (the ΔO⋈L term), then becomes part of the orders state for
        every later lineitem batch.  Retry semantics: a crashed add_orders
        left its delta at ``orders/rev=orders_rev+1`` uncommitted; the next
        add_orders (retry or replacement) overwrites that same directory."""
        spark = orders_delta.sparkSession
        rev_dir = os.path.join(self.orders_dir, f"rev={self.orders_rev + 1}")
        orders_delta.write.mode("overwrite").parquet(rev_dir)
        lines = self._accumulated(spark, self.lines_dir, self.lines_rev)
        if lines is None:
            lines = spark.createDataFrame(
                [], "l_orderkey long, l_extendedprice double, l_discount double"
            )
        delta = self._partial(lines, spark.read.parquet(rev_dir))
        self._advance(spark, delta, orders_rev=self.orders_rev + 1)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch handler for the lineitem stream: offset-gated
        (replayed batch ids are no-ops), joins the COMMITTED accumulated
        orders state (the O⋈ΔL term, which also covers ΔO⋈ΔL for orders
        that arrived first — update sequencing makes the terms disjoint)."""
        if self._first_call:
            self._first_call = False
            _check_first_batch(self, batch_id, self.next_stream_batch, self._state_file)
        if batch_id < self.next_stream_batch:
            return  # replayed batch: already folded into the view
        spark = batch_df.sparkSession
        rev_dir = os.path.join(self.lines_dir, f"rev={self.lines_rev + 1}")
        batch_df.write.mode("overwrite").parquet(rev_dir)
        orders = self._accumulated(spark, self.orders_dir, self.orders_rev)
        if orders is None:
            orders = spark.createDataFrame([], "o_orderkey long, o_orderpriority string")
        delta = self._partial(spark.read.parquet(rev_dir), orders)
        self._advance(
            spark, delta, lines_rev=self.lines_rev + 1, next_stream_batch=batch_id + 1
        )

    def view(self, spark) -> DataFrame:
        """The current committed view snapshot.  Before any update has
        committed (rev=0) no view directory exists yet — return an empty
        frame with the view schema instead of a PATH_NOT_FOUND read."""
        if self.rev == 0:
            return spark.createDataFrame(
                [], "o_orderpriority string, n_items long, revenue_cents long"
            )
        return spark.read.parquet(self._view_path(self.rev))


class QuarantineIngestSink(ExactlyOnceBatchSink):
    """Streaming twin of ``sinks/quarantine.write_with_quarantine``: every
    micro-batch is routed through the rule predicates and BOTH streams land
    in one distributed write into the batch's own overwrite directory —
    accepted rows under ``batch_id=N/quarantined=false/``, rejects (with
    their ``violated_rules`` evidence) under ``quarantined=true/``.
    Per-batch accept/reject counts ride the write via ``df.observe`` and
    accumulate in ``self.stats`` for the pipeline's progress ledger (never
    a post-write re-read).  Usage mirrors ExactlyOnceBatchSink.
    """

    def __init__(self, target: str, rules: list[tuple[str, str]]):
        from bigquack_spark.sinks.quarantine import tag_violations  # noqa: F401

        if not rules:
            raise ValueError("QuarantineIngestSink: at least one rule required")
        super().__init__(target)
        self.rules = rules
        self.stats = {"n_rows": 0, "n_quarantined": 0}

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        from pyspark.sql import Observation

        from bigquack_spark.sinks.quarantine import QUARANTINE_COL, tag_violations

        tagged = tag_violations(batch_df, self.rules)
        obs = Observation(f"quarantine_batch_{batch_id}")
        tagged = tagged.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(QUARANTINE_COL).cast("long")).alias("n_quarantined"),
        )
        tagged.write.mode("overwrite").partitionBy(QUARANTINE_COL).parquet(
            os.path.join(self.target, f"batch_id={batch_id}")
        )
        got = obs.get
        self.stats["n_rows"] += int(got["n_rows"])
        self.stats["n_quarantined"] += int(got["n_quarantined"] or 0)

    #: redrive id -> partition dir: negative ids so a re-drive can never
    #: consume an ENGINE batch id (batch_id=-1 is the legacy-migration dir)
    @staticmethod
    def _redrive_dir(rid: int) -> str:
        return f"batch_id={-(2 + rid)}"

    def redrive(self, spark, repair) -> dict:
        """Re-drive every parked row (r5 verdict #5, streaming layout):
        read all ``batch_id=*/quarantined=true`` rows, apply ``repair``
        (sees ``violated_rules``), re-route through the rules, and publish
        the result as its own exactly-once batch — repaired rows under its
        ``quarantined=false/``, still-bad rows under its
        ``quarantined=true/`` — then clear the consumed source partitions.
        Run while the stream is idle (between triggers).

        Re-drives live in their OWN id namespace: output lands under
        ``batch_id=-(2+rid)`` with a separate ``_REDRIVE_COMMITTED``
        counter, so the streaming engine's foreachBatch sequence is never
        consumed — the next genuine micro-batch still writes (r6 review
        fix: publishing at ``next_batch_id`` made the engine's next real
        batch look like a replay and silently dropped it).

        Crash safety: the quarantine set is snapshotted FIRST to
        ``.redrive-staging-r<rid>``, then the exact list of consumed
        partitions is recorded inside the snapshot (``consumed.json`` —
        the adoption gate), and only then are those partitions cleared — a
        rerun rolls forward from the snapshot, clears exactly the recorded
        partitions (quarantined rows that ARRIVED after the snapshot are
        untouched and wait for the next drive; r6 review fix: the previous
        next-batch-id adoption check could discard the only copy of the
        snapshot after the stream advanced), recomputes the routed batch
        into the same dir (overwrite-idempotent), and commits by bumping
        the counter.  A repair that changes the row schema is rejected
        before anything publishes (same gate as requarantine)."""
        import shutil

        from bigquack_spark.sinks.quarantine import (
            QUARANTINE_COL,
            REASON_COL,
            tag_violations,
        )

        marker = os.path.join(self.target, "_REDRIVE_COMMITTED")
        try:
            with open(marker) as fh:
                rid = json.load(fh)["next_redrive_id"]
        except (OSError, ValueError, KeyError):
            rid = 0
        staging = os.path.join(self.target, f".redrive-staging-r{rid}")
        consumed_path = os.path.join(staging, "consumed.json")
        # sweep residue: staging of committed drives (rid moved past them)
        # and torn snapshots (no consumed.json yet — their source
        # partitions are still intact, so a fresh snapshot is safe)
        for name in os.listdir(self.target):
            if name.startswith(".redrive-staging-"):
                path = os.path.join(self.target, name)
                if path != staging or not os.path.exists(consumed_path):
                    shutil.rmtree(path, ignore_errors=True)
        own_dir = self._redrive_dir(rid)
        if not os.path.exists(consumed_path):
            df = spark.read.parquet(self.target)
            q = df.filter(
                F.lower(F.col(QUARANTINE_COL).cast("string")) == "true"
            ).drop(QUARANTINE_COL, "batch_id")
            if not q.take(1):
                return {"n_redriven": 0, "n_repaired": 0, "n_still_quarantined": 0}
            q.write.parquet(os.path.join(staging, "data"))
            consumed = sorted(
                name
                for name in os.listdir(self.target)
                if name.startswith("batch_id=")
                and name != own_dir
                and os.path.isdir(
                    os.path.join(self.target, name, f"{QUARANTINE_COL}=true")
                )
            )
            fsops.write_atomic(consumed_path, json.dumps(consumed))  # snapshot becomes adoptable
        with open(consumed_path) as fh:
            consumed = json.load(fh)
        # clear exactly the partitions the snapshot covered (idempotent)
        for name in consumed:
            shutil.rmtree(
                os.path.join(self.target, name, f"{QUARANTINE_COL}=true"),
                ignore_errors=True,
            )
        staged = spark.read.parquet(os.path.join(staging, "data"))
        repaired = repair(staged)
        if REASON_COL in repaired.columns:
            repaired = repaired.drop(REASON_COL)
        # schema gate (r6 review fix): a type-changing repair would wedge
        # every later read of the mixed-schema target
        want = {f.name: f.dataType for f in staged.drop(REASON_COL).schema.fields}
        have = {f.name: f.dataType for f in repaired.schema.fields}
        if want != have:
            raise ValueError(
                "redrive: repair changed the row schema — repaired rows must "
                f"publish alongside existing batches; expected {want}, got {have}"
            )
        tagged = tag_violations(repaired, self.rules)
        from pyspark.sql import Observation

        obs = Observation(f"redrive_{rid}")
        tagged = tagged.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(QUARANTINE_COL).cast("long")).alias("n_still"),
        )
        tagged.write.mode("overwrite").partitionBy(QUARANTINE_COL).parquet(
            os.path.join(self.target, own_dir)
        )
        got = obs.get
        fsops.write_atomic(marker, json.dumps({"next_redrive_id": rid + 1}))  # commit point
        shutil.rmtree(staging, ignore_errors=True)
        n = int(got["n"])
        n_still = int(got["n_still"] or 0)
        self.stats["n_quarantined"] = max(
            0, self.stats["n_quarantined"] - (n - n_still)
        )
        return {
            "n_redriven": n,
            "n_repaired": n - n_still,
            "n_still_quarantined": n_still,
        }


class StatsMaintainedAppendSink(ExactlyOnceBatchSink):
    """Exactly-once append that keeps the table's ``_STATS.json`` fresh
    INCREMENTALLY (r8 stats loop, streaming leg): after each committed
    batch, the manifest folds in only that batch's files
    (:func:`bigquack_spark.operators.maintenance.refresh_table_stats` —
    rows/nulls add, min/max combine, ndv via HLL union), so the planners
    (``operators/planner.py``) stay metadata-answerable on a table that
    never stops ingesting, at per-batch cost proportional to the BATCH.

    The first committed batch seeds the manifest with a full collect
    (batch-sized — the table IS the batch then).  The fold also handles
    REMOVALS (per-file partials), so a crash-replay that overwrote a
    batch directory under different part names folds forward too.

    With ``lease_table=True`` the stats fold commits INSIDE the same
    lease span as the data write — maintenance can never observe
    data-landed-but-stats-pending."""

    def _landed(self, batch_df: DataFrame) -> None:
        self._ensure_stats(batch_df.sparkSession)

    def _replayed(self, batch_df: DataFrame) -> None:
        # the data is already durable, but a crash may have landed BETWEEN
        # the offset commit and the stats fold — heal the manifest if it
        # is stale instead of assuming it folded (r8 review pass 3;
        # otherwise an availableNow stream with no further batches leaves
        # the planners StaleStatsError forever).  Replays run OUTSIDE the
        # lease: the heal is an atomic manifest replace, and any
        # mid-maintenance staleness it could bless resolves loudly at the
        # next freshness gate.
        self._ensure_stats(batch_df.sparkSession)

    def _ensure_stats(self, spark) -> None:
        from bigquack_spark.operators.maintenance import (
            STATS_FILE,
            collect_table_stats,
            refresh_table_stats,
            stats_are_fresh,
        )

        if not os.path.exists(os.path.join(self.target, STATS_FILE)):
            collect_table_stats(spark, self.target)
        elif not stats_are_fresh(self.target):
            refresh_table_stats(spark, self.target)


class AnnIndexIngestSink(BatchGate):
    """foreachBatch handler: stream embedding batches into a persisted
    IVF(-PQ) index via ``append_to_ivf_index`` — the serving-side ANN
    ingest loop (build once, append per micro-batch, rebuild on drift).

    An index append is NOT naturally idempotent (cell partitions take
    plain appends; a replayed batch would duplicate ids), so the gate's
    ``_COMMITTED_BATCH`` sits at the index ROOT (above the generation
    pointer, so rebuilds preserve it).  The one crash window — append
    durable, offset not — re-appends that batch on replay: probes stay
    CORRECT (both probe paths dropDuplicates on (qid, neighbor_id) by
    design), the duplicate bytes are healed by the next
    ``rebuild_ivf_index`` (which re-materializes from current rows), and
    the window is disclosed here rather than papered over.

    ``drift_check=True`` runs :func:`ivf_cell_drift` after each committed
    batch (partition-column-only scan — no vector bytes) and records the
    index-wide rebuild recommendation on ``last_drift`` / the sink log.
    The sink never rebuilds on its own: a rebuild swaps the generation
    pointer under live probes, which is safe, but WHEN to pay the refit
    is an operator decision (the ``index-rebuild`` CLI verb acts on the
    advice)."""

    def __init__(
        self,
        index_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        drift_check: bool = False,
        drift_threshold: float = 1.5,
    ):
        super().__init__(index_path)
        self.index_path = index_path
        self.id_col = id_col
        self.vec_col = vec_col
        self.drift_check = drift_check
        self.drift_threshold = drift_threshold
        self.appended = 0
        self.last_drift: dict | None = None

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        from bigquack_spark.operators.simsearch import append_to_ivf_index

        self.appended += append_to_ivf_index(
            batch_df.sparkSession, self.index_path, batch_df,
            id_col=self.id_col, vec_col=self.vec_col,
        )

    def _landed(self, batch_df: DataFrame) -> None:
        if not self.drift_check:
            return
        from bigquack_spark.operators.simsearch import ivf_cell_drift

        rows = ivf_cell_drift(
            batch_df.sparkSession, self.index_path,
            share_ratio_threshold=self.drift_threshold,
        ).collect()  # n_lists rows — bounded by construction
        self.last_drift = {
            "rebuild": bool(rows and rows[0]["rebuild"]),
            "hot_cells": sorted(int(r["cell"]) for r in rows if r["hot"]),
        }
