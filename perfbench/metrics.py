"""What each per-layer metric should move.

The metric names and units are declared once, in ``BENCHMARK.json``:
``end_to_end`` is what a caller of the package sees, ``per_layer`` comes
from a traced run and says which layer the time went to.  ``MOVES`` maps
each per-layer metric to the end-to-end metric and workloads it should
move, written down before any optimisation is measured against it, so a
change can cite "metric X on workload Y" by name.
"""

from __future__ import annotations

_ALL = "relational, transfer"
MOVES = {
    "session.start_s": ("setup_s", _ALL),
    "queries.build_s": ("wall_s", "relational (load_table footer inference, driver "
                                  "loops); zero on transfer"),
    "queries.build_jobs": ("wall_s", "relational; zero on transfer"),
    "exec.exec_s": ("wall_s", _ALL),
    "exec.jobs": ("wall_s", _ALL),
    "exec.stages": ("wall_s", _ALL),
    "exec.tasks": ("wall_s", _ALL),
    "exec.task_busy_s": ("wall_s", _ALL),
    "exec.core_util": ("wall_s", _ALL + " (low when stages run as one task)"),
    "exec.single_task_stages": ("wall_s", _ALL + " (the tell of lost parallelism)"),
    "exec.shuffle_write_bytes": ("wall_s", "relational"),
    "exec.spill_bytes": ("wall_s", "relational"),
    "sources.read_s": ("rows_per_s", "transfer"),
    "sources.input_rows": ("rows_per_s", "transfer: rows the stages under read_source, "
                                         "auto_shred_spec, ingest_create_append and "
                                         "AtomicWriter.write read, not the target row "
                                         "counts transfer meters with (pushdown reads "
                                         "fewer); relational: every stage's input rows"),
    "sources.rows_kept_ratio": ("rows_per_s", "transfer: rows landed / sources.input_rows"),
    "jsonshred.spec_s": ("rows_per_s", "transfer"),
    "sinks.ingest_s": ("rows_per_s", "transfer; zero on the query workloads"),
    "sinks.atomic_write_s": ("rows_per_s", "transfer; zero on the query workloads"),
    "sinks.atomic_finalize_s": ("rows_per_s", "transfer; zero on the query workloads"),
    "sinks.files_written": ("rows_per_s", "transfer; zero on the query workloads"),
    "sinks.stored_bytes_per_row": ("rows_per_s", "transfer: a write-speed gain that costs "
                                                 "space shows here"),
    "pipeline.transfer_s.lineitem": ("rows_per_s", "transfer"),
    "pipeline.transfer_s.events": ("rows_per_s", "transfer"),
    "pipeline.transfer_s.orders": ("rows_per_s", "transfer"),
    "pipeline.atomic_stream_s": ("rows_per_s", "transfer"),
    "duckdb.wall_s": ("none", "the control: no package change may move it"),
    "duckdb.ratio": ("wall_s", "the outside yardstick: Spark pass / DuckDB on the same "
                               "inputs and 4 threads; both workloads"),
    "trace.overhead_s": ("none", "cost of tracing: traced minus untraced pass wall"),
    "trace.unaccounted_s": ("none", "traced pass wall not inside a timed op; "
                                    "should stay within trace.overhead_s"),
}
