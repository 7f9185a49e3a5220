"""Per-layer attribution for a traced pass, measured from outside the package.

Two sources, neither of which changes a line of ``bigquack_spark``:

- **Spans.**  :class:`Tracer` wraps the public functions each layer exposes
  at every place the package binds them (``from ... import load_table as t``
  makes a module-level alias, so the original and each alias are replaced).
  A layer's time is the sum of its outermost spans, so ``read_source`` ->
  ``load_table`` counts once.  The stages that run under a span that reads
  the sources (``SCAN_SPANS``) give the rows read from the sources; the
  row counts ``pipeline.transfer`` meters its targets with run outside
  them and are left out.
- **Spark's status store.**  Jobs are counted by the delta of the highest
  job id (the retained-jobs list is capped by ``spark.ui.retainedJobs``, so
  its length undercounts long driver loops), and stage statistics are
  snapshotted after every phase, before ``spark.ui.retainedStages`` can
  evict them.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict

#: (module, attribute) of each wrapped public function -> the layer span name.
WRAPPED = {
    ("bigquack_spark.sources.parquet", "load_table"): "sources.read",
    ("bigquack_spark.sources.reader", "read_source"): "sources.read",
    ("bigquack_spark.operators.jsonshred", "auto_shred_spec"): "jsonshred.spec",
    ("bigquack_spark.sinks.table", "ingest_create_append"): "sinks.ingest",
}
#: AtomicWriter methods -> span name.
WRAPPED_METHODS = {"write": "sinks.atomic_write", "finalize": "sinks.atomic_finalize"}
#: Spans whose stages read the sources: the lazy reads themselves, the
#: shred-spec sample, and the writes that execute the reads.
SCAN_SPANS = {"sources.read", "jsonshred.spec", "sinks.ingest", "sinks.atomic_write"}


class StageStats:
    """Sums over the stages that ran during one phase."""

    FIELDS = ("jobs", "stages", "tasks", "task_busy_s", "single_task_stages",
              "shuffle_write_bytes", "spill_bytes", "input_rows")

    def __init__(self) -> None:
        for f in self.FIELDS:
            setattr(self, f, 0)

    def add(self, other: "StageStats") -> None:
        for f in self.FIELDS:
            setattr(self, f, getattr(self, f) + getattr(other, f))


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.seconds: dict[str, float] = defaultdict(float)  # span name -> outermost time
        self.scan_rows = 0  # rows read by stages under SCAN_SPANS
        self._depth: dict[str, int] = defaultdict(int)
        self._start: dict[str, float] = {}
        self._scan_depth = 0
        self._scan_mark = -1
        self._restore: list[tuple[object, str, object]] = []
        self.enabled = False
        self._settle()
        self._last_job = self._max_job()
        self._last_stage = self._max_stage()

    # -- spans ---------------------------------------------------------------
    def span(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            tracer._enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(name)

        return wrapper

    def _enter(self, name: str) -> None:
        if name in SCAN_SPANS:
            if self._scan_depth == 0:
                self._settle()
                self._scan_mark = self._max_stage()
            self._scan_depth += 1
        if self._depth[name] == 0:
            self._start[name] = time.monotonic()
        self._depth[name] += 1

    def _exit(self, name: str) -> None:
        self._depth[name] -= 1
        if self._depth[name] == 0:  # nested re-entry of a layer counts once
            self.seconds[name] += time.monotonic() - self._start.pop(name)
        if name in SCAN_SPANS:
            self._scan_depth -= 1
            if self._scan_depth == 0:
                self._settle()
                ran, _ = self._stages_since(self._scan_mark)
                self.scan_rows += sum(st.inputRecords() for st in ran)

    def install(self) -> None:
        """Wrap every binding of the layer functions in loaded package modules."""
        import importlib

        for (mod_name, attr), span in WRAPPED.items():
            original = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.span(span, original)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("bigquack_spark"):
                    continue
                for key, val in list(vars(mod).items()):
                    if val is original:
                        self._restore.append((mod, key, val))
                        setattr(mod, key, wrapped)
        from bigquack_spark.sinks.atomic import AtomicWriter

        for meth, span in WRAPPED_METHODS.items():
            original = getattr(AtomicWriter, meth)
            self._restore.append((AtomicWriter, meth, original))
            setattr(AtomicWriter, meth, self.span(span, original))

    def uninstall(self) -> None:
        for owner, key, val in reversed(self._restore):
            setattr(owner, key, val)
        self._restore.clear()

    # -- status store --------------------------------------------------------
    def _settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _stages(self):
        return self._jsc.statusStore().stageList(None, False, False, self._no_quantiles, None)

    def _max_stage(self) -> int:
        lst = self._stages()
        return lst.apply(0).stageId() if lst.size() else -1

    def _stages_since(self, mark: int) -> tuple[list, int]:
        """The stages with an id above ``mark`` that ran (not skipped), and
        the highest id seen."""
        lst = self._stages()  # newest first
        ran, newest = [], mark
        for i in range(lst.size()):
            st = lst.apply(i)
            sid = st.stageId()
            if sid <= mark:
                break
            newest = max(newest, sid)
            if str(st.status()) != "SKIPPED":
                ran.append(st)
        return ran, newest

    def snapshot(self) -> StageStats:
        """Stats of every job and stage that finished since the last call."""
        self._settle()
        out = StageStats()
        top_job = self._max_job()
        out.jobs = top_job - self._last_job
        self._last_job = top_job
        ran, self._last_stage = self._stages_since(self._last_stage)
        for st in ran:
            out.stages += 1
            out.tasks += st.numTasks()
            out.single_task_stages += st.numTasks() == 1
            out.task_busy_s += st.executorRunTime() / 1000.0
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.input_rows += st.inputRecords()
        return out
