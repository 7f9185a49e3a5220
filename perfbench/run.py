"""The repository benchmark: what a caller of bigquack_spark pays, end to end.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One process, one Spark session built by
``session.get_spark()`` with its defaults (no pins, no per-query confs), one
caller issuing operations back to back.  The run

1. refuses to start while other processes keep the CPUs busy;
2. generates its inputs (untimed) under ``.perfbench/`` in the checkout;
3. builds the session and makes the cold first pass, which also checks
   every output against an independent DuckDB result (``setup_s``);
4. makes untimed warm-up passes, then repeats warm passes for
   ``--seconds`` (at least one), retries passes that other guests of the
   host slowed, and reports medians;  with ``--trace 1``
   untraced and traced passes alternate, the per-layer metrics come from the
   traced ones, and DuckDB then does one pass's work as the yardstick;
5. prints a record line (confs, cores, seed, load, contention) and, last,
   one JSON result line.

The workloads are defined in ``workloads.py``; the metric names and units
in ``BENCHMARK.json``, and what each per-layer metric should move in
``metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUSY_CORES_REFUSE = 1.0  # other processes' CPU use at which a run is refused
START_TRIES = 10
WARMUP_PASSES = 2  # the first warm passes still pay for JIT compilation
# Other guests of the host slow a pass by far more than the CPU time they
# are seen to steal: a pass that lost more than QUIET_STEAL cores to them is
# retried, up to MAX_RETRIES times past --seconds, unless the run is past
# RETRY_DEADLINE_S: a busy host already slows every run toward its time limit.
QUIET_STEAL = 0.05
MAX_RETRIES = 1
RETRY_DEADLINE_S = 52


# -- contention --------------------------------------------------------------
def _system_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole box; busy is all but idle and
    iowait, and includes steal (time the hypervisor gave to other guests)."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return sum(vals) - vals[3] - vals[4], vals[7]


def _tree_ticks(root_pid: int) -> int:
    """CPU ticks of this process and all its live descendants, including
    the reaped children each of them accounts for."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = sum(int(v) for v in fields[11:15])
        children.setdefault(int(fields[1]), []).append(int(pid))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo += children.get(pid, [])
    return total


class Contention:
    """Other processes' CPU use over an interval, in cores."""

    def __init__(self) -> None:
        self.hz = os.sysconf("SC_CLK_TCK")
        self.t0, self.own0 = time.monotonic(), _tree_ticks(os.getpid())
        self.busy0, self.steal0 = _system_ticks()

    def _cores(self, ticks: int) -> float:
        return max(0.0, ticks / self.hz / max(1e-3, time.monotonic() - self.t0))

    def foreign_cores(self) -> float:
        """Cores used by other processes and other guests of the host."""
        busy, _ = _system_ticks()
        return self._cores(busy - self.busy0 - (_tree_ticks(os.getpid()) - self.own0))

    def steal_cores(self) -> float:
        """The part of ``foreign_cores`` taken by other guests of the host."""
        return self._cores(_system_ticks()[1] - self.steal0)


def wait_until_quiet() -> float:
    """Retry the start while the box is busy; refuse the run if it stays busy."""
    for attempt in range(START_TRIES):
        probe = Contention()
        time.sleep(1.0)
        busy = probe.foreign_cores()
        if busy < BUSY_CORES_REFUSE:
            return busy
        print(f"perfbench: box busy ({busy:.2f} cores used by others), "
              f"retry {attempt + 1}/{START_TRIES}", file=sys.stderr)
        time.sleep(2.0)
    print("perfbench: refusing the run: the box stayed busy", file=sys.stderr)
    sys.exit(3)


# -- one pass ----------------------------------------------------------------
def run_pass(wl, order, tracer=None) -> dict:
    """Run one pass of operations; returns its wall time, per-op times and
    failures, plus the traced phase stats when ``tracer`` is on."""
    from tracing import StageStats

    out = {"ops": [], "failed": 0, "errors": [], "build": StageStats(), "exec": StageStats()}
    if tracer:
        tracer.snapshot()  # drop what ran before the pass (untraced passes, resets)
    load = Contention()
    t_pass = time.monotonic()
    for op in wl.ops(order):
        rec = {"label": op.label, "layer": op.layer, "build_s": 0.0, "exec_s": 0.0}
        try:
            if op.build is not None:
                t0 = time.monotonic()
                df = op.build()
                rec["build_s"] = time.monotonic() - t0
                if tracer:
                    out["build"].add(tracer.snapshot())
            else:
                df = None
            t0 = time.monotonic()
            op.execute(df)
            rec["exec_s"] = time.monotonic() - t0
            if tracer:
                out["exec"].add(tracer.snapshot())
        except Exception as exc:  # counted as a failed operation
            out["failed"] += 1
            out["errors"].append(f"{op.label}: {type(exc).__name__}: {exc}"[:300])
        out["ops"].append(rec)
    out["wall_s"] = time.monotonic() - t_pass
    out["steal_cores"] = load.steal_cores()
    if not out["failed"]:
        bad = wl.verify_pass()
        out["failed"] += len(bad)
        out["errors"] += bad
    out["rows"] = wl.pass_rows()
    return out


def steady_passes(passes: list[dict]) -> list[dict]:
    """The passes other guests of the host took little CPU from; failing
    that, the one that lost the least to them."""
    quiet = [p for p in passes if p["steal_cores"] < QUIET_STEAL]
    return quiet or [min(passes, key=lambda p: p["steal_cores"])]


def per_layer(wl, traced: list[dict], untraced: list[dict], tracer, session_s: float,
              cores: int, duck_s: float) -> dict[str, float]:
    """Per-pass layer figures, averaged over the traced passes."""
    n = len(traced)
    m = defaultdict(float)
    m["session.start_s"] = session_s
    ops = [op for p in traced for op in p["ops"]]
    build = sum(op["build_s"] for op in ops)
    execute = sum(op["exec_s"] for op in ops)
    m["queries.build_s"] = build / n
    m["exec.exec_s"] = execute / n
    m["queries.build_jobs"] = sum(p["build"].jobs for p in traced) / n
    for f in ("jobs", "stages", "tasks", "task_busy_s", "single_task_stages",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{f}"] = sum(getattr(p["exec"], f) for p in traced) / n
    m["exec.core_util"] = m["exec.task_busy_s"] / max(1e-9, m["exec.exec_s"] * cores)
    if wl.writes:  # only the stages that read the sources, not the metering counts
        m["sources.input_rows"] = tracer.scan_rows / n
    else:  # the noop sink: every stage reads the source tables
        m["sources.input_rows"] = sum(p["build"].input_rows + p["exec"].input_rows
                                      for p in traced) / n
    landed = sum(p["landed_rows"] for p in traced) / n
    m["sources.rows_kept_ratio"] = landed / m["sources.input_rows"] if m["sources.input_rows"] else 0.0
    for span, key in (("sources.read", "sources.read_s"), ("jsonshred.spec", "jsonshred.spec_s"),
                      ("sinks.ingest", "sinks.ingest_s"),
                      ("sinks.atomic_write", "sinks.atomic_write_s"),
                      ("sinks.atomic_finalize", "sinks.atomic_finalize_s")):
        m[key] = tracer.seconds[span] / n
    m["sinks.files_written"] = sum(p["files"] for p in traced) / n
    stored = sum(p["stored_bytes"] for p in traced)
    m["sinks.stored_bytes_per_row"] = stored / landed / n if landed else 0.0
    for op in ops:
        if op["layer"]:
            m[op["layer"]] += (op["build_s"] + op["exec_s"]) / n
    untraced_wall = statistics.median(p["wall_s"] for p in untraced)
    m["duckdb.wall_s"] = duck_s
    m["duckdb.ratio"] = untraced_wall / duck_s
    traced_wall = statistics.median(p["wall_s"] for p in traced)
    m["trace.overhead_s"] = traced_wall - untraced_wall
    m["trace.unaccounted_s"] = traced_wall - (build + execute) / n
    return m


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end:
    closing its stdin is the gateway's exit signal."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["relational", "transfer"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="inputs at sf0.001, for the self-test (selftest.py)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "bigquack_spark", "session.py")):
        print("perfbench: run from the root of a bigquack_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(work, "runs"))
    # every temporary file of Python, Spark and the JVM stays in the checkout
    for sub, var in (("tmp", "TMPDIR"), ("local", "SPARK_LOCAL_DIRS")):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        os.environ[var] = os.path.join(run_dir, sub)
    # (-XX:-UsePerfData: no hsperfdata file under the system temp directory)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                                       "-XX:-UsePerfData")
    tempfile.tempdir = None
    try:
        return bench(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, work: str, run_dir: str) -> int:
    import numpy as np

    import workloads

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": os.cpu_count(),
              "loadavg_start": os.getloadavg()}
    record["busy_cores_at_start"] = wait_until_quiet()
    rng = np.random.default_rng(args.seed)
    # importing the package is part of what a fresh process pays
    t0 = time.monotonic()
    import bigquack_spark.pipeline  # noqa: F401
    import bigquack_spark.queries  # noqa: F401
    import_s = time.monotonic() - t0
    wl = workloads.make(args.workload, os.path.join(work, "data"), smoke=args.smoke)
    wl.prepare(args.seed, run_dir)

    load = Contention()
    t0 = time.monotonic()
    from bigquack_spark.session import get_spark

    spark = get_spark(app_name="perfbench", warehouse_dir=os.path.join(run_dir, "warehouse"))
    spark.sparkContext.setLogLevel("ERROR")
    record["spark_cores"] = spark.sparkContext.defaultParallelism
    wl.bind(spark)
    session_s = import_s + time.monotonic() - t0
    attempted, failed, cold_s, errors = wl.check()
    setup_s = session_s + cold_s
    wl.reset()
    record["warmup_walls_s"] = []
    for _ in range(WARMUP_PASSES):
        warm = run_pass(wl, wl.order(rng))
        wl.reset()
        attempted += len(warm["ops"])
        failed += warm["failed"]
        errors += warm["errors"]
        record["warmup_walls_s"].append(warm["wall_s"])

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    untraced, traced = [], []
    retries = 0
    t_measure = time.monotonic()
    while True:
        order = wl.order(rng)
        traced_pass = bool(tracer) and len(untraced) > len(traced)
        if tracer:
            tracer.enabled = traced_pass
        p = run_pass(wl, order, tracer if traced_pass else None)
        if tracer:
            tracer.enabled = False
        p["landed_rows"] = p["rows"] if wl.writes else 0
        p.update(wl.reset())
        (traced if traced_pass else untraced).append(p)
        attempted += len(p["ops"])
        failed += p["failed"]
        errors += p["errors"]
        if time.monotonic() - t_measure < args.seconds:
            continue
        if tracer:
            # traced runs alternate untraced, traced, untraced, ... and end on
            # an untraced pass, so warm-up drift cancels out of trace.overhead_s
            if traced and len(untraced) > len(traced):
                break
        elif (retries == MAX_RETRIES or time.monotonic() - T_START > RETRY_DEADLINE_S
              or any(q["steal_cores"] < QUIET_STEAL for q in untraced)):
            break
        else:
            retries += 1
    if tracer:
        tracer.uninstall()
        # the DuckDB yardstick, a per-layer figure: the last pass's work once
        duck_s = wl.duckdb_pass(order)
    record["foreign_cores"] = load.foreign_cores()
    record["steal_cores"] = load.steal_cores()
    record["contended"] = record["foreign_cores"] >= BUSY_CORES_REFUSE / 2
    record["loadavg_end"] = os.getloadavg()
    record["confs"] = dict(spark.sparkContext.getConf().getAll())
    record["confs"].update({k: spark.conf.get(k) for k in
                            ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                             "spark.sql.files.maxPartitionBytes")})
    record["passes"] = {"untraced": len(untraced), "traced": len(traced)}
    record["errors"] = errors[:20]
    wl.close()
    stop_jvm(spark)

    steady = steady_passes(untraced)
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in steady),
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in steady),
    }
    record["end_to_end"] = end_to_end
    record["pass_walls_s"] = [p["wall_s"] for p in untraced]
    record["pass_steal_cores"] = [p["steal_cores"] for p in untraced]
    record["steady_passes"] = [untraced.index(p) for p in steady]
    record["cold_pass_s"] = cold_s
    record["op_median_s"] = {
        op["label"]: statistics.median(o["build_s"] + o["exec_s"] for p in untraced
                                       for o in p["ops"] if o["label"] == op["label"])
        for op in untraced[0]["ops"]}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if tracer else "end_to_end"]}
    if tracer:
        values = per_layer(wl, traced, untraced, tracer, session_s, record["spark_cores"],
                           duck_s)
        record["per_layer"] = values
        if values["trace.unaccounted_s"] > max(0.05, values["trace.overhead_s"]) + 0.05:
            print(f"perfbench: warning: {values['trace.unaccounted_s']:.3f} s of the traced "
                  f"pass is outside the timed ops (overhead {values['trace.overhead_s']:.3f} s)",
                  file=sys.stderr)
    else:
        values = end_to_end
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(work, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print("record " + json.dumps({k: v for k, v in record.items() if k != "confs"}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
