"""Interleaved A/B for the rebalance decisions: configs alternate run-by-run
(A B A B ...) inside one session, so JIT/ordering drift hits both arms
equally — the decision-grade protocol for the sub-300 ms headline queries
where a sequential median-of-5 showed ±30% arm-order bias (q51's base and
auto-rr arms differed 33% on IDENTICAL plans).

Usage: python tools/rebalance_ab.py <query> <table> <key|-> [pairs]
Prints per-arm medians of `pairs` interleaved samples.
"""
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from bigquack_spark.queries import QUERIES  # noqa: E402
from bigquack_spark.session import get_spark, pin, default_parallelism  # noqa: E402
from bigquack_spark.sources import parquet as P  # noqa: E402

SF = "/root/testdata/sf0.1"

OVERRIDE: dict = {}
_orig_load = P.load_table


def patched(spark, sf_dir, name, *args, **kw):
    if name in OVERRIDE:
        kw = {**kw, **OVERRIDE[name]}
    return _orig_load(spark, sf_dir, name, *args, **kw)


import importlib  # noqa: E402
import pkgutil  # noqa: E402
import bigquack_spark.queries as QP  # noqa: E402

for m in pkgutil.iter_modules(QP.__path__):
    mod = importlib.import_module(f"bigquack_spark.queries.{m.name}")
    if getattr(mod, "t", None) is _orig_load:
        mod.t = patched


def main():
    qname, table, key = sys.argv[1], sys.argv[2], sys.argv[3]
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 9
    cpus = default_parallelism()
    spark = get_spark(app_name="rebalance-ab", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    pin("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    arms = {
        "base": {},
        "auto_rr": {"rebalance": "auto", "rebalance_key": None},
    }
    if key != "-":
        arms["auto_hash"] = {"rebalance": "auto", "rebalance_key": key}

    dfs = {}
    for arm, ov in arms.items():
        OVERRIDE.clear()
        if ov:
            OVERRIDE[table] = ov
        dfs[arm] = QUERIES[qname].fn(spark, SF)
        dfs[arm].write.mode("overwrite").format("noop").save()  # warm each arm
    OVERRIDE.clear()

    samples = {a: [] for a in arms}
    for _ in range(pairs):
        for arm in arms:
            t0 = time.monotonic()
            dfs[arm].write.mode("overwrite").format("noop").save()
            samples[arm].append(time.monotonic() - t0)
    for arm in arms:
        med = statistics.median(samples[arm])
        print(f"{qname} {arm:10s} median={med:.4f} "
              f"min={min(samples[arm]):.4f} max={max(samples[arm]):.4f}")
    spark.stop()


if __name__ == "__main__":
    main()
