"""The workloads: what each operation is, how its output is checked,
and what DuckDB does on the same inputs as the outside yardstick.

Every workload is a closed loop with one caller: an operation starts when
the previous one has returned.  An operation is timed the way a caller pays
for it, so a query op is building the DataFrame *plus* executing it to the
noop sink, and a transfer op is the whole public-API call.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import re
import shutil
import time

import duckdb
import numpy as np

import datagen

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: One query per engine axis of the bench.py headline set: scan+agg, joins,
#: window, JSON, dedup hash, the GEMM ANN kernel.
RELATIONAL = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_revenue",
    "q07_top_customers_per_nation",
    "q20_events_json_extract",
    "q30_dedup_exact",
    "q75_ann_gemm_topk",
]


class Op:
    """One timed operation.  ``build`` returns a DataFrame that ``execute``
    runs (query ops), or ``build`` is None and ``execute`` does it all.
    ``layer`` names the per-layer metric the op's time is added to."""

    def __init__(self, label: str, execute, build=None, layer: str | None = None):
        self.label, self.execute, self.build, self.layer = label, execute, build, layer


CANON_PATH = os.path.join("tests", "util.py")


def _load_canonical_rows():
    """The oracle canonicalisation the test suite uses (tests/util.py)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_canon", os.path.join(os.getcwd(), CANON_PATH))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canonical_rows


def _digest(*texts: str) -> str:
    """A short cache key: cached data is remade when what made it changes."""
    return hashlib.sha256("\0".join(texts).encode()).hexdigest()[:16]


def _source(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def _dir_bytes_and_files(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return size, files


class QueryWorkload:
    """The ``RELATIONAL`` registry queries over generated tables, each op
    built then executed.

    The tables do not depend on the seed (the seed orders the queries), so
    they and the DuckDB oracle results are made once per checkout and
    reused.  Their cache keys hash the generator's source and the oracle
    SQL with its canonicalisation, so a change to either remakes them."""

    name = "relational"
    queries = RELATIONAL
    writes = False

    def __init__(self, sf: float, data_root: str):
        self.sf = sf
        self.canonical_rows = _load_canonical_rows()
        self.data_dir = os.path.join(data_root,
                                     f"tables-sf{sf}-{_digest(_source(datagen.__file__))}")

    def prepare(self, seed: int, run_dir: str) -> None:
        from bigquack_spark.queries import QUERIES

        self.specs = {q: QUERIES[q] for q in self.queries}
        self.table_rows = _cached(os.path.join(self.data_dir, "_ROWS.json"),
                                  lambda: datagen.write_tables(self.data_dir, self.sf, seed=42))
        self.duck = duckdb.connect(config={"threads": 4})
        for t in TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{self.data_dir}/{t}.parquet')")
        key = _digest(_source(CANON_PATH),
                      *(f"{q}\n{self.specs[q].oracle}" for q in self.queries))
        self.oracle = _cached(os.path.join(self.data_dir, f"_ORACLE-{key}.json"),
                              self._oracle_results)
        # rows the pass reads, at the tables' logical size: each query
        # counts every table its oracle SQL names
        self.rows_per_pass = sum(
            self.table_rows[t] for q in self.queries for t in TABLES
            if re.search(rf"\b{t}\b", self.specs[q].oracle))

    def _oracle_results(self) -> dict:
        out = {}
        for q in self.queries:
            pdf = self.duck.execute(self.specs[q].oracle).fetchdf()
            out[q] = {"columns": sorted(pdf.columns),
                      "rows": [list(r) for r in self.canonical_rows(pdf)]}
        return out

    def bind(self, spark) -> None:
        self.spark = spark

    def order(self, rng: np.random.Generator) -> list[str]:
        """The seed sets the query order of every pass."""
        return [self.queries[i] for i in rng.permutation(len(self.queries))]

    def ops(self, order: list[str]) -> list[Op]:
        def op(q):
            return Op(q, lambda df: df.write.mode("overwrite").format("noop").save(),
                      build=lambda: self.specs[q].fn(self.spark, self.data_dir))
        return [op(q) for q in order]

    def check(self) -> tuple[int, int, float, list[str]]:
        """The cold first pass: build and collect every query, compare with
        its DuckDB oracle.  Returns (attempted, failed, spark seconds, errors)."""
        spark_s, errors = 0.0, []
        for q in self.queries:
            t0 = time.monotonic()
            try:
                got = self.specs[q].fn(self.spark, self.data_dir).toPandas()
                spark_s += time.monotonic() - t0
                want = self.oracle[q]
                if sorted(got.columns) != want["columns"] \
                        or [list(r) for r in self.canonical_rows(got)] != want["rows"]:
                    errors.append(f"{q}: output differs from its DuckDB oracle")
            except Exception as exc:  # counted, reported, run goes on
                errors.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
        return len(self.queries), len(errors), spark_s, errors

    def duckdb_pass(self, order: list[str]) -> float:
        t0 = time.monotonic()
        for q in order:
            self.duck.execute(self.specs[q].oracle).fetchall()
        return time.monotonic() - t0

    def verify_pass(self) -> list[str]:
        return []  # the noop sink leaves nothing to check; check() compares outputs

    def pass_rows(self) -> int:
        return self.rows_per_pass

    def reset(self) -> dict:
        return {"stored_bytes": 0, "files": 0}

    def close(self) -> None:
        self.duck.close()


class TransferWorkload:
    """The BQ2Duck pump through the public API, over multi-file fact copies.

    A pass: a projected, filtered ``transfer`` of ``lineitem``; a
    ``shred="auto"`` transfer of ``events``; ``orders`` created then appended
    through the schema gate; a 4-batch ``AtomicWriter(PENDING)`` stream of
    ``lineitem`` and its ``finalize``.  Targets are dropped between passes."""

    name = "transfer"
    writes = True
    LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                     "l_discount", "l_shipdate"]
    BATCHES = 4

    def __init__(self, sf: float, copies: int):
        self.sf, self.copies = sf, copies

    def prepare(self, seed: int, run_dir: str) -> None:
        self.src = os.path.join(run_dir, "src")
        datagen.write_fact_copies(self.src, self.sf, self.copies, seed)
        # the pushed-down predicate l_quantity > k keeps about half the rows
        self.k = 24 + seed % 3
        self.atomic_dir = os.path.join(run_dir, "atomic_lineitem")
        self.duck_path = os.path.join(run_dir, "yardstick.duckdb")
        con = duckdb.connect()
        src = {t: f"read_parquet('{self.src}/{t}.parquet/*.parquet')"
               for t in ("lineitem", "orders", "events")}
        self.duck_src = src
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        self.expect = {
            "lineitem": q(f"SELECT count(*) FROM {src['lineitem']} WHERE l_quantity > {self.k}"),
            "events": q(f"SELECT count(*) FROM {src['events']}"),
            "events_k_sum": q(f"SELECT sum(CAST(json_extract(props, '$.k') AS BIGINT)) "
                              f"FROM {src['events']}"),
            "orders": q(f"SELECT count(*) FROM {src['orders']}"),
            "atomic": q(f"SELECT count(*) FROM {src['lineitem']}"),
        }
        con.close()

    def bind(self, spark) -> None:
        from bigquack_spark import pipeline
        from bigquack_spark.sinks.atomic import AtomicWriter, WriteStreamType

        self.spark, self.pipeline = spark, pipeline
        self.AtomicWriter, self.PENDING = AtomicWriter, WriteStreamType.PENDING
        self.warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        self.landed: dict[str, int] = {}

    def _transfer(self, key: str, table: str, target: str, **kw):
        def run(_=None):
            self.landed[key] = self.pipeline.transfer(
                self.spark, self.src, table, target, **kw)
        return run

    def _atomic(self, _=None):
        from bigquack_spark.sources.reader import read_source

        writer = self.AtomicWriter(self.atomic_dir, self.PENDING)
        for b in range(self.BATCHES):
            writer.write(read_source(self.spark, self.src, "lineitem",
                                     predicate=f"pmod(l_orderkey, {self.BATCHES}) = {b}"))
        self.landed["atomic"] = writer.finalize()

    def order(self, rng: np.random.Generator) -> None:
        return None  # create must precede append: one fixed order

    def ops(self, order=None) -> list[Op]:
        return [
            Op("lineitem", self._transfer("lineitem", "lineitem", "bq_lineitem",
                                          columns=self.LINEITEM_COLS,
                                          predicate=f"l_quantity > {self.k}"),
               layer="pipeline.transfer_s.lineitem"),
            Op("events", self._transfer("events", "events", "bq_events", shred="auto"),
               layer="pipeline.transfer_s.events"),
            Op("orders_create", self._transfer("orders", "orders", "bq_orders"),
               layer="pipeline.transfer_s.orders"),
            Op("orders_append", self._transfer("orders_append", "orders", "bq_orders"),
               layer="pipeline.transfer_s.orders"),
            Op("atomic_stream", self._atomic, layer="pipeline.atomic_stream_s"),
        ]

    def _landed_ok(self) -> list[str]:
        e, got = self.expect, self.landed
        bad = [f"{k}: landed {got.get(k)} rows, expected {e[k]}"
               for k in ("lineitem", "events", "orders", "atomic") if got.get(k) != e[k]]
        if got.get("orders_append") != e["orders"]:
            bad.append(f"orders append: landed {got.get('orders_append')}, expected {e['orders']}")
        return bad

    def check(self) -> tuple[int, int, float, list[str]]:
        """The cold first pass, then independent DuckDB counts of what landed."""
        errors: list[str] = []
        t0 = time.monotonic()
        failed = 0
        for op in self.ops():
            try:
                op.execute()
            except Exception as exc:  # counted, reported, run goes on
                failed += 1
                errors.append(f"{op.label}: {type(exc).__name__}: {exc}"[:300])
        spark_s = time.monotonic() - t0
        con = duckdb.connect()

        def q(sql):  # a failed op may leave nothing to read: that check fails
            try:
                return con.execute(sql).fetchone()[0]
            except duckdb.Error:
                return None

        wh = lambda t: f"read_parquet('{self.warehouse}/{t}/*.parquet')"  # noqa: E731
        checks = {
            "landed counts": self._landed_ok(),
            "bq_lineitem rows": q(f"SELECT count(*) FROM {wh('bq_lineitem')}") == self.expect["lineitem"],
            "bq_orders rows": q(f"SELECT count(*) FROM {wh('bq_orders')}") == 2 * self.expect["orders"],
            "bq_events rows": q(f"SELECT count(*) FROM {wh('bq_events')}") == self.expect["events"],
            "bq_events shredded k": q(f"SELECT sum(k) FROM {wh('bq_events')}") == self.expect["events_k_sum"],
            "atomic rows": q(f"SELECT count(*) FROM read_parquet('{self.atomic_dir}/*.parquet')")
            == self.expect["atomic"],
            "_BQ_COMMIT rows": _commit_rows(self.atomic_dir) == self.expect["atomic"],
        }
        con.close()
        for name, ok in checks.items():
            if isinstance(ok, list):
                errors += ok
                ok = not ok
            if not ok:
                failed += 1
                errors.append(f"check failed: {name}")
        return len(self.ops()) + len(checks), failed, spark_s, errors

    def verify_pass(self) -> list[str]:
        """Cheap per-pass check: every call returned the expected row count."""
        return self._landed_ok()

    def duckdb_pass(self, order=None) -> float:
        """The same landing into a DuckDB database file: the reference's own
        BQ2Duck direction, on the same inputs and 4 threads."""
        if os.path.exists(self.duck_path):
            os.remove(self.duck_path)
        con = duckdb.connect(self.duck_path, config={"threads": 4})
        s = self.duck_src
        cols = ", ".join(self.LINEITEM_COLS)
        t0 = time.monotonic()
        con.execute(f"CREATE TABLE bq_lineitem AS SELECT {cols} FROM {s['lineitem']} "
                    f"WHERE l_quantity > {self.k}")
        con.execute(f"CREATE TABLE bq_events AS SELECT *, CAST(json_extract(props, '$.k') "
                    f"AS INTEGER) AS k FROM {s['events']}")
        con.execute(f"CREATE TABLE bq_orders AS SELECT * FROM {s['orders']}")
        con.execute(f"INSERT INTO bq_orders SELECT * FROM {s['orders']}")
        con.execute("BEGIN")
        con.execute(f"CREATE TABLE atomic_lineitem AS SELECT * FROM {s['lineitem']} "
                    f"WHERE l_orderkey % {self.BATCHES} = 0")
        for b in range(1, self.BATCHES):
            con.execute(f"INSERT INTO atomic_lineitem SELECT * FROM {s['lineitem']} "
                        f"WHERE l_orderkey % {self.BATCHES} = {b}")
        con.execute("COMMIT")
        con.execute("CHECKPOINT")
        elapsed = time.monotonic() - t0
        con.close()
        os.remove(self.duck_path)
        return elapsed

    def pass_rows(self) -> int:
        return sum(self.landed.get(k, 0) for k in
                   ("lineitem", "events", "orders", "orders_append", "atomic"))

    def reset(self) -> dict:
        """Drop every target (untimed); returns what the pass left on disk."""
        size, files = 0, 0
        for t in ("bq_lineitem", "bq_events", "bq_orders"):
            b, f = _dir_bytes_and_files(os.path.join(self.warehouse, t))
            size, files = size + b, files + f
            self.spark.sql(f"DROP TABLE IF EXISTS {t}")
        b, f = _dir_bytes_and_files(self.atomic_dir)
        shutil.rmtree(self.atomic_dir, ignore_errors=True)
        return {"stored_bytes": size + b, "files": files + f}

    def close(self) -> None:
        pass


def _cached(path: str, make):
    """JSON-serialisable ``make()``, computed once and kept at ``path``."""
    if not os.path.exists(path):
        value = make()
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(value, fh)
        os.replace(tmp, path)
    with open(path) as fh:
        return json.load(fh)


def _commit_rows(target: str) -> int | None:
    try:
        with open(os.path.join(target, "_BQ_COMMIT")) as fh:
            return json.load(fh)["rows"]
    except (OSError, ValueError, KeyError):
        return None


def make(name: str, data_root: str, smoke: bool = False):
    """The named workload; ``smoke`` shrinks every input to sf0.001."""
    if name == "relational":
        return QueryWorkload(0.001 if smoke else 0.1, data_root)
    if name == "transfer":
        return TransferWorkload(0.001 if smoke else 0.025, 2)
    raise ValueError(f"unknown workload {name!r}")
