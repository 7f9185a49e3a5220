"""Pipeline + source tests: the BQ2Duck analogue (bigquack.go:64-141) and
pushdown-preserving reader (bigquery.go:85-129), offline parquet harness
(FIXTURES.md §A4 shape)."""

from __future__ import annotations

import os

from bigquack_spark.pipeline import transfer
from bigquack_spark.sources.reader import Reader, read_source
from tests.conftest import SF_SMOKE, SF_T2


def test_transfer_full_table(spark):
    """bigquery_test.go:42-88 shape: read supplier -> ingest -> count."""
    spark.sql("DROP TABLE IF EXISTS supplier_copy")
    n = transfer(spark, SF_SMOKE, "supplier", "supplier_copy")
    assert n == 10
    assert spark.table("supplier_copy").count() == 10
    spark.sql("DROP TABLE supplier_copy")


def test_transfer_pushdown_and_append(spark):
    """bigquack_test.go:12-30 shape: projected+filtered transfer, then a
    second transfer appends (duck.go create-or-append semantics)."""
    spark.sql("DROP TABLE IF EXISTS supplier_push")
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    n1 = transfer(
        spark, SF_SMOKE, "supplier", "supplier_push",
        columns=cols, predicate="s_suppkey > 0", max_streams=2,
    )
    expected = (
        spark.read.parquet(f"{SF_SMOKE}/supplier.parquet").filter("s_suppkey > 0").count()
    )
    assert n1 == expected
    assert spark.table("supplier_push").columns == cols
    n2 = transfer(
        spark, SF_SMOKE, "supplier", "supplier_push",
        columns=cols, predicate="s_suppkey > 0",
    )
    assert n2 == expected
    assert spark.table("supplier_push").count() == 2 * expected
    spark.sql("DROP TABLE supplier_push")


def test_reader_pushdown_reaches_scan(spark):
    """S2/S3 (bigquery.go:80,91): projection and predicate must reach the
    parquet scan — visible as PushedFilters + pruned ReadSchema."""
    df = read_source(
        spark, SF_SMOKE, "supplier",
        columns=["s_suppkey", "s_name"], predicate="s_suppkey > 3",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(s_suppkey,3)" in plan
    assert "s_acctbal" not in plan  # pruned column never read
    expected = (
        spark.read.parquet(f"{SF_SMOKE}/supplier.parquet").filter("s_suppkey > 3").count()
    )
    assert df.count() == expected


def test_reader_consumes_all_streams(spark):
    """SURVEY §2.1 S4: the reference drops data beyond stream 0; the rebuild
    must read every partition even when max_streams > 1."""
    r = Reader(spark, SF_SMOKE, "lineitem", max_streams=4)
    df = r.dataframe()
    assert df.rdd.getNumPartitions() >= 4
    assert df.count() == spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").count()


def test_reader_schema_and_batches(spark):
    """S8 (bigquery.go:243-248) Schema(); S5 Read() parity via Arrow batches."""
    r = Reader(spark, SF_SMOKE, "region")
    assert [f.name for f in r.schema().fields] == ["r_regionkey", "r_name"]
    total = sum(b.num_rows for b in r.to_batches())
    assert total == 5


# -- text-format sources (sources/formats.py) --------------------------------


def test_csv_roundtrip_with_pinned_schema(spark, tmp_path):
    """CSV written from a table reads back value-identical under the pinned
    schema; no inference in the production path."""
    from bigquack_spark.sources.formats import load_csv
    from bigquack_spark.sources.parquet import load_table
    from tests.conftest import SF_SMOKE

    src = load_table(spark, SF_SMOKE, "customer")
    path = str(tmp_path / "customer_csv")
    src.write.option("header", True).csv(path)
    back = load_csv(spark, path, schema=src.schema).cache()
    # (cache: Spark disallows querying ONLY _corrupt_record straight off a scan)
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0
    got = sorted(map(tuple, back.drop("_corrupt_record").collect()))
    want = sorted(map(tuple, src.collect()))
    assert got == want


def test_csv_requires_schema_or_optin(spark):
    import pytest as _pytest

    from bigquack_spark.sources.formats import load_csv

    with _pytest.raises(ValueError, match="schema"):
        load_csv(spark, "/nonexistent")


def test_json_corrupt_rows_quarantined_not_fatal(spark, tmp_path):
    """A malformed JSON line lands in _corrupt_record; well-formed rows
    parse; the job does not die."""
    import json as _json

    from bigquack_spark.sources.formats import load_json
    from bigquack_spark.types import BQField

    p = tmp_path / "data.jsonl"
    p.write_text(
        _json.dumps({"id": 1, "name": "ok"})
        + "\n{broken json\n"
        + _json.dumps({"id": 2, "name": "fine"})
        + "\n"
    )
    df = load_json(spark, str(p), schema=[BQField("id", "INT64"), BQField("name", "STRING")])
    rows = df.collect()
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.id for r in good} == {1, 2}
    assert len(bad) == 1 and "{broken json" in bad[0]._corrupt_record


def test_load_orc_roundtrip_and_pinned_schema(spark, tmp_path):
    from pyspark.sql import types as T2

    from bigquack_spark.sources.formats import load_orc

    src = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "k bigint, s string, v double")
    p = str(tmp_path / "t.orc")
    src.write.orc(p)
    back = load_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    pinned = T2.StructType([T2.StructField("k", T2.LongType()), T2.StructField("v", T2.DoubleType())])
    narrowed = load_orc(spark, p, schema=pinned)
    assert narrowed.columns == ["k", "v"]
    import pytest as pt
    with pt.raises(ValueError, match="lacks pinned columns"):
        load_orc(spark, p, schema=T2.StructType([T2.StructField("missing", T2.LongType())]))


def test_load_parquet_evolving_merges_added_column(spark, tmp_path):
    from bigquack_spark.sources.formats import load_parquet_evolving

    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k bigint, s string").write.parquet(p)
    spark.createDataFrame([(2, "b", 9.0)], "k bigint, s string, extra double").write.mode(
        "append"
    ).parquet(p)
    df = load_parquet_evolving(spark, p)
    assert set(df.columns) == {"k", "s", "extra"}
    rows = {r.k: r.extra for r in df.collect()}
    assert rows == {1: None, 2: 9.0}


def test_transfer_incremental_appends_only_new_rows(spark, tmp_path):
    from bigquack_spark.pipeline import transfer_incremental

    src = str(tmp_path)
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k bigint, wm bigint"
    ).write.parquet(f"{src}/inc.parquet")
    t = "inc_target_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert transfer_incremental(spark, src, "inc", t, watermark_col="wm") == 3
    # second run, no new data: nothing transfers
    assert transfer_incremental(spark, src, "inc", t, watermark_col="wm") == 0
    # new rows past the mark (and one stale duplicate below it)
    spark.createDataFrame([(3, 30), (4, 40)], "k bigint, wm bigint").write.mode(
        "append"
    ).parquet(f"{src}/inc.parquet")
    assert transfer_incremental(spark, src, "inc", t, watermark_col="wm") == 1
    assert sorted(r.k for r in spark.table(t).collect()) == [1, 2, 3, 4]
    spark.sql(f"DROP TABLE {t}")


def test_binary_dir_source_roundtrip(spark, tmp_path):
    """binaryFile ingestion: a directory of raw media files becomes the
    canonical media record shape, globbed server-side, content intact, and
    the decode kernel runs straight off it."""
    from bigquack_spark.operators.multimodal import decode_media
    from bigquack_spark.sources.formats import load_binary_dir

    payloads = {"a.img": b"\x89fakepng-bytes-1", "b.img": b"fakejpg-bytes-22", "skip.txt": b"nope"}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    media = load_binary_dir(spark, str(tmp_path), glob="*.img")
    rows = media.collect()
    assert len(rows) == 2  # .txt filtered server-side
    assert {bytes(r.payload) for r in rows} == {payloads["a.img"], payloads["b.img"]}
    assert len({r.media_id for r in rows}) == 2
    import json as J

    meta = J.loads(rows[0].media_meta)
    assert set(meta) == {"path", "length", "mtime"}
    decoded = decode_media(media)
    assert decoded.count() == 2
    assert {"width", "height", "format", "phash"} <= set(decoded.columns)


def test_task_retry_rereads_partition(tmp_path):
    """SURVEY S7/S9 parity evidence: a task that fails mid-partition is
    retried and the retry re-reads the partition from the source — results
    are complete and exactly-once despite the injected fault (the same
    observable contract as the reference's read-retry loop,
    bigquery.go:35-62: transient failure, deterministic replay).

    Plain ``local[N]`` pins maxTaskFailures=1 regardless of conf, so the
    retry scheduler only exists under the ``local[N, F]`` master — this
    test runs its own session in a subprocess to get one (documented
    deployment note: the RETRY_CONFS block applies cluster-side)."""
    import os
    import subprocess
    import sys
    import textwrap

    marker_dir = str(tmp_path / "attempts")
    os.makedirs(marker_dir, exist_ok=True)
    script = textwrap.dedent(f"""
        import os
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2, 2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .getOrCreate())
        marker_dir = {marker_dir!r}
        df = spark.range(0, 1000, numPartitions=4)
        def flaky(batches):
            from pyspark import TaskContext
            ctx = TaskContext.get()
            marker = os.path.join(marker_dir, f"p{{ctx.partitionId()}}")
            if not os.path.exists(marker):
                open(marker, "w").close()
                raise RuntimeError("injected transient failure (first attempt)")
            for pdf in batches:
                yield pdf
        rows = df.mapInPandas(flaky, "id bigint").collect()
        assert sorted(r.id for r in rows) == list(range(1000)), "incomplete/dup rows"
        spark.stop()
        print("RETRY_OK")
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RETRY_OK" in proc.stdout
    assert len(os.listdir(marker_dir)) == 4  # every partition failed once


def test_ingest_count_exactly_once_under_task_retry(tmp_path):
    """``ingest_create_append`` counts the rows it landed with an
    ``Observation`` on the write.  A task attempt that emits rows and then
    fails must not add to that count: on a ``local[2, 2]`` master (the one
    that retries, see test_task_retry_rereads_partition) the first attempt
    of every partition passes two batches through the write and then
    raises, and the returned count must still equal the rows landed and
    the source rows, on the create and on the append."""
    import subprocess
    import sys
    import textwrap

    marker_dir = str(tmp_path / "attempts")
    os.makedirs(marker_dir, exist_ok=True)
    script = textwrap.dedent(f"""
        import os
        from pyspark.sql import SparkSession
        from bigquack_spark.sinks.table import ingest_create_append
        spark = (SparkSession.builder.master("local[2, 2]")
                 .config("spark.ui.enabled", "false")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.sql.warehouse.dir", {str(tmp_path / "wh")!r})
                 .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
                 .getOrCreate())
        marker_dir = {marker_dir!r}

        def flaky_frame(tag):
            def flaky(batches):
                from pyspark import TaskContext
                marker = os.path.join(
                    marker_dir, f"{{tag}}-p{{TaskContext.get().partitionId()}}")
                first = not os.path.exists(marker)
                if first:
                    open(marker, "w").close()
                for i, pdf in enumerate(batches):
                    if first and i == 2:
                        raise RuntimeError("injected transient failure (first attempt)")
                    yield pdf
            return spark.range(0, 1000, numPartitions=4).mapInPandas(flaky, "id bigint")

        n = ingest_create_append(flaky_frame("create"), "retry_t")
        assert n == spark.table("retry_t").count() == 1000, n
        n = ingest_create_append(flaky_frame("append"), "retry_t")
        assert n == 1000, n
        assert spark.table("retry_t").count() == 2000
        spark.stop()
        print("COUNT_OK")
    """)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "COUNT_OK" in proc.stdout
    assert len(os.listdir(marker_dir)) == 8  # every partition failed once per write


def test_python_datasource_connector(spark, tmp_path):
    """The bigquery_stub Python Data Source implements the reference's read
    session contract: schema fetch, selected_fields pruning, pushFilters
    (RowRestriction), and max_streams fan-out with EVERY stream consumed
    (SURVEY S4).  Verified against the plain parquet read on a multi-row-
    group file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigquack_spark.sources.connector import register

    register(spark)
    # multi-row-group table: 1000 rows, 8 row groups
    path = str(tmp_path / "t.parquet")
    tbl = pa.table(
        {
            "k": pa.array(range(1000), pa.int64()),
            "v": pa.array([i * 0.5 for i in range(1000)], pa.float64()),
            "s": pa.array([f"row{i}" for i in range(1000)], pa.string()),
        }
    )
    pq.write_table(tbl, path, row_group_size=125)

    base = (
        spark.read.format("bigquery_stub")
        .option("table", path)
        .option("max_streams", 3)
        .load()
    )
    # all 8 row groups consumed through 3 streams
    assert base.count() == 1000
    assert base.rdd.getNumPartitions() == 3

    pruned = (
        spark.read.format("bigquery_stub")
        .option("table", path)
        .option("selected_fields", "k,s")
        .load()
        .filter("k >= 990")
    )
    got = sorted((r.k, r.s) for r in pruned.collect())
    assert got == [(i, f"row{i}") for i in range(990, 1000)]
    assert pruned.columns == ["k", "s"]

    # pushed filter leaves no Spark-side Filter for the supported predicate
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "bigquery_stub" in plan


def test_python_datasource_matches_parquet_on_real_table(spark):
    from bigquack_spark.sources.connector import register
    from tests.conftest import SF_SMOKE

    register(spark)
    via_conn = (
        spark.read.format("bigquery_stub")
        .option("table", f"{SF_SMOKE}/customer.parquet")
        .load()
        .filter("c_acctbal > 0")
        .select("c_custkey", "c_acctbal")
    )
    via_parquet = (
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
        .filter("c_acctbal > 0")
        .select("c_custkey", "c_acctbal")
    )
    assert sorted(map(tuple, via_conn.collect())) == sorted(
        map(tuple, via_parquet.collect())
    )


def test_python_datasource_writer_pending_committed(spark, tmp_path):
    """The connector's write half: tasks stage into an invisible .pending
    dir, the driver-side commit publishes atomically with a manifest
    (PENDING -> COMMITTED, K2-K4); append jobs coexist, overwrite replaces."""
    import json
    import os

    from bigquack_spark.sources.connector import register

    register(spark)
    target = str(tmp_path / "table")
    df = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS v")
    df.repartition(4).write.format("bigquery_stub").option("job_id", "job1").mode(
        "append"
    ).save(target)

    files = os.listdir(target)
    assert not [f for f in files if f.startswith(".pending")]  # staged dir gone
    manifests = [f for f in files if f.startswith("_manifest-")]
    assert len(manifests) == 1
    meta = json.load(open(os.path.join(target, manifests[0])))
    assert meta["rows"] == 500
    back = spark.read.parquet(target)
    assert back.count() == 500 and sorted(back.columns) == ["k", "v"]

    # second append job lands alongside
    df2 = spark.range(500, 600).selectExpr("id AS k", "id * 2 AS v")
    df2.write.format("bigquery_stub").option("job_id", "job2").mode("append").save(target)
    assert spark.read.parquet(target).count() == 600

    # overwrite replaces all data parts
    df2.write.format("bigquery_stub").option("job_id", "job3").mode("overwrite").save(target)
    final = spark.read.parquet(target)
    assert final.count() == 100
    assert sorted(r.k for r in final.collect()) == list(range(500, 600))


def test_transfer_shred_on_ingest(spark, tmp_path):
    """r5 verdict #2: shredding is a transfer option — the landing table
    stores typed columns parsed ONCE at ingest, not raw JSON strings."""
    src = str(tmp_path)
    spark.createDataFrame(
        [(1, '{"k": 7, "tag": "a"}'), (2, '{"k": 9, "tag": "b"}'), (3, "not-json")],
        "id bigint, props string",
    ).write.parquet(f"{src}/ev.parquet")
    t = "shred_target_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    n = transfer(
        spark, src, "ev", t, shred={"col": "props", "schema": "k INT, tag STRING"}
    )
    assert n == 3
    got = spark.table(t)
    assert got.columns == ["id", "k", "tag"]  # raw dropped, fields typed
    assert dict(got.dtypes)["k"] == "int"
    rows = {r.id: (r.k, r.tag) for r in got.collect()}
    assert rows == {1: (7, "a"), 2: (9, "b"), 3: (None, None)}
    # append run keeps the shredded schema compatible (create-or-append gate)
    assert transfer(
        spark, src, "ev", t, shred={"col": "props", "schema": "k INT, tag STRING"}
    ) == 3
    assert spark.table(t).count() == 6
    spark.sql(f"DROP TABLE {t}")


def test_transfer_incremental_shred_and_watermark_guard(spark, tmp_path):
    import pytest

    from bigquack_spark.pipeline import transfer_incremental

    src = str(tmp_path)
    spark.createDataFrame(
        [(1, '{"k": 1}'), (2, '{"k": 2}')], "wm bigint, props string"
    ).write.parquet(f"{src}/ev.parquet")
    t = "shred_inc_target_test"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    shred = {"col": "props", "schema": "k INT"}
    assert transfer_incremental(spark, src, "ev", t, watermark_col="wm", shred=shred) == 2
    assert transfer_incremental(spark, src, "ev", t, watermark_col="wm", shred=shred) == 0
    spark.createDataFrame([(3, '{"k": 3}')], "wm bigint, props string").write.mode(
        "append"
    ).parquet(f"{src}/ev.parquet")
    assert transfer_incremental(spark, src, "ev", t, watermark_col="wm", shred=shred) == 1
    assert sorted(r.k for r in spark.table(t).collect()) == [1, 2, 3]
    # the watermark column itself cannot be shredded away
    with pytest.raises(ValueError, match="watermark column"):
        transfer_incremental(
            spark, src, "ev", t, watermark_col="props",
            shred={"col": "props", "schema": "k INT"},
        )
    spark.sql(f"DROP TABLE {t}")


def test_transfer_shred_auto_sample_basis(spark):
    """r10 verdict #4: shred="auto" detects the JSON-bearing string column
    from a bounded sample and lands typed columns, keeping the raw column
    (auto never drops data on inference)."""
    spark.sql("DROP TABLE IF EXISTS events_auto")
    n = transfer(spark, SF_SMOKE, "events", "events_auto", shred="auto")
    t = spark.table("events_auto")
    assert n == t.count() > 0
    assert "props" in t.columns, "auto keeps the raw column"
    assert "k" in t.columns, "sampled field promoted to a typed column"
    assert dict(t.dtypes)["k"] in ("bigint", "double")
    # typed column agrees with a per-query parse of the raw column
    from pyspark.sql import functions as F

    bad = t.filter(
        F.coalesce(F.col("k"), F.lit(-1))
        != F.coalesce(F.get_json_object("props", "$.k").cast(dict(t.dtypes)["k"]), F.lit(-1))
    ).count()
    assert bad == 0
    spark.sql("DROP TABLE IF EXISTS events_auto")


def test_transfer_shred_auto_no_json_lands_raw(spark):
    """A table with no JSON-object string column lands unchanged."""
    spark.sql("DROP TABLE IF EXISTS nation_auto")
    transfer(spark, SF_SMOKE, "nation", "nation_auto", shred="auto")
    want = sorted(spark.read.parquet(f"{SF_SMOKE}/nation.parquet").columns)
    assert sorted(spark.table("nation_auto").columns) == want
    spark.sql("DROP TABLE IF EXISTS nation_auto")


def test_transfer_shred_auto_workload_basis(spark, tmp_path):
    """On re-ingest of an existing target whose workload log confidently
    references JSON paths, auto accepts the advisor's recommendation —
    exactly the referenced fields, not the full sampled set."""
    from bigquack_spark.operators.jsonshred import auto_shred_spec

    df = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    preds = ["get_json_object(props, '$.k') > 3"] * 3
    spec = auto_shred_spec(df, predicates=preds)
    assert spec is not None
    assert spec["basis"] == "workload" and spec["n_json_refs"] == 3
    assert spec["col"] == "props" and spec["keep_raw"] is True
    assert spec["schema"].split(",")[0].strip().startswith("k ")
    # below the confidence floor the sample basis takes over
    weak = auto_shred_spec(df, predicates=preds[:2])
    assert weak is not None and weak["basis"] == "sample"


def test_transfer_bucket_by_lands_exchange_free_join(spark):
    """r10 verdict #8: bucket-by at ingest — transfer(bucket_by=...) lands
    both fact tables bucketed+sorted on the join key, and the q68-class
    headline frame over the landed tables plans its fact join with NO
    exchange on either input (the layout win, paid once at landing)."""
    import pytest
    from pyspark.sql import functions as F

    from bigquack_spark.queries.relational import nation_profit_frame

    for t in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    orders_spec = {"cols": ["o_orderkey"], "num_buckets": 8, "sort_cols": ["o_orderkey"]}
    n_orders = transfer(spark, SF_SMOKE, "orders", "bkt_orders", bucket_by=orders_spec)
    assert n_orders == spark.table("bkt_orders").count() > 0
    n_lineitem = transfer(spark, SF_SMOKE, "lineitem", "bkt_lineitem",
                          bucket_by={"cols": ["l_orderkey"], "num_buckets": 8,
                                     "sort_cols": ["l_orderkey"]})
    assert n_lineitem == spark.table("bkt_lineitem").count() > 0
    p = (spark.read.parquet(f"{SF_SMOKE}/part.parquet")
         .filter("p_type = 'PROMO'").select("p_partkey", "p_retailprice"))
    s = spark.read.parquet(f"{SF_SMOKE}/supplier.parquet").select(
        "s_suppkey", "s_nationkey")
    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").select(
        "n_nationkey", "n_name")
    frame = nation_profit_frame(
        spark.table("bkt_lineitem"), p, s, n,
        spark.table("bkt_orders").select("o_orderkey", "o_orderdate"),
    )
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    # appends keep the bucket spec usable (no incompatible-spec error) and
    # return the rows that append landed
    appended = transfer(spark, SF_SMOKE, "orders", "bkt_orders", bucket_by=orders_spec)
    assert appended == n_orders
    assert spark.table("bkt_orders").count() == 2 * n_orders
    # a bucketed append is schema-gated exactly like the plain one
    with pytest.raises(ValueError, match="record schema does not match"):
        transfer(spark, SF_SMOKE, "orders", "bkt_orders",
                 columns=["o_orderkey", "o_orderdate"], bucket_by=orders_spec)
    assert spark.table("bkt_orders").count() == 2 * n_orders
    for t in ("bkt_orders", "bkt_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_layout_advisor_recommends_bucket_by(spark, tmp_path):
    """The workload advisor emits a transfer-consumable bucket_by spec for
    an equality-shaped id-cardinality column (join/distinct-shaped), and
    never for low-cardinality or range-only usage."""
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import recommend_layout_for_workload

    path = str(tmp_path / "t")
    spark.range(200_000).selectExpr(
        "id AS user_id", "id % 4 AS k", "CAST(id AS DOUBLE) AS v"
    ).write.parquet(path)
    collect_table_stats(spark, path)
    rec = recommend_layout_for_workload(
        spark, path,
        predicates=["user_id = 42", "user_id IN (1, 2, 3)", "k = 1"],
    )
    assert rec["bucket_by"] is not None
    assert rec["bucket_by"]["cols"] == ["user_id"]
    assert rec["bucket_by"]["num_buckets"] >= 8
    # range-only usage on the id column -> no bucket advice
    rec2 = recommend_layout_for_workload(
        spark, path, predicates=["user_id BETWEEN 1 AND 9", "k = 1"],
    )
    assert rec2["bucket_by"] is None


def test_auto_shred_skips_non_identifier_keys(spark):
    """r11 review: a JSON key that is not a valid SQL identifier
    (user-agent, a dotted key, one containing ', ') must be skipped — it
    would fail from_json's DDL parser or inject columns — while valid
    keys still shred and the raw column retains the rest."""
    from bigquack_spark.operators.jsonshred import auto_shred_spec

    df = spark.createDataFrame(
        [(i, '{"user-agent": "x", "ok_key": %d, "a.b": 1, "evil, injected INT": 2}' % i)
         for i in range(50)],
        "id long, props string",
    )
    spec = auto_shred_spec(df)
    assert spec is not None and spec["col"] == "props"
    assert spec["schema"] == "ok_key BIGINT"
    # and the spec actually lands (the whole point: never fail the ingest)
    from bigquack_spark.operators.jsonshred import shred_json

    out = shred_json(df, spec["col"], spec["schema"], keep_raw=True)
    assert out.filter("ok_key IS NULL").count() == 0


def test_transfer_shred_auto_reingest_replays_target_spec(spark):
    """r11 review: a re-ingest into an auto-shredded target must REPLAY
    the target's own shred columns/types — never re-infer — so the append
    cannot fail the exact-schema gate on a drifted field set or a
    promoted type."""
    spark.sql("DROP TABLE IF EXISTS events_auto_re")
    n1 = transfer(spark, SF_SMOKE, "events", "events_auto_re", shred="auto")
    cols1 = spark.table("events_auto_re").columns
    n2 = transfer(spark, SF_SMOKE, "events", "events_auto_re", shred="auto")
    t = spark.table("events_auto_re")
    assert t.columns == cols1
    assert n1 > 0 and n2 == n1 and t.count() == n1 + n2
    spark.sql("DROP TABLE IF EXISTS events_auto_re")

    # a raw-landed target stays raw on auto re-ingest
    spark.sql("DROP TABLE IF EXISTS nation_auto_re")
    transfer(spark, SF_SMOKE, "nation", "nation_auto_re")  # no shred
    transfer(spark, SF_SMOKE, "nation", "nation_auto_re", shred="auto")
    want = sorted(spark.read.parquet(f"{SF_SMOKE}/nation.parquet").columns)
    assert sorted(spark.table("nation_auto_re").columns) == want
    spark.sql("DROP TABLE IF EXISTS nation_auto_re")


def test_transfer_shred_auto_refuses_extra_columns_without_provenance(spark):
    """Second r11 review pass: extra target columns with NO recorded shred
    provenance must refuse loudly — synthesizing them from a fresh guess
    would silently land NULLs (e.g. a projected-away real column)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS noprov")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").withColumn(
        "real_extra", F.lit(7)
    ).write.saveAsTable("noprov")
    with _pytest.raises(ValueError, match="no shred provenance"):
        transfer(spark, SF_SMOKE, "events", "noprov", shred="auto")
    spark.sql("DROP TABLE IF EXISTS noprov")


def test_transfer_records_and_replays_explicit_shred_spec(spark):
    """An explicit shred dict is recorded as provenance too, so a later
    shred=\"auto\" append replays it verbatim — including keep_raw=False
    (the raw column stays dropped, schema stays stable)."""
    from bigquack_spark.pipeline import SHRED_PROP_COL, SHRED_PROP_SCHEMA

    spark.sql("DROP TABLE IF EXISTS events_explicit")
    transfer(spark, SF_SMOKE, "events", "events_explicit",
             shred={"col": "props", "schema": "k INT", "keep_raw": False})
    props = {r["key"]: r["value"] for r in
             spark.sql("SHOW TBLPROPERTIES events_explicit").collect()}
    assert props.get(SHRED_PROP_COL) == "props"
    assert props.get(SHRED_PROP_SCHEMA) == "k INT"
    cols1 = spark.table("events_explicit").columns
    assert "props" not in cols1 and "k" in cols1
    n1 = spark.table("events_explicit").count()
    transfer(spark, SF_SMOKE, "events", "events_explicit", shred="auto")
    t = spark.table("events_explicit")
    assert t.columns == cols1 and t.count() == 2 * n1
    spark.sql("DROP TABLE IF EXISTS events_explicit")


def test_layout_advisor_counts_qualified_references(spark, tmp_path):
    """r11 advice: logged predicates may carry a table qualifier
    (`u.user_id = 42`).  The advisor must (a) analyze them — the probe
    frame takes the qualifier as its alias — and (b) count them toward
    equality usage, so aliased workloads still earn bucket advice."""
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import recommend_layout_for_workload

    path = str(tmp_path / "t")
    spark.range(200_000).selectExpr(
        "id AS user_id", "id % 4 AS k", "CAST(id AS DOUBLE) AS v"
    ).write.parquet(path)
    collect_table_stats(spark, path)
    rec = recommend_layout_for_workload(
        spark, path,
        predicates=["u.user_id = 42", "u.user_id IN (1, 2, 3)", "u.k = 1"],
    )
    assert rec["bucket_by"] is not None
    assert rec["bucket_by"]["cols"] == ["user_id"]
    assert rec["column_usage"] == {"user_id": 2, "k": 1}

    # two distinct qualifiers = a multi-table predicate: refused loudly
    import pytest

    with pytest.raises(ValueError, match="qualifiers"):
        recommend_layout_for_workload(
            spark, path, predicates=["o.user_id = l.k"],
        )


def test_distinct_strategy_advisor_and_lint(spark, tmp_path):
    """r11 verdict #5: exact distinct at scale must be a CHOICE, not a
    default.  The stats-gated rule proposes approx_count_distinct(rsd)
    with the q252 contract exactly when both gates pass (big table AND
    high-ndv column); the plan lint warns on any exact-distinct plan."""
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import recommend_distinct_strategy
    from bigquack_spark.planlint import lint_plan

    path = str(tmp_path / "t")
    spark.range(300_000).selectExpr(
        "id AS user_id", "id % 50 AS k"
    ).write.parquet(path)
    collect_table_stats(spark, path)

    # thresholds scaled to the fixture: rows gate passes, so the high-ndv
    # column goes approx and the low-ndv column stays exact
    rec = recommend_distinct_strategy(
        path, row_threshold=100_000, ndv_threshold=10_000
    )
    assert rec["columns"]["user_id"]["strategy"] == "approx"
    assert rec["columns"]["user_id"]["rewrite"].startswith("approx_count_distinct")
    assert "q252" in rec["columns"]["user_id"]["contract"]
    assert rec["columns"]["k"]["strategy"] == "exact"
    assert "collapses" in rec["columns"]["k"]["reason"]
    # small table: everything exact, whatever the ndv
    rec2 = recommend_distinct_strategy(path)  # default 10M-row gate
    assert {v["strategy"] for v in rec2["columns"].values()} == {"exact"}

    # plan lint: exact distinct warns, the sketch twin does not
    import pyspark.sql.functions as F

    df = spark.read.parquet(path)
    exact = df.groupBy("k").agg(F.countDistinct("user_id"))
    codes = {c for _, c, _ in lint_plan(exact)}
    assert "exact_distinct" in codes
    approx = df.groupBy("k").agg(F.approx_count_distinct("user_id"))
    assert "exact_distinct" not in {c for _, c, _ in lint_plan(approx)}


def test_layout_advisor_ignores_dotted_string_literals(spark, tmp_path):
    """r12 review: dotted text inside SQL string literals ('cdn.example.com')
    must not be read as table qualifiers — neither rejecting the predicate
    as multi-table nor installing a bogus probe alias."""
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import recommend_layout_for_workload

    path = str(tmp_path / "t")
    spark.range(200_000).selectExpr(
        "id AS user_id", "CAST(id AS STRING) AS url"
    ).write.parquet(path)
    collect_table_stats(spark, path)
    # dotted literal alone: analyzes fine, no qualifier inferred
    rec = recommend_layout_for_workload(
        spark, path,
        predicates=["url = 'cdn.example.com'", "user_id = 42",
                    "u.user_id IN (1, 2)"],
    )
    assert rec["column_usage"]["user_id"] == 2
    # qualified column + dotted literal in ONE predicate: single qualifier
    rec2 = recommend_layout_for_workload(
        spark, path, predicates=["u.user_id = 1 AND u.url <> 'a.txt'"],
    )
    assert rec2["column_usage"] == {"user_id": 1, "url": 1}


def test_load_table_auto_rebalance_guard(spark, tmp_path):
    """rebalance=True pays the spread-exchange only when the planned scan
    has fewer splits than the session's parallelism; a hash key partitions
    by that column instead of round-robin (r12 optimization)."""
    from bigquack_spark.sources.parquet import load_table

    target = spark.sparkContext.defaultParallelism

    # the smoke parquet is one row group -> 1-split scan: guard fires
    d = load_table(spark, SF_SMOKE, "documents", rebalance=True)
    assert d.rdd.getNumPartitions() == target
    plan = d._sc._jvm.PythonSQLUtils.explainString(
        d._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" in plan

    # hash key -> hashpartitioning, not round robin
    h = load_table(
        spark, SF_SMOKE, "documents",
        columns=["doc_id", "text"], rebalance=True, rebalance_key="doc_id",
    )
    hplan = h._sc._jvm.PythonSQLUtils.explainString(
        h._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(doc_id" in hplan
    assert "roundrobin" not in hplan.lower()

    # a many-file layout already at/above parallelism: guard must NOT fire
    path = str(tmp_path / "many")
    spark.range(0, 10_000).repartition(target).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text"
    ).write.parquet(path)
    import bigquack_spark.sources.parquet as P
    orig = P.table_path
    P.table_path = lambda sf_dir, name: path
    try:
        m = P.load_table(spark, "ignored", "many", rebalance=True)
    finally:
        P.table_path = orig
    mplan = m._sc._jvm.PythonSQLUtils.explainString(
        m._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in mplan


def test_estimated_scan_splits_matches_planner(spark, tmp_path):
    """r12 verdict #5: the auto-rebalance guard's r12 probe
    (`df.rdd.getNumPartitions()`) forced an analyzer pass + RDD conversion
    per load_table call at query-BUILD time.  `_estimated_scan_splits`
    computes the planner's split count from the file index of the freshly
    read frame.  Pin (a) decision-equivalence with the real planner count
    on every bench table at both smoke SFs, (b) closeness and zero-Exchange
    on a single-file multi-row-group layout (the bench multifile shape: a
    properly laid-out table at scale must NOT pay the spread exchange),
    read both by plain path and by ``file://`` URI (a listing that only
    understood local paths saw no files behind a URI and forced the
    exchange)."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    import bigquack_spark.sources.parquet as P
    from bigquack_spark.sources.parquet import _estimated_scan_splits, load_table

    par = spark.sparkContext.defaultParallelism

    # (a) every real bench table, both smoke dirs, default split conf
    for sf_dir in (SF_SMOKE, SF_T2):
        for name in P.TABLES:
            path = P.table_path(sf_dir, name)
            if not os.path.exists(path):
                continue
            df = spark.read.parquet(path)
            actual = df.rdd.getNumPartitions()
            est = _estimated_scan_splits(df)
            assert (est < par) == (actual < par), (
                f"{path}: est {est} vs planner {actual} flip the guard at {par}"
            )

    # (b) single file, many row groups, enough byte-range splits to reach
    # parallelism once maxPartitionBytes is tier-sized (the multifile/scale
    # layout): guard must stay silent and the estimate must track the planner
    n = 200_000
    text = [hashlib.md5(str(i).encode()).hexdigest() * 2 for i in range(n)]
    tbl = pa.table({"doc_id": pa.array(range(n), pa.int64()), "text": pa.array(text)})
    path = str(tmp_path / "mrg.parquet")
    pq.write_table(tbl, path, row_group_size=20_000, compression="none")
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    orig = P.table_path
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        for loc in (path, "file://" + path):
            df = spark.read.parquet(loc)
            actual = df.rdd.getNumPartitions()
            est = _estimated_scan_splits(df)
            assert actual >= par, "layout under test must be multi-split"
            assert (est < par) == (actual < par), loc
            assert abs(est - actual) <= max(2, actual // 4), loc
            P.table_path = lambda sf_dir, name, loc=loc: loc
            m = load_table(spark, "ignored", "mrg", rebalance=True, rebalance_key="doc_id")
            mplan = m._sc._jvm.PythonSQLUtils.explainString(
                m._jdf.queryExecution(), "formatted"
            )
            assert "Exchange" not in mplan, loc
    finally:
        P.table_path = orig
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def _jobs_run(spark, fn):
    """``(fn(), Spark jobs it ran)``: the status store's highest-job-id
    delta, read after the listener bus has drained."""
    sc = spark.sparkContext

    def top():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = top()
    out = fn()
    return out, top() - before


def test_load_table_warm_read_runs_no_job(spark, tmp_path):
    """The schema is inferred once per (path, file set, session conf): a
    second load_table runs no Spark job and returns what a fresh read
    returns — for a TIMESTAMP(NANOS) table (normalized to µs) and a tz-less
    timestamp file as well as the smoke tables."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigquack_spark.sources.parquet import _normalize_nanos, load_table, table_path

    d = str(tmp_path)
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001],
                       pa.timestamp("ns")),
    }), table_path(d, "events"))
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "t": pa.array([datetime.datetime(2024, 1, 1, 1, 2, 3),
                       datetime.datetime(2024, 5, 1)], pa.timestamp("us")),
    }), table_path(d, "naive"))
    for sf_dir, name in [(d, "events"), (d, "naive"), (SF_SMOKE, "events"),
                         (SF_SMOKE, "nation"), (SF_SMOKE, "lineitem")]:
        load_table(spark, sf_dir, name)
        warm, jobs = _jobs_run(spark, lambda: load_table(spark, sf_dir, name))
        assert jobs == 0, (sf_dir, name)
        fresh = _normalize_nanos(spark.read.parquet(table_path(sf_dir, name)))
        assert warm.schema == fresh.schema, (sf_dir, name)
        assert sorted(warm.collect()) == sorted(fresh.collect()), (sf_dir, name)
    us = load_table(spark, d, "events", predicate="event_id = 1") \
        .selectExpr("unix_micros(ts) AS us").collect()
    assert [r.us for r in us] == [1_700_000_000_123_456]


def test_load_table_schema_cache_sees_file_changes(spark, tmp_path):
    """A remembered schema is used only for the file set it was inferred
    from: rewriting a file with another schema, or adding a file to a
    directory table, is seen."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigquack_spark.sources.parquet import load_table, table_path

    d = str(tmp_path)
    path = table_path(d, "t")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    load_table(spark, d, "t")
    assert load_table(spark, d, "t").columns == ["a"]
    pq.write_table(pa.table({"b": pa.array(["x", "y", "z"]),
                             "c": pa.array([1.5, 2.5, 3.5])}), path)
    df = load_table(spark, d, "t")
    assert df.columns == ["b", "c"]
    assert sorted(r.b for r in df.collect()) == ["x", "y", "z"]

    dpath = table_path(d, "dir")
    os.makedirs(dpath)
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}),
                   os.path.join(dpath, "part-0.parquet"))
    load_table(spark, d, "dir")
    _, jobs = _jobs_run(spark, lambda: load_table(spark, d, "dir").columns)
    assert jobs == 0
    pq.write_table(pa.table({"a": pa.array([3], pa.int64())}),
                   os.path.join(dpath, "part-1.parquet"))
    df, jobs = _jobs_run(spark, lambda: load_table(spark, d, "dir"))
    assert jobs == 1, "a new file must re-infer the schema"
    assert sorted(r.a for r in df.collect()) == [1, 2, 3]


def test_load_table_schema_cache_keys_on_session_conf(spark, tmp_path):
    """A conf that steers inference forces a re-infer: with
    ``nanosAsLong`` off, a TIMESTAMP(NANOS) file fails to read exactly as a
    fresh ``spark.read.parquet`` does, instead of reusing the schema
    remembered under ``nanosAsLong`` on."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    from bigquack_spark.sources.parquet import load_table, table_path

    d = str(tmp_path)
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_123_456_789],
                                            pa.timestamp("ns"))}),
                   table_path(d, "ns"))
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        load_table(spark, d, "ns")
        _, jobs = _jobs_run(spark, lambda: load_table(spark, d, "ns"))
        assert jobs == 0
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(table_path(d, "ns"))
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, d, "ns")
        spark.conf.set(conf, "true")
        _, jobs = _jobs_run(spark, lambda: load_table(spark, d, "ns"))
        assert jobs == 0
    finally:
        spark.conf.set(conf, prev)


def test_load_table_schema_cache_keeps_partition_columns(spark, tmp_path):
    """A ``k=v/`` partitioned directory keeps its partition column's
    inferred type and its position (last) when the remembered schema is
    handed back to the reader."""
    from pyspark.sql import types as T

    from bigquack_spark.sources.parquet import load_table, table_path

    d = str(tmp_path)
    path = table_path(d, "parts")
    spark.range(0, 6).selectExpr("id", "CAST(id % 3 AS INT) AS k", "'v' AS s") \
        .write.partitionBy("k").parquet(path)
    fresh = spark.read.parquet(path)
    load_table(spark, d, "parts")
    warm, jobs = _jobs_run(spark, lambda: load_table(spark, d, "parts"))
    assert jobs == 0
    assert warm.schema == fresh.schema
    assert warm.columns[-1] == "k"
    assert isinstance(warm.schema["k"].dataType, T.IntegerType)
    assert sorted(warm.collect()) == sorted(fresh.collect())


def test_load_table_schema_cache_bounded_under_threads(spark, monkeypatch):
    """Concurrent readers over more tables than the cache holds: every
    frame has its table's own schema and the cache never exceeds its
    bound (evictions race hits on the shared LRU)."""
    import sys
    import threading
    from collections import OrderedDict

    import bigquack_spark.sources.parquet as P

    names = ["region", "nation", "supplier"]
    want = {n: spark.read.parquet(P.table_path(SF_SMOKE, n)).schema for n in names}
    monkeypatch.setattr(P, "_schema_cache", OrderedDict())
    monkeypatch.setattr(P, "_SCHEMA_CACHE_SIZE", 2)
    errors, sizes = [], []

    def reader(k):
        try:
            for i in range(4):
                n = names[(k + i) % len(names)]
                if P.load_table(spark, SF_SMOKE, n).schema != want[n]:
                    errors.append(n)
                sizes.append(len(P._schema_cache))
        except Exception as e:  # surfaced by the assert below
            errors.append(repr(e))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,))
                   for k in range(2 * (os.cpu_count() or 2))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 4 * len(threads)
    assert max(sizes) <= 2


def test_warm_query_build_runs_no_job(spark):
    """Building a headline query a second time runs no Spark job: every
    table's schema is remembered from the first build.  q75 keeps exactly
    its one bounded query-vector collect."""
    from bigquack_spark.queries import QUERIES

    expected = {
        "q01_pricing_summary": 0,
        "q03_shipping_priority": 0,
        "q05_region_revenue": 0,
        "q07_top_customers_per_nation": 0,
        "q20_events_json_extract": 0,
        "q30_dedup_exact": 0,
        "q75_ann_gemm_topk": 1,
    }
    for name, want in expected.items():
        build = QUERIES[name].fn
        build(spark, SF_SMOKE)
        _, jobs = _jobs_run(spark, lambda: build(spark, SF_SMOKE))
        assert jobs == want, f"{name}: second build ran {jobs} jobs, want {want}"


def test_stream_readers_and_register_parquet_warm_read_runs_no_job(spark):
    """The streaming readers pin their schema, and ``Engine.register_parquet``
    reads its file, through the remembered-schema read: a second call runs
    no Spark job."""
    from bigquack_spark.engine import Engine
    from bigquack_spark.sources.parquet import table_path
    from bigquack_spark.streaming.documents import read_documents_stream
    from bigquack_spark.streaming.events import read_events_stream

    engine = Engine(spark)
    calls = {
        "events stream": lambda: read_events_stream(spark, SF_SMOKE),
        "documents stream": lambda: read_documents_stream(spark, SF_SMOKE),
        "register_parquet": lambda: engine.register_parquet(
            "warm_nation", table_path(SF_SMOKE, "nation")),
    }
    for name, call in calls.items():
        call()
        _, jobs = _jobs_run(spark, call)
        assert jobs == 0, f"{name}: warm call ran {jobs} jobs"
    assert spark.table("warm_nation").count() == 25


def test_udf_query_runs_from_another_cwd(tmp_path):
    """Python UDF workers find the package when the driver imports it from
    outside its cwd: ``get_spark`` hands its directory to the executors.
    q60's feature kernels run in those workers."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from bigquack_spark.queries import QUERIES
        from bigquack_spark.session import get_spark
        spark = get_spark(master="local[1]", extra={{"spark.driver.memory": "1g"}})
        name = next(n for n in QUERIES if n.startswith("q60_"))
        print("ROWS", QUERIES[name].fn(spark, {SF_SMOKE!r}).count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300,
        cwd=str(tmp_path), env=env,
    )
    assert "ROWS 500" in proc.stdout, proc.stderr[-3000:]
