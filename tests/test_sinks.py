"""Atomic write-stream tests (bigquery_write.go protocol, SURVEY §2.2
K2-K4): pending invisibility, atomic publish, exactly-once offsets,
schema gate, abort-discard."""

from __future__ import annotations

import os

import pytest

from bigquack_spark.sinks.atomic import AtomicWriter, WriteStreamType


@pytest.fixture()
def batch(spark):
    return spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")


def test_pending_invisible_until_finalize(spark, batch, tmp_path):
    target = str(tmp_path / "t1")
    w = AtomicWriter(target, WriteStreamType.PENDING)
    w.write(batch)
    assert not os.path.exists(target)  # pending data not visible
    assert w.finalize() == 2
    assert spark.read.parquet(target).count() == 2
    assert os.path.exists(os.path.join(target, "_BQ_COMMIT"))


def test_committed_visible_per_batch(spark, batch, tmp_path):
    target = str(tmp_path / "t2")
    w = AtomicWriter(target, WriteStreamType.COMMITTED)
    w.write(batch)
    assert spark.read.parquet(target).count() == 2  # visible immediately
    w.write(batch)
    assert spark.read.parquet(target).count() == 4
    w.finalize()


def test_offsets_exactly_once(spark, batch, tmp_path):
    """bigquery_write.go:448-460: replayed offset is a no-op; gap is an
    error."""
    target = str(tmp_path / "t3")
    w = AtomicWriter(target, WriteStreamType.PENDING)
    assert w.write(batch, offset=0) == 0
    assert w.write(batch, offset=0) == 0  # replay: acked, not re-written
    assert w.write(batch, offset=1) == 1
    with pytest.raises(ValueError, match="offset gap"):
        w.write(batch, offset=5)
    assert w.finalize() == 4  # replay did not duplicate
    assert spark.read.parquet(target).count() == 4


def test_schema_gate(spark, batch, tmp_path):
    """bigquery_write.go:422-424 on every appended record."""
    w = AtomicWriter(str(tmp_path / "t4"), WriteStreamType.PENDING)
    w.write(batch)
    other = spark.createDataFrame([(1.0, "a")], "id double, v string")
    with pytest.raises(ValueError, match="schema"):
        w.write(other)
    w.close()


def test_abort_discards_pending(spark, batch, tmp_path):
    """bigquery_write.go:488-503: closing an unfinalized pending stream
    drops its data."""
    target = str(tmp_path / "t5")
    w = AtomicWriter(target, WriteStreamType.PENDING)
    w.write(batch)
    w.close()
    assert not os.path.exists(target)
    assert not os.path.exists(w._dest)


def test_finalize_into_existing_target(spark, batch, tmp_path):
    target = str(tmp_path / "t6")
    with AtomicWriter(target, WriteStreamType.PENDING) as w1:
        w1.write(batch)
    with AtomicWriter(target, WriteStreamType.PENDING) as w2:
        w2.write(batch)
    assert spark.read.parquet(target).count() == 4


# -- pipelined PENDING batches ----------------------------------------------


def _slow_batch(spark, rows=2, sleep_ms=400):
    """A ``(id bigint, v string)`` batch whose tasks each sleep: one task
    per row, so the batch's job stays in flight for a while."""
    return spark.range(0, rows, 1, rows).selectExpr(
        "id", f"CAST(reflect('java.lang.Thread', 'sleep', {sleep_ms}L) AS STRING) AS v")


def test_pending_batch_failure_surfaces_at_finalize(spark, batch, tmp_path):
    """A batch that fails while it runs makes finalize() raise: nothing is
    published, close() leaves no staging, and a later write() raises."""
    target = str(tmp_path / "t_fail")
    w = AtomicWriter(target, WriteStreamType.PENDING)
    w.write(batch)
    w.write(spark.range(3).selectExpr(
        "id", "if(id = 2, raise_error('batch boom'), 'x') AS v"))
    with pytest.raises(Exception, match="batch boom"):
        w.finalize()
    assert not os.path.exists(target)
    with pytest.raises(Exception, match="batch boom"):
        w.write(batch)
    w.close()
    assert not os.path.exists(target)
    assert not os.path.exists(w._dest)


def test_pending_close_waits_for_batches_in_flight(spark, tmp_path):
    target = str(tmp_path / "t_inflight")
    w = AtomicWriter(target, WriteStreamType.PENDING)
    for _ in range(3):
        w.write(_slow_batch(spark))
    assert not all(f.done() for f in w._inflight)
    w.close()
    assert not os.path.exists(target)
    assert not os.path.exists(w._dest)


def test_pipelined_stream_publishes_what_a_serial_stream_does(
    spark, tmp_path, monkeypatch
):
    """Rows, ``_BQ_COMMIT`` and ``_LINEAGE.json`` of a 4-batch stream equal
    those of the same stream with each batch landed before the next."""
    import json

    from pyspark.sql import functions as F

    from bigquack_spark.lineage import LINEAGE_FILE
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity")

    def stream(target):
        with AtomicWriter(target, WriteStreamType.PENDING) as w:
            for b in range(4):
                w.write(li.filter(F.expr(f"pmod(l_orderkey, 4) = {b}")))
        rows = sorted(map(tuple, spark.read.parquet(target).collect()))
        commit = json.load(open(os.path.join(target, "_BQ_COMMIT")))
        lineage = json.load(open(os.path.join(target, LINEAGE_FILE)))
        assert lineage.pop("output") == target
        return rows, commit, lineage

    piped = stream(str(tmp_path / "piped"))
    submit = AtomicWriter._submit

    def one_at_a_time(self, df, offset):
        submit(self, df, offset)
        self._reap(keep=0)

    monkeypatch.setattr(AtomicWriter, "_submit", one_at_a_time)
    serial = stream(str(tmp_path / "serial"))
    assert piped == serial
    assert piped[1] == {"rows": li.count(), "batches": 4}


def test_pending_batch_jobs_overlap_under_the_callers_job_group(spark, tmp_path):
    """The gain itself: on 2+ cores two batch jobs of one stream run at the
    same time, and they run in the job group the caller set."""
    sc = spark.sparkContext
    if sc.defaultParallelism < 2:
        pytest.skip("needs a session with 2 or more cores")
    group = f"atomic-overlap-{tmp_path.name}"
    sc.setJobGroup(group, "pipelined AtomicWriter batches")
    try:
        w = AtomicWriter(str(tmp_path / "t_overlap"), WriteStreamType.PENDING)
        for _ in range(4):
            w.write(_slow_batch(spark, rows=1))
        assert w.finalize() == 4
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    spans = sorted(
        (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
        for jd in (store.job(j) for j in sc.statusTracker().getJobIdsForGroup(group))
    )
    assert len(spans) == 4
    assert any(b[0] < a[1] for a, b in zip(spans, spans[1:]))


# -- small-file compaction (sinks/compact.py) --------------------------------


def _data_files(path):
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        out += [
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
    return out


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    from bigquack_spark.sinks.compact import compact

    path = str(tmp_path / "frag")
    df = spark.range(2000).selectExpr("id", "id % 3 AS k", "repeat('x', 50) AS pad")
    df.repartition(40).write.partitionBy("k").parquet(path)
    before_files = _data_files(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    report = compact(spark, path, target_file_bytes=1 << 30)
    assert report["partitions_compacted"] == 3
    assert report["files_before"] == len(before_files)
    assert report["files_after"] == 3  # one full-size file per partition

    after_files = _data_files(path)
    assert len(after_files) == 3
    after_df = spark.read.parquet(path)
    assert sorted(r.id for r in after_df.collect()) == before
    assert set(after_df.columns) == {"id", "k", "pad"}


def test_compact_is_idempotent_and_skips_healthy(spark, tmp_path):
    from bigquack_spark.sinks.compact import compact, plan_compaction

    path = str(tmp_path / "frag2")
    spark.range(500).repartition(20).write.parquet(path)
    compact(spark, path, target_file_bytes=1 << 30)
    # second run plans no work: every partition already at its file budget
    assert plan_compaction(path, target_file_bytes=1 << 30) == []
    report = compact(spark, path, target_file_bytes=1 << 30)
    assert report["partitions_compacted"] == 0
    assert spark.read.parquet(path).count() == 500


# -- range-clustered layout (sinks/clustered.py) -----------------------------


def test_clustered_write_makes_disjoint_file_ranges(spark, tmp_path):
    """Footer min/max of each file must form non-overlapping key ranges —
    the property parquet data skipping depends on."""
    import pyarrow.parquet as pq

    from bigquack_spark.sinks.clustered import save_clustered

    path = str(tmp_path / "clustered")
    df = spark.range(10_000).selectExpr("pmod(hash(id), 1000) AS k", "id AS v")
    save_clustered(df, path, ["k"], num_files=8)

    ranges = []
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        kcol = [md.schema.column(i).name for i in range(md.num_columns)].index("k")
        lo = min(md.row_group(g).column(kcol).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(kcol).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 8
    for (_, prev_hi), (next_lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi <= next_lo  # disjoint up to boundary-equal keys
    # content is untouched by the relayout
    assert spark.read.parquet(path).count() == 10_000


def test_clustered_scan_prunes_files(spark, tmp_path):
    """A selective filter on the clustering key should read a fraction of
    the files (Spark's parquet source skips via footer stats)."""
    from bigquack_spark.sinks.clustered import save_clustered

    path = str(tmp_path / "clustered2")
    save_clustered(
        spark.range(10_000).selectExpr("pmod(hash(id), 1000) AS k", "id AS v"),
        path, ["k"], num_files=8,
    )
    got = spark.read.parquet(path).filter("k = 7").collect()
    want = [r for r in spark.read.parquet(path).collect() if r.k == 7]
    assert sorted(r.v for r in got) == sorted(r.v for r in want)


def test_compact_with_cluster_cols_fixes_count_and_order(spark, tmp_path):
    """One maintenance pass: many small files -> n_out range-clustered files
    whose footer key ranges are disjoint, content preserved."""
    import pyarrow.parquet as pq

    from bigquack_spark.sinks.compact import compact

    path = str(tmp_path / "t")
    # 20 small unsorted files, interleaved key ranges
    spark.range(20_000).selectExpr("pmod(hash(id), 1000) AS k", "id AS v") \
        .repartition(20).write.parquet(path)
    report = compact(spark, path, target_file_bytes=1 << 30, cluster_cols=["k"])
    assert report["partitions_compacted"] == 1
    files = _data_files(path)
    assert len(files) == 1 or len(files) < 20
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        kcol = [md.schema.column(i).name for i in range(md.num_columns)].index("k")
        lo = min(md.row_group(g).column(kcol).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(kcol).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (_, prev_hi), (next_lo, _) in zip(ranges, ranges[1:]):
        assert prev_hi <= next_lo
    assert spark.read.parquet(path).count() == 20_000


# -- keyed MERGE (sinks/merge.py) --------------------------------------------


def test_merge_upsert_update_insert_delete_and_idempotent(spark, tmp_path):
    from bigquack_spark.sinks.merge import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k bigint, s string, v double"
    ).write.parquet(path)
    changes = spark.createDataFrame(
        [
            (2, "b2", 99.0, False),   # update
            (4, "d", 40.0, False),    # insert
            (3, None, None, True),    # delete
        ],
        "k bigint, s string, v double, is_delete boolean",
    )
    report = merge_upsert(spark, path, changes, ["k"], delete_col="is_delete")
    got = {r.k: (r.s, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0), 4: ("d", 40.0)}
    assert {
        k: report[k] for k in ("rows_before", "rows_after", "upserts", "deletes")
    } == {"rows_before": 3, "rows_after": 3, "upserts": 2, "deletes": 1}
    assert report["generation"] is not None

    # idempotent: replaying the same change set converges to the same state
    merge_upsert(spark, path, changes, ["k"], delete_col="is_delete")
    again = {r.k: (r.s, r.v) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_merge_upsert_self_heals_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the table stranded in a
    .old- backup with target_path missing; the next merge_upsert call must
    restore the backup and proceed normally."""
    import os

    from bigquack_spark.sinks.merge import merge_upsert

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k bigint, s string, v double"
    ).write.parquet(path)
    # simulate the crash window: first rename done, second never happened,
    # plus an ABANDONED staging dir from the dead merge (aged past the reap
    # window — young staging dirs belong to live merges and must survive)
    os.rename(path, path + ".old-deadbeef0000")
    os.makedirs(path + ".merge-deadbeef0000")
    old = 1_000_000.0
    os.utime(path + ".merge-deadbeef0000", (old, old))
    changes = spark.createDataFrame(
        [(2, "b2", 99.0, False)], "k bigint, s string, v double, is_delete boolean"
    )
    merge_upsert(spark, path, changes, ["k"], delete_col="is_delete")
    got = {r.k: (r.s, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 99.0)}
    assert not os.path.exists(path + ".old-deadbeef0000")
    assert not os.path.exists(path + ".merge-deadbeef0000")


def test_lakehouse_auto_selects_and_writes(spark, batch, tmp_path):
    """Gated lakehouse sink: in this container neither Delta nor Iceberg
    jars exist, so detection must report parquet as the floor and the
    write must land there atomically (with _SUCCESS job-commit marker)."""
    from bigquack_spark.sinks.lakehouse import available_formats, lakehouse_write

    fmts = available_formats(spark)
    assert fmts[-1] == "parquet"  # always-available floor
    target = str(tmp_path / "lake")
    used = lakehouse_write(batch, target, mode="overwrite")
    assert used == fmts[0]
    if used == "parquet":
        assert os.path.exists(os.path.join(target, "_SUCCESS"))
    assert spark.read.format(used).load(target).count() == batch.count()


def test_lakehouse_real_delta_commit_semantics(spark, batch, tmp_path):
    """r11 verdict #4: exercise the lakehouse gate's DELTA branch for real.

    Environmental seam (see sinks/lakehouse.py module docstring): this
    container ships no Delta jar and has no network route to fetch one, so
    here the test records the documented skip — on a cluster with
    io.delta:delta-spark on the classpath it runs the full commit
    contract instead: every write lands one JSON commit in _delta_log
    (atomic visibility), append adds a snapshot without rewriting the old
    one, and overwrite is a new snapshot rather than an in-place delete
    (time travel still sees version 0)."""
    from bigquack_spark.sinks.lakehouse import available_formats, lakehouse_write

    if "delta" not in available_formats(spark):
        pytest.skip(
            "environmental seam: no Delta jar in container and no network "
            "to fetch io.delta:delta-spark (sinks/lakehouse.py docstring, "
            "r12) — on a provisioned cluster this test runs for real"
        )
    target = str(tmp_path / "delta_tbl")
    assert lakehouse_write(batch, target, mode="overwrite") == "delta"
    log = os.path.join(target, "_delta_log")
    assert os.path.exists(os.path.join(log, "00000000000000000000.json"))
    n = batch.count()
    assert spark.read.format("delta").load(target).count() == n
    # append = one new commit, old snapshot untouched
    assert lakehouse_write(batch, target, mode="append") == "delta"
    assert os.path.exists(os.path.join(log, "00000000000000000001.json"))
    assert spark.read.format("delta").load(target).count() == 2 * n
    # overwrite = a THIRD snapshot; version 0 still time-travels
    lakehouse_write(batch, target, mode="overwrite")
    assert (
        spark.read.format("delta").option("versionAsOf", 0).load(target).count()
        == n
    )
    assert spark.read.format("delta").load(target).count() == n


def test_lakehouse_rejects_unavailable_format(spark, batch, tmp_path):
    from bigquack_spark.sinks.lakehouse import lakehouse_write

    with pytest.raises(ValueError, match="not available"):
        lakehouse_write(batch, str(tmp_path / "x"), table_format="hudi")


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order layout: per-file min/max ranges must be narrow on BOTH
    z-ordered columns (footer-stat pruning works for predicates on either),
    where single-key clustering leaves the second column's ranges at full
    width."""
    import pyarrow.parquet as pq
    import os

    from bigquack_spark.sinks.clustered import save_clustered, save_zordered

    n = 20_000
    df = spark.range(n).selectExpr(
        "CAST(id % 141 AS DOUBLE) AS x", "CAST((id * 7919) % 149 AS DOUBLE) AS y"
    )

    def avg_range_frac(path, col, domain):
        fracs = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            fracs.append((hi - lo) / domain)
        return sum(fracs) / len(fracs)

    zp, cp = str(tmp_path / "z"), str(tmp_path / "c")
    save_zordered(df, zp, ["x", "y"], num_files=16)
    save_clustered(df, cp, ["x"], num_files=16)
    # single-key layout: x narrow, y full-width
    assert avg_range_frac(cp, "x", 140.0) < 0.2
    assert avg_range_frac(cp, "y", 148.0) > 0.8
    # z-order: BOTH columns substantially narrower than full width
    zx, zy = avg_range_frac(zp, "x", 140.0), avg_range_frac(zp, "y", 148.0)
    assert zx < 0.6 and zy < 0.6, (zx, zy)
    # rows preserved
    assert spark.read.parquet(zp).count() == n


# -- write-audit-publish (sinks/wap.py) --------------------------------------


def test_wap_publishes_only_clean_data(spark, tmp_path):
    from bigquack_spark.sinks.wap import (
        in_range,
        not_null,
        row_count_min,
        unique,
        write_audit_publish,
    )

    path = str(tmp_path / "t")
    clean = spark.createDataFrame([(1, "a", 5.0), (2, "b", 7.0)], "k bigint, s string, v double")
    checks = [not_null("k", "s"), unique("k"), in_range("v", 0, 10), row_count_min(2)]
    rep = write_audit_publish(clean, path, checks)
    assert rep["published"] and rep["rows"] == 2
    assert all(v == 0 for v in rep["violations"].values())
    assert spark.read.parquet(path).count() == 2

    # dirty update: null key, dup key, out-of-range value -> audit refuses,
    # live table untouched, staging cleaned up
    dirty = spark.createDataFrame(
        [(None, "x", 5.0), (2, "b", 7.0), (2, "c", 99.0)], "k bigint, s string, v double"
    )
    rep2 = write_audit_publish(dirty, path, checks)
    assert not rep2["published"]
    assert rep2["violations"]["not_null(k,s)"] == 1
    assert rep2["violations"]["unique(k)"] == 1
    assert rep2["violations"]["in_range(v,0,10)"] == 1
    got = {r.k for r in spark.read.parquet(path).collect()}
    assert got == {1, 2}  # previous publish still live
    import os as _os
    leftovers = [p for p in _os.listdir(str(tmp_path)) if ".merge-" in p or ".old-" in p]
    assert leftovers == []


def test_jsonl_export_roundtrip_and_manifest(spark, tmp_path):
    """JSONL shard export: schema-faithful roundtrip, shard-size bound
    respected, manifest checksum verifies (and detects corruption)."""
    import json
    import os

    from bigquack_spark.sinks.jsonl import export_jsonl_shards, verify_jsonl_export
    from tests.conftest import SF_SMOKE

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "lang", "text")
        .repartition(4)
    )
    path = str(tmp_path / "export")
    manifest = export_jsonl_shards(docs, path, shard_records=100)
    assert manifest["n_records"] == docs.count()
    # shard bound: no part file carries more than shard_records lines
    for f in os.listdir(path):
        if f.startswith("part-"):
            with open(os.path.join(path, f)) as fh:
                assert sum(1 for _ in fh) <= 100
    # roundtrip: read back as JSON, compare content
    back = spark.read.json(path)
    got = sorted((r.doc_id, r.lang, r.text) for r in back.collect())
    want = sorted((r.doc_id, r.lang, r.text) for r in docs.collect())
    assert got == want
    assert verify_jsonl_export(spark, path)
    # corrupt one line -> checksum must catch it
    part = next(f for f in os.listdir(path) if f.startswith("part-"))
    fp = os.path.join(path, part)
    with open(fp) as fh:
        lines = fh.readlines()
    lines[0] = lines[0].replace('"', "'", 1)
    with open(fp, "w") as fh:
        fh.writelines(lines)
    # drop Hadoop's local-FS CRC sidecar: we are simulating corruption in
    # TRANSPORT (object stores carry no such sidecar), and the manifest
    # checksum must catch it on its own
    crc = os.path.join(path, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    assert not verify_jsonl_export(spark, path)


def test_arrow_shard_export_roundtrip(spark, tmp_path):
    """Arrow IPC shard export: distributed per-partition writers, manifest
    row counts verified on read, exact-type roundtrip incl. the embedding
    array column."""
    from bigquack_spark.sinks.arrow import export_arrow_shards, read_arrow_shards
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").repartition(4)
    path = str(tmp_path / "arrow_out")
    manifest = export_arrow_shards(emb, path)
    assert manifest["n_records"] == emb.count()
    assert len(manifest["shards"]) >= 2  # genuinely distributed writers
    back = read_arrow_shards(spark, path)
    got = sorted((r.vec_id, r.label, tuple(r.embedding)) for r in back.collect())
    want = sorted((r.vec_id, r.label, tuple(r.embedding)) for r in emb.collect())
    assert got == want

    # truncated shard must fail loudly
    import json as _json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        m = _json.load(fh)
    first = sorted(m["shards"])[0]
    m["shards"][first] += 1
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        _json.dump(m, fh)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="manifest says"):
        read_arrow_shards(spark, path)


def test_jsonl_sum_channel_catches_even_multiplicity_swap(spark, tmp_path):
    """The r3-advice blind spot: a corruption where every distinct line's
    multiplicity changes by an EVEN amount (two copies of one line swapped
    for two copies of another) preserves both the record count and the XOR
    channel — only the mod-2^40 modular-sum channel can see it."""
    import hashlib
    import os

    from bigquack_spark.sinks.jsonl import export_jsonl_shards, verify_jsonl_export

    # dataset with genuine duplicate lines so an even-multiplicity drop exists
    df = spark.createDataFrame(
        [("alpha",), ("alpha",), ("beta",), ("beta",), ("gamma",)], ["word"]
    ).coalesce(1)
    path = str(tmp_path / "swap")
    export_jsonl_shards(df, path, shard_records=1000)
    assert verify_jsonl_export(spark, path)

    part = next(f for f in os.listdir(path) if f.startswith("part-"))
    fp = os.path.join(path, part)
    with open(fp) as fh:
        lines = fh.readlines()
    a = next(ln for ln in lines if "alpha" in ln)
    corrupted = [ln for ln in lines if "beta" not in ln] + [a, a]
    assert len(corrupted) == len(lines)  # count channel blind
    with open(fp, "w") as fh:
        fh.writelines(corrupted)
    crc = os.path.join(path, f".{part}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    def h(line: str) -> int:
        return int(hashlib.md5(line.rstrip("\n").encode()).hexdigest()[:15], 16)

    xor_before = 0
    xor_after = 0
    for ln in lines:
        xor_before ^= h(ln)
    for ln in corrupted:
        xor_after ^= h(ln)
    assert xor_before == xor_after  # XOR channel blind by construction
    assert not verify_jsonl_export(spark, path)  # sum channel catches it


def test_arrow_shards_publish_atomically(spark, tmp_path):
    """Shards are written to per-attempt temp names and renamed in: no
    ``*.tmp`` leftovers after a clean export, and a stale temp file from a
    crashed prior attempt neither corrupts the export nor reaches readers."""
    import os

    from bigquack_spark.sinks.arrow import export_arrow_shards, read_arrow_shards
    from tests.conftest import SF_SMOKE

    path = str(tmp_path / "arrow_atomic")
    os.makedirs(path)
    # stale temp from a crashed attempt of some earlier incarnation
    with open(os.path.join(path, "shard-00000.arrows.999.tmp"), "wb") as fh:
        fh.write(b"garbage from a dead task attempt")

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").repartition(3)
    manifest = export_arrow_shards(emb, path)
    assert manifest["n_records"] == emb.count()
    # every published shard was renamed into place AND the stale temp from
    # the crashed attempt was swept (r4 review: nothing else removes them)
    assert not any(f.endswith(".tmp") for f in os.listdir(path))
    back = read_arrow_shards(spark, path)
    assert back.count() == emb.count()


def test_exactly_once_sink_migrates_legacy_flat_layout(spark, tmp_path):
    """r3-advice upgrade window: a target populated by the pre-r3 flat
    ``part-*`` layout must remain readable after the sink switched to
    ``batch_id=N`` partition directories (mixed-depth leaves would raise
    'Conflicting directory structures' in Spark partition discovery)."""
    import json
    import os

    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink
    from tests.conftest import SF_SMOKE

    target = str(tmp_path / "legacy_sink")
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(30)
    # old layout: batches appended flat at the root, offset file present
    batch.write.mode("append").parquet(target)
    with open(os.path.join(target, "_COMMITTED_BATCH"), "w") as fh:
        json.dump({"next_batch_id": 1}, fh)

    sink = ExactlyOnceBatchSink(target)  # init migrates the flat files
    assert sink.next_batch_id == 1
    assert not any(
        f.startswith("part-") and os.path.isfile(os.path.join(target, f))
        for f in os.listdir(target)
    )
    sink(batch, batch_id=1)  # resume appends a partition dir
    assert spark.read.parquet(target).count() == 60


def test_webdataset_shard_export_roundtrip(spark, tmp_path):
    """Tar-shard export (the WebDataset delivery format): distributed
    per-partition writers, suffix-typed members (.txt/.json per the
    convention), deterministic archives, manifest counts verified on
    read, truncation detected loudly."""
    import json as _json
    import os
    import tarfile

    from bigquack_spark.sinks.wds import export_webdataset_shards, read_webdataset_shards
    from tests.conftest import SF_SMOKE

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text", "n_chars")
        .repartition(3)
    )
    path = str(tmp_path / "wds")
    manifest = export_webdataset_shards(docs, path, key_col="doc_id")
    assert manifest["n_samples"] == docs.count()
    assert len(manifest["shards"]) >= 2  # genuinely distributed writers
    assert manifest["columns"] == {"text": "txt", "n_chars": "json"}
    assert not any(f.endswith(".tmp") for f in os.listdir(path))

    # member-level spot check: suffix-typed, deterministic mtime
    first = sorted(manifest["shards"])[0]
    with tarfile.open(os.path.join(path, first)) as tar:
        members = tar.getmembers()
        assert all(m.mtime == 0 for m in members)
        assert any(m.name.endswith(".txt") for m in members)
        assert any(m.name.endswith(".json") for m in members)

    back = read_webdataset_shards(spark, path)
    got = sorted((int(r["__key__"]), r["text"], int(r["n_chars"])) for r in back.collect())
    want = sorted((r.doc_id, r.text, r.n_chars) for r in docs.collect())
    assert got == want

    # truncated shard must fail loudly
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        m = _json.load(fh)
    m["shards"][first] += 1
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        _json.dump(m, fh)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="manifest says"):
        read_webdataset_shards(spark, path)


def test_webdataset_rejects_suffix_collision_and_honors_override(spark, tmp_path):
    """Two same-typed columns would share a member suffix (duplicate tar
    member names, silent overwrite): the export must refuse unless the
    caller disambiguates with explicit suffixes — and with the override,
    both columns round-trip."""
    import pytest as _pytest

    from bigquack_spark.sinks.wds import export_webdataset_shards, read_webdataset_shards
    from tests.conftest import SF_SMOKE

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text", "lang")  # two string columns
        .limit(50)
        .coalesce(1)
    )
    path = str(tmp_path / "wds_clash")
    with _pytest.raises(ValueError, match="same member suffix"):
        export_webdataset_shards(docs, path, key_col="doc_id")

    manifest = export_webdataset_shards(
        docs, path, key_col="doc_id", suffixes={"text": "txt", "lang": "lang"}
    )
    assert manifest["columns"] == {"text": "txt", "lang": "lang"}
    back = read_webdataset_shards(spark, path)
    got = sorted((int(r["__key__"]), r["text"], r["lang"]) for r in back.collect())
    want = sorted((r.doc_id, r.text, r.lang) for r in docs.collect())
    assert got == want


def test_webdataset_all_null_rows_and_duplicate_keys(spark, tmp_path):
    """r4 advice: a row whose payload columns are all NULL writes zero tar
    members and must NOT count toward the manifest (it would read back as
    a false truncation error on a valid export); duplicate keys within a
    partition must fail loudly at WRITE time, naming the key, instead of
    surfacing later as the same misleading manifest mismatch."""
    import pytest as _pytest

    from bigquack_spark.sinks.wds import export_webdataset_shards, read_webdataset_shards

    rows = [(1, "alpha"), (2, None), (3, "gamma")]  # row 2 is all-NULL payload
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    path = str(tmp_path / "wds_nulls")
    manifest = export_webdataset_shards(df, path, key_col="doc_id")
    assert manifest["n_samples"] == 2  # the all-NULL row is not a sample
    back = read_webdataset_shards(spark, path)  # must not raise
    got = sorted((int(r["__key__"]), r["text"]) for r in back.collect())
    assert got == [(1, "alpha"), (3, "gamma")]

    dup = spark.createDataFrame(
        [(7, "a"), (7, "b")], "doc_id long, text string"
    ).coalesce(1)
    with _pytest.raises(Exception, match="duplicate doc_id=.*000.*7"):
        export_webdataset_shards(dup, str(tmp_path / "wds_dup"), key_col="doc_id")


def test_webdataset_rejects_dotted_suffix(spark, tmp_path):
    """r4 advice: read splits member names on the LAST dot, so a suffix
    containing '.' can never match on read (the column silently vanishes)
    — the export must reject it up front."""
    import pytest as _pytest

    from bigquack_spark.sinks.wds import export_webdataset_shards

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="contain"):
        export_webdataset_shards(
            df, str(tmp_path / "wds_dot"), key_col="doc_id",
            suffixes={"text": "seg.json"},
        )


def test_quarantine_routes_rows_single_pass(spark, tmp_path):
    """Row-level quarantine: bad rows land under quarantined=true with the
    violated rule names, good rows stay clean, counts come from the write
    pass (df.observe) and agree with a read-back recount."""
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        write_with_quarantine,
    )
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    # deterministically corrupt two disjoint slices so both rules fire,
    # one row violating both
    df = li.withColumn(
        "l_discount",
        F.when(F.col("l_orderkey") % 50 == 0, F.lit(0.9)).otherwise(F.col("l_discount")),
    ).withColumn(
        "l_returnflag",
        F.when(F.col("l_orderkey") % 100 == 0, F.lit("X")).otherwise(F.col("l_returnflag")),
    )
    rules = [
        ("discount_in_0_10pct", "l_discount < 0 OR l_discount > 0.1"),
        ("returnflag_enum", "l_returnflag NOT IN ('R', 'A', 'N')"),
    ]
    base = str(tmp_path / "routed")
    m = write_with_quarantine(df, base, rules)

    n_bad_disc = df.filter("l_discount > 0.1").count()
    n_bad_flag = df.filter("l_returnflag = 'X'").count()
    n_bad = df.filter("l_discount > 0.1 OR l_returnflag = 'X'").count()
    assert m["n_rows"] == df.count()
    assert m["n_quarantined"] == n_bad > 0
    assert m["per_rule"] == {
        "discount_in_0_10pct": n_bad_disc,
        "returnflag_enum": n_bad_flag,
    }

    good = read_accepted(spark, base)
    bad = read_quarantined(spark, base)
    assert good.count() == m["n_rows"] - n_bad
    assert good.filter("l_discount > 0.1 OR l_returnflag = 'X'").count() == 0
    assert set(good.columns) == set(li.columns)
    assert bad.count() == n_bad
    # every reject carries the exact rules it violated
    both = bad.filter("l_orderkey % 100 = 0 AND l_discount > 0.1")
    if both.count():
        assert set(
            r["violated_rules"] for r in both.select("violated_rules").distinct().collect()
        ) == {"discount_in_0_10pct,returnflag_enum"}
    only_flag = bad.filter("l_returnflag = 'X' AND l_discount <= 0.1")
    assert all(
        r["violated_rules"] == "returnflag_enum"
        for r in only_flag.select("violated_rules").collect()
    )


def test_quarantine_rejects_bad_rule_names(spark, tmp_path):
    from bigquack_spark.sinks.quarantine import tag_violations
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    with pytest.raises(ValueError, match="','"):
        tag_violations(li, [("a,b", "l_discount > 1")])
    with pytest.raises(ValueError, match="at least one rule"):
        tag_violations(li, [])


def test_quarantine_rejects_column_collision(spark):
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import tag_violations
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").withColumn(
        "quarantined", F.lit(False)
    )
    with pytest.raises(ValueError, match="quarantined"):
        tag_violations(li, [("r", "l_discount > 1")])


def test_merge_counts_ignore_null_delete_flags(spark, tmp_path):
    """A NULL delete flag row is applied by NEITHER branch (3-valued
    logic drops it from both filters) — the returned counts must say so
    instead of attributing it to upserts."""
    from bigquack_spark.sinks.merge import merge_upsert

    target = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string").write.parquet(target)
    changes = spark.createDataFrame(
        [(1, "a2", False), (2, None, True), (3, "c", None)],
        "k bigint, v string, is_delete boolean",
    )
    rep = merge_upsert(spark, target, changes, key_cols=["k"], delete_col="is_delete")
    assert rep["upserts"] == 1
    assert rep["deletes"] == 1
    got = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2"}  # 2 deleted, 3 ignored (NULL flag)


def test_write_side_lineage_manifests_and_blast_radius(spark, tmp_path):
    """r5 verdict #4: every publishing sink emits _LINEAGE.json recording
    output->input edges, and erasure impact (q256's blast radius) is
    resolvable from the manifests ALONE — no plan re-run, no data read."""
    import json
    import os

    from bigquack_spark.lineage import LINEAGE_FILE, blast_radius
    from bigquack_spark.sinks.arrow import export_arrow_shards
    from bigquack_spark.sinks.wds import export_webdataset_shards
    from tests.conftest import SF_SMOKE

    # sink 1: AtomicWriter fed from lineitem
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .filter("l_quantity > 10")
        .select("l_orderkey", "l_quantity")
    )
    t1 = str(tmp_path / "atomic_out")
    with AtomicWriter(t1, WriteStreamType.PENDING) as w:
        w.write(li)
    m1 = json.load(open(os.path.join(t1, LINEAGE_FILE)))
    assert m1["input_tables"] == ["lineitem"]
    assert m1["rows"] == li.count()
    assert m1["output_columns"] == ["l_orderkey", "l_quantity"]
    src = m1["inputs"][0]
    assert set(src["columns"]) == {"l_orderkey", "l_quantity"}  # pruned scan
    assert any("l_quantity" in f for f in src["pushed_filters"])  # pushed

    # sink 2: arrow shards fed from orders
    t2 = str(tmp_path / "arrow_out")
    export_arrow_shards(
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select("o_orderkey"), t2
    )
    m2 = json.load(open(os.path.join(t2, LINEAGE_FILE)))
    assert m2["input_tables"] == ["orders"]

    # sink 3: webdataset shards fed from documents
    t3 = str(tmp_path / "wds_out")
    export_webdataset_shards(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(5)
        .coalesce(1),
        t3,
        key_col="doc_id",
    )
    m3 = json.load(open(os.path.join(t3, LINEAGE_FILE)))
    assert m3["input_tables"] == ["documents"]

    # blast radius from manifests alone
    roots = [str(tmp_path)]
    assert blast_radius(roots, "lineitem") == [t1]
    assert blast_radius(roots, "orders") == [t2]
    assert blast_radius(roots, "documents") == [t3]
    assert blast_radius(roots, "customer") == []


def test_blast_radius_columns_resolves_the_gdpr_question(spark, tmp_path):
    """r6 verdict #4: 'which outputs used o_custkey' from manifests alone.
    Both exports read orders, so table-grain blast_radius over-reports;
    the recorded column_lineage separates the one that actually depended
    on o_custkey (including as a pruned-away filter column) from the one
    that never read it.  Manifests predating column lineage fall back to
    conservative table-grain inclusion."""
    import json
    import os

    from bigquack_spark.lineage import (
        LINEAGE_FILE,
        blast_radius,
        blast_radius_columns,
        write_lineage_manifest,
    )
    from bigquack_spark.sinks.arrow import export_arrow_shards
    from tests.conftest import SF_SMOKE

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    t_uses = str(tmp_path / "uses_custkey")
    export_arrow_shards(
        o.filter("o_custkey % 2 = 0").select("o_orderkey", "o_totalprice"), t_uses
    )
    t_not = str(tmp_path / "no_custkey")
    export_arrow_shards(o.select("o_orderkey", "o_orderstatus"), t_not)

    m = json.load(open(os.path.join(t_uses, LINEAGE_FILE)))
    assert set(m["column_lineage"]) == {"o_orderkey", "o_totalprice"}

    roots = [str(tmp_path)]
    assert blast_radius(roots, "orders") == sorted([t_uses, t_not])  # over-report
    assert blast_radius_columns(roots, "orders", "o_custkey") == [t_uses]
    assert blast_radius_columns(roots, "orders", "o_orderstatus") == [t_not]
    assert sorted(blast_radius_columns(roots, "orders", "o_orderkey")) == sorted(
        [t_uses, t_not]
    )
    assert blast_radius_columns(roots, "orders", "o_comment") == []

    # legacy manifest (no column_lineage): conservative inclusion by table
    t_legacy = str(tmp_path / "legacy_out")
    write_lineage_manifest(
        t_legacy,
        output=t_legacy,
        sources=[{"table": "orders", "paths": [], "columns": [], "pushed_filters": []}],
        output_columns=["x"],
    )
    assert t_legacy in blast_radius_columns(roots, "orders", "o_comment")


def test_atomic_writer_lineage_merges_batches_and_pending_leaves_none(
    spark, tmp_path
):
    """Two batches from different tables merge into one edge set; an
    aborted PENDING stream publishes nothing and leaves no lineage."""
    import json
    import os

    from bigquack_spark.lineage import LINEAGE_FILE
    from tests.conftest import SF_SMOKE

    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet").select("n_nationkey")
    r = spark.read.parquet(f"{SF_SMOKE}/region.parquet").select(
        "r_regionkey"
    ).withColumnRenamed("r_regionkey", "n_nationkey")
    t = str(tmp_path / "multi")
    w = AtomicWriter(t, WriteStreamType.PENDING)
    w.write(n)
    w.write(r)
    w.finalize()
    m = json.load(open(os.path.join(t, LINEAGE_FILE)))
    assert m["input_tables"] == ["nation", "region"]
    assert m["batches"] == 2

    t2 = str(tmp_path / "aborted")
    w2 = AtomicWriter(t2, WriteStreamType.PENDING)
    w2.write(n)
    w2.close()  # abort, never finalized
    assert not os.path.exists(os.path.join(t2, LINEAGE_FILE))
    assert not os.path.exists(t2)


def _counting_column_probes(monkeypatch):
    """Count ``capture_column_lineage`` calls made by AtomicWriter.write."""
    import bigquack_spark.lineage as L

    calls = []
    real = L.capture_column_lineage

    def counted(df):
        calls.append(list(df.columns))
        return real(df)

    monkeypatch.setattr(L, "capture_column_lineage", counted)
    return calls


def test_atomic_writer_probes_column_lineage_once_per_wiring(
    spark, tmp_path, monkeypatch
):
    """Batches that differ only in a literal (the pmod(key, 4) = b split)
    run the per-column probes once; a literal column is probed too."""
    import json

    from pyspark.sql import functions as F

    from bigquack_spark.lineage import LINEAGE_FILE
    from tests.conftest import SF_SMOKE

    calls = _counting_column_probes(monkeypatch)
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    t = str(tmp_path / "split")
    w = AtomicWriter(t, WriteStreamType.PENDING)
    for b in range(4):
        w.write(li.filter(F.expr(f"pmod(l_orderkey, 4) = {b}")).select(
            "l_orderkey", "l_quantity", F.lit(b).alias("part")))
    w.finalize()
    assert calls == [["l_orderkey", "l_quantity", "part"]]
    m = json.load(open(os.path.join(t, LINEAGE_FILE)))
    assert set(m["column_lineage"]) == {"l_orderkey", "l_quantity", "part"}
    assert [s["table"] for s in m["column_lineage"]["part"]] == ["lineitem"]
    assert m["batches"] == 4


def test_atomic_writer_swapped_alias_records_both_sources(
    spark, tmp_path, monkeypatch
):
    """a<-t1, b<-t2 then a<-t2, b<-t1: both columns record both sources,
    and the recorded column lineage equals merging a full per-batch probe."""
    import json

    from bigquack_spark.lineage import LINEAGE_FILE, capture_column_lineage
    from tests.conftest import SF_SMOKE

    n = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    r = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    j = n.join(r, n.n_regionkey == r.r_regionkey)
    batches = [
        j.select(n.n_name.alias("a"), r.r_name.alias("b")),
        j.select(r.r_name.alias("a"), n.n_name.alias("b")),
    ]
    expected: dict[str, list] = {}
    for df in batches:
        for col, sources in capture_column_lineage(df).items():
            have = expected.setdefault(col, [])
            keys = {(s["table"], tuple(s["paths"])) for s in have}
            have.extend(s for s in sources
                        if (s["table"], tuple(s["paths"])) not in keys)
    calls = _counting_column_probes(monkeypatch)
    t = str(tmp_path / "swapped")
    w = AtomicWriter(t, WriteStreamType.PENDING)
    for df in batches:
        w.write(df)
    w.finalize()
    m = json.load(open(os.path.join(t, LINEAGE_FILE)))
    for col in ("a", "b"):
        assert {s["table"] for s in m["column_lineage"][col]} == {"nation", "region"}
    assert m["column_lineage"] == expected
    assert len(calls) == 1


def test_requarantine_repairs_and_converges(spark, tmp_path):
    """r5 verdict #5: the triage loop closes — a repair transform re-drives
    parked rows; fixed rows publish alongside accepted data, unfixable rows
    go back with fresh evidence; a second drive is a no-op (idempotent)."""
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0"), ("k_enum", "k NOT IN ('a', 'b')")]
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -1.0), (3, "zz", 5.0), (4, "a", -2.0)],
        "id bigint, k string, v double",
    )
    write_with_quarantine(df, base, rules)
    assert read_accepted(spark, base).count() == 1
    assert read_quarantined(spark, base).count() == 3

    def repair(q):  # fix negative v (abs); unknown k stays broken
        return q.withColumn("v", F.abs(F.col("v")))

    got = requarantine(spark, base, rules, repair)
    assert got == {
        "n_redriven": 3,
        "n_repaired": 2,
        "n_still_quarantined": 1,
        "per_rule": {"v_nonneg": 0, "k_enum": 1},
    }
    acc = read_accepted(spark, base)
    assert sorted(r.id for r in acc.collect()) == [1, 2, 4]
    bad = {r.id: r.violated_rules for r in read_quarantined(spark, base).collect()}
    assert bad == {3: "k_enum"}

    # convergence: nothing new to fix; accepted count must not change
    got2 = requarantine(spark, base, rules, repair)
    assert got2["n_repaired"] == 0 and got2["n_still_quarantined"] == 1
    assert read_accepted(spark, base).count() == 3
    assert read_quarantined(spark, base).count() == 1


def test_requarantine_crash_rolls_forward_without_dup_or_loss(spark, tmp_path):
    """Crash injection: (a) repair raises after the snapshot+clear — rerun
    rolls forward from the staged copy; (b) a stale partial publish from
    this generation is swept by prefix before re-publishing."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    df = spark.createDataFrame(
        [(1, 1.0), (2, -2.0), (3, -3.0)], "id bigint, v double"
    )
    write_with_quarantine(df, base, rules)

    class Boom(RuntimeError):
        pass

    def exploding(q):
        raise Boom()

    with pytest.raises(Boom):
        requarantine(spark, base, rules, exploding)
    # quarantine partition cleared, snapshot holds the rows
    staging = base + ".redrive-staging"
    assert os.path.exists(os.path.join(staging, "_REDRIVE_ID"))

    # (b) plant a stale partial publish under this generation's prefix
    import json as _json

    with open(os.path.join(staging, "_REDRIVE_ID")) as fh:
        gen = _json.load(fh)["gen"]
    false_dir = os.path.join(base, "quarantined=false")
    a_part = next(f for f in os.listdir(false_dir) if f.startswith("part-"))
    shutil.copy(
        os.path.join(false_dir, a_part),
        os.path.join(false_dir, f"redrive-{gen}-{a_part}"),
    )

    def repair(q):
        return q.withColumn("v", F.abs(F.col("v")))

    got = requarantine(spark, base, rules, repair)
    assert got["n_redriven"] == 2 and got["n_repaired"] == 2
    # no loss (both repaired rows landed) and no dup (planted partial swept)
    assert sorted(r.id for r in read_accepted(spark, base).collect()) == [1, 2, 3]
    assert read_quarantined(spark, base).count() == 0
    assert not os.path.exists(staging)


def test_requarantine_refuses_stale_snapshot_after_rebuild(spark, tmp_path):
    """r6 advice (quarantine.py adoption gate): a crashed drive leaves
    .redrive-staging behind; the dataset is then REBUILT (write_with_quarantine
    is mode=overwrite).  The next drive must NOT adopt the stale snapshot —
    that would delete the new dataset's quarantine rows unstagged (silent
    loss) and republish rows from the old dataset.  The marker's file-list
    fingerprint detects the rebuild and the drive re-snapshots live data."""
    import pytest
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    old = spark.createDataFrame(
        [(101, 1.0), (102, -2.0), (103, -3.0)], "id bigint, v double"
    )
    write_with_quarantine(old, base, rules)

    class Boom(RuntimeError):
        pass

    def exploding(q):
        raise Boom()

    with pytest.raises(Boom):
        requarantine(spark, base, rules, exploding)
    assert os.path.exists(base + ".redrive-staging")  # crashed drive residue

    # dataset rebuilt underneath the crashed drive — different rows entirely
    new = spark.createDataFrame(
        [(201, 4.0), (202, -5.0), (203, -6.0)], "id bigint, v double"
    )
    write_with_quarantine(new, base, rules)

    def repair(q):
        return q.withColumn("v", F.abs(F.col("v")))

    got = requarantine(spark, base, rules, repair)
    # drives the NEW dataset's 2 parked rows — not the stale snapshot's
    assert got["n_redriven"] == 2 and got["n_repaired"] == 2
    assert sorted(r.id for r in read_accepted(spark, base).collect()) == [
        201,
        202,
        203,
    ]
    assert read_quarantined(spark, base).count() == 0
    assert not os.path.exists(base + ".redrive-staging")


def test_requarantine_rejects_schema_changing_repair(spark, tmp_path):
    import pytest

    from bigquack_spark.sinks.quarantine import requarantine, write_with_quarantine

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    df = spark.createDataFrame([(1, -1.0)], "id bigint, v double")
    write_with_quarantine(df, base, rules)
    with pytest.raises(ValueError, match="schema"):
        requarantine(
            spark, base, rules, lambda q: q.withColumn("v", q.v.cast("string"))
        )


def test_requarantine_empty_quarantine_is_noop(spark, tmp_path):
    """A drive over a clean table returns zeros, writes nothing, and
    leaves no staging residue."""
    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    write_with_quarantine(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id bigint, v double"),
        base,
        rules,
    )
    got = requarantine(spark, base, rules, lambda q: q)
    assert got == {
        "n_redriven": 0,
        "n_repaired": 0,
        "n_still_quarantined": 0,
        "per_rule": {},
    }
    assert read_accepted(spark, base).count() == 2
    assert not os.path.exists(base + ".redrive-staging")


def test_requarantine_refuses_stale_snapshot_after_clean_rebuild(spark, tmp_path):
    """r7 review: the empty-quarantine state is ambiguous (mid-drive crash
    OR a rebuild that routed zero rows to quarantine).  The marker's
    accepted-partition fingerprint disambiguates: after a crashed drive,
    rebuilding the dataset CLEAN must not resurrect the old snapshot's
    rows into the new dataset."""
    import pytest

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    write_with_quarantine(
        spark.createDataFrame(
            [(101, 1.0), (102, -2.0), (103, -3.0)], "id bigint, v double"
        ),
        base,
        rules,
    )

    class Boom(RuntimeError):
        pass

    with pytest.raises(Boom):
        requarantine(spark, base, rules, lambda q: (_ for _ in ()).throw(Boom()))
    assert os.path.exists(base + ".redrive-staging")

    # rebuild with a CLEAN dataset: zero quarantine rows — the live
    # quarantine partition is empty exactly like the mid-drive state, and
    # the staged snapshot is the only copy of the OLD parked rows.  The
    # drive must refuse to arbitrate destructively (rebuild vs
    # content-preserving maintenance are indistinguishable by file list)
    from pyspark.sql import functions as F

    write_with_quarantine(
        spark.createDataFrame([(201, 4.0), (202, 5.0)], "id bigint, v double"),
        base,
        rules,
    )

    with pytest.raises(RuntimeError, match="adopt_staging"):
        requarantine(spark, base, rules, lambda q: q.withColumn("v", F.abs("v")))
    # accepted data untouched by the refusal
    assert sorted(r.id for r in read_accepted(spark, base).collect()) == [201, 202]

    # operator resolution for a rebuild: delete the stale staging, re-run
    import shutil

    shutil.rmtree(base + ".redrive-staging")
    got = requarantine(spark, base, rules, lambda q: q.withColumn("v", F.abs("v")))
    assert got["n_redriven"] == 0  # nothing parked; old snapshot gone
    assert sorted(r.id for r in read_accepted(spark, base).collect()) == [201, 202]
    assert read_quarantined(spark, base).count() == 0
    assert not os.path.exists(base + ".redrive-staging")


def test_requarantine_adopt_staging_after_accepted_file_relayout(spark, tmp_path):
    """The other arm of the ambiguity: maintenance renamed/rewrote accepted
    files (content preserved) under a crashed drive.  adopt_staging=True
    completes the drive from the snapshot — no parked row is lost."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    write_with_quarantine(
        spark.createDataFrame(
            [(1, 1.0), (2, -2.0), (3, -3.0)], "id bigint, v double"
        ),
        base,
        rules,
    )

    class Boom(RuntimeError):
        pass

    with pytest.raises(Boom):
        requarantine(spark, base, rules, lambda q: (_ for _ in ()).throw(Boom()))

    # content-preserving relayout of the accepted partition (e.g. a
    # compaction pass renamed the file) while the drive was crashed
    fdir = os.path.join(base, "quarantined=false")
    a_part = next(f for f in os.listdir(fdir) if f.endswith(".parquet"))
    os.rename(os.path.join(fdir, a_part), os.path.join(fdir, f"relayout-{a_part}"))

    with pytest.raises(RuntimeError, match="adopt_staging"):
        requarantine(spark, base, rules, lambda q: q.withColumn("v", F.abs("v")))

    got = requarantine(
        spark, base, rules, lambda q: q.withColumn("v", F.abs("v")),
        adopt_staging=True,
    )
    assert got["n_redriven"] == 2 and got["n_repaired"] == 2
    assert sorted(r.id for r in read_accepted(spark, base).collect()) == [1, 2, 3]
    assert read_quarantined(spark, base).count() == 0


def test_requarantine_adopt_staging_cannot_bypass_rebuilt_quarantine(spark, tmp_path):
    """r7 advisor (medium): adopt_staging=True is scoped to the
    maintenance-relayout (f_stale) arm ONLY.  When the live quarantine
    partition is non-empty and differs from the marker (dataset rebuilt
    WITH new parked rows under a crashed drive), the flag must not adopt
    the stale snapshot — the drive re-snapshots the LIVE rows and the
    superseded ones never republish."""
    import pytest
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import (
        read_accepted,
        read_quarantined,
        requarantine,
        write_with_quarantine,
    )

    base = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    write_with_quarantine(
        spark.createDataFrame(
            [(1, 1.0), (2, -2.0), (3, -3.0)], "id bigint, v double"
        ),
        base,
        rules,
    )

    class Boom(RuntimeError):
        pass

    with pytest.raises(Boom):
        requarantine(spark, base, rules, lambda q: (_ for _ in ()).throw(Boom()))
    assert os.path.exists(base + ".redrive-staging")

    # rebuild the dataset with DIFFERENT quarantine rows: ids 101-103
    write_with_quarantine(
        spark.createDataFrame(
            [(101, 6.0), (102, -7.0), (103, -8.0)], "id bigint, v double"
        ),
        base,
        rules,
    )

    got = requarantine(
        spark, base, rules, lambda q: q.withColumn("v", F.abs("v")),
        adopt_staging=True,
    )
    # only the REBUILT dataset's parked rows were re-driven
    assert got["n_redriven"] == 2 and got["n_repaired"] == 2
    ids = sorted(r.id for r in read_accepted(spark, base).collect())
    assert ids == [101, 102, 103]  # no 2/3 resurrection from the old snapshot
    assert read_quarantined(spark, base).count() == 0
    assert not os.path.exists(base + ".redrive-staging")
