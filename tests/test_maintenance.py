"""Crash-safe compaction executor (operators/maintenance.py, r6 verdict #1).

The contract under test: compact_small_files consumes plan_compaction's
plan, rewrites each undersized partition bin-packed, PROVES the staged copy
checksum-equal to its source before the commit point, and swaps via a
marker + roll-forward protocol such that NO crash point loses or duplicates
rows and re-running always converges.
"""

import os
import shutil

import pytest


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


def _checksum(spark, path):
    from bigquack_spark.operators.reconcile import table_checksum

    df = spark.read.parquet(path)
    row = table_checksum(df, sorted(df.columns)).collect()[0]
    return (row.n_rows, row.xor_checksum, row.sum_checksum_mod)


def _fragmented(spark, tmp_path, name="t", partitioned=True, n=3000):
    path = str(tmp_path / name)
    df = spark.range(n).selectExpr("id", "id % 3 AS k", "repeat('x', 40) AS pad")
    w = df.repartition(30).write
    if partitioned:
        w = w.partitionBy("k")
    w.parquet(path)
    return path


def test_compact_verified_checksum_equal_and_files_reduced(spark, tmp_path):
    """The q186 'done' gate: table_checksum equality before/after, with the
    pre-commit verify pass enabled."""
    from bigquack_spark.operators.maintenance import compact_small_files

    path = _fragmented(spark, tmp_path)
    before = _checksum(spark, path)
    n_before = len(_data_files(path))

    report = compact_small_files(spark, path, target_file_bytes=1 << 30, verify=True)
    assert report["partitions_compacted"] == 3
    assert report["verified"] is True
    assert report["files_before"] == n_before
    assert report["files_after"] == 3

    assert len(_data_files(path)) == 3
    assert _checksum(spark, path) == before

    # converges: second run plans zero work
    again = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert again["partitions_compacted"] == 0
    assert _checksum(spark, path) == before


def test_crash_before_marker_discards_and_recompacts(spark, tmp_path):
    """Crash point 1: staged write finished, marker never written — the
    staging dir is pre-commit residue; next run discards it, re-plans, and
    compacts cleanly."""
    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, partitioned=False)
    before = _checksum(spark, path)

    class Boom(RuntimeError):
        pass

    def no_marker(*a, **kw):
        raise Boom()

    real = maintenance._write_marker
    maintenance._write_marker = no_marker
    try:
        with pytest.raises(Boom):
            maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    finally:
        maintenance._write_marker = real
    assert os.path.isdir(os.path.join(path, maintenance.STAGING_DIR))
    assert _checksum(spark, path) == before  # live layout untouched

    report = maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert report["discarded_stale"] == 1
    assert report["partitions_compacted"] == 1
    assert _checksum(spark, path) == before
    assert len(_data_files(path)) == 1


def _crash_after_marker(maintenance, spark, path):
    """Drive a compaction to the committed-marker state (staging + marker
    present, swap not started) and return the generation id."""
    import json

    class Boom(RuntimeError):
        pass

    def no_swap(*a, **kw):
        raise Boom()

    real = maintenance._finish_swap
    maintenance._finish_swap = no_swap
    try:
        with pytest.raises(Boom):
            maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    finally:
        maintenance._finish_swap = real
    staging = os.path.join(path, maintenance.STAGING_DIR)
    with open(os.path.join(staging, maintenance.MARKER)) as fh:
        return json.load(fh)["gen"]


def test_crash_after_marker_rolls_forward(spark, tmp_path):
    """Crash point 2: marker committed, no swap yet — next run resumes the
    swap; rows intact, files reduced, staging gone."""
    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, partitioned=False)
    before = _checksum(spark, path)
    _crash_after_marker(maintenance, spark, path)

    report = maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert report["resumed"] == 1
    assert report["partitions_compacted"] == 0  # resume finished the job
    assert _checksum(spark, path) == before
    assert len(_data_files(path)) == 1
    assert not os.path.exists(os.path.join(path, maintenance.STAGING_DIR))


def test_crash_mid_swap_rolls_forward(spark, tmp_path):
    """Crash point 3: some olds removed, some news moved — roll-forward
    completes without loss or duplication."""
    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, partitioned=False)
    before = _checksum(spark, path)
    gen = _crash_after_marker(maintenance, spark, path)

    olds = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    os.remove(os.path.join(path, olds[0]))  # half-done retirement
    data_dir = os.path.join(path, maintenance.STAGING_DIR, "data")
    staged = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    os.replace(  # one file already published
        os.path.join(data_dir, staged[0]),
        os.path.join(path, f"compacted-{gen}-{staged[0]}"),
    )

    report = maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert report["resumed"] == 1
    assert _checksum(spark, path) == before
    assert not os.path.exists(os.path.join(path, maintenance.STAGING_DIR))


def test_crash_after_swap_before_cleanup_is_idempotent(spark, tmp_path):
    """Crash point 4: swap fully done, staging (with marker) never removed —
    resume is a no-op republish that must not duplicate rows."""
    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, partitioned=False)
    before = _checksum(spark, path)
    gen = _crash_after_marker(maintenance, spark, path)

    staging = os.path.join(path, maintenance.STAGING_DIR)
    import json

    with open(os.path.join(staging, maintenance.MARKER)) as fh:
        olds = [tuple(o) for o in json.load(fh)["olds"]]
    # complete the swap by hand, then "crash" before the staging cleanup
    for name, _size in olds:
        os.remove(os.path.join(path, name))
    data_dir = os.path.join(staging, "data")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            os.replace(
                os.path.join(data_dir, name),
                os.path.join(path, f"compacted-{gen}-{name}"),
            )

    report = maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert report["resumed"] == 1
    assert _checksum(spark, path) == before
    assert len(_data_files(path)) == 1
    assert not os.path.exists(staging)


def test_stale_staging_not_adopted_after_rebuild(spark, tmp_path):
    """The requarantine r6-advice class, compaction flavor: a crashed swap's
    staging must NOT be adopted after the table was rebuilt underneath it —
    republishing the stale copy would resurrect superseded rows."""
    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, partitioned=False)
    _crash_after_marker(maintenance, spark, path)

    # rebuild: entirely different table at the same path.  (Spark's own
    # mode=overwrite clears the dot-dir too; the dangerous flavor is an
    # in-place file swap — object-store sync, manual repair — which leaves
    # the crashed staging behind.)
    side = str(tmp_path / "side")
    spark.range(5).selectExpr("id * 1000 AS id", "0L AS k", "'y' AS pad").coalesce(
        1
    ).write.parquet(side)
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            os.remove(os.path.join(path, f))
    for f in os.listdir(side):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(side, f), os.path.join(path, f))
    rebuilt = _checksum(spark, path)

    report = maintenance.compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert report["discarded_stale"] == 1
    assert report["resumed"] == 0
    assert _checksum(spark, path) == rebuilt  # new data untouched, old gone


def test_verify_gate_aborts_before_publish(spark, tmp_path):
    """A rewrite whose staged copy fails the checksum gate must abort with
    the live layout untouched (no marker, no swap)."""
    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, partitioned=False)
    before = _checksum(spark, path)
    n_before = len(_data_files(path))

    calls = {"n": 0}
    real = maintenance._checksum_row

    def skewed(df):
        calls["n"] += 1
        got = real(df)
        return (got[0] + 1, *got[1:]) if calls["n"] % 2 == 0 else got

    maintenance._checksum_row = skewed
    try:
        with pytest.raises(RuntimeError, match="checksum"):
            maintenance.compact_small_files(
                spark, path, target_file_bytes=1 << 30, verify=True
            )
    finally:
        maintenance._checksum_row = real
    assert _checksum(spark, path) == before
    assert len(_data_files(path)) == n_before
    assert not os.path.exists(os.path.join(path, maintenance.STAGING_DIR))


# -- purge_rows (erasure executor) -------------------------------------------


def _purge_table(spark, tmp_path, name="pt"):
    path = str(tmp_path / name)
    df = spark.range(1000).selectExpr(
        "id", "id % 4 AS k", "CAST(id % 7 AS STRING) AS tag"
    )
    df.repartition(6).write.partitionBy("k").parquet(path)
    return path


def test_purge_rows_removes_only_matches_and_untouched_files_are_bit_identical(
    spark, tmp_path
):
    from bigquack_spark.operators.maintenance import purge_rows

    path = _purge_table(spark, tmp_path)
    before_bytes = {
        f: open(f, "rb").read() for f in _data_files(path) if "/k=3/" in f
    }
    # mixed predicate: partition column AND a data column — matches SOME
    # rows of SOME files inside k=1 (ids = 1 mod 28), nothing elsewhere
    pred = "k = 1 AND tag = '1'"
    n_match = sum(1 for i in range(1000) if i % 4 == 1 and i % 7 == 1)
    assert n_match > 0
    want_kept = sorted(
        r.id for r in spark.read.parquet(path).filter(f"NOT ({pred})").collect()
    )

    report = purge_rows(spark, path, pred)
    assert report["n_deleted"] == n_match
    assert report["partitions_touched"] >= 1
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == want_kept
    assert after.filter(pred).count() == 0
    # k=3 partition never matched: byte-identical files
    for f, want in before_bytes.items():
        assert open(f, "rb").read() == want

    # audit evidence at the table root
    purge_json = [f for f in os.listdir(path) if f.startswith("_PURGE-")]
    assert len(purge_json) == 1
    import json

    audit = json.load(open(os.path.join(path, purge_json[0])))
    assert audit["n_deleted"] == report["n_deleted"]
    assert audit["predicate"] == pred

    # idempotent: nothing left to purge
    again = purge_rows(spark, path, pred)
    assert again["n_deleted"] == 0 and again["generation"] is None


def test_purge_rows_retires_whole_partition(spark, tmp_path):
    from bigquack_spark.operators.maintenance import purge_rows

    path = _purge_table(spark, tmp_path, "pt2")
    report = purge_rows(spark, path, "k = 2")
    assert report["n_deleted"] == 250
    assert report["files_retired"] > 0 and report["files_rewritten"] == 0
    after = spark.read.parquet(path)
    assert after.filter("k = 2").count() == 0
    assert after.count() == 750
    assert not any("/k=2/" in f for f in _data_files(path))


def test_purge_rows_crash_rolls_forward_without_loss_or_double_delete(
    spark, tmp_path
):
    """Crash after the purge marker commits: the next purge_rows call first
    rolls the swap forward, then finds nothing left to delete — no loss of
    kept rows, no double-count."""
    import pytest
    from bigquack_spark.operators import maintenance

    path = _purge_table(spark, tmp_path, "pt3")
    want_kept = sorted(
        r.id for r in spark.read.parquet(path).filter("NOT (tag = '3')").collect()
    )

    class Boom(RuntimeError):
        pass

    calls = {"n": 0}
    real = maintenance._finish_swap

    def crash_once(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise Boom()
        return real(*a, **kw)

    maintenance._finish_swap = crash_once
    try:
        with pytest.raises(Boom):
            maintenance.purge_rows(spark, path, "tag = '3'")
    finally:
        maintenance._finish_swap = real

    report = maintenance.purge_rows(spark, path, "tag = '3'")
    assert report["resumed"] == 1
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == want_kept
    assert after.filter("tag = '3'").count() == 0
    # combined deletes across the crashed + resumed runs cover every match
    total_deleted = 1000 - len(want_kept)
    assert report["n_deleted"] <= total_deleted


def test_purge_rows_verify_gate_aborts_before_publish(spark, tmp_path):
    import pytest
    from bigquack_spark.operators import maintenance

    path = _purge_table(spark, tmp_path, "pt4")
    before = _checksum(spark, path)

    calls = {"n": 0}
    real = maintenance._checksum_row

    def skewed(df):
        calls["n"] += 1
        got = real(df)
        return (got[0] + 1, *got[1:]) if calls["n"] % 2 == 0 else got

    maintenance._checksum_row = skewed
    try:
        with pytest.raises(RuntimeError, match="checksum"):
            maintenance.purge_rows(spark, path, "tag = '5'")
    finally:
        maintenance._checksum_row = real
    assert _checksum(spark, path) == before


def test_purge_rows_noop_on_no_matches(spark, tmp_path):
    from bigquack_spark.operators.maintenance import purge_rows

    path = _purge_table(spark, tmp_path, "pt5")
    before = _checksum(spark, path)
    files_before = sorted(_data_files(path))
    report = purge_rows(spark, path, "id > 100000")
    assert report["n_deleted"] == 0 and report["generation"] is None
    assert sorted(_data_files(path)) == files_before
    assert _checksum(spark, path) == before
    assert not any(f.startswith("_PURGE-") for f in os.listdir(path))


def test_purge_rows_prunes_an_emptied_leaf(spark, tmp_path):
    """Every row of leaf k=3 matches: its files retire with no successor
    and the leaf directory goes with them."""
    from bigquack_spark.operators.maintenance import purge_rows

    path = _purge_table(spark, tmp_path, "pt6")
    report = purge_rows(spark, path, "id % 4 = 3")
    assert report["n_deleted"] == 250 and report["files_rewritten"] == 0
    assert not os.path.exists(os.path.join(path, "k=3"))
    assert os.path.isdir(os.path.join(path, "k=2"))
    assert spark.read.parquet(path).count() == 750


# -- vacuum ------------------------------------------------------------------


def test_vacuum_sweeps_tmps_rolls_forward_and_bounds_purge_history(
    spark, tmp_path
):
    import json
    import time

    from bigquack_spark.operators import maintenance

    path = _fragmented(spark, tmp_path, "vt", partitioned=False)
    before = _checksum(spark, path)

    # crashed swap (marker committed) + crashed writer partials + a
    # quarantine redrive staging that must be left alone
    _crash_after_marker(maintenance, spark, path)
    open(os.path.join(path, "shard-00001.tar.42.tmp"), "wb").write(b"junk")
    open(os.path.join(path, "_MANIFEST.json.tmp"), "w").write("{}")
    rd = os.path.join(path + ".redrive-staging")
    os.makedirs(rd)
    open(os.path.join(rd, "_REDRIVE_ID"), "w").write("{}")
    for i in range(7):
        with open(os.path.join(path, f"_PURGE-{i:012x}.json"), "w") as fh:
            json.dump({"generation": f"{i:012x}"}, fh)
        os.utime(os.path.join(path, f"_PURGE-{i:012x}.json"), (i, i))

    # vacuum the PARENT so the walk actually visits the redrive staging
    # dir and must skip it
    report = maintenance.vacuum(str(tmp_path), keep_purge_manifests=5)
    assert report["resumed"] == 1
    assert report["tmp_swept"] == 2
    assert report["purge_manifests_pruned"] == 2
    assert _checksum(spark, path) == before  # roll-forward preserved rows
    assert not any(f.endswith(".tmp") for f in os.listdir(path))
    left = sorted(f for f in os.listdir(path) if f.startswith("_PURGE-"))
    assert len(left) == 5
    # the two OLDEST (mtime 0 and 1) were pruned
    assert f"_PURGE-{0:012x}.json" not in left and f"_PURGE-{1:012x}.json" not in left
    assert os.path.exists(os.path.join(rd, "_REDRIVE_ID"))  # untouched


# -- r7 review regression tests ----------------------------------------------


def test_purge_rows_keeps_null_predicate_rows(spark, tmp_path):
    """r7 review: a row where the predicate evaluates to NULL (SQL
    three-valued logic) matches nothing and must be KEPT — plain
    NOT(predicate) would silently drop it, and the checksum gate could not
    catch it because both sides would share the wrong expression."""
    from bigquack_spark.operators.maintenance import purge_rows

    path = str(tmp_path / "pn")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None), (5, "a")],
        "id bigint, tag string",
    )
    df.coalesce(1).write.parquet(path)

    report = purge_rows(spark, path, "tag = 'a'")
    assert report["n_deleted"] == 2  # ids 1 and 5 only — never the NULLs
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == [2, 3, 4]
    assert after.filter("tag IS NULL").count() == 2


def test_purge_crash_resume_with_unaffected_file_in_same_leaf(spark, tmp_path):
    """r7 review: the resume adoption gate must not mistake a leaf's
    UNAFFECTED files for a rebuild — a crashed partial-leaf purge's staging
    holds the only copy of the affected file's kept rows."""
    import pytest
    from bigquack_spark.operators import maintenance

    path = str(tmp_path / "pl")
    # two files in one (unpartitioned) leaf: only the first contains matches
    spark.range(0, 50).selectExpr("id", "id % 10 AS m").coalesce(1).write.parquet(path)
    spark.range(50, 100).selectExpr("id", "CAST(99 AS BIGINT) AS m").coalesce(
        1
    ).write.mode("append").parquet(path)
    want_kept = sorted(
        r.id for r in spark.read.parquet(path).filter("NOT (m = 3)").collect()
    )

    class Boom(RuntimeError):
        pass

    calls = {"n": 0}
    real = maintenance._finish_swap

    def crash_once(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise Boom()
        return real(*a, **kw)

    maintenance._finish_swap = crash_once
    try:
        with pytest.raises(Boom):
            maintenance.purge_rows(spark, path, "m = 3")
    finally:
        maintenance._finish_swap = real

    report = maintenance.purge_rows(spark, path, "m = 3")
    assert report["resumed"] == 1  # adopted, NOT discarded as a rebuild
    assert report["discarded_stale"] == 0
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == want_kept
    assert after.filter("m = 3").count() == 0


def test_purge_rows_reports_per_file_retire_within_kept_leaf(spark, tmp_path):
    """r7 review: a file whose EVERY row matches is retired even when its
    leaf keeps rows from other files — the report must say so."""
    from bigquack_spark.operators.maintenance import purge_rows

    path = str(tmp_path / "pr")
    spark.range(0, 40).selectExpr("id", "CAST(id < 20 AS INT) AS dead").coalesce(
        1
    ).write.parquet(path)
    spark.range(100, 140).selectExpr("id", "CAST(1 AS INT) AS dead").coalesce(
        1
    ).write.mode("append").parquet(path)

    report = purge_rows(spark, path, "dead = 1")
    # file 1: half survives (rewritten); file 2: all rows match (retired)
    assert report["files_rewritten"] == 1
    assert report["files_retired"] == 1
    assert report["n_deleted"] == 20 + 40
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == list(range(20, 40))


# -- collect_table_stats -----------------------------------------------------


def test_collect_table_stats_and_freshness(spark, tmp_path):
    import json

    from bigquack_spark.operators.maintenance import (
        STATS_FILE,
        collect_table_stats,
        stats_are_fresh,
    )

    path = str(tmp_path / "st")
    spark.createDataFrame(
        [(1, "a", 1.5, None), (2, "b", -2.0, 7), (3, None, 9.0, 7)],
        "id bigint, s string, v double, n bigint",
    ).coalesce(1).write.parquet(path)

    assert stats_are_fresh(path) is False  # nothing collected yet
    m = collect_table_stats(spark, path)
    assert m["rows"] == 3
    assert m["columns"]["s"]["null_count"] == 1
    assert m["columns"]["n"]["null_count"] == 1
    assert m["columns"]["v"]["min"] == -2.0 and m["columns"]["v"]["max"] == 9.0
    assert "min" not in m["columns"]["s"]  # string extremes not recorded
    assert m["columns"]["id"]["ndv_approx"] == 3  # HLL exact at tiny n
    assert m["columns"]["n"]["ndv_approx"] == 1
    on_disk = json.load(open(os.path.join(path, STATS_FILE)))
    assert on_disk["rows"] == 3
    assert stats_are_fresh(path) is True

    # appending data invalidates the manifest; recollecting refreshes it
    spark.createDataFrame([(4, "c", 0.0, 1)], "id bigint, s string, v double, n bigint") \
        .coalesce(1).write.mode("append").parquet(path)
    assert stats_are_fresh(path) is False
    m2 = collect_table_stats(spark, path)
    assert m2["rows"] == 4
    assert stats_are_fresh(path) is True

    # r8: a verified compaction re-binds the manifest to the new layout
    # (content checksum-proven equal) — stats stay fresh; an UNverified
    # one must not bless them, so there they go stale (layout-bound)
    from bigquack_spark.operators.maintenance import compact_small_files

    rep = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert rep["stats_rebound"] is True
    assert stats_are_fresh(path) is True


def test_collect_table_stats_zero_rows_and_map_columns(spark, tmp_path):
    """r7 advisor (low): a zero-row table must not crash (conditional sums
    aggregate to NULL over zero rows) and map-typed columns — which
    approx_count_distinct cannot hash — get null counts but no ndv."""
    from bigquack_spark.operators.maintenance import collect_table_stats

    path = str(tmp_path / "empty_with_map")
    df = spark.createDataFrame(
        [], "id bigint, tags map<string,string>, v double"
    )
    df.write.parquet(path)
    m = collect_table_stats(spark, path)
    assert m["rows"] == 0
    assert m["columns"]["id"]["null_count"] == 0
    assert m["columns"]["tags"]["null_count"] == 0
    assert "ndv_approx" not in m["columns"]["tags"]
    assert m["columns"]["id"]["ndv_approx"] == 0

    # non-empty with a map column still works end-to-end
    path2 = str(tmp_path / "rows_with_map")
    spark.createDataFrame(
        [(1, {"a": "x"}, 1.5), (2, None, None)],
        "id bigint, tags map<string,string>, v double",
    ).write.parquet(path2)
    m2 = collect_table_stats(spark, path2)
    assert m2["rows"] == 2
    assert m2["columns"]["tags"]["null_count"] == 1
    assert m2["columns"]["v"]["null_count"] == 1
    assert m2["columns"]["id"]["ndv_approx"] == 2
    assert "ndv_approx" not in m2["columns"]["tags"]


def test_capture_column_lineage_dotted_column_name(spark, tmp_path):
    """r7 advisor (low): a literal dot in an output column name must probe
    as the column itself, not a nested-field path."""
    from pyspark.sql import functions as F

    from bigquack_spark.lineage import capture_column_lineage

    path = str(tmp_path / "t")
    spark.createDataFrame([(1, 2.0)], "id bigint, v double").write.parquet(path)
    df = spark.read.parquet(path).select(
        F.col("id").alias("user.id"), F.col("v").alias("metric.value")
    )
    lin = capture_column_lineage(df)
    assert set(lin) == {"user.id", "metric.value"}
    assert any("id" in s["columns"] for s in lin["user.id"])
    assert any("v" in s["columns"] for s in lin["metric.value"])


# -- stats-driven planning (operators/planner.py) ----------------------------


def _stats_table(spark, tmp_path, name="st"):
    path = str(tmp_path / name)
    spark.range(1000).selectExpr(
        "id",
        "id % 4 AS k",
        "CAST(id % 250 AS STRING) AS cat",
        "CAST(1 AS BIGINT) AS const",
        "IF(id % 10 < 7, NULL, id) AS mostly_null",
        "CAST(id AS DOUBLE) AS v",
    ).repartition(6).write.parquet(path)
    return path


def test_planner_answers_from_stats_without_opening_data_files(spark, tmp_path):
    """The zero-data-files-opened guarantee, proven destructively: after
    stats are collected, every data file is overwritten with same-sized
    garbage (fingerprint still matches; any parquet read would crash) and
    the planners still answer."""
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import (
        estimate_compaction_roi,
        recommend_cluster_key,
        recommend_partition_keys,
    )

    path = _stats_table(spark, tmp_path)
    collect_table_stats(spark, path)
    for f in _data_files(path):
        size = os.path.getsize(f)
        with open(f, "wb") as fh:
            fh.write(b"\x00" * size)  # unreadable as parquet, same fingerprint

    ranked = recommend_partition_keys(path, max_partitions=100)
    by_col = {r["column"]: r for r in ranked}
    assert by_col["k"]["viable"]  # ndv 4, no nulls
    assert not by_col["const"]["viable"] and by_col["const"]["reason"] == "constant column"
    assert not by_col["mostly_null"]["viable"] and by_col["mostly_null"]["reason"] == "majority NULL"
    assert not by_col["id"]["viable"]  # ndv ~1000 > 100
    assert not by_col["v"]["viable"]  # double unsuited
    assert ranked[0]["column"] == "k"

    ck = recommend_cluster_key(path, ["id", "k", "cat"])
    assert ck["column"] == "id"  # highest-ndv rangeable candidate

    roi = estimate_compaction_roi(path, target_file_bytes=1 << 30)
    assert roi["files_before"] == len(_data_files(path))
    assert roi["files_after_est"] == 1
    assert roi["est_task_reduction"] == roi["files_before"] - 1
    assert roi["rows"] == 1000


def test_planner_refuses_stale_or_missing_stats(spark, tmp_path):
    import pytest

    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import (
        StaleStatsError,
        recommend_partition_keys,
    )

    path = _stats_table(spark, tmp_path, "st2")
    with pytest.raises(StaleStatsError, match="no _STATS.json"):
        recommend_partition_keys(path)
    collect_table_stats(spark, path)
    recommend_partition_keys(path)  # fresh: fine
    spark.range(5).selectExpr(
        "id", "id AS k", "'x' AS cat", "id AS const",
        "id AS mostly_null", "CAST(id AS DOUBLE) AS v",
    ).write.mode("append").parquet(path)
    with pytest.raises(StaleStatsError, match="stale"):
        recommend_partition_keys(path)


def test_compaction_rebinds_fresh_stats_but_never_stale_ones(spark, tmp_path):
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        compact_small_files,
        stats_are_fresh,
    )

    path = str(tmp_path / "cmp")
    spark.range(2000).selectExpr("id", "id % 3 AS g").repartition(16).write.parquet(path)
    m = collect_table_stats(spark, path)
    rep = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert rep["partitions_compacted"] == 1 and rep["stats_rebound"]
    # metadata-only refresh: manifest is fresh against the NEW layout and
    # every statistic is unchanged
    assert stats_are_fresh(path)
    from bigquack_spark.operators.planner import load_fresh_stats

    m2 = load_fresh_stats(path)
    # rows/nulls/min-max exact; ndv may shift within HLL error after the
    # 16->1 regrouping (union estimator vs direct HIP — r9)
    assert m2["rows"] == m["rows"]
    for c in ("id", "g"):
        a, b = m["columns"][c], m2["columns"][c]
        assert (a["null_count"], a["min"], a["max"]) == (
            b["null_count"], b["min"], b["max"]
        )
        assert abs(a["ndv_approx"] - b["ndv_approx"]) <= 0.03 * max(a["ndv_approx"], 1)

    # stale-at-entry stats must NOT be blessed by a later compaction
    path2 = str(tmp_path / "cmp2")
    spark.range(2000).selectExpr("id", "id % 3 AS g").repartition(16).write.parquet(path2)
    collect_table_stats(spark, path2)
    spark.range(7).selectExpr("id", "id AS g").write.mode("append").parquet(path2)
    assert not stats_are_fresh(path2)
    rep2 = compact_small_files(spark, path2, target_file_bytes=1 << 30)
    assert rep2["partitions_compacted"] == 1 and not rep2["stats_rebound"]
    assert not stats_are_fresh(path2)


def test_purge_refresh_stats_recomputes_after_destructive_rewrite(spark, tmp_path):
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        purge_rows,
        stats_are_fresh,
    )
    from bigquack_spark.operators.planner import load_fresh_stats

    path = _purge_table(spark, tmp_path, "pstats")
    collect_table_stats(spark, path)

    rep = purge_rows(spark, path, "tag = '5'", refresh_stats=True)
    assert rep["n_deleted"] > 0
    assert stats_are_fresh(path)
    assert load_fresh_stats(path)["rows"] == 1000 - rep["n_deleted"]

    # without the flag, stats honestly go stale
    rep2 = purge_rows(spark, path, "tag = '6'")
    assert rep2["n_deleted"] > 0
    assert not stats_are_fresh(path)


# -- retention executor (apply_retention) ------------------------------------


def _retention_table(spark, tmp_path, name="rt"):
    """age_years-partitioned table: age 0..3, 250 rows each, 2 files per
    partition."""
    path = str(tmp_path / name)
    spark.range(1000).selectExpr(
        "id", "id % 4 AS age_years", "CAST(id AS STRING) AS payload"
    ).repartition(2).write.partitionBy("age_years").parquet(path)
    return path


def test_apply_retention_partition_fast_path_opens_zero_data_files(spark, tmp_path):
    """Partition-only predicate: whole leaves retire from directory
    metadata alone — proven by overwriting every data file with unreadable
    same-sized garbage first."""
    from bigquack_spark.operators.maintenance import apply_retention

    path = _retention_table(spark, tmp_path)
    sizes_to_retire = sum(
        os.path.getsize(f) for f in _data_files(path) if "/age_years=3/" in f
    )
    n_files_retire = sum(1 for f in _data_files(path) if "/age_years=3/" in f)
    for f in _data_files(path):
        with open(f, "r+b") as fh:
            fh.write(b"\x00" * os.path.getsize(f))  # unreadable, same size
    keep_bytes = {
        f: open(f, "rb").read() for f in _data_files(path) if "/age_years=3/" not in f
    }

    rep = apply_retention(spark, path, "age_years >= 3")
    assert rep["mode"] == "partition"
    assert rep["n_deleted"] is None  # honest: rows unknown without a scan
    assert rep["partitions_touched"] == 1
    assert rep["files_retired"] == n_files_retire
    assert rep["bytes_retired"] == sizes_to_retire
    assert not os.path.isdir(os.path.join(path, "age_years=3"))
    # untouched partitions byte-identical (still the garbage we wrote)
    for f, want in keep_bytes.items():
        assert open(f, "rb").read() == want
    audits = [f for f in os.listdir(path) if f.startswith("_RETENTION-")]
    assert len(audits) == 1
    import json

    audit = json.load(open(os.path.join(path, audits[0])))
    assert audit["leaves_retired"] == ["age_years=3"]
    assert audit["bytes_retired"] == sizes_to_retire

    # idempotent: nothing left to retire
    again = apply_retention(spark, path, "age_years >= 3")
    assert again["generation"] is None and again["partitions_touched"] == 0


def test_apply_retention_data_predicate_falls_back_to_purge(spark, tmp_path):
    from bigquack_spark.operators.maintenance import apply_retention

    path = _retention_table(spark, tmp_path, "rt2")
    rep = apply_retention(spark, path, "age_years = 1 AND payload = '5'")
    assert rep["mode"] == "scan"
    assert rep["n_deleted"] == 1
    after = spark.read.parquet(path)
    assert after.count() == 999
    assert after.filter("payload = '5'").count() == 0


def test_apply_retention_reconciles_with_policy_sizing(spark, tmp_path):
    """q306's shape on the SAME table: the bytes a TTL at age>=2 is sized
    to reclaim (per-partition on-disk bytes, oldest-first) must equal the
    executor's report exactly."""
    from pyspark.sql import functions as F

    from bigquack_spark.operators.maintenance import apply_retention

    path = _retention_table(spark, tmp_path, "rt3")
    per_part_bytes = {}
    for f in _data_files(path):
        age = int(f.split("age_years=")[1].split("/")[0])
        per_part_bytes[age] = per_part_bytes.get(age, 0) + os.path.getsize(f)
    sized_reclaim = sum(b for age, b in per_part_bytes.items() if age >= 2)
    rows_before = spark.read.parquet(path).count()
    rows_to_keep = (
        spark.read.parquet(path).filter(F.col("age_years") < 2).count()
    )

    rep = apply_retention(spark, path, "age_years >= 2")
    assert rep["bytes_retired"] == sized_reclaim
    assert rep["partitions_touched"] == 2
    after = spark.read.parquet(path)
    assert after.count() == rows_to_keep < rows_before
    assert after.filter("age_years >= 2").count() == 0


def test_apply_retention_crash_rolls_forward(spark, tmp_path):
    from bigquack_spark.operators import maintenance

    path = _retention_table(spark, tmp_path, "rt4")

    class Boom(RuntimeError):
        pass

    real = maintenance._finish_swap
    state = {"crashed": False}

    def crash_once(leaf, staging, gen, olds, prefix="compacted"):
        if not state["crashed"]:
            state["crashed"] = True
            raise Boom()
        return real(leaf, staging, gen, olds, prefix=prefix)

    maintenance._finish_swap = crash_once
    try:
        with pytest.raises(Boom):
            maintenance.apply_retention(spark, path, "age_years = 0")
    finally:
        maintenance._finish_swap = real

    rep = maintenance.apply_retention(spark, path, "age_years = 0")
    assert rep["resumed"] == 1
    after = spark.read.parquet(path)
    assert after.filter("age_years = 0").count() == 0
    assert after.count() == 750


def test_vacuum_sweeps_merge_residue_and_bounds_all_manifest_kinds(spark, tmp_path):
    import json as _json

    from bigquack_spark.operators.maintenance import vacuum

    path = str(tmp_path / "vac8")
    spark.range(10).write.parquet(path)
    os.makedirs(os.path.join(path, ".merge-insert-staging", "data"))
    for i in range(7):
        for prefix in ("_MERGE", "_RETENTION"):
            p = os.path.join(path, f"{prefix}-{i:02d}.json")
            with open(p, "w") as fh:
                _json.dump({"generation": i}, fh)
            os.utime(p, (1_000_000 + i, 1_000_000 + i))
    rep = vacuum(path, keep_purge_manifests=5)
    assert rep["insert_staging_swept"] == 1
    assert not os.path.isdir(os.path.join(path, ".merge-insert-staging"))
    # counted PER KIND (r8 advisor): 2 oldest of each kind, no _PURGE here
    assert rep["merge_manifests_pruned"] == 2
    assert rep["retention_manifests_pruned"] == 2
    assert rep["purge_manifests_pruned"] == 0
    kept = sorted(f for f in os.listdir(path) if f.endswith(".json") and f.startswith(("_MERGE", "_RETENTION")))
    assert len(kept) == 10
    assert "_MERGE-00.json" not in kept and "_RETENTION-01.json" not in kept


def test_update_table_stats_incremental_fold_matches_full_recompute(spark, tmp_path):
    """Append-only stats maintenance: folding only the NEW files must give
    the same manifest a full recompute gives (rows/nulls/min-max exact,
    ndv via deterministic HLL union) — proven by garbage-overwriting the
    OLD files so any rescan of them would crash."""
    import copy

    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        stats_are_fresh,
        update_table_stats,
    )

    path = str(tmp_path / "inc")
    spark.range(500).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS s", "CAST(id AS DOUBLE) AS v",
        "IF(id % 5 = 0, NULL, id) AS n",
    ).coalesce(2).write.parquet(path)
    collect_table_stats(spark, path)
    old_files = set(_data_files(path))

    spark.range(500, 700).selectExpr(
        "id", "CAST(id % 11 AS STRING) AS s", "CAST(id AS DOUBLE) AS v",
        "IF(id % 5 = 0, NULL, id) AS n",
    ).coalesce(1).write.mode("append").parquet(path)
    assert not stats_are_fresh(path)

    # full recompute ground truth (before garbaging the old files)
    import json as _json

    from bigquack_spark.operators.maintenance import STATS_FILE

    inc_input = _json.load(open(os.path.join(path, STATS_FILE)))
    full = collect_table_stats(spark, path)
    want = copy.deepcopy(full)
    # restore the pre-append manifest so update folds from it
    with open(os.path.join(path, STATS_FILE), "w") as fh:
        _json.dump(inc_input, fh)

    # prove the fold reads ONLY the new files
    for f in old_files:
        with open(f, "r+b") as fh:
            fh.write(b"\x00" * os.path.getsize(f))
    got = update_table_stats(spark, path)
    assert stats_are_fresh(path)
    assert got["rows"] == want["rows"] == 700
    for c in ("id", "s", "v", "n"):
        assert got["columns"][c]["null_count"] == want["columns"][c]["null_count"]
        assert got["columns"][c]["ndv_approx"] == want["columns"][c]["ndv_approx"]
        if "min" in want["columns"][c]:
            assert got["columns"][c]["min"] == want["columns"][c]["min"]
            assert got["columns"][c]["max"] == want["columns"][c]["max"]

    # no-op when nothing changed
    again = update_table_stats(spark, path)
    assert again["rows"] == 700


def test_update_table_stats_folds_removals_from_partials(spark, tmp_path):
    """r9 (verdict #1): file REMOVALS fold — the table section re-derives
    from the surviving per-file partials without opening a single data
    file (proven by garbage-overwriting the survivors first).  A legacy
    manifest without partials still refuses."""
    import json as _json

    import pytest

    from bigquack_spark.operators.maintenance import (
        STATS_FILE,
        collect_table_stats,
        stats_are_fresh,
        update_table_stats,
    )

    # fold-after-removal equals recompute, zero data files opened
    path2 = str(tmp_path / "inc3")
    spark.range(200).selectExpr(
        "id", "IF(id % 9 = 0, NULL, id % 17) AS v"
    ).repartition(4, "id").write.parquet(path2)
    collect_table_stats(spark, path2)
    pre = _json.load(open(os.path.join(path2, STATS_FILE)))
    victim2 = sorted(_data_files(path2))[0]
    os.remove(victim2)
    want2 = collect_table_stats(spark, path2)
    with open(os.path.join(path2, STATS_FILE), "w") as fh:
        _json.dump(pre, fh)  # back to the stale pre-removal manifest
    for f in _data_files(path2):
        with open(f, "r+b") as fh:
            fh.write(b"\x00" * os.path.getsize(f))
    got2 = update_table_stats(spark, path2)
    assert stats_are_fresh(path2)
    assert got2["rows"] == want2["rows"]
    for c in ("id", "v"):
        assert got2["columns"][c]["null_count"] == want2["columns"][c]["null_count"]
        assert got2["columns"][c]["ndv_approx"] == want2["columns"][c]["ndv_approx"]
        assert got2["columns"][c]["min"] == want2["columns"][c]["min"]
        assert got2["columns"][c]["max"] == want2["columns"][c]["max"]

    # legacy manifest (no per-file partials): still a loud refusal
    legacy = {k: v for k, v in got2.items() if k != "files"}
    with open(os.path.join(path2, STATS_FILE), "w") as fh:
        _json.dump(legacy, fh)
    with pytest.raises(ValueError, match="pre-r9"):
        update_table_stats(spark, path2)


def test_collect_and_update_stats_on_decimal_columns(spark, tmp_path):
    """r8 review pass 2 (repro-confirmed): decimal min/max must serialize
    (TPC-H money columns) in both the full collect and the incremental
    fold."""
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        update_table_stats,
    )

    path = str(tmp_path / "dec")
    spark.sql(
        "SELECT CAST(id AS DECIMAL(10,2)) / 4 AS price, id FROM range(100)"
    ).coalesce(1).write.parquet(path)
    m = collect_table_stats(spark, path)
    assert m["columns"]["price"]["min"] == 0.0
    assert m["columns"]["price"]["max"] == 24.75
    spark.sql(
        "SELECT CAST(id AS DECIMAL(10,2)) / 4 AS price, id FROM range(100, 140)"
    ).coalesce(1).write.mode("append").parquet(path)
    m2 = update_table_stats(spark, path)
    assert m2["rows"] == 140
    assert m2["columns"]["price"]["max"] == 34.75


def test_optimize_layout_clusters_on_stats_recommended_key(spark, tmp_path):
    """planner -> executor loop for layout: the cluster key comes from
    fresh stats, files end range-disjoint on it, content is checksum-
    preserved, and the manifest is re-bound (still fresh)."""
    import pytest

    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        optimize_layout,
        stats_are_fresh,
    )
    from bigquack_spark.operators.planner import StaleStatsError

    path = str(tmp_path / "opt")
    spark.range(5000).selectExpr(
        "id", "id % 3 AS g", "CAST(id AS DOUBLE) AS v"
    ).repartition(12).write.parquet(path)
    before = _checksum(spark, path)

    with pytest.raises(StaleStatsError):
        optimize_layout(spark, path, target_file_bytes=16 * 1024)  # no stats yet
    collect_table_stats(spark, path)

    rep = optimize_layout(spark, path, target_file_bytes=16 * 1024, candidates=["id", "g"])
    assert rep["cluster_key"]["column"] == "id"  # highest-ndv rangeable
    assert rep["partitions_compacted"] == 1
    assert rep["stats_rebound"] and stats_are_fresh(path)
    assert _checksum(spark, path) == before

    # per-file id ranges are pairwise disjoint (footer-prunable layout)
    import pyarrow.parquet as pq

    spans = []
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "id"
            )
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        spans.append((min(los), max(his)))
    spans.sort()
    assert len(spans) > 1
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # boundary rows may share a key; no interleaving


# -- snapshot / restore (plain-parquet time travel) --------------------------


def test_snapshot_restore_roundtrip_zero_copy(spark, tmp_path):
    """Snapshot pins bytes via hardlinks (no copy), survives destructive
    maintenance bit-stable (writers never mutate in place), and restore
    returns the exact content under the marker protocol."""
    import json as _json

    from bigquack_spark.operators.maintenance import (
        drop_snapshot,
        list_snapshots,
        purge_rows,
        restore_snapshot,
        snapshot_table,
    )

    path = _purge_table(spark, tmp_path, "snap")
    before = _checksum(spark, path)
    data_bytes = sum(os.path.getsize(f) for f in _data_files(path))

    rep = snapshot_table(path, "v1")
    assert rep["bytes"] == data_bytes
    assert list_snapshots(path) == ["v1"]
    # zero-copy: every snapshot file shares its inode with the live file
    snap_files = []
    for dirpath, _dn, fns in os.walk(os.path.join(path, "_snapshots", "v1", "data")):
        snap_files += [os.path.join(dirpath, n) for n in fns if n.endswith(".parquet")]
    assert snap_files and all(os.stat(f).st_nlink >= 2 for f in snap_files)

    # destructive maintenance: purge a cohort, then a whole partition
    pr = purge_rows(spark, path, "tag = '3'")
    assert pr["n_deleted"] > 0
    assert _checksum(spark, path) != before
    # the purge audit names the pinning snapshot (the GDPR follow-up)
    audit_file = next(f for f in os.listdir(path) if f.startswith("_PURGE-"))
    assert _json.load(open(os.path.join(path, audit_file)))[
        "snapshots_pinning_bytes"
    ] == ["v1"]

    rr = restore_snapshot(spark, path, "v1")
    assert rr["files_restored"] > 0 and rr["partitions_touched"] > 0
    assert _checksum(spark, path) == before

    assert drop_snapshot(path, "v1") and list_snapshots(path) == []


def test_snapshot_restore_after_whole_partition_retire(spark, tmp_path):
    from bigquack_spark.operators.maintenance import (
        apply_retention,
        restore_snapshot,
        snapshot_table,
    )

    path = _purge_table(spark, tmp_path, "snap2")
    before = _checksum(spark, path)
    snapshot_table(path, "pre")
    apply_retention(spark, path, "k = 2")  # retires the whole leaf dir
    assert not os.path.isdir(os.path.join(path, "k=2"))
    rr = restore_snapshot(spark, path, "pre")
    assert rr["files_restored"] > 0
    assert os.path.isdir(os.path.join(path, "k=2"))
    assert _checksum(spark, path) == before


def test_snapshot_name_validation_and_duplicate_refusal(spark, tmp_path):
    from bigquack_spark.operators.maintenance import snapshot_table

    path = _purge_table(spark, tmp_path, "snap3")
    snapshot_table(path, "v1")
    with pytest.raises(ValueError, match="already exists"):
        snapshot_table(path, "v1")
    with pytest.raises(ValueError, match="invalid"):
        snapshot_table(path, "../evil")


def test_restore_crash_rolls_forward(spark, tmp_path):
    from bigquack_spark.operators import maintenance

    path = _purge_table(spark, tmp_path, "snap4")
    before = _checksum(spark, path)
    maintenance.snapshot_table(path, "pre")
    maintenance.purge_rows(spark, path, "tag = '1'")

    class Boom(RuntimeError):
        pass

    real = maintenance._finish_swap
    state = {"crashed": False}

    def crash_once(leaf, staging, gen, olds, prefix="compacted"):
        if not state["crashed"]:
            state["crashed"] = True
            raise Boom()
        return real(leaf, staging, gen, olds, prefix=prefix)

    maintenance._finish_swap = crash_once
    try:
        with pytest.raises(Boom):
            maintenance.restore_snapshot(spark, path, "pre")
    finally:
        maintenance._finish_swap = real

    # second restore resumes the crashed leaf and completes the rest
    maintenance.restore_snapshot(spark, path, "pre")
    assert _checksum(spark, path) == before


def test_vacuum_sweeps_crashed_snapshot_build(spark, tmp_path):
    from bigquack_spark.operators.maintenance import (
        list_snapshots,
        snapshot_table,
        vacuum,
    )

    path = _purge_table(spark, tmp_path, "snap5")
    snapshot_table(path, "ok")
    crashed = os.path.join(path, "_snapshots", "half.tmp", "data")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "x.parquet"), "wb") as fh:
        fh.write(b"junk")
    rep = vacuum(path)
    assert rep["snapshot_tmp_swept"] == 1
    assert not os.path.isdir(os.path.join(path, "_snapshots", "half.tmp"))
    assert list_snapshots(path) == ["ok"]  # live snapshot untouched


def test_read_snapshot_time_travel_and_workload_advisor(spark, tmp_path):
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        purge_rows,
        read_snapshot,
        snapshot_table,
    )
    from bigquack_spark.operators.planner import recommend_layout_for_workload

    path = _purge_table(spark, tmp_path, "wl")
    snapshot_table(path, "v1")
    purge_rows(spark, path, "tag = '2'")
    # time travel: the snapshot still shows the purged rows
    assert read_snapshot(spark, path, "v1").count() == 1000
    assert spark.read.parquet(path).count() < 1000

    collect_table_stats(spark, path)
    rec = recommend_layout_for_workload(
        spark,
        path,
        predicates=[
            "k = 1",
            "k IN (2, 3)",
            "id BETWEEN 10 AND 99",
            "k = 0 AND id < 500",
        ],
    )
    # k: referenced 3x, ndv 4 -> partition key; id: referenced 2x,
    # high-ndv rangeable -> cluster key; tag never filtered -> ignored
    assert rec["partition_key"] == "k"
    assert rec["cluster_key"] == "id"
    assert rec["column_usage"] == {"id": 2, "k": 3}

    # a predicate that doesn't analyze is refused loudly
    import pytest

    with pytest.raises(ValueError, match="does not analyze"):
        recommend_layout_for_workload(spark, path, ["no_such_col = 1"])


def test_restore_crash_with_unaffected_file_rolls_forward(spark, tmp_path):
    """r8 review pass 3: a leaf holding an UNAFFECTED file (identical in
    the snapshot) must survive a crashed restore — the marker records it
    as `others` so the adoption gate resumes instead of discarding the
    staging (the r7 partial-leaf purge bug, restore flavor)."""
    from bigquack_spark.operators import maintenance

    path = str(tmp_path / "snapres")
    # two files in ONE flat leaf with disjoint key ranges
    for lo in (0, 100):
        spark.range(lo, lo + 100).selectExpr(
            "id", "CAST(id AS STRING) AS s"
        ).coalesce(1).write.mode("append").parquet(path)
    before = _checksum(spark, path)
    maintenance.snapshot_table(path, "pre")
    # purge touches only the file holding ids < 100; the other file is
    # untouched and identical in the snapshot
    maintenance.purge_rows(spark, path, "id < 10")

    class Boom(RuntimeError):
        pass

    real = maintenance._finish_swap
    state = {"crashed": False}

    def crash_once(leaf, staging, gen, olds, prefix="compacted"):
        if not state["crashed"]:
            state["crashed"] = True
            raise Boom()
        return real(leaf, staging, gen, olds, prefix=prefix)

    maintenance._finish_swap = crash_once
    try:
        with pytest.raises(Boom):
            maintenance.restore_snapshot(spark, path, "pre")
    finally:
        maintenance._finish_swap = real

    # the resume path must ROLL FORWARD (not discard) despite the
    # unaffected file living in the same leaf
    resumed, discarded = maintenance._resume_tree(path)
    assert resumed == 1 and discarded == 0
    # a second restore is then a content no-op and verifies clean
    maintenance.restore_snapshot(spark, path, "pre")
    assert _checksum(spark, path) == before


def test_drop_snapshot_rejects_traversal_names(spark, tmp_path):
    from bigquack_spark.operators.maintenance import drop_snapshot, snapshot_table

    path = _purge_table(spark, tmp_path, "snaptrav")
    snapshot_table(path, "v1")
    for bad in ("..", "../sibling", "a/b", ".hidden", "x.tmp", ""):
        with pytest.raises(ValueError, match="invalid"):
            drop_snapshot(path, bad)
    assert os.path.isdir(os.path.join(path, "_snapshots", "v1"))


def test_snapshot_refuses_empty_table_and_tmp_names(spark, tmp_path):
    from bigquack_spark.operators.maintenance import snapshot_table

    empty = str(tmp_path / "emptytbl")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no data files"):
        snapshot_table(empty, "v1")
    path = _purge_table(spark, tmp_path, "snaptmp")
    with pytest.raises(ValueError, match="invalid"):
        snapshot_table(path, "backup.tmp")


def test_optimize_layout_skips_partition_columns_as_cluster_key(spark, tmp_path):
    """r8 review pass 3: a hive-partition column (constant per leaf,
    absent from leaf-file frames) must never be chosen as the cluster
    key even when it is the highest-ndv rangeable column in stats."""
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        optimize_layout,
    )

    path = str(tmp_path / "optpart")
    # partition column 'day' has HIGHER ndv than any data column
    spark.range(2000).selectExpr(
        "id % 50 AS day", "id % 7 AS v", "CAST(id AS STRING) AS s"
    ).repartition(4).write.partitionBy("day").parquet(path)
    collect_table_stats(spark, path)
    rep = optimize_layout(spark, path, target_file_bytes=1 << 30)
    assert rep["cluster_key"] is None or rep["cluster_key"]["column"] != "day"
    assert rep["partitions_compacted"] > 0  # the pass itself ran clean


# -- r8 advisor regression tests ----------------------------------------------


def test_update_table_stats_folds_schema_drift_honestly(spark, tmp_path):
    """r8 advisor (medium), closed by the r9 per-file partials: a manifest
    column ABSENT from the appended files reads back NULL for every
    appended row — the fold adds those rows to its null_count — and a
    batch carrying a NEW column enters with null_count covering every
    older row, exactly what a mergeSchema recompute reports."""
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        update_table_stats,
    )

    path = str(tmp_path / "drift")
    spark.range(100).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(path)
    collect_table_stats(spark, path)

    # append files MISSING column v: its rows read back NULL table-wide
    spark.range(100, 140).selectExpr("id").coalesce(1).write.mode(
        "append"
    ).parquet(path)
    m = update_table_stats(spark, path)
    assert m["rows"] == 140
    assert m["columns"]["v"]["null_count"] == 40
    # null fraction now matches what a full recompute sees
    full = collect_table_stats(spark, path)
    assert full["columns"]["v"]["null_count"] == 40

    # append files carrying a NEW column: folds in with the old rows NULL
    spark.range(140, 150).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "id % 2 AS brand_new"
    ).coalesce(1).write.mode("append").parquet(path)
    m2 = update_table_stats(spark, path)
    assert m2["rows"] == 150
    assert m2["columns"]["brand_new"]["null_count"] == 140
    assert m2["columns"]["brand_new"]["ndv_approx"] == 2
    assert m2["columns"]["brand_new"]["min"] == 0
    assert m2["columns"]["brand_new"]["max"] == 1
    full2 = collect_table_stats(spark, path)
    for c in ("id", "v", "brand_new"):
        assert m2["columns"][c]["null_count"] == full2["columns"][c]["null_count"]
        assert m2["columns"][c]["ndv_approx"] == full2["columns"][c]["ndv_approx"]


def test_infer_partition_type_rejects_python_only_literals(spark, tmp_path):
    """r8 advisor: Python's int()/float()/fromisoformat accept forms
    Spark's partition inference types as STRING ('1_0', 'inf', 'nan',
    compact ISO dates) — the fast path must type them as string too, or
    the retention predicate evaluates under a different typing than the
    scan path."""
    from bigquack_spark.operators.maintenance import _infer_partition_type

    assert _infer_partition_type(["1", "42", "-7"]) == "bigint"
    assert _infer_partition_type(["1.5", "2", "-0.25", "1e3"]) == "double"
    assert _infer_partition_type(["2024-01-31", "2023-12-01"]) == "date"
    # Python-only forms Spark leaves as strings
    assert _infer_partition_type(["1_0"]) == "string"
    assert _infer_partition_type(["inf", "1.0"]) == "string"
    assert _infer_partition_type(["nan"]) == "string"
    assert _infer_partition_type(["20240131"]) == "bigint"  # compact ISO: int
    assert _infer_partition_type(["2024-13-40"]) == "string"  # bad ranges
    assert _infer_partition_type([None, None]) == "string"


def test_apply_retention_audit_records_pinning_snapshots(spark, tmp_path):
    """r8 advisor: hardlinked snapshots pin retention-retired bytes —
    the _RETENTION audit must record them like the purge audit does."""
    import json as _json

    from bigquack_spark.operators.maintenance import (
        apply_retention,
        snapshot_table,
    )

    path = str(tmp_path / "retsnap")
    spark.range(300).selectExpr(
        "id", "id % 3 AS bucket"
    ).write.partitionBy("bucket").parquet(path)
    snapshot_table(path, "pre-ttl")
    rep = apply_retention(spark, path, "bucket = 0")
    assert rep["mode"] == "partition" and rep["partitions_touched"] == 1
    audits = [f for f in os.listdir(path) if f.startswith("_RETENTION-")]
    assert len(audits) == 1
    audit = _json.load(open(os.path.join(path, audits[0])))
    assert audit["snapshots_pinning_bytes"] == ["pre-ttl"]


def test_planner_answers_immediately_after_merge_no_recollect(spark, tmp_path):
    """r9 headline (r8 verdict #1): merge_upsert(refresh_stats=True) folds
    _STATS.json forward scanning ONLY the files the merge wrote — the
    planners answer right after a CDC apply with no full recollect.
    Proven two ways: a spy records which files the fold scanned, and the
    folded manifest equals a from-scratch recompute."""
    import json as _json

    from bigquack_spark.operators import maintenance
    from bigquack_spark.operators.maintenance import (
        STATS_FILE,
        collect_table_stats,
        stats_are_fresh,
    )
    from bigquack_spark.operators.planner import recommend_partition_keys
    from bigquack_spark.sinks.merge import merge_upsert

    path = str(tmp_path / "cdcstats")
    spark.range(900).selectExpr(
        "id", "id % 3 AS bucket", "CAST(id % 37 AS DOUBLE) AS v"
    ).repartition(3, "bucket").write.partitionBy("bucket").parquet(path)
    collect_table_stats(spark, path)
    pre_files = set(_data_files(path))

    changes = spark.createDataFrame(
        [(5, 2, 999.0), (10, 1, 888.0), (2000, 2, 777.0)],
        "id bigint, bucket bigint, v double",
    )

    scanned: list[list[str]] = []
    real = maintenance._file_partials

    def spy(spark_, p, rels):
        scanned.append(sorted(rels))
        return real(spark_, p, rels)

    maintenance._file_partials = spy
    try:
        rep = merge_upsert(
            spark, path, changes, key_cols=["id", "bucket"], refresh_stats=True
        )
    finally:
        maintenance._file_partials = real
    assert rep["files_inserted"] > 0 and rep["files_rewritten"] > 0
    assert stats_are_fresh(path)

    # the fold scanned ONLY files this merge created — never a pre-merge file
    merge_written = {
        os.path.relpath(f, path) for f in _data_files(path)
    } - {os.path.relpath(f, path) for f in pre_files}
    assert scanned and set(scanned[-1]) <= merge_written

    # planner answers NOW, and from numbers equal to a full recompute
    folded = _json.load(open(os.path.join(path, STATS_FILE)))
    ranked = recommend_partition_keys(path, candidates=["bucket"])
    assert ranked[0]["column"] == "bucket" and ranked[0]["viable"]
    want = collect_table_stats(spark, path)
    assert folded["rows"] == want["rows"] == 901
    for c in ("id", "bucket", "v"):
        assert folded["columns"][c]["null_count"] == want["columns"][c]["null_count"]
        assert folded["columns"][c]["min"] == want["columns"][c]["min"]
        assert folded["columns"][c]["max"] == want["columns"][c]["max"]
    assert folded["columns"]["v"]["max"] == 999.0  # the upsert is IN the stats


def test_retention_fast_path_stats_fold_opens_zero_files(spark, tmp_path):
    """r9: apply_retention(refresh_stats=True) on a partition-only
    predicate folds stats with ZERO data files opened — proven by
    garbage-overwriting every data file (retired and surviving) before
    the call."""
    from bigquack_spark.operators.maintenance import (
        apply_retention,
        collect_table_stats,
        stats_are_fresh,
    )
    from bigquack_spark.operators.planner import load_fresh_stats

    path = str(tmp_path / "retstats")
    spark.range(600).selectExpr(
        "id", "id % 3 AS age", "CAST(id AS DOUBLE) AS v"
    ).repartition(3, "age").write.partitionBy("age").parquet(path)
    m0 = collect_table_stats(spark, path)
    assert m0["rows"] == 600

    for f in _data_files(path):
        with open(f, "r+b") as fh:
            fh.write(b"\x00" * os.path.getsize(f))
    rep = apply_retention(spark, path, "age = 2", refresh_stats=True)
    assert rep["mode"] == "partition" and rep["partitions_touched"] == 1
    assert stats_are_fresh(path)
    m = load_fresh_stats(path)
    assert m["rows"] == 400
    assert m["columns"]["age"]["max"] == 1  # retired partition left the stats
    assert m["columns"]["id"]["null_count"] == 0


def test_snapshot_storage_report_pins_only_retired_bytes(spark, tmp_path):
    """Inode-exact accounting: a fresh snapshot pins ZERO bytes (pure
    hardlinks into the live table); after a purge rewrites files, the
    snapshot pins exactly the retired originals, and vacuum surfaces the
    same number."""
    from bigquack_spark.operators.maintenance import (
        purge_rows,
        snapshot_storage_report,
        snapshot_table,
        vacuum,
    )

    path = _purge_table(spark, tmp_path, "pin1")
    snapshot_table(path, "v1")
    rep0 = snapshot_storage_report(path)
    assert rep0["snapshots"]["v1"]["pinned_bytes"] == 0
    assert rep0["total_pinned_bytes"] == 0

    before_files = {f: os.stat(f).st_ino for f in _data_files(path)}
    pr = purge_rows(spark, path, "tag = '3'")
    assert pr["files_rewritten"] + pr["files_retired"] > 0
    after_inodes = {os.stat(f).st_ino for f in _data_files(path)}
    retired_bytes = sum(
        os.path.getsize(
            os.path.join(path, "_snapshots", "v1", "data",
                         os.path.relpath(f, path))
        )
        for f, ino in before_files.items()
        if ino not in after_inodes
    )
    assert retired_bytes > 0

    rep1 = snapshot_storage_report(path)
    assert rep1["snapshots"]["v1"]["pinned_bytes"] == retired_bytes
    # only snapshot -> everything it pins is reclaimable by dropping it
    assert rep1["snapshots"]["v1"]["reclaimable_bytes"] == retired_bytes
    assert rep1["total_pinned_bytes"] == retired_bytes
    assert vacuum(path)["snapshot_pinned_bytes"] == retired_bytes


def test_expire_snapshots_keep_last_and_age(spark, tmp_path):
    """keep_last always survives regardless of age; older_than_s expires
    only genuinely old snapshots; unbounded expiry must be spelled."""
    import json as _json

    from bigquack_spark.operators.maintenance import (
        expire_snapshots,
        list_snapshots,
        snapshot_table,
    )

    path = _purge_table(spark, tmp_path, "exp1")
    for name in ("v1", "v2", "v3"):
        snapshot_table(path, name)
    # age v1 far into the past via its manifest
    mp = os.path.join(path, "_snapshots", "v1", "manifest.json")
    rec = _json.load(open(mp))
    rec["created_at"] = 1_000_000.0
    _json.dump(rec, open(mp, "w"))

    with pytest.raises(ValueError, match="older_than_s and/or keep_last"):
        expire_snapshots(path)

    rep = expire_snapshots(path, older_than_s=3600.0, keep_last=1)
    assert rep["expired"] == ["v1"] and sorted(rep["kept"]) == ["v2", "v3"]
    # v1 was pure hardlinks into files still live (or pinned by v2/v3):
    # nothing actually freed
    assert rep["bytes_freed"] == 0
    assert sorted(list_snapshots(path)) == ["v2", "v3"]

    rep2 = expire_snapshots(path, keep_last=0)
    assert sorted(rep2["expired"]) == ["v2", "v3"]
    assert list_snapshots(path) == []
    assert rep2["bytes_still_pinned"] == 0


def test_purge_then_expire_frees_the_pinned_bytes(spark, tmp_path):
    """The erasure-obligation chain (r8 verdict #4 'done' gate): purge
    retires rows, the snapshot still pins their bytes, expiry actually
    frees them — inode-verified, and the purged rows are unrecoverable."""
    from bigquack_spark.operators.maintenance import (
        expire_snapshots,
        list_snapshots,
        purge_rows,
        snapshot_storage_report,
        snapshot_table,
        vacuum,
    )

    path = _purge_table(spark, tmp_path, "erase1")
    snapshot_table(path, "pre")
    purge_rows(spark, path, "tag = '5'")
    pinned = snapshot_storage_report(path)["total_pinned_bytes"]
    assert pinned > 0
    # the retired rows are still recoverable through the snapshot...
    from bigquack_spark.operators.maintenance import read_snapshot

    assert read_snapshot(spark, path, "pre").filter("tag = '5'").count() > 0

    rep = expire_snapshots(path, keep_last=0)
    assert rep["expired"] == ["pre"]
    assert rep["bytes_freed"] == pinned  # the pinned bytes actually left
    assert list_snapshots(path) == []
    assert spark.read.parquet(path).filter("tag = '5'").count() == 0
    assert vacuum(path)["snapshot_pinned_bytes"] == 0


def test_expire_snapshots_respects_lease(spark, tmp_path):
    from bigquack_spark.operators.lease import (
        LeaseHeldError,
        acquire_table_lease,
    )
    from bigquack_spark.operators.maintenance import (
        expire_snapshots,
        list_snapshots,
        snapshot_table,
    )

    path = _purge_table(spark, tmp_path, "expl")
    snapshot_table(path, "v1")
    held = acquire_table_lease(path, owner="restore-in-flight")
    with pytest.raises(LeaseHeldError):
        expire_snapshots(path, keep_last=0)
    assert list_snapshots(path) == ["v1"]
    held.release()


def test_workload_capture_feeds_layout_advisor(spark, tmp_path):
    """r8 verdict #7 'done' gate: real query runs capture their predicates
    into _WORKLOAD.jsonl via scan_table, and recommend_layout_from_log
    reproduces the hand-supplied-predicates advice end to end."""
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import (
        WORKLOAD_FILE,
        read_workload_log,
        recommend_layout_from_log,
        scan_table,
        trim_workload_log,
    )

    path = _purge_table(spark, tmp_path, "wlog")
    collect_table_stats(spark, path)

    # an empty log refuses loudly — no advice from no evidence
    with pytest.raises(ValueError, match="no workload log"):
        recommend_layout_from_log(spark, path)

    # real query runs: scans push down AND log their predicates
    assert scan_table(spark, path, "k = 1").count() == 250
    assert scan_table(spark, path, "k IN (2, 3)", columns=["id"]).count() == 500
    assert scan_table(spark, path, "id BETWEEN 10 AND 99").count() == 90
    assert scan_table(spark, path, "k = 0 AND id < 500").count() == 125
    # predicate-less and log_workload=False scans leave no trace
    assert scan_table(spark, path).count() == 1000
    assert scan_table(spark, path, "tag = '1'", log_workload=False).count() > 0

    assert read_workload_log(path) == [
        "k = 1", "k IN (2, 3)", "id BETWEEN 10 AND 99", "k = 0 AND id < 500",
    ]
    rec = recommend_layout_from_log(spark, path)
    assert rec["partition_key"] == "k"
    assert rec["cluster_key"] == "id"
    assert rec["column_usage"] == {"id": 2, "k": 3}
    assert rec["n_logged"] == 4

    # the log is bounded: trim keeps the newest entries
    for i in range(10):
        scan_table(spark, path, f"id = {i}").count()
    assert trim_workload_log(path, keep_last=3) == 11
    assert read_workload_log(path) == ["id = 7", "id = 8", "id = 9"]
    # a torn concurrent append is skipped, not fatal
    with open(os.path.join(path, WORKLOAD_FILE), "a") as fh:
        fh.write('{"predica')
    assert read_workload_log(path) == ["id = 7", "id = 8", "id = 9"]

    # vacuum leaves the log alone
    from bigquack_spark.operators.maintenance import vacuum

    vacuum(path)
    assert os.path.exists(os.path.join(path, WORKLOAD_FILE))


def test_diff_snapshots_file_and_row_grains(spark, tmp_path):
    """diff_snapshots prices a restore: file/byte delta from manifests
    (metadata-only), row delta via exceptAll, and the keyed CDC
    decomposition (added/removed/changed/unchanged)."""
    from bigquack_spark.operators.maintenance import (
        diff_snapshots,
        purge_rows,
        snapshot_table,
    )
    from bigquack_spark.sinks.merge import merge_upsert

    path = _purge_table(spark, tmp_path, "diff1")
    snapshot_table(path, "v1")

    # identical sides: zero delta everywhere
    z = diff_snapshots(spark, path, "v1", key_cols=["id"])
    assert (z["rows_added"], z["rows_removed"], z["rows_changed"]) == (0, 0, 0)
    assert z["rows_unchanged"] == 1000
    assert z["files_added"] == z["files_removed"] == 0

    # mutate: purge 3 rows, upsert-change 2, insert 1
    purge_rows(spark, path, "id IN (10, 11, 12)")
    changes = spark.createDataFrame(
        [(20, 0, "CHANGED"), (21, 1, "CHANGED"), (5000, 0, "NEW")],
        "id long, k long, tag string",
    )
    merge_upsert(spark, path, changes, key_cols=["id"])

    d = diff_snapshots(spark, path, "v1", key_cols=["id"])
    assert d["rows_added"] == 1
    assert d["rows_removed"] == 3
    assert d["rows_changed"] == 2
    assert d["rows_unchanged"] == 1000 - 3 - 2
    assert d["files_removed"] > 0 and d["bytes_removed"] > 0

    # multiset grain: a changed row counts once on each side
    m = diff_snapshots(spark, path, "v1")
    assert m["rows_added"] == 1 + 2 and m["rows_removed"] == 3 + 2
    assert m["rows_changed"] is None

    # snapshot-vs-snapshot and the missing-name gate
    snapshot_table(path, "v2")
    s = diff_snapshots(spark, path, "v1", "v2", key_cols=["id"])
    assert s["rows_added"] == 1 and s["rows_removed"] == 3 and s["rows_changed"] == 2
    assert diff_snapshots(spark, path, "v2")["rows_added"] == 0
    with pytest.raises(ValueError, match="no snapshot"):
        diff_snapshots(spark, path, "nope")


def test_restore_dry_run_previews_without_touching(spark, tmp_path):
    """restore_snapshot(dry_run=True): fingerprint-arithmetic preview of
    files/bytes/partitions a rollback would touch — table untouched, no
    lease taken, and the numbers match the real restore's accounting."""
    from bigquack_spark.operators.lease import acquire_table_lease
    from bigquack_spark.operators.maintenance import (
        purge_rows,
        restore_snapshot,
        snapshot_table,
    )

    path = _purge_table(spark, tmp_path, "dry1")
    before = _checksum(spark, path)
    snapshot_table(path, "v1")
    purge_rows(spark, path, "tag = '4'")

    # preview works even while another writer holds the lease (read-only)
    held = acquire_table_lease(path, owner="other")
    preview = restore_snapshot(spark, path, "v1", dry_run=True)
    held.release()
    assert preview["dry_run"] is True
    assert preview["files_restored"] > 0 and preview["bytes_restored"] > 0
    assert _checksum(spark, path) != before  # nothing restored

    real = restore_snapshot(spark, path, "v1")
    assert real["files_restored"] == preview["files_restored"]
    assert real["files_retired"] == preview["files_retired"]
    assert real["partitions_touched"] == preview["partitions_touched"]
    assert _checksum(spark, path) == before


def test_diff_snapshots_sees_evolved_column_changes(spark, tmp_path):
    """r9 review: a change confined to a schema-evolved column must count
    as CHANGED — the diff aligns both sides on the schema UNION
    (NULL-filling the missing side), never the intersection."""
    from bigquack_spark.operators.maintenance import diff_snapshots, snapshot_table
    from bigquack_spark.sinks.merge import merge_upsert

    path = _purge_table(spark, tmp_path, "diffev")
    snapshot_table(path, "pre")
    # upsert rows whose EXISTING columns keep their exact values — only
    # the evolved column carries information
    rows = [
        r.asDict() for r in spark.read.parquet(path).filter("id in (7, 8)").collect()
    ]
    changes = spark.createDataFrame(
        [(r["id"], r["k"], r["tag"], 0.5) for r in rows],
        "id long, k long, tag string, score double",
    )
    merge_upsert(spark, path, changes, key_cols=["id"], schema_evolution=True)

    d = diff_snapshots(spark, path, "pre", key_cols=["id"])
    assert d["rows_changed"] == 2  # intersection diff reported 0 here
    assert d["rows_added"] == 0 and d["rows_removed"] == 0
    assert d["rows_unchanged"] == 998


def test_restore_dry_run_refuses_pending_swap(spark, tmp_path):
    """r9 review: a crashed swap awaiting roll-forward makes the preview
    diverge from the real pass (which resumes first) — refuse loudly."""
    import json as _json

    from bigquack_spark.operators.maintenance import (
        MARKER,
        STAGING_DIR,
        restore_snapshot,
        snapshot_table,
        vacuum,
    )

    path = _purge_table(spark, tmp_path, "drypend")
    snapshot_table(path, "v1")
    staging = os.path.join(path, "k=1", STAGING_DIR)
    os.makedirs(os.path.join(staging, "data"))
    with open(os.path.join(staging, MARKER), "w") as fh:
        _json.dump({"gen": "dead", "olds": [], "prefix": "purged", "others": []}, fh)
    with pytest.raises(RuntimeError, match="pending roll-forward"):
        restore_snapshot(spark, path, "v1", dry_run=True)
    vacuum(path)  # rolls the planted swap forward
    preview = restore_snapshot(spark, path, "v1", dry_run=True)
    assert preview["dry_run"] is True


def test_maintain_table_full_pass_and_healthy_noop(spark, tmp_path):
    """The autopilot capstone: one leased pass heals a fragmented,
    stale-stats, snapshot-laden table per policy, records WHY each
    skipped leg skipped, and a second run on the now-healthy table is a
    no-op."""
    import json as _json

    from bigquack_spark.operators.lease import acquire_table_lease
    from bigquack_spark.operators.maintain import maintain_table
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        list_snapshots,
        snapshot_table,
        stats_are_fresh,
    )

    path = str(tmp_path / "auto")
    spark.range(2000).selectExpr(
        "id", "id % 3 AS k", "CAST(id % 7 AS STRING) AS tag"
    ).repartition(30).write.partitionBy("k").parquet(path)
    collect_table_stats(spark, path)
    snapshot_table(path, "old")
    mp = os.path.join(path, "_snapshots", "old", "manifest.json")
    rec = _json.load(open(mp)); rec["created_at"] = 1_000_000.0
    _json.dump(rec, open(mp, "w"))
    snapshot_table(path, "recent")
    # appends since the collect: stats now stale, files fragmented
    spark.range(2000, 2100).selectExpr(
        "id", "id % 3 AS k", "CAST(id % 7 AS STRING) AS tag"
    ).repartition(5).write.mode("append").partitionBy("k").parquet(path)
    assert not stats_are_fresh(path)

    policy = {
        "target_file_bytes": 1 << 30,
        "retention_predicate": "k = 2",
        "snapshot_keep_last": 1,
        "snapshot_older_than_s": 3600.0,
    }
    rep = maintain_table(spark, path, policy)
    assert rep["stats"] in ("refreshed", "collected")
    assert stats_are_fresh(path)
    assert rep["retention"]["partitions_touched"] >= 1
    assert not os.path.isdir(os.path.join(path, "k=2"))
    assert rep["compaction"]["partitions_compacted"] >= 1
    assert rep["compaction"]["roi"]["small_file_fraction"] >= 0.5
    assert rep["expiry"]["expired"] == ["old"]
    assert list_snapshots(path) == ["recent"]
    assert spark.read.parquet(path).filter("k != 2").count() == 1400
    # lease fully released
    acquire_table_lease(path, owner="next").release()

    # healthy table: everything no-ops with recorded reasons
    rep2 = maintain_table(spark, path, {"target_file_bytes": 1 << 30})
    assert rep2["stats"] == "fresh"
    assert rep2["compaction"] is None and "compaction" in rep2["skipped"]
    assert "retention" in rep2["skipped"] and "expiry" in rep2["skipped"]

    # a typo'd policy knob refuses loudly
    with pytest.raises(ValueError, match="unknown policy keys"):
        maintain_table(spark, path, {"compact_min_small_fraction": 0.1})


def test_optimize_layout_zorder_in_place(spark, tmp_path):
    """In-place Z-ordered re-layout: optimize_layout(zorder_cols=[x, y])
    rewrites a fragmented table so per-file footer ranges are narrow on
    BOTH columns (single-key clustering leaves the second at full width),
    checksum-preserved, and the workload advisor recommends the pair."""
    import pyarrow.parquet as pq

    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        optimize_layout,
    )
    from bigquack_spark.operators.planner import (
        recommend_layout_from_log,
        scan_table,
    )

    path = str(tmp_path / "zopt")
    spark.range(100_000).selectExpr(
        "CAST(id % 141 AS DOUBLE) AS x",
        "CAST((id * 7919) % 149 AS DOUBLE) AS y",
        "id",
    ).repartition(32).write.parquet(path)
    before = _checksum(spark, path)
    collect_table_stats(spark, path)

    # captured workload references BOTH x and y -> advisor says z-order
    scan_table(spark, path, "x < 10").count()
    scan_table(spark, path, "y > 100").count()
    scan_table(spark, path, "x > 50 AND y < 40").count()
    rec = recommend_layout_from_log(spark, path)
    assert sorted(rec["zorder_cols"]) == ["x", "y"]

    rep = optimize_layout(
        spark, path, target_file_bytes=60_000, zorder_cols=rec["zorder_cols"]
    )
    assert rep["cluster_key"] == {"zorder": rec["zorder_cols"]}
    assert rep["partitions_compacted"] == 1
    assert _checksum(spark, path) == before

    def avg_range_frac(col, domain):
        fracs = []
        for f in os.listdir(path):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            md = pq.read_metadata(os.path.join(path, f))
            lo = hi = None
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = md.row_group(rg).column(i)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = c.statistics.min if lo is None else min(lo, c.statistics.min)
                        hi = c.statistics.max if hi is None else max(hi, c.statistics.max)
            if lo is not None:
                fracs.append((hi - lo) / domain)
        assert len(fracs) > 3  # genuinely multi-file after the rewrite
        return sum(fracs) / len(fracs)

    zx, zy = avg_range_frac("x", 140.0), avg_range_frac("y", 148.0)
    assert zx < 0.6 and zy < 0.6, (zx, zy)

    # zorder on a single column (or a partition column) refuses loudly
    with pytest.raises(ValueError, match=">= 2 cluster_cols"):
        from bigquack_spark.operators.maintenance import compact_small_files

        compact_small_files(spark, path, cluster_cols=["x"], zorder=True)


def test_zorder_handles_dates_and_excludes_existing_partition_cols(spark, tmp_path):
    """r9 review pass 2: z-ordering must accept date/timestamp columns
    (epoch projection — approxQuantile rejects them raw), the advisor
    must never recommend the table's existing hive-partition columns,
    and a healthy-table zorder pass must not pay the boundary scan."""
    from bigquack_spark.operators.maintenance import (
        collect_table_stats,
        compact_small_files,
        optimize_layout,
    )
    from bigquack_spark.operators.planner import (
        recommend_layout_from_log,
        scan_table,
    )

    path = str(tmp_path / "zdate")
    spark.range(40_000).selectExpr(
        "id % 4 AS k",
        "DATE_ADD(DATE'2024-01-01', CAST(id % 365 AS INT)) AS d",
        "CAST((id * 7919) % 149 AS DOUBLE) AS y",
    ).repartition(24).write.partitionBy("k").parquet(path)
    before = _checksum(spark, path)
    collect_table_stats(spark, path)

    # workload filters on the partition col, a date, and a double
    scan_table(spark, path, "k = 1").count()
    scan_table(spark, path, "d > DATE'2024-06-01'").count()
    scan_table(spark, path, "y < 40 AND d < DATE'2024-03-01'").count()
    rec = recommend_layout_from_log(spark, path)
    assert sorted(rec["zorder_cols"]) == ["d", "y"]  # k excluded

    rep = optimize_layout(
        spark, path, target_file_bytes=1 << 20, zorder_cols=rec["zorder_cols"]
    )
    assert rep["partitions_compacted"] == 4
    assert _checksum(spark, path) == before

    # 62-bit interleave budget still enforced on this path
    with pytest.raises(ValueError, match="exceeds 62"):
        compact_small_files(
            spark, path, cluster_cols=["d", "y"] * 6, zorder=True
        )


def test_maintain_table_zorder_from_workload(spark, tmp_path):
    """zorder_from_workload=True closes the capture loop: the autopilot
    z-orders on the pair the logged queries filter on, and with no log it
    records the skip instead of guessing."""
    from bigquack_spark.operators.maintain import maintain_table
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import scan_table

    path = str(tmp_path / "autoz")
    spark.range(100_000).selectExpr(
        "CAST(id % 141 AS DOUBLE) AS x",
        "CAST((id * 7919) % 149 AS DOUBLE) AS y",
        "id",
    ).repartition(32).write.parquet(path)
    collect_table_stats(spark, path)

    # no workload yet: the pass compacts plain and records why
    rep0 = maintain_table(
        spark, path,
        {"target_file_bytes": 60_000, "zorder_from_workload": True},
    )
    # the skip reason is the advisor's own refusal message (r10: it now
    # surfaces verbatim so a stats refusal is distinguishable from an
    # empty log)
    assert "no workload log" in rep0["skipped"]["zorder"]
    assert "cluster_key" not in rep0["compaction"]  # plain bin-pack ran

    # fragment again, capture a two-column workload, re-run (bigger
    # target: plan_compaction gates on the LEAF AVERAGE file size, and
    # the healthy files from pass 0 pull the mixed leaf's average up)
    spark.range(100_000, 140_000).selectExpr(
        "CAST(id % 141 AS DOUBLE) AS x",
        "CAST((id * 7919) % 149 AS DOUBLE) AS y",
        "id",
    ).repartition(16).write.mode("append").parquet(path)
    scan_table(spark, path, "x < 10").count()
    scan_table(spark, path, "y > 100").count()
    rep1 = maintain_table(
        spark, path,
        {"target_file_bytes": 160_000, "zorder_from_workload": True},
    )
    assert rep1["stats"] == "refreshed"
    assert sorted(rep1["compaction"]["cluster_key"]["zorder"]) == ["x", "y"]
    assert rep1["compaction"]["partitions_compacted"] >= 1


def test_read_workload_log_long_predicates_keep_full_window(tmp_path):
    """r9 advice: predicates longer than the per-line byte estimate must
    not silently shrink the tail window — the seek-back budget grows until
    max_entries complete lines (or file start) are in hand."""
    from bigquack_spark.operators.planner import (
        log_workload_predicate,
        read_workload_log,
    )

    path = str(tmp_path / "longlog")
    # each predicate ~2 KB — 4x the 512-byte per-line budget estimate
    preds = [
        f"big_col_{i} IN ({', '.join(str(j) for j in range(400))})"
        for i in range(30)
    ]
    for p in preds:
        log_workload_predicate(path, p)
    got = read_workload_log(path, max_entries=20)
    assert got == preds[-20:]  # all 20, not the ~5 a fixed budget reads
    # asking for more than exist returns everything, oldest-first
    assert read_workload_log(path, max_entries=100) == preds


def test_workload_json_refs_drive_shred_advice(spark, tmp_path):
    """r9 verdict #4 'done' gate: queries that keep extracting JSON paths
    via get_json_object get the shred proposed FOR them — the advisor
    emits the ready-to-use shred dict, the landed table serves the same
    query typed (no JSON parse in the plan), and maintain_table's
    autopilot surfaces the same advice."""
    from bigquack_spark.operators.jsonshred import shred_ingest
    from bigquack_spark.operators.maintain import maintain_table
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import (
        recommend_layout_from_log,
        scan_table,
    )

    path = str(tmp_path / "jlog")
    spark.range(200).selectExpr(
        "id",
        """to_json(named_struct(
             'k', id % 7, 'tag', concat('t', id % 3), 'score', id / 10.0
           )) AS props""",
    ).write.parquet(path)
    collect_table_stats(spark, path)

    # real query runs: the captured predicates re-parse JSON every time
    assert scan_table(spark, path, "get_json_object(props, '$.k') = '1'").count() > 0
    assert scan_table(spark, path, "get_json_object(props, '$.k') = '2'").count() > 0
    assert scan_table(
        spark, path, "get_json_object(props, '$.tag') = 't0' AND id > 3"
    ).count() > 0

    rec = recommend_layout_from_log(spark, path)
    shred = rec["shred"]
    assert shred is not None
    assert shred["col"] == "props" and shred["n_json_refs"] == 3
    # k referenced twice -> leads the schema; sampled types are right
    assert shred["schema"].split(", ")[0] == "k BIGINT"
    assert "tag STRING" in shred["schema"]
    assert shred["fields"] == {"k": 2, "tag": 1}
    # advice from a bounded workload window must keep the raw column:
    # 'score' exists in the JSON but the log never referenced it — only a
    # keep_raw shred leaves it recoverable (r10 review)
    assert shred["keep_raw"] is True

    # autopilot surfaces the identical proposal (proposal-only leg)
    rep = maintain_table(spark, path, {"shred_from_workload": True})
    assert rep["shred_advice"] == shred

    # the proposal lands: one shred_ingest rewrite, then the same question
    # is served TYPED — no get_json_object, no JSON parse in the plan
    dst = str(tmp_path / "jtyped")
    out = shred_ingest(spark, path, dst, shred["col"], shred["schema"],
                       keep_raw=shred["keep_raw"])
    assert out["n_rows"] == 200 and "k" in out["columns"]
    assert "props" in out["columns"]  # unreferenced 'score' stays recoverable
    typed = spark.read.parquet(dst).filter("k = 1")
    assert typed.count() == spark.read.parquet(path).filter(
        "get_json_object(props, '$.k') = '1'"
    ).count()
    plan = typed._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(k,1)" in plan  # typed pushdown, parsed once at ingest


def test_shred_advice_absent_without_json_refs(spark, tmp_path):
    """No JSON-path extraction in the log => shred advice is None (and the
    autopilot leg records the skip) — advice never fires on plain scans."""
    from bigquack_spark.operators.maintain import maintain_table
    from bigquack_spark.operators.maintenance import collect_table_stats
    from bigquack_spark.operators.planner import (
        recommend_layout_from_log,
        scan_table,
    )

    path = str(tmp_path / "nolog")
    spark.range(100).selectExpr("id", "id % 5 AS k", "'x' AS props").write.parquet(path)
    collect_table_stats(spark, path)
    assert scan_table(spark, path, "k = 1").count() == 20
    assert recommend_layout_from_log(spark, path)["shred"] is None
    rep = maintain_table(spark, path, {"shred_from_workload": True})
    assert rep.get("shred_advice") is None and "shred" in rep["skipped"]


def test_shred_advice_leg_survives_missing_stats(spark, tmp_path):
    """r10 review: recommend_layout_from_log raises StaleStatsError (a
    RuntimeError) when stats are missing — the shred leg must record the
    skip, not crash the whole maintenance pass mid-way."""
    from bigquack_spark.operators.maintain import maintain_table
    from bigquack_spark.operators.planner import log_workload_predicate

    path = str(tmp_path / "nostats")
    spark.range(50).selectExpr("id", "'{}' AS props").write.parquet(path)
    log_workload_predicate(path, "get_json_object(props, '$.k') = '1'")
    rep = maintain_table(
        spark, path,
        {"shred_from_workload": True, "collect_stats_if_missing": False},
    )
    assert rep.get("shred_advice") is None
    assert "stats" in rep["skipped"]["shred"].lower()
    assert "expiry" in rep["skipped"]  # the pass ran to completion
