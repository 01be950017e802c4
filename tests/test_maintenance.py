"""Table-maintenance ops: small-file compaction (sources/io.py) and
partition-skew reporting (operators/quality.py)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dpe_energy_performance_analysis_etl_spark.operators import partition_skew_report
from dpe_energy_performance_analysis_etl_spark.sources import compact_parquet_dir, dir_stats


def _write_fragmented(spark, path, n_files=40, rows_per_file=50):
    df = spark.range(n_files * rows_per_file).withColumn("v", F.col("id") * 2)
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


class TestCompaction:
    def test_compacts_and_preserves_data(self, spark, tmp_path):
        path = str(tmp_path / "frag")
        _write_fragmented(spark, path, n_files=40)
        before = dir_stats(spark, path)
        assert before["n_files"] == 40

        # target = total size -> one output file
        res = compact_parquet_dir(spark, path, target_file_bytes=before["total_bytes"] + 1)
        assert res["skipped"] is False
        assert res["files_before"] == 40
        assert res["files_after"] < 40

        got = spark.read.parquet(path)
        assert got.count() == 2000
        assert got.agg(F.sum("v")).collect()[0][0] == sum(2 * i for i in range(2000))
        # no leftover temp/backup dirs
        assert not os.path.exists(path + "__compacting")
        assert not os.path.exists(path + "__precompact")

    def test_sized_output_count(self, spark, tmp_path):
        path = str(tmp_path / "sized")
        _write_fragmented(spark, path, n_files=30)
        total = dir_stats(spark, path)["total_bytes"]
        # ask for ~4 files
        res = compact_parquet_dir(spark, path, target_file_bytes=max(1, total // 4))
        assert res["skipped"] is False
        assert 3 <= res["files_after"] <= 5
        assert len(glob.glob(path + "/*.parquet")) == res["files_after"]

    def test_skips_already_compact(self, spark, tmp_path):
        path = str(tmp_path / "compact")
        spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
        res = compact_parquet_dir(spark, path)
        assert res["skipped"] is True
        assert spark.read.parquet(path).count() == 100

    def test_stale_temp_dirs_cleaned(self, spark, tmp_path):
        path = str(tmp_path / "stale")
        _write_fragmented(spark, path, n_files=10)
        os.makedirs(path + "__compacting")  # crashed prior run
        res = compact_parquet_dir(spark, path, target_file_bytes=10**9)
        assert res["skipped"] is False
        assert spark.read.parquet(path).count() == 500


class TestPartitionSkewReport:
    def test_even_partitions(self, spark):
        df = spark.range(8000).repartition(8)  # round-robin -> even
        rows = partition_skew_report(df).collect()
        assert len(rows) == 8
        assert sum(r.n_rows for r in rows) == 8000
        assert all(r.skew_ratio == pytest.approx(1.0, abs=0.05) for r in rows)
        assert sum(r.frac_of_total for r in rows) == pytest.approx(1.0)

    def test_detects_hot_partition(self, spark):
        # hash-partition a constant key: every row lands in ONE partition
        df = spark.range(4000).withColumn("k", F.lit(1)).repartition(8, "k")
        rows = partition_skew_report(df).collect()
        assert max(r.n_rows for r in rows) == 4000
        # only non-empty partitions appear; with one partition holding
        # all rows the ratio is max/mean = 1.0 only if it's the sole
        # group — otherwise > 1
        if len(rows) > 1:
            assert rows[0].skew_ratio > 1.0


def test_orc_roundtrip_and_text_scan(spark, tmp_path):
    """ORC sink/scan parity with parquet content; raw text-line scan
    (Spark's built-in ``orc`` and ``text`` sources)."""
    df = spark.range(50).selectExpr("id", "id % 5 as grp", "cast(id * 1.5 as double) as v")
    df.write.option("compression", "zlib").partitionBy("grp").orc(str(tmp_path / "orc"))
    back = spark.read.orc(str(tmp_path / "orc"))
    assert back.count() == 50
    assert {r.id for r in back.select("id").collect()} == set(range(50))
    # Partition pruning: grp filter reads a subset of files.
    assert back.filter("grp = 2").count() == 10

    (tmp_path / "log.txt").write_text("alpha\nbeta\ngamma\n")
    lines = spark.read.text(str(tmp_path / "log.txt"))
    assert [r.value for r in lines.orderBy("value").collect()] == ["alpha", "beta", "gamma"]


def test_join_view_delta_equals_recompute_minus_old(spark):
    """The delta algebra dL⋈R ∪ L⋈dR ∪ dL⋈dR must equal full
    recompute minus the old view — including multiplicities."""
    from dpe_energy_performance_analysis_etl_spark.operators.incremental import join_view_delta

    L = spark.createDataFrame([(1, "l1"), (2, "l2"), (2, "l2b")], "k long, lv string")
    dL = spark.createDataFrame([(2, "dl1"), (3, "dl2")], "k long, lv string")
    R = spark.createDataFrame([(1, "r1"), (2, "r2")], "k long, rv string")
    dR = spark.createDataFrame([(2, "dr1"), (3, "dr2"), (3, "dr2b")], "k long, rv string")

    got = sorted(map(tuple, join_view_delta(L, dL, R, dR, on="k").collect()))

    full = L.unionByName(dL).join(R.unionByName(dR), "k")
    old = L.join(R, "k")
    want = sorted(map(tuple, full.exceptAll(old).collect()))
    assert got == want
    # dL⋈dR pairs present (key 3 only exists in the deltas: 1 dl x 2 dr)
    assert sum(1 for r in got if r[0] == 3) == 2


def test_join_view_delta_empty_deltas_empty_output(spark):
    from dpe_energy_performance_analysis_etl_spark.operators.incremental import join_view_delta

    L = spark.createDataFrame([(1, "a")], "k long, lv string")
    R = spark.createDataFrame([(1, "b")], "k long, rv string")
    empty_l = spark.createDataFrame([], "k long, lv string")
    empty_r = spark.createDataFrame([], "k long, rv string")
    assert join_view_delta(L, empty_l, R, empty_r, on="k").count() == 0


def test_join_view_delta_signed_matches_recompute(spark):
    """Signed Z-set identity: net view change under mixed
    inserts/deletes equals full-recompute-minus-old, per row value."""
    from dpe_energy_performance_analysis_etl_spark.operators.incremental import (
        join_view_delta_signed,
    )
    from pyspark.sql import functions as F

    L = spark.createDataFrame([(1, "l1"), (2, "l2")], "k long, lv string")
    R = spark.createDataFrame([(1, "r1"), (2, "r2"), (2, "r2b")], "k long, rv string")
    # delete (2,'l2'); insert (3,'l3') twice (weight 2)
    dL = spark.createDataFrame([(2, "l2", -1), (3, "l3", 2)], "k long, lv string, w long")
    # delete (2,'r2b'); insert (3,'r3')
    dR = spark.createDataFrame([(2, "r2b", -1), (3, "r3", 1)], "k long, rv string, w long")

    got = {
        (r.k, r.lv, r.rv): r.w
        for r in join_view_delta_signed(L, dL, R, dR, on="k").collect()
    }

    # ground truth: multiset counts of new view minus old view
    newL = L.withColumn("w", F.lit(1)).unionByName(dL)
    newR = R.withColumn("w", F.lit(1)).unionByName(dR)
    new_view = (
        newL.withColumnRenamed("w", "wl")
        .join(newR.withColumnRenamed("w", "wr"), "k")
        .groupBy("k", "lv", "rv")
        .agg(F.sum(F.col("wl") * F.col("wr")).alias("w"))
    )
    old_view = L.join(R, "k").groupBy("k", "lv", "rv").agg(F.count(F.lit(1)).alias("w"))
    want = {}
    for r in new_view.collect():
        want[(r.k, r.lv, r.rv)] = want.get((r.k, r.lv, r.rv), 0) + r.w
    for r in old_view.collect():
        key = (r.k, r.lv, r.rv)
        want[key] = want.get(key, 0) - r.w
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want
    # spot-check the interesting cells: (2,l2,*) removed, (3,l3,r3) weight 2
    assert got[(2, "l2", "r2")] == -1
    assert got[(3, "l3", "r3")] == 2
    # delete x delete: (2, l2, r2b) = -(base) -(base) +(del*del=+1) = net -1
    assert got[(2, "l2", "r2b")] == -1
