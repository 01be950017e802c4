"""Relational + aggregate operator tests (SURVEY §2)."""

import pandas as pd
import pytest

from dpe_energy_performance_analysis_etl_spark.operators import (
    anti_join_new_rows,
    dedup_keys_keep_first,
    distinct_values,
    equi_join,
    group_stats_dpe,
    impute_numeric,
    iqr_bounds,
    suffix_columns,
    union_all,
)


def test_equi_join_cast_keys(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "x": ["a", "b", "c"]}))
    right = spark.createDataFrame(pd.DataFrame({"k": ["2", "3"], "y": ["B", "C"]}))
    out = equi_join(left, right, "k", how="left", cast_keys_to_string=True).orderBy("k")
    assert [r.y for r in out.collect()] == [None, "B", "C"]


def test_anti_join_single_and_composite(spark):
    batch = spark.createDataFrame(pd.DataFrame({"pk": ["a", "b", "c"], "q": [1, 2, 3]}))
    existing = spark.createDataFrame(pd.DataFrame({"pk": ["b"]}))
    out = anti_join_new_rows(batch, existing, ["pk"])
    assert {r.pk for r in out.collect()} == {"a", "c"}
    batch2 = spark.createDataFrame(pd.DataFrame({"k1": ["a", "a"], "k2": [1, 2]}))
    exist2 = spark.createDataFrame(pd.DataFrame({"k1": ["a"], "k2": [2]}))
    out2 = anti_join_new_rows(batch2, exist2, ["k1", "k2"])
    assert [(r.k1, r.k2) for r in out2.collect()] == [("a", 1)]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"], "ord": [2, 1, 5], "v": ["late", "early", "only"]})
    )
    out = dedup_keys_keep_first(df, ["k"], order_by=["ord"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": "early", "b": "only"}


def test_suffix_and_union_and_distinct(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1, 1], "b": ["x", "x"]}))
    sfx = suffix_columns(df, "_enedis", exclude=["a"])
    assert sfx.columns == ["a", "b_enedis"]
    u = union_all(df, df)
    assert u.count() == 4
    assert distinct_values(df, "b").count() == 1


def test_iqr_bounds_and_impute_median_vs_mean(spark):
    from pyspark.sql import functions as F

    # col_out has an extreme outlier -> median fill; col_plain -> mean
    # fill; col_low's only outlier is below Q1; col_nan holds a NaN,
    # which Spark orders above every value; col_null is all-null
    nan = float("nan")
    rows = [
        (1.0, 1.0, 1.0, 1.0, None),
        (2.0, 2.0, 2.0, 2.0, None),
        (3.0, 3.0, 3.0, 3.0, None),
        (4.0, 4.0, 4.0, 4.0, None),
        (1000.0, 5.0, -1000.0, nan, None),
        (None, None, None, None, None),
    ]
    cols = ["col_out", "col_plain", "col_low", "col_nan", "col_null"]
    df = spark.createDataFrame(rows, ", ".join(f"{c} double" for c in cols))
    bounds = iqr_bounds(df, cols)
    lo, hi = bounds["col_out"]
    assert lo < 1.0 and hi < 1000.0  # 1000 is outside the fence
    assert "col_null" not in bounds
    filled, report = impute_numeric(df)
    assert report == {"median": ["col_out", "col_low", "col_nan"], "mean": ["col_plain"]}
    # the same choice as counting the values outside the fences
    for c, (lo, hi) in bounds.items():
        outliers = df.where((F.col(c) < lo) | (F.col(c) > hi)).count()
        assert c in report["median" if outliers else "mean"], c
    got = {r["col_out"] for r in filled.select("col_out").collect()}
    assert 3.0 in got  # median of [1,2,3,4,1000]
    got_plain = [r["col_plain"] for r in filled.select("col_plain").collect()]
    assert 3.0 in got_plain  # mean of [1..5]
    assert 2.0 in {r["col_low"] for r in filled.select("col_low").collect()}  # median
    assert filled.where(F.col("col_null").isNull()).count() == len(rows)


def test_group_stats_sentinels_and_values(spark):
    pdf = pd.DataFrame(
        {
            "etiquette_dpe_ademe": ["A"] * 6 + ["B"],
            "conso_kwh_m2": [10.0, 12.0, 9.0, 11.0, 13.0, 10.5, 5.0],
            "conso_5_usages_par_m2_ef_ademe": [9.0, 11.5, 9.5, 10.0, 12.0, 10.0, 6.0],
        }
    )
    out = group_stats_dpe(spark.createDataFrame(pdf), batch_id="b1")
    rows = {r.etiquette_dpe_ademe: r for r in out.collect()}
    assert rows["B"].sample_size == 1
    assert rows["B"].paired_t_test_t_statistic == -99999.0
    a = rows["A"]
    assert a.sample_size == 6
    assert a.paired_t_test_p_value == a.paired_t_test_p_value  # not NaN
    assert 0.0 <= a.paired_t_test_p_value <= 1.0
    assert 0.0 <= a.wilcoxon_p_value <= 1.0
    assert a.batch_id == "b1"


def test_equi_join_broadcast_hint_in_plan(spark):
    left = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    right = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # no auto-broadcast
    try:
        hinted = equi_join(left, right, "o_custkey", "c_custkey", broadcast_right=True)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        unhinted = equi_join(left, right, "o_custkey", "c_custkey")
        plan2 = unhinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2  # hint is what made the difference
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_scd2_merge_paths(spark):
    """All four SCD2 paths: no-op on equal attrs (idempotent
    redelivery), close+reopen on change, insert on new key,
    pass-through of closed history."""
    import datetime as dt

    from pyspark.sql import functions as F, types as T

    from dpe_energy_performance_analysis_etl_spark.operators import scd2_merge

    ts = lambda s: dt.datetime.fromisoformat(s)
    dim_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("attr", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    dim = spark.createDataFrame(
        [
            (1, "gold", ts("2020-01-01"), None, True),       # will change
            (2, "silver", ts("2020-01-01"), None, True),     # no-op update
            (3, "bronze", ts("2020-01-01"), None, True),     # no update at all
            (1, "old", ts("2019-01-01"), ts("2020-01-01"), False),  # history
        ],
        dim_schema,
    )
    updates = spark.createDataFrame(
        [
            (1, "platinum", ts("2024-06-01")),
            (2, "silver", ts("2024-06-01")),
            (9, "new", ts("2024-06-01")),
        ],
        ["k", "attr", "change_ts"],
    )
    out = scd2_merge(dim, updates, key="k", tracked=["attr"])
    rows = {(r["k"], r["attr"]): r for r in out.collect()}
    assert len(rows) == 6
    # changed key: old version closed, new version open
    assert rows[(1, "gold")]["valid_to"] == ts("2024-06-01")
    assert not rows[(1, "gold")]["is_current"]
    assert rows[(1, "platinum")]["is_current"] and rows[(1, "platinum")]["valid_to"] is None
    assert rows[(1, "platinum")]["valid_from"] == ts("2024-06-01")
    # no-op and untouched keys stay open
    assert rows[(2, "silver")]["is_current"] and rows[(2, "silver")]["valid_to"] is None
    assert rows[(3, "bronze")]["is_current"]
    # new key inserted open; history row untouched
    assert rows[(9, "new")]["is_current"]
    assert rows[(1, "old")]["valid_to"] == ts("2020-01-01")
    # applying the same batch again is a no-op (idempotent)
    again = scd2_merge(out, updates, key="k", tracked=["attr"])
    assert again.count() == 6
    assert again.filter(F.col("is_current")).count() == out.filter(F.col("is_current")).count()


def test_merge_agg_state_equals_recompute(spark):
    """Merging partial states over an arbitrary split == full
    recompute, including keys present on only one side."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators import (
        agg_state,
        merge_agg_state,
    )

    df = spark.range(1000).select(
        (F.col("id") % 37).alias("k"),
        (F.col("id") % 101).cast("double").alias("v"),
        F.col("id").alias("ord"),
    )
    specs = {
        "n": ("count", "v"),
        "s": ("sum_dec2", "v"),
        "lo": ("min", "ord"),
        "hi": ("max", "ord"),
    }
    # split so some keys exist only in one part
    left = df.filter((F.col("ord") < 700) | (F.col("k") == 5))
    right = df.subtract(left)
    merged = merge_agg_state(
        agg_state(left, ["k"], specs), agg_state(right, ["k"], specs), ["k"], specs
    )
    full = agg_state(df, ["k"], specs)
    cols = ["k", "n", "s", "lo", "hi"]
    a = sorted(map(tuple, merged.select(*[F.col(c).cast("string") for c in cols]).collect()))
    b = sorted(map(tuple, full.select(*[F.col(c).cast("string") for c in cols]).collect()))
    assert a == b


def test_observation_quality_gate(spark):
    """Metrics ride along the real action (no extra count job) and
    bounds violations name every failing metric."""
    import pytest
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators import (
        assert_metrics,
        non_empty_gate,
        observed,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    gated, obs = observed(
        df,
        rows=F.count(F.lit(1)),
        null_v=F.count_if(F.col("v").isNull()),
        max_k=F.max("k"),
    )
    gated.write.mode("overwrite").format("noop").save()  # the "real" action
    vals = assert_metrics(obs, {"rows": (100, 100), "null_v": (None, 10), "max_k": (99, 99)})
    assert vals["null_v"] == 10

    gated2, obs2 = non_empty_gate(spark.range(5).filter(F.col("id") > 99))
    gated2.write.mode("overwrite").format("noop").save()
    with pytest.raises(ValueError, match="rows=0 below minimum 1"):
        assert_metrics(obs2, {"rows": (1, None)})


def test_apply_changelog_semantics(spark):
    """Last-write-wins with tiebreak, delete drops, insert adds,
    delete-then-reinsert resolves by latest, unknown-key delete is a
    no-op."""
    import datetime as dt

    from dpe_energy_performance_analysis_etl_spark.operators import apply_changelog

    ts = lambda s: dt.datetime.fromisoformat(s)
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "U", "a2", ts("2024-01-02"), 10),
            (1, "U", "a1", ts("2024-01-01"), 11),  # older — ignored
            (2, "D", None, ts("2024-01-01"), 12),
            (4, "I", "d", ts("2024-01-01"), 13),
            (5, "D", None, ts("2024-01-01"), 14),  # unknown key delete
            (6, "D", None, ts("2024-01-01"), 15),  # delete then reinsert (later)
            (6, "I", "f", ts("2024-01-02"), 16),
            (7, "U", "x1", ts("2024-01-03"), 17),  # equal ts: ord breaks tie
            (7, "U", "x2", ts("2024-01-03"), 18),
        ],
        ["k", "op", "v", "ts", "ord"],
    )
    out = {r["k"]: r["v"] for r in apply_changelog(base, changes, key="k", ord_col="ord").collect()}
    assert out == {1: "a2", 3: "c", 4: "d", 6: "f", 7: "x2"}


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: a range predicate on EITHER dimension
    touches a strict subset of files; an x-sorted layout only prunes
    on x. Compares files-read via input_file_name under identical
    predicates."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators import write_zorder_parquet

    n, n_files = 50_000, 16
    df = spark.range(n).select(
        (F.xxhash64("id") % 1000).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 1000).alias("y"),
        F.col("id").alias("payload"),
    )
    zpath, xpath = str(tmp_path / "zorder"), str(tmp_path / "xsort")
    write_zorder_parquet(df, zpath, ["x", "y"], n_files=n_files)
    df.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(xpath)

    def files_touched(path, cond):
        d = spark.read.parquet(path).filter(cond)
        return d.select(F.input_file_name()).distinct().count()

    # edge deciles: their rank-normalized values share the curve's
    # top bits, the regime min/max file stats can actually prune
    y_pred = F.col("y") >= 800
    x_pred = F.col("x") >= 800

    # y-predicate: x-sorted layout spreads y everywhere (all files);
    # z-order confines it to a subset
    z_y, x_y = files_touched(zpath, y_pred), files_touched(xpath, y_pred)
    assert x_y == n_files
    assert z_y < n_files
    # x-predicate: both layouts prune
    assert files_touched(zpath, x_pred) < n_files
    assert files_touched(xpath, x_pred) < n_files
    # and the data is identical
    assert spark.read.parquet(zpath).count() == n


def test_count_min_sketch_properties(spark):
    """CMS invariants: estimates never undercount; sketches over a
    split merge to the full-corpus sketch exactly; estimate error is
    bounded for a skewed distribution."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators import (
        cms_build,
        cms_lookup,
        cms_merge,
    )

    # Skewed: item_j appears ~4j times
    base = spark.range(5000).select(
        "id",
        F.concat(F.lit("tok"), (F.floor(F.sqrt(F.col("id") / 2))).cast("string")).alias(
            "term"
        ),
    )
    items = base.select("term")
    sketch = cms_build(items, "term", width=256)
    exact = items.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    est = cms_lookup(sketch, exact, "term", width=256)
    joined = est.join(exact, on="term").collect()
    assert len(joined) > 10
    errors = []
    for r in joined:
        assert r["est"] >= r["n"], f'{r["term"]} undercounted'
        errors.append(r["est"] - r["n"])
    errors.sort()
    # eN/w additive error holds per-item with high probability, not
    # deterministically — assert the distribution, not every item
    assert errors[len(errors) // 2] <= 2 * 5000 / 256  # median within 2N/w
    assert errors[-1] <= 5000 / 10  # no catastrophic outlier

    # merge of disjoint halves == sketch of the whole
    left = base.filter(F.col("id") < 2500).select("term")
    right = base.filter(F.col("id") >= 2500).select("term")
    merged = cms_merge(cms_build(left, "term", width=256), cms_build(right, "term", width=256))
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, sketch.collect()))
    assert a == b


def test_kmv_sketch_accuracy_and_merge(spark):
    """KMV estimates the true distinct count within the standard
    ~1/sqrt(k) relative error; merging split sketches equals the
    whole-data sketch; under-k cardinalities are exact."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    base = spark.range(20_000).select(
        "id", F.concat(F.lit("item"), (F.col("id") % 3000).cast("string")).alias("term")
    )
    items = base.select("term")
    k = 64
    est = kmv_estimate(kmv_build(items, "term", k=k), k=k).collect()[0]["est_distinct"]
    assert abs(est - 3000) / 3000 < 4 / (k ** 0.5)  # ~4 sigma

    left = base.filter(F.col("id") < 10_000).select("term")
    right = base.filter(F.col("id") >= 10_000).select("term")
    merged = kmv_merge(kmv_build(left, "term", k=k), kmv_build(right, "term", k=k), k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, kmv_build(items, "term", k=k).collect())
    )

    tiny = spark.createDataFrame([(f"t{i}",) for i in range(10)], ["term"])
    assert kmv_estimate(kmv_build(tiny, "term", k=k), k=k).collect()[0]["est_distinct"] == 10.0


def test_scd2_merge_random_vs_reference(spark):
    """Seeded random dims/updates: scd2_merge must equal a
    dictionary-based reference implementation on every path mix."""
    import datetime as dt
    import random

    from pyspark.sql import types as T

    from dpe_energy_performance_analysis_etl_spark.operators import scd2_merge

    dim_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("attr", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    t0, t1 = dt.datetime(2020, 1, 1), dt.datetime(2024, 6, 1)
    for seed in (11, 23):
        rng = random.Random(seed)
        keys = list(range(30))
        dim_rows = [
            (k, rng.choice("abc"), t0, None, True) for k in keys if rng.random() < 0.8
        ]
        upd_rows = [
            (k, rng.choice("abc"), t1)
            for k in range(40)  # some keys new, some dim keys unmatched
            if rng.random() < 0.7
        ]
        dim = spark.createDataFrame(dim_rows, dim_schema)
        upd = spark.createDataFrame(upd_rows, ["k", "attr", "change_ts"])

        # reference: plain python over the same rows
        want = []
        dim_by_key = {r[0]: r for r in dim_rows}
        upd_by_key = {r[0]: r for r in upd_rows}
        for k, attr, vf, vt, cur in dim_rows:
            u = upd_by_key.get(k)
            if u and u[1] != attr:
                want.append((k, attr, vf, t1, False))
                want.append((k, u[1], t1, None, True))
            else:
                want.append((k, attr, vf, vt, cur))
        for k, attr, ts in upd_rows:
            if k not in dim_by_key:
                want.append((k, attr, t1, None, True))

        got = sorted(map(tuple, scd2_merge(dim, upd, key="k", tracked=["attr"]).collect()))
        assert got == sorted(want), f"seed={seed}"


def test_scd2_merge_reopens_closed_history_key(spark):
    """ADVICE r1: a key present in the dim ONLY as closed history (a
    retired entity reappearing) must get a fresh open version — the
    old anti-join against all dim keys silently dropped its update."""
    import datetime as dt

    from pyspark.sql import types as T

    from dpe_energy_performance_analysis_etl_spark.operators import scd2_merge

    ts = lambda s: dt.datetime.fromisoformat(s)
    dim_schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("attr", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    dim = spark.createDataFrame(
        [(7, "retired", ts("2019-01-01"), ts("2020-01-01"), False)], dim_schema
    )
    updates = spark.createDataFrame(
        [(7, "reborn", ts("2024-06-01"))], ["k", "attr", "change_ts"]
    )
    out = scd2_merge(dim, updates, key="k", tracked=["attr"])
    rows = {(r["k"], r["attr"]): r for r in out.collect()}
    assert len(rows) == 2
    assert rows[(7, "retired")]["valid_to"] == ts("2020-01-01")  # history untouched
    assert rows[(7, "reborn")]["is_current"]
    assert rows[(7, "reborn")]["valid_from"] == ts("2024-06-01")
    assert rows[(7, "reborn")]["valid_to"] is None


class TestScanFanout:
    def test_small_single_file_rebalances(self, spark, tmp_path):
        from dpe_energy_performance_analysis_etl_spark.operators import scan_fanout

        p = str(tmp_path / "one")
        spark.range(0, 10_000).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        target = spark.sparkContext.defaultParallelism
        out = scan_fanout(df)
        assert out.rdd.getNumPartitions() >= target
        assert out.count() == 10_000

    def test_many_files_untouched(self, spark, tmp_path):
        from dpe_energy_performance_analysis_etl_spark.operators import scan_fanout

        p = str(tmp_path / "many")
        target = spark.sparkContext.defaultParallelism
        spark.range(0, 10_000).repartition(target).write.parquet(p)
        df = spark.read.parquet(p)
        # same plan object back — no shuffle inserted
        assert scan_fanout(df) is df

    def test_streaming_frame_untouched(self, spark, tmp_path):
        from pyspark.sql import types as T

        from dpe_energy_performance_analysis_etl_spark.operators import scan_fanout

        p = str(tmp_path / "stream_src")
        spark.range(0, 10).write.parquet(p)
        schema = T.StructType([T.StructField("id", T.LongType())])
        sdf = spark.readStream.schema(schema).parquet(p)
        assert scan_fanout(sdf) is sdf

    def test_derived_input_uses_partition_count(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators import scan_fanout

        target = spark.sparkContext.defaultParallelism
        small = spark.range(0, 100).coalesce(1)
        assert scan_fanout(small).rdd.getNumPartitions() >= target
        wide = spark.range(0, 100).repartition(target)
        assert scan_fanout(wide) is wide


def test_pareto_front_2d_all_quadrants(spark):
    """Hand-checked fronts in max/max and min/min orientations,
    including x ties (only the tier's y-max survives) and fractional
    x spacing (the RANGE-frame trap the tier design avoids)."""
    from dpe_energy_performance_analysis_etl_spark.operators.relational import pareto_front_2d

    rows = [
        (1, 5.0, 1.0), (2, 4.5, 3.0), (3, 4.5, 2.0),
        (4, 3.0, 3.0), (5, 2.2, 5.0), (6, 1.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    mx = sorted(r.id for r in pareto_front_2d(df, "x", "y", "id").collect())
    assert mx == [1, 2, 5]  # (4.5,3) dominates (4.5,2) and (3,3)
    mn = sorted(
        r.id
        for r in pareto_front_2d(
            df, "x", "y", "id", maximize_x=False, maximize_y=False
        ).collect()
    )
    assert mn == [1, 3, 4, 6]


def test_pareto_front_duplicated_optimum_kept(spark):
    """Two identical nondominated points both survive (neither
    strictly dominates the other)."""
    from dpe_energy_performance_analysis_etl_spark.operators.relational import pareto_front_2d

    df = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 2.0, 2.0), (3, 1.0, 1.0)], "id long, x double, y double"
    )
    got = sorted(r.id for r in pareto_front_2d(df, "x", "y", "id").collect())
    assert got == [1, 2]


def test_numeric_range_lookup_nonuniform_tiers(spark):
    from dpe_energy_performance_analysis_etl_spark.operators.relational import (
        numeric_range_lookup,
    )
    from pyspark.sql import functions as F

    dims = spark.createDataFrame(
        [("a", 0, 9), ("b", 10, 99), ("c", 100, 1000)], "tier string, lo long, hi long"
    )
    facts = spark.createDataFrame([(5,), (10,), (99,), (100,), (2000,)], "v long")
    got = {r.v: r.tier for r in numeric_range_lookup(facts, dims, "v").collect()}
    assert got == {5: "a", 10: "b", 99: "b", 100: "c"}  # 2000 unmatched -> dropped
    # explicit bucket width gives identical results
    got2 = {
        r.v: r.tier
        for r in numeric_range_lookup(facts, dims, "v", bucket_width=7).collect()
    }
    assert got2 == got


def test_numeric_range_lookup_beyond_2_53(spark):
    """Bucket assignment must be exact INTEGER arithmetic: with the
    old floor(value/width) DOUBLE division, a bigint near 2^60 could
    round across a bucket boundary and the fact silently vanished
    (the exact BETWEEN only filters candidates). Values chosen to sit
    one unit either side of interval edges far past 2^53."""
    from dpe_energy_performance_analysis_etl_spark.operators.relational import (
        numeric_range_lookup,
    )

    base = 1 << 60
    dims = spark.createDataFrame(
        [("lo", base, base + (1 << 22) - 1), ("hi", base + (1 << 22), base + (1 << 24))],
        "tier string, lo long, hi long",
    )
    facts = spark.createDataFrame(
        [(base,), (base + (1 << 22) - 1,), (base + (1 << 22),), (base + (1 << 24),)],
        "v long",
    )
    got = {r.v: r.tier for r in numeric_range_lookup(facts, dims, "v").collect()}
    assert got == {
        base: "lo",
        base + (1 << 22) - 1: "lo",
        base + (1 << 22): "hi",
        base + (1 << 24): "hi",
    }


def test_numeric_range_lookup_overlapping_intervals(spark):
    from dpe_energy_performance_analysis_etl_spark.operators.relational import (
        numeric_range_lookup,
    )

    dims = spark.createDataFrame(
        [("x", 0, 50), ("y", 40, 100)], "tier string, lo long, hi long"
    )
    facts = spark.createDataFrame([(45,)], "v long")
    tiers = sorted(r.tier for r in numeric_range_lookup(facts, dims, "v").collect())
    assert tiers == ["x", "y"]  # one row per overlapping match


def test_abc_classification_boundaries_exact(spark):
    """80/15/5 boundary compared in integer cents: an item landing
    exactly ON the 80% line is class A (<=)."""
    from dpe_energy_performance_analysis_etl_spark.operators.relational import (
        abc_classification,
    )
    from pyspark.sql import functions as F

    rows = [("i1", 50), ("i2", 30), ("i3", 15), ("i4", 5)]  # cum: 50,80,95,100
    df = spark.createDataFrame(rows, "item string, cents long")
    out = {r.item: (r.abc_class, r.rank) for r in abc_classification(df, "item", F.col("cents")).collect()}
    assert out == {"i1": ("A", 1), "i2": ("A", 2), "i3": ("B", 3), "i4": ("C", 4)}


def test_encode_dictionary_dense_deterministic(spark):
    from dpe_energy_performance_analysis_etl_spark.operators.relational import (
        encode_dictionary,
    )

    df = spark.createDataFrame(
        [("b",), ("a",), ("c",), ("a",), (None,)], "v string"
    )
    enc, mapping = encode_dictionary(df, "v")
    m = {r.value: r.id for r in mapping.collect()}
    assert m == {"a": 0, "b": 1, "c": 2}  # dense, sort-ordered
    rows = {(r.v, r.v_id) for r in enc.collect()}
    assert ("a", 0) in rows and ("c", 2) in rows and (None, None) in rows
    # partitioning invariance (no monotonically_increasing_id leakage)
    _, m2 = encode_dictionary(df.repartition(4), "v")
    assert {r.value: r.id for r in m2.collect()} == m


class TestRendezvousAssign:
    def test_movement_bound_on_growth(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators.scaling import (
            rendezvous_assign,
        )

        keys = spark.range(5000).withColumnRenamed("id", "k")
        a = rendezvous_assign(keys, "k", 4).withColumnRenamed("shard", "s4")
        b = rendezvous_assign(a, "k", 5).withColumnRenamed("shard", "s5")
        rows = b.collect()
        moved = [r for r in rows if r["s4"] != r["s5"]]
        # HRW: every move lands on the NEW node, ~1/5 of keys move
        assert all(r["s5"] == 4 for r in moved)
        assert 0.12 < len(moved) / len(rows) < 0.28
        # balance: each of the 5 shards holds a sane share
        from collections import Counter

        c = Counter(r["s5"] for r in rows)
        assert all(0.5 < v / 1000 < 1.5 for v in c.values())

    def test_deterministic_and_shuffle_free(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators.scaling import (
            rendezvous_assign,
        )

        keys = spark.range(200).withColumnRenamed("id", "k")
        a = sorted(map(tuple, rendezvous_assign(keys, "k", 7).collect()))
        b = sorted(map(tuple, rendezvous_assign(keys.repartition(9), "k", 7).collect()))
        assert a == b
        plan = rendezvous_assign(keys, "k", 7)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hash" not in plan


class TestKmvSetOps:
    def test_exact_branch_small_universe(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators.sketch import kmv_set_ops

        a = spark.createDataFrame([(f"tok{i}",) for i in range(10)], "term string")
        b = spark.createDataFrame([(f"tok{i}",) for i in range(5, 15)], "term string")
        r = kmv_set_ops(a, b, "term", k=64).collect()[0]
        # 15 distinct union hashes < k: everything exact
        assert r["n_held"] == 15
        assert r["shared"] == 5
        assert r["union_est"] == 15.0
        assert r["inter_est"] == 5.0
        assert r["jaccard_ppm"] == 1000000 * 5 // 15

    def test_estimator_branch_tracks_truth(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators.sketch import kmv_set_ops

        # 600-token universes with 50% overlap; k=64 estimator
        a = spark.createDataFrame(
            [(f"alpha{i:04d}",) for i in range(600)], "term string"
        )
        b = spark.createDataFrame(
            [(f"alpha{i:04d}",) for i in range(300, 900)], "term string"
        )
        r = kmv_set_ops(a, b, "term", k=64).collect()[0]
        assert r["n_held"] == 64
        # union truth 900, inter truth 300: KMV with k=64 should be
        # within ~40% (loose, deterministic — fixed hash)
        assert 500 < r["union_est"] < 1500
        assert 100 < r["inter_est"] < 650
        # jaccard estimate vs truth 1/3
        assert 100000 < r["jaccard_ppm"] < 650000

    def test_deterministic_across_partitionings(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators.sketch import kmv_set_ops

        a = spark.createDataFrame([(f"x{i}",) for i in range(200)], "term string")
        b = spark.createDataFrame([(f"x{i}",) for i in range(100, 300)], "term string")
        r1 = kmv_set_ops(a, b, "term", k=32).collect()[0]
        r2 = kmv_set_ops(a.repartition(7), b.repartition(3), "term", k=32).collect()[0]
        assert r1.asDict() == r2.asDict()


class TestSq8Quantize:
    def test_quantizer_exact_and_clamped(self, spark):
        from pyspark.sql import functions as F

        from dpe_energy_performance_analysis_etl_spark.similarity.sq import sq8_quantize

        df = spark.createDataFrame(
            [([0.5, -0.5, 0.0078125, 3.0, -3.0, 0.9999],)], "v array<double>"
        )
        got = df.select(sq8_quantize(F.col("v")).alias("q")).collect()[0]["q"]
        assert got == [64, -64, 1, 127, -127, 127]

    def test_topk_matches_eager_and_recall_high(self, spark):
        import random

        from pyspark.sql import functions as F

        from dpe_energy_performance_analysis_etl_spark.similarity.sq import sq8_topk

        rng = random.Random(5)
        rows = [
            (i, [rng.uniform(-0.5, 0.5) for _ in range(16)]) for i in range(80)
        ]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        q = df.where(F.col("vec_id") < 3)
        got = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["qscore"])
            for r in sq8_topk(df, q, k=4).collect()
        }
        # eager twin
        import math

        vecs = {i: [math.floor(float(np_x) * 128) for np_x in v] for i, v in
                [(i, [float(x) for x in v]) for i, v in rows]}
        vecs = {i: [max(min(x, 127), -127) for x in v] for i, v in vecs.items()}
        for qi in range(3):
            scored = sorted(
                (
                    (-sum(a * b for a, b in zip(vecs[qi], vecs[c])), c)
                    for c in vecs
                    if c != qi
                ),
            )[:4]
            for rank, (negs, c) in enumerate(scored, 1):
                assert got[(qi, rank)] == (c, -negs)


class TestRingAssign:
    def test_minimal_movement_and_balance(self, spark):
        from pyspark.sql import functions as F

        from dpe_energy_performance_analysis_etl_spark.operators.scaling import (
            ring_assign,
        )

        keys = spark.range(8000).withColumnRenamed("id", "k")
        s4 = ring_assign(keys, "k", 4).withColumnRenamed("shard", "s4")
        s5 = ring_assign(s4, "k", 5).withColumnRenamed("shard", "s5")
        rows = s5.collect()
        moved = [r for r in rows if r["s4"] != r["s5"]]
        # every move claims the NEW node's arcs
        assert all(r["s5"] == 4 for r in moved)
        assert 0.10 < len(moved) / len(rows) < 0.32
        from collections import Counter

        c = Counter(r["s5"] for r in rows)
        avg = len(rows) / 5
        assert all(0.7 < v / avg < 1.4 for v in c.values())

    def test_deterministic_and_shuffle_free(self, spark):
        from dpe_energy_performance_analysis_etl_spark.operators.scaling import (
            ring_assign,
        )

        keys = spark.range(300).withColumnRenamed("id", "k")
        a = sorted(map(tuple, ring_assign(keys, "k", 6).collect()))
        b = sorted(map(tuple, ring_assign(keys.repartition(7), "k", 6).collect()))
        assert a == b
        plan = ring_assign(keys, "k", 6)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hash" not in plan

    @pytest.mark.parametrize("method", ["fold", "tree"])
    def test_bisection_matches_python_ring_walk(self, spark, method):
        """Both lower-bound implementations — the r7 binary-search
        FOLD and the r8 unrolled WHEN-tree — must agree with a
        direct Python evaluation of the ring rule (first sorted
        point >= h, wrap to minimum) — including at a REALISTIC
        ring size (256 nodes x 64 vnodes = 16384 points), the
        regime the old linear F.filter scan was a scale-killer in."""
        from dpe_energy_performance_analysis_etl_spark.operators.scaling import (
            ring_assign,
        )

        def mix_py(*terms):
            s = 0
            muls = [1, 40503, 73244475, 5381]
            for i, t in enumerate(terms):
                s += (t % 4294967296) * muls[min(i, len(muls) - 1)]
            s %= 4294967296
            s = ((s ^ (s >> 16)) * 73244475) % 4294967296
            return s ^ (s >> 16)

        import bisect

        # the tree path is size-capped by design (a 16 384-leaf
        # CaseWhen is compile-pathological — it wedged the suite's
        # shared JVM when this test first parametrized over it);
        # validate each method in its OWN operating regime: fold at
        # the realistic 256x64 ring, tree within its <=512-point cap
        sizes = (
            [(4, 64, 500), (256, 64, 500)]
            if method == "fold"
            else [(4, 64, 500), (8, 64, 500)]
        )
        for n_nodes, vnodes, n_keys in sizes:
            # rebuild the point table exactly as the operator does (salt=0)
            def op_mix(node, vn, k=0):
                s = (node % 2**32 + (vn % 2**32) * 40503 + k * 73244475) % 2**32
                s = ((s ^ (s >> 16)) * 73244475) % 2**32
                return s ^ (s >> 16)

            points = sorted(
                (op_mix(node, vn), node)
                for node in range(n_nodes)
                for vn in range(vnodes)
            )
            seen = set()
            points = [p for p in points if p[0] not in seen and not seen.add(p[0])]
            pos = [p for p, _ in points]
            nodes = [n for _, n in points]

            def expect(k):
                h = mix_py(k, 97, 0)
                i = bisect.bisect_left(pos, h)
                return nodes[i % len(nodes)] if i < len(nodes) else nodes[0]

            keys = spark.range(n_keys).withColumnRenamed("id", "k")
            got = {
                r["k"]: r["shard"]
                for r in ring_assign(
                    keys, "k", n_nodes, vnodes=vnodes, method=method
                ).collect()
            }
            assert got == {k: expect(k) for k in range(n_keys)}

    def test_explicit_tree_refuses_unsafe_ring_size(self, spark):
        """ADVICE r8: an explicit method='tree' above the measured
        safe cap must fail fast (ValueError at plan build) instead of
        hanging the driver in a pathological nested-CaseWhen compile
        (16384 leaves measured >13 min before being killed)."""
        import pytest as _pytest

        from dpe_energy_performance_analysis_etl_spark.operators.scaling import (
            _TREE_SAFE_MAX_POINTS,
            ring_assign,
        )

        keys = spark.range(10).withColumnRenamed("id", "k")
        # 9 nodes x 64 vnodes = 576 points > the 512-point cap
        with _pytest.raises(ValueError, match="safe cap"):
            ring_assign(keys, "k", 9, vnodes=64, method="tree")
        # at the cap boundary the tree path still works (8 x 64 = 512)
        assert 8 * 64 == _TREE_SAFE_MAX_POINTS
        assert (
            ring_assign(keys, "k", 8, vnodes=64, method="tree").count() == 10
        )
