"""Aggregation operators (SURVEY §2.4): exact percentiles / IQR
outlier detection, conditional mean-median imputation, and the
grouped statistical-test UDAF.

Scale design:
  - A1/A2 compute ALL per-column statistics in ONE aggregate job
    (map-side partial agg, no shuffle of data rows — only the tiny
    stats row reaches the driver), then apply one ``na.fill``
    projection. The reference looped column-by-column over pandas
    (``transform.py:104-144``).
  - A3 is ``groupBy().applyInPandas`` — each DPE-label group lands in
    one Arrow batch on an executor; group cardinality is tiny (7
    labels) while group size may be huge, so the stats functions are
    vectorized numpy. Skew note: 7 groups won't fill a big cluster —
    acceptable because the input to this operator is already one
    batch's logements, not the 100 TB raw zone.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dpe_energy_performance_analysis_etl_spark.operators import stats as _stats


def iqr_bounds(
    df: DataFrame, columns: list[str], approx: bool = False
) -> dict[str, tuple[float, float]]:
    """A1 — Q1/Q3 and Tukey fences per column
    (``transform.py:120-126``); one agg for all columns.

    ``approx=False`` (default): exact ``percentile`` — hash-matches a
    SQL oracle, needs a per-group sort. ``approx=True``: t-digest
    ``percentile_approx`` — the 100 TB path (single streaming pass,
    bounded memory; fences are heuristics anyway, 1% quantile error
    doesn't change which values are outliers materially)."""
    fn = "percentile_approx" if approx else "percentile"
    aggs = []
    for c in columns:
        aggs.append(F.expr(f"{fn}(`{c}`, 0.25)").alias(f"{c}__q1"))
        aggs.append(F.expr(f"{fn}(`{c}`, 0.75)").alias(f"{c}__q3"))
    row = df.agg(*aggs).collect()[0].asDict()
    bounds = {}
    for c in columns:
        q1, q3 = row[f"{c}__q1"], row[f"{c}__q3"]
        if q1 is None or q3 is None:
            continue
        iqr = q3 - q1
        bounds[c] = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
    return bounds


def impute_numeric(
    df: DataFrame, columns: list[str] | None = None, approx: bool = False
) -> tuple[DataFrame, dict[str, dict[str, list[str]]]]:
    """A2 — conditional imputation (``fillnan_float_dtypes``,
    ``transform.py:104-144``): for each float column, fill NULLs with
    the MEDIAN when the column contains IQR outliers, else the MEAN.

    One aggregate computes mean/median/Q1/Q3/min/max for every column
    simultaneously; a column has IQR outliers when its min is below
    the lower fence or its max above the upper one. One ``na.fill``
    applies the result. Returns (filled_df, {"median": [...], "mean":
    [...]}) mirroring the reference's ``cols_filled`` bookkeeping.
    """
    if columns is None:
        columns = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        ]
    if not columns:
        return df, {"median": [], "mean": []}

    # exact percentile for oracle parity; percentile_approx (t-digest,
    # one streaming pass) as the opt-in 100 TB path
    fn = "percentile_approx" if approx else "percentile"
    aggs = []
    for c in columns:
        q = F.expr(f"{fn}(`{c}`, array(0.25, 0.75))")
        aggs.append(F.mean(c).alias(f"{c}__mean"))
        aggs.append(F.expr(f"{fn}(`{c}`, 0.5)").alias(f"{c}__median"))
        aggs.append(q[0].alias(f"{c}__q1"))
        aggs.append(q[1].alias(f"{c}__q3"))
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    row = df.agg(*aggs).collect()[0].asDict()

    fill: dict[str, float] = {}
    filled: dict[str, list[str]] = {"median": [], "mean": []}
    for c in columns:
        q1, q3 = row[f"{c}__q1"], row[f"{c}__q3"]
        has_outliers = False
        if q1 is not None and q3 is not None:
            iqr = q3 - q1
            lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
            has_outliers = _spark_lt(row[f"{c}__min"], lo) or _spark_lt(hi, row[f"{c}__max"])
        value = row[f"{c}__median"] if has_outliers else row[f"{c}__mean"]
        if value is None:
            continue
        fill[c] = float(value)
        filled["median" if has_outliers else "mean"].append(c)
    return (df.na.fill(fill) if fill else df), filled


def _spark_lt(a: float, b: float) -> bool:
    """``a < b`` in Spark SQL's double order, where NaN equals NaN and
    is larger than every other value (Python's ``<`` is False for
    any NaN operand)."""
    if math.isnan(a):
        return False
    return math.isnan(b) or a < b


_STATS_SCHEMA = T.StructType(
    [
        T.StructField("etiquette_dpe_ademe", T.StringType()),
        T.StructField("sample_size", T.LongType()),
        T.StructField("paired_t_test_t_statistic", T.DoubleType()),
        T.StructField("paired_t_test_p_value", T.DoubleType()),
        T.StructField("wilcoxon_statistic", T.DoubleType()),
        T.StructField("wilcoxon_p_value", T.DoubleType()),
    ]
)

_SENTINEL = -99999.0


def group_stats_dpe(
    df: DataFrame,
    group_col: str = "etiquette_dpe_ademe",
    measured_col: str = "conso_kwh_m2",
    estimated_col: str = "conso_5_usages_par_m2_ef_ademe",
    batch_id: str | None = None,
) -> DataFrame:
    """A3/U2 — per-group paired t-test + Wilcoxon signed-rank between
    measured and estimated consumption (``make_statistical_metrics``,
    ``transform.py:313-376``), as a grouped-map Pandas UDAF.

    Reference semantics kept exactly: NaN pairs dropped per group;
    n<=1 -> all four metrics sentinel -99999; Wilcoxon failure (all
    differences zero) -> its two metrics sentinel -99999.
    """
    schema = _STATS_SCHEMA
    if group_col != "etiquette_dpe_ademe":
        schema = T.StructType(
            [T.StructField(group_col, T.StringType()), *_STATS_SCHEMA.fields[1:]]
        )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        label = pdf[group_col].iloc[0]
        clean = pdf[[measured_col, estimated_col]].dropna()
        n = len(clean)
        if n > 1:
            t_stat, p_t = _stats.ttest_rel(
                clean[measured_col].to_numpy(), clean[estimated_col].to_numpy()
            )
            try:
                w_stat, p_w = _stats.wilcoxon(
                    clean[measured_col].to_numpy(), clean[estimated_col].to_numpy()
                )
            except ValueError:
                w_stat, p_w = _SENTINEL, _SENTINEL
        else:
            t_stat = p_t = w_stat = p_w = _SENTINEL
        return pd.DataFrame(
            [
                {
                    group_col: label,
                    "sample_size": n,
                    "paired_t_test_t_statistic": t_stat,
                    "paired_t_test_p_value": p_t,
                    "wilcoxon_statistic": w_stat,
                    "wilcoxon_p_value": p_w,
                }
            ]
        )

    out = (
        df.select(group_col, measured_col, estimated_col)
        .groupBy(group_col)
        .applyInPandas(per_group, schema=schema)
    )
    if batch_id is not None:
        out = out.withColumn("batch_id", F.lit(batch_id))
    return out


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lo: float = 0.01,
    hi: float = 0.99,
    approx: bool = False,
) -> DataFrame:
    """Winsorization: clip ``value_col`` to its [lo, hi] quantiles
    (per group when ``group_cols`` given) — the outlier treatment
    that keeps every row, unlike the IQR fence FILTER above.

    Two-pass shape: one aggregate for the bounds (a tiny per-group
    table, broadcast back), one row-local clip via
    greatest/least — the clipped value is bit-exact because the
    quantile is computed once and compared, never re-derived per row.
    ``approx=True`` switches to t-digest percentile_approx, the
    single-pass bounded-memory path for 100 TB (same trade as
    ``iqr_bounds``)."""
    fn = "percentile_approx" if approx else "percentile"
    aggs = [
        F.expr(f"{fn}(`{value_col}`, {lo})").alias("__lo"),
        F.expr(f"{fn}(`{value_col}`, {hi})").alias("__hi"),
    ]
    if group_cols:
        bounds = df.groupBy(*group_cols).agg(*aggs)
        joined = df.join(F.broadcast(bounds), group_cols)
    else:
        joined = df.crossJoin(F.broadcast(df.agg(*aggs)))
    return joined.withColumn(
        f"{value_col}_winsorized",
        F.greatest(F.least(F.col(value_col), F.col("__hi")), F.col("__lo")),
    ).drop("__lo", "__hi")



def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    scale: int = 2,
) -> DataFrame:
    """Leave-one-out target (mean) encoding — the categorical feature
    every tabular-ML pipeline wants, with the LOO correction that
    stops a row from leaking its own label into its feature:

        enc_i = (sum(target in group) - target_i) / (n_group - 1)

    Exactness: the group sum runs as integer cents
    (``operators/exact.py``), so the subtraction is exact and only
    the final division produces a double — engine-reproducible, no
    partition-order drift. Groups of one get NULL (no peer evidence).

    Scale shape: one groupBy over the category key (tiny output,
    broadcast back) + a row-local expression — two scans, no window.
    """
    from dpe_energy_performance_analysis_etl_spark.operators.exact import (
        exact_cents_sum,
        scaled_long,
    )

    stats = df.groupBy(cat_col).agg(
        exact_cents_sum(target_col, scale).alias("__sum_cents"),
        F.count(target_col).alias("__n"),
    )
    joined = df.join(F.broadcast(stats), cat_col)
    denom = F.lit(10 ** scale * 1.0)
    loo = (
        (F.col("__sum_cents") - scaled_long(target_col, scale)).cast("double")
        / (F.col("__n") - 1).cast("double")
        / denom
    )
    return joined.withColumn(
        f"{cat_col}_target_enc",
        F.when(F.col("__n") > 1, loo),
    ).drop("__sum_cents", "__n")


def ratio_to_parent(
    df: DataFrame,
    levels: list[str],
    measure: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Ratio-to-parent along a dimension hierarchy (the MDX
    ``RatioToParent`` / BI "percent of parent" measure): each leaf
    group's share of every ANCESTOR prefix plus the grand total —
    e.g. nation revenue as a share of its region and of the world.
    One data-sized pass: leaf aggregation, then window sums over the
    BOUNDED leaf-group table per ancestor prefix (never a second
    scan), shares as exact integer ppm ((leaf * scale) div parent —
    exact BIGINTs; the unpartitioned total window is the audited
    bounded-table exemption).

    Returns leaf rows: levels..., total, share_of_{level}_ppm per
    ancestor prefix (named by the prefix's last level) and
    share_of_total_ppm.
    """
    from pyspark.sql import Window

    leaf = df.groupBy(*levels).agg(
        F.sum(F.col(measure).cast("bigint")).cast("bigint").alias("total")
    )
    out = leaf
    shares = []
    for i in range(1, len(levels)):
        out = out.withColumn(
            f"_p{i}",
            F.sum("total").over(Window.partitionBy(*levels[:i])).cast("bigint"),
        )
        shares.append(
            f"CAST((total * {scale}) div _p{i} AS BIGINT)"
            f" AS share_of_{levels[i - 1]}_ppm"
        )
    out = out.withColumn(
        "_pt", F.sum("total").over(Window.partitionBy()).cast("bigint")
    )
    shares.append(f"CAST((total * {scale}) div _pt AS BIGINT) AS share_of_total_ppm")
    return out.selectExpr(*levels, "total", *shares)


def rfm_segments(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation —
    the classic CRM scoring (Hughes '94): each entity gets 1..n_bins
    scores on how recently, how often, and how much. Bins are EXACT
    rank buckets, not NTILE: score = ((rank - 1) * n_bins) div n + 1
    over a deterministic total order (metric, then key — engine-exact
    under ties where NTILE's remainder placement is not pinned by the
    standard). Recency ranks ASCENDING age (most recent = highest
    score after inversion); one data-sized aggregation + three rank
    passes over the BOUNDED per-entity table.

    Returns (key, last_ts, n_orders, total_amount, r_score, f_score,
    m_score, rfm) with rfm = 100*r + 10*f + m.
    """
    from pyspark.sql import Window

    from dpe_energy_performance_analysis_etl_spark.operators.quantiles import (
        global_rank_column,
    )

    per = df.groupBy(F.col(key_col).alias("k")).agg(
        F.max(F.col(ts_col)).alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col(amount_col).cast("bigint")).cast("bigint").alias("total_amount"),
    )
    # THREE exact global ranks over the per-entity table — which is
    # data-sized (one row per customer), so each rank rides the
    # two-pass repartitionByRange recipe, never an unpartitioned
    # window (the r8 sweep's row gate caught both defects in earlier
    # cuts: three single-partition sorts first — 7.3x time at 50x
    # data — then a cache-dependent rank inconsistency on the second
    # build in one session; global_rank_column pins its intermediate
    # with an eager localCheckpoint now). n comes from a 1-row agg.
    n_row = per.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    r1 = global_rank_column(per, [F.col("last_ts").asc(), F.col("k").asc()], "_rr")
    r2 = global_rank_column(r1, [F.col("n_orders").asc(), F.col("k").asc()], "_rf")
    r3 = global_rank_column(r2, [F.col("total_amount").asc(), F.col("k").asc()], "_rm")
    ranked = r3.crossJoin(F.broadcast(n_row))
    return ranked.selectExpr(
        f"k AS {key_col}",
        "last_ts",
        "n_orders",
        "total_amount",
        f"CAST(((_rr - 1) * {n_bins}) div _n + 1 AS BIGINT) AS r_score",
        f"CAST(((_rf - 1) * {n_bins}) div _n + 1 AS BIGINT) AS f_score",
        f"CAST(((_rm - 1) * {n_bins}) div _n + 1 AS BIGINT) AS m_score",
        f"CAST((((_rr - 1) * {n_bins}) div _n + 1) * 100"
        f" + (((_rf - 1) * {n_bins}) div _n + 1) * 10"
        f" + (((_rm - 1) * {n_bins}) div _n + 1) AS BIGINT) AS rfm",
    )


def xyz_volatility(
    df: DataFrame,
    key_col: str,
    period_col: str,
    amount_col: str,
    cv_x_ppm: int = 500_000,
    cv_y_ppm: int = 1_000_000,
) -> DataFrame:
    """XYZ demand-volatility classification (the forecastability
    companion to ABC value classification in inventory analytics):
    per key, the coefficient of variation of per-period demand —
    X (steady, cv below ``cv_x_ppm``), Y (variable), Z (erratic,
    above ``cv_y_ppm``). Exactness: per-period sums and the
    co-moments n·Σy² − (Σy)² are exact integers (DECIMAL(38,0)
    against overflow); cv is compared CROSS-MULTIPLIED and SQUARED —
    n·Σy² − (Σy)² vs (thr·Σy/10⁶)² — so classification never
    computes a sqrt or divides (emitted cv2_ppm2 = the exact integer
    scaled squared cv for inspection). Zero-demand keys class as Z.

    Returns (key, n_periods, total_amount, cv2_ppm2, xyz).
    """
    per = df.groupBy(
        F.col(key_col).alias("k"), F.col(period_col).alias("p")
    ).agg(F.sum(F.col(amount_col).cast("bigint")).alias("y"))
    stats = per.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("ss"),
    )
    # cv^2 = (n*ss - s^2) / s^2; scaled to ppm^2 via integer div
    return stats.selectExpr(
        "k",
        "n AS n_periods",
        "s AS total_amount",
        "CAST(CASE WHEN s > 0 THEN"
        " ((CAST(n AS DECIMAL(38,0)) * ss - CAST(s AS DECIMAL(38,0)) * s)"
        "  * 1000000000000) div (CAST(s AS DECIMAL(38,0)) * s)"
        " ELSE -1 END AS BIGINT) AS cv2_ppm2",
    ).selectExpr(
        "k",
        "n_periods",
        "total_amount",
        "cv2_ppm2",
        # thresholds squared in Python ints: cv2_ppm2 is cv^2 * 10^12,
        # so cv < thr_ppm/10^6  <=>  cv2_ppm2 < thr_ppm^2
        f"CASE WHEN cv2_ppm2 < 0 THEN 'Z'"
        f" WHEN cv2_ppm2 < {cv_x_ppm * cv_x_ppm} THEN 'X'"
        f" WHEN cv2_ppm2 <= {cv_y_ppm * cv_y_ppm} THEN 'Y'"
        f" ELSE 'Z' END AS xyz",
    )
