"""Generic relational operators (SURVEY §2.2, §2.3, §2.4 A4-A7, §2.5,
§2.6) as composable DataFrame->DataFrame functions.

Design rule: every function returns a LAZY DataFrame built from
declarative expressions so Catalyst can push filters into scans, prune
columns, reorder joins and pick physical join strategies. Nothing here
collects, loops rows, or fixes a physical plan — the only physical
hints are explicit ``broadcast`` opt-ins for known-small dimensions.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window, functions as F, types as T


# ------------------------------------------------------------- projections

def suffix_columns(df: DataFrame, suffix: str, exclude: list[str] | None = None) -> DataFrame:
    """F12 — provenance suffixing pre-join (``extract.py:506,527-528``)."""
    excl = set(exclude or [])
    return df.select(*[F.col(c).alias(c if c in excl else c + suffix) for c in df.columns])


# ------------------------------------------------------------- joins

def equi_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str | list[str],
    right_on: str | list[str] | None = None,
    how: str = "inner",
    broadcast_right: bool = False,
    cast_keys_to_string: bool = False,
) -> DataFrame:
    """Generalized equi-join covering J1 (inner Enedis x BAN,
    ``extract.py:517-546``) and J2 (left ADEME x merged with key
    pre-cast to string, ``extract.py:570-576``); ``how`` accepts the
    full Spark set {inner,left,right,outer,left_semi,left_anti,cross}.

    ``broadcast_right=True`` for known-small dimensions (BAN lookup,
    key sets) — skips the shuffle entirely. Otherwise Catalyst/AQE
    picks broadcast vs sort-merge from size stats.
    """
    lk = [left_on] if isinstance(left_on, str) else list(left_on)
    rk = lk if right_on is None else ([right_on] if isinstance(right_on, str) else list(right_on))
    if cast_keys_to_string:
        for k in lk:
            left = left.withColumn(k, F.col(k).cast("string"))
        for k in rk:
            right = right.withColumn(k, F.col(k).cast("string"))
    if broadcast_right:
        right = F.broadcast(right)
    if lk == rk:
        return left.join(right, on=lk, how=how)
    cond = functools.reduce(
        lambda a, b: a & b, [left[l] == right[r] for l, r in zip(lk, rk)]
    )
    return left.join(right, on=cond, how=how)


def key_bounds(batch: DataFrame, key_cols: list[str]) -> dict[str, tuple]:
    """Per-key-column (min, max, has_null) of a batch — one small
    aggregate job (a single driver row, batch-scoped)."""
    aggs = []
    for k in key_cols:
        aggs += [
            F.min(k).alias(f"__min_{k}"),
            F.max(k).alias(f"__max_{k}"),
            F.max(F.col(k).isNull().cast("int")).alias(f"__null_{k}"),
        ]
    row = batch.agg(*aggs).collect()[0]
    return {
        k: (row[f"__min_{k}"], row[f"__max_{k}"], bool(row[f"__null_{k}"] or 0))
        for k in key_cols
    }


# key types that Spark, parquet statistics and SQL databases all order
# the same way, so a pushed range filter is exact
_RANGED_TYPES = (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)


def _within_bounds(bounds: dict[str, tuple]):
    """``k BETWEEN lo AND hi`` (``OR k IS NULL`` when the batch has a
    null key) per key column, conjoined; false for an empty batch."""
    preds = []
    for k, (lo, hi, has_null) in bounds.items():
        p = F.col(k).between(F.lit(lo), F.lit(hi)) if lo is not None else F.lit(False)
        preds.append(p | F.col(k).isNull() if has_null else p)
    return functools.reduce(lambda a, b: a & b, preds)


def _null_safe_join(left: DataFrame, right: DataFrame, key_cols: list[str], how: str) -> DataFrame:
    """``left`` semi/anti-joined to ``right`` on ``key_cols`` with
    ``<=>``: a null key matches a null key, as in ``dropDuplicates``."""
    right = right.select(*[F.col(k).alias(f"__r_{k}") for k in key_cols])
    cond = functools.reduce(
        lambda a, b: a & b, [left[k].eqNullSafe(right[f"__r_{k}"]) for k in key_cols]
    )
    return left.join(right, on=cond, how=how)


def anti_join_new_rows(
    batch: DataFrame, existing: DataFrame | None, key_cols: list[str]
) -> DataFrame:
    """J3/J4 — the idempotent-append gate (``load.py:133-210``): the
    rows of ``batch`` to append to a sink whose keys are ``existing``
    (``None`` when the sink has no such table yet). The ETL loader and
    both streaming loaders go through it.

    1. One row per key (``load.py:188-210``): the row minimal over all
       of the batch's columns, so the same rows in any order keep the
       same row.
    2. ``existing`` is filtered to the batch's range on its numeric,
       date and timestamp key columns (``key_bounds``, one small eager
       job). The filter is a plain DataFrame predicate, so Spark pushes
       it into the sink's scan: parquet row-group skipping, a ``WHERE``
       on a JDBC read. String keys get no range: a database compares
       them under its collation, not Spark's byte order, so a pushed
       string range can drop keys the sink holds (and Derby cannot
       compare the CLOB columns Spark creates for them). The ETL
       loader's keys are strings, so it runs no bounds job.
    3. ``existing`` is semi-joined to the batch's keys, then the
       deduplicated batch is anti-joined to that remainder (one
       left_anti covers the single-key ``isin`` variant,
       ``load.py:139-149``, and the composite merge+indicator one,
       ``load.py:150-160``). Both joins compare keys null-safely, so a
       null-key row already in the sink is not appended again. Their
       inputs are bounded by the batch, not the history; AQE picks
       both strategies.

    ``existing`` should already be pruned to the key columns (the
    sinks' ``read_existing_keys`` do). ``batch`` is read up to three times,
    so pass a materialized frame (a file scan, a persisted
    micro-batch), not a costly lineage.
    """
    new_rows = dedup_keys_keep_first(batch, key_cols, order_by=batch.columns)
    if existing is None:
        return new_rows
    existing = existing.select(*key_cols)
    ranged = [k for k in key_cols if isinstance(batch.schema[k].dataType, _RANGED_TYPES)]
    if ranged:
        existing = existing.where(_within_bounds(key_bounds(batch, ranged)))
    present = _null_safe_join(existing, batch.select(*key_cols), key_cols, "left_semi")
    return _null_safe_join(new_rows, present, key_cols, "left_anti")


# ------------------------------------------------------------- dedup / distinct

def dedup_full(df: DataFrame) -> DataFrame:
    """A4 — full-row distinct (``extract.py:576``)."""
    return df.dropDuplicates()


def dedup_keys_keep_first(
    df: DataFrame, key_cols: list[str], order_by: list[str] | None = None
) -> DataFrame:
    """A5 — keep-first dedup on a key subset (``load.py:188-210``,
    ``drop_duplicates(subset=pk, keep='first')``).

    pandas "first" depends on row order; distributed execution has no
    implicit order, so with ``order_by`` the winner is the row minimal
    under the (ascending, lexicographic) ordering — computed with a
    ``min_by(payload, order_key)`` aggregate rather than a
    row_number() window: the aggregate gets MAP-SIDE partial
    combining, so at most one row per key per input partition reaches
    the shuffle, where the window variant sorts every duplicate across
    the wire. Pass a unique tiebreaker in ``order_by`` for
    deterministic results (same contract the window variant had).
    Without ``order_by``: ``dropDuplicates`` (any-row semantics)."""
    if order_by is None:
        return df.dropDuplicates(key_cols)
    payload = F.struct(*[F.col(c) for c in df.columns])
    order_key = F.struct(*[F.col(c) for c in order_by])
    return df.groupBy(*key_cols).agg(F.min_by(payload, order_key).alias("__w")).select("__w.*")


def distinct_values(df: DataFrame, column: str) -> DataFrame:
    """A6 — distinct values of one column (``extract.py:435``,
    ``load.py:143``); used as the dedup-before-API-fanout step."""
    return df.select(column).where(F.col(column).isNotNull()).distinct()


# ------------------------------------------------------------- set ops

def union_all(*dfs: DataFrame, by_name: bool = True) -> DataFrame:
    """SO1 — union of N page/batch results (``extract.py:360-365``)."""
    op = DataFrame.unionByName if by_name else DataFrame.union
    return functools.reduce(op, dfs)



def feature_hash_indices(
    df: DataFrame,
    cat_cols: list[str],
    n_features: int = 256,
) -> DataFrame:
    """Feature hashing (the "hashing trick", Weinberger et al. 2009):
    map categorical columns into a fixed-width sparse index space via
    the engine-portable rolling hash of "col:value" — no vocabulary
    pass, no fit/transform state, unbounded category domains become a
    bounded vector. Output adds ``feature_idx`` (sorted distinct
    BIGINT array). Collisions are the accepted trade; widen
    ``n_features`` to tame them.

    Entirely row-local column expressions — zero shuffle, scan-speed
    at any corpus size."""
    from dpe_energy_performance_analysis_etl_spark.text.retrieval import token_bucket

    idxs = [
        token_bucket(
            F.concat(F.lit(c + ":"), F.col(c).cast("string")), n_features
        ).cast("bigint")
        for c in cat_cols
    ]
    return df.withColumn("feature_idx", F.array_sort(F.array_distinct(F.array(*idxs))))


def pareto_front_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    maximize_x: bool = True,
    maximize_y: bool = True,
) -> DataFrame:
    """2-D skyline (Pareto front): rows not dominated in BOTH
    dimensions (Börzsönyi et al. ICDE'01 — the multi-criteria
    shortlist: cheapest-and-fastest suppliers, best
    quality-per-token documents).

    The 2-D case needs no block-nested-loop: within an x tier only
    the y-maximum can survive (an x tie with larger y dominates), so
    aggregate to one row per DISTINCT x first, then a point is on the
    front iff its tier's y-max STRICTLY exceeds every better tier's —
    a ROWS-frame running max over the (tiny) tier table ordered by x
    descending. A ROWS frame on the deduplicated tiers is exact for
    ANY x spacing; a RANGE -1 frame on the raw rows would silently
    treat x values less than 1 apart as the same tier. Minimization
    flips signs row-locally. The tier table is |distinct x| rows —
    which still GROWS with the data for continuous metrics (r11
    window-class sweep), so the running max is the partition-offset
    two-pass: range partition by x desc, per-partition exclusive
    running max, plus a BOUNDED offset table (one exclusive
    prefix-max row per partition, broadcast). d >= 3 needs a
    different algorithm by design (documented non-goal)."""
    from pyspark.sql import Window, functions as F

    sx = F.col(x_col) if maximize_x else -F.col(x_col)
    sy = F.col(y_col) if maximize_y else -F.col(y_col)
    base = df.select(F.col(id_col), F.col(x_col), F.col(y_col), sx.alias("__x"), sy.alias("__y"))
    tiers = base.groupBy("__x").agg(F.max("__y").alias("__ty"))
    ranged = (
        tiers.repartitionByRange(F.col("__x").desc())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    pmax = ranged.groupBy("_pid").agg(F.max("__ty").alias("_pm"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = pmax.select("_pid", F.max("_pm").over(w_off).alias("_mo"))
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy(F.col("__x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front_tiers = (
        ranged.withColumn("_lm", F.max("__ty").over(w_loc))
        .join(F.broadcast(offs), "_pid")
        # greatest() skips nulls: null iff neither a local nor an
        # earlier-partition predecessor exists (the global first tier)
        .withColumn("__bp", F.greatest(F.col("_lm"), F.col("_mo")))
        .where(F.col("__bp").isNull() | (F.col("__ty") > F.col("__bp")))
        # rename: the tier recipe self-joins the checkpointed leaf
        # (ranged vs its offsets), so positional df["col"] references
        # would be flagged ambiguous — join on fresh names instead
        .select(F.col("__x").alias("__fx"), F.col("__ty").alias("__fy"))
    )
    # no broadcast hint: the surviving tier table is usually tiny but
    # adversarially |distinct x| (strictly staircase data) — let
    # AQE pick the strategy from the runtime size
    return base.join(
        front_tiers,
        (F.col("__x") == F.col("__fx")) & (F.col("__y") == F.col("__fy")),
    ).select(id_col, x_col, y_col)


def numeric_range_lookup(
    facts: DataFrame,
    dims: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: int | None = None,
) -> DataFrame:
    """Attach the dimension row whose [lo, hi] interval contains each
    fact's value (IP→geo, tax brackets, grade bands, price tiers) —
    WITHOUT the nested-loop a naive BETWEEN theta-join plans.

    Each dim interval explodes into the integer buckets it spans
    (width ALWAYS snapped to a power of two — an explicit non-pow2
    width is floored to one; default is the median interval span);
    facts compute one bucket; the join is equi on bucket with the
    exact BETWEEN applied after. Candidates per fact are bounded by
    bucket occupancy, shuffle volume O(n + Σ spans/width).
    Overlapping dim intervals produce one output row per match (the
    caller disambiguates); facts outside every interval are dropped
    (inner semantics).

    Bucket assignment is pure INTEGER arithmetic: arithmetic
    shiftright of the floored bigint value (== floor division for a
    power-of-two width, negative-safe). The earlier
    ``floor(value / width)`` DOUBLE division could round a bigint
    above 2^53 across a bucket boundary, silently dropping the fact —
    the exact BETWEEN only filters candidates, it cannot recover a
    missed bucket (ADVICE r4).
    """
    from pyspark.sql import functions as F

    if bucket_width is None:
        med = (
            dims.select((F.col(hi_col) - F.col(lo_col)).alias("span"))
            .agg(F.expr("percentile_approx(span, 0.5)").alias("m"))
            .collect()[0]["m"]
        )
        bucket_width = max(int(med or 1), 1)
    # snap to power of two: exact shift-based bucketing (and, for the
    # default path, stability across tiny median drift)
    shift = max(int(bucket_width).bit_length() - 1, 0)

    def _bucket(col):
        return F.shiftright(F.floor(col).cast("bigint"), shift)

    d = dims.withColumn(
        "__bucket",
        F.explode(F.sequence(_bucket(F.col(lo_col)), _bucket(F.col(hi_col)))),
    )
    f = facts.withColumn("__bucket", _bucket(F.col(value_col)))
    return (
        f.join(d, "__bucket")
        .where(F.col(value_col).between(F.col(lo_col), F.col(hi_col)))
        .drop("__bucket")
    )


def abc_classification(
    df: DataFrame,
    key_col: str,
    value_cents,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """ABC / Pareto-share classification (the 80/15/5 inventory
    analysis): items ranked by value descending; class A while the
    running share is <= a_pct%, B to b_pct%, C after. Returns
    (key, value_cents, cum_cents, rank, abc_class).

    Exactness: the class boundary compares ``cum * 100 <= pct *
    total`` in INTEGER cents — no float share ever decides a
    boundary; ties rank deterministically by key.

    Scale shape (r11 window-class sweep): the per-key aggregate
    GROWS WITH THE DATA (customer/part keys scale with SF), so rank
    and running share come from ``global_rank_and_prefix``'s
    partition-offset two-pass — never a single-partition window over
    the key table; the grand total is one scalar aggregate."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators.quantiles import (
        global_rank_and_prefix,
    )

    vcol = value_cents if not isinstance(value_cents, str) else F.col(value_cents)
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(vcol.cast("bigint")).alias("value_cents")
    )
    total = per.agg(F.sum("value_cents").cast("bigint").alias("total"))
    ranked = global_rank_and_prefix(
        per,
        [F.col("value_cents").desc(), F.col("key").asc()],
        "value_cents",
        rank_col="rank",
        cum_col="cum_cents",
    ).crossJoin(F.broadcast(total))
    cls = (
        F.when(F.col("cum_cents") * 100 <= F.lit(a_pct) * F.col("total"), "A")
        .when(F.col("cum_cents") * 100 <= F.lit(b_pct) * F.col("total"), "B")
        .otherwise("C")
    )
    return ranked.select(
        F.col("key").alias(key_col),
        "value_cents",
        "cum_cents",
        F.col("rank").cast("bigint").alias("rank"),
        cls.alias("abc_class"),
    )


def encode_dictionary(
    df: DataFrame, col: str, id_col: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode a string column to dense longs: returns
    (encoded df with ``{col}_id``, mapping table (value, id)) with ids
    0..n-1 assigned in value sort order — deterministic across
    engines, partitionings and reruns (no monotonically_increasing_id,
    whose values depend on partition layout).

    Why at 100 TB: every iterative algorithm that shuffles on a
    string key per round pays the key width every round (measured on
    this engine: long ids 1.5x faster than short prefixed strings at
    sf5 for LPA/PageRank). Encode once, iterate on longs, decode at
    the end. The mapping table is |distinct| rows — which still
    GROWS WITH THE DATA (the r9 verdict's vocabulary class), so ids
    come from ``global_rank_column``'s partition-offset two-pass,
    never a single-partition window over the dictionary; the join
    back is the one extra equi-join the encoding costs (broadcast
    when the dictionary fits)."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators.quantiles import (
        global_rank_column,
    )

    out_col = id_col or f"{col}_id"
    distinct_vals = (
        df.select(F.col(col).alias("value"))
        .where(F.col("value").isNotNull())
        .distinct()
    )
    mapping = global_rank_column(
        distinct_vals, [F.col("value").asc()], "id"
    ).select("value", (F.col("id") - F.lit(1)).cast("bigint").alias("id"))
    encoded = df.join(
        mapping.select(F.col("value").alias(col), F.col("id").alias(out_col)),
        col,
        "left",
    )
    return encoded, mapping
