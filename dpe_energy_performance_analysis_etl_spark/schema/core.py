"""Schema subsystem: normalization, validation gates, persisted
schemas, and whole-column autocast.

Reference parity (SURVEY §1.3):
  1. input validation (presence-only, case-tolerant) — ``extract.py:317-331``.
  2. inferred dtype schema persisted to JSON and re-applied —
     ``filestorage_helper.py:159-176``, ``transform.py:272-289``; the
     inference itself is try-numeric-then-datetime-else-string
     (``transform.py:84-102``).
  3. the gold tables' columns, types and defaults
     (``schema_golden_data.json``) are declared once, with their keys
     and load order, as ``pipelines.transform.GOLD_TABLES``.

Spark-first choices: persisted schemas are ``StructType.jsonValue()``
(lossless, versionable); autocast decides per column with ONE
aggregate pass over cast-success counters instead of pandas'
raise-and-catch, so it scales to any row count without a driver loop.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F, types as T

from dpe_energy_performance_analysis_etl_spark.utils import normalize_name


class SchemaValidationError(ValueError):
    pass


def normalize_columns(df: DataFrame, sort: bool = True) -> DataFrame:
    """Slug every column name and (optionally) alpha-sort the columns
    (``utils/fonctions.py:59-73`` applied at ``extract.py:578``,
    ``transform.py:65``). Pure projection — no shuffle, prunable."""
    renamed = df.toDF(*[normalize_name(c) for c in df.columns])
    if sort:
        renamed = renamed.select(*sorted(renamed.columns))
    return renamed


def validate_required_columns(df: DataFrame, required: list[str]) -> DataFrame:
    """Case-tolerant presence gate (``extract.py:317-331`` accepts
    ``Adresse`` or ``adresse``). Raises with the full missing list."""
    have = {c.lower() for c in df.columns}
    missing = [c for c in required if c.lower() not in have]
    if missing:
        raise SchemaValidationError(
            f"input is missing required columns: {missing}; got {sorted(df.columns)}"
        )
    return df


# ---------------------------------------------------------------- persisted schemas

def save_schema_json(df: DataFrame, path: str) -> None:
    """Persist the DataFrame schema (``_save_df_schema``,
    ``filestorage_helper.py:159-167`` dumped pandas dtypes; we dump the
    full StructType, which round-trips losslessly)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(df.schema.jsonValue(), fh, indent=2)


def load_schema_json(path: str) -> T.StructType:
    """Reload a persisted schema (``_load_df_schema``,
    ``filestorage_helper.py:169-176``)."""
    with open(path, encoding="utf-8") as fh:
        return T.StructType.fromJson(json.load(fh))


def apply_schema(df: DataFrame, schema: T.StructType, strict: bool = False) -> DataFrame:
    """Cast matching columns to the declared types
    (``apply_schema_to_df``, ``transform.py:272-289``). Unknown columns
    pass through untouched; missing declared columns raise when
    ``strict`` else are added as typed NULLs."""
    by_name = {f.name: f for f in schema.fields}
    missing = [n for n in by_name if n not in df.columns]
    if missing and strict:
        raise SchemaValidationError(f"dataframe missing declared columns: {missing}")
    cols = []
    for c in df.columns:
        fld = by_name.get(c)
        # try_cast: NULL on malformed values (pandas astype-with-coerce
        # parity; ANSI cast would abort the job on one bad row)
        cols.append(F.col(c).try_cast(fld.dataType).alias(c) if fld else F.col(c))
    out = df.select(*cols)
    for n in missing:
        out = out.withColumn(n, F.lit(None).cast(by_name[n].dataType))
    return out


# ---------------------------------------------------------------- autocast

_DEC_COMMA = r"^\s*-?\d+(,\d+)?\s*$"
_NUMERIC = r"^\s*-?\d+(\.\d+)?([eE][+-]?\d+)?\s*$"


def autocast_string_columns(
    df: DataFrame,
    columns: list[str] | None = None,
) -> tuple[DataFrame, dict[str, str]]:
    """Infer better types for string columns with pandas "whole column
    or nothing" semantics (``auto_cast_object_columns``,
    ``transform.py:84-102``): a column becomes double only if EVERY
    non-null value parses as a number (decimal commas accepted, F8),
    else timestamp if every non-null value parses as a timestamp, else
    stays string.

    One aggregate job computes all vote counters at once (map-side
    partial agg; no per-column passes), then one projection applies
    the winning casts. Returns (cast_df, {col: 'double'|'timestamp'}).
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    if not columns:
        return df, {}

    aggs = []
    for c in columns:
        norm = F.regexp_replace(F.col(c).cast("string"), ",", ".")
        aggs.append(F.count(F.col(c)).alias(f"{c}__n"))
        aggs.append(F.count(F.when(norm.rlike(_NUMERIC), 1)).alias(f"{c}__num"))
        # try_to_timestamp: NULL on failure (ANSI mode is on in Spark 4;
        # plain to_timestamp would raise — pandas errors='coerce' parity)
        aggs.append(
            F.count(F.when(F.try_to_timestamp(F.col(c)).isNotNull(), 1)).alias(f"{c}__ts")
        )
    counters = df.agg(*aggs).collect()[0].asDict()

    decisions: dict[str, str] = {}
    for c in columns:
        n = counters[f"{c}__n"]
        if n == 0:
            continue
        if counters[f"{c}__num"] == n:
            decisions[c] = "double"
        elif counters[f"{c}__ts"] == n:
            decisions[c] = "timestamp"

    if not decisions:
        return df, {}
    out_cols = []
    for c in df.columns:
        kind = decisions.get(c)
        if kind == "double":
            out_cols.append(
                F.regexp_replace(F.col(c).cast("string"), ",", ".").cast("double").alias(c)
            )
        elif kind == "timestamp":
            out_cols.append(F.try_to_timestamp(F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return df.select(*out_cols), decisions
