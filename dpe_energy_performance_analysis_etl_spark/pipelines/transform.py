"""Transformation pipeline — Spark rebuild of
``DataEnedisAdemeTransformer.run`` (``transform.py:379-409``).

Chain (SURVEY §3.2): cast (autocast or declared schema) → conditional
imputation A2 → derive conso_kwh F5 / conso_kwh_m2 F6 / consumption
diffs F7 → entity split P5+SO2 (the ``GOLD_TABLES`` declaration) →
grouped statistical tests A3 → gold writes S7.

Starts from the silver files and stays one lazy plan up to the gold
writes; only the imputation stats and the schema autocast voting
collect (tiny) aggregate rows to the driver. The six entity writes
share the upstream plan via a cached frame that lives only until they
finish, and they overlap: ``save_all`` runs them at the same time, one
thread per entity, since none reads another's output. It returns scans
of the gold files, so the load reads gold, not the transform's lineage.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
from dpe_energy_performance_analysis_etl_spark.functions import conso_kwh_m2, consumption_diffs
from dpe_energy_performance_analysis_etl_spark.operators import dedup_full, group_stats_dpe, impute_numeric
from dpe_energy_performance_analysis_etl_spark.schema import (
    apply_schema,
    autocast_string_columns,
    load_schema_json,
    normalize_columns,
)
from dpe_energy_performance_analysis_etl_spark.sources import materialize_parquet
from dpe_energy_performance_analysis_etl_spark.utils import log_run, run_concurrently

# The gold tables, in FK-safe load order (``load.py:181-212``): each
# table's primary key (``load.py:45-52``) and its projected columns as
# name -> (type, default) (``schema_golden_data.json``, read by
# ``get_cols`` / ``get_default_value_from_golden_colname``,
# ``transform.py:215-236``). ``group_stats_dpe`` builds the statistics
# table, so it declares a key only.
_STR = (T.StringType(), "N/C")
_NUM = (T.DoubleType(), -1.0)
_ZERO = (T.DoubleType(), 0.0)

GOLD_TABLES: dict[str, tuple[list[str], dict[str, tuple[T.DataType, object]]]] = {
    "tests_statistiques_dpe": (["batch_id", "etiquette_dpe_ademe"], {}),
    "adresses": (["id_ban"], {"id_ban": _STR, "full_adress_ban": _STR, "label_ban": _STR}),
    "villes": (
        ["code_postal_ban_ademe"],
        {"code_postal_ban_ademe": _STR, "city_ban": _STR, "code_departement_enedis": _STR},
    ),
    "donnees_geocodage": (
        ["id_ban"],
        {
            "id_ban": _STR,
            "lon_ban": _ZERO,
            "lat_ban": _ZERO,
            "score_ban": _ZERO,
            "statut_geocodage_ademe": _STR,
        },
    ),
    "donnees_climatiques": (["id_ban"], {"id_ban": _STR, "zone_climatique_ademe": _STR}),
    "logements": (
        ["_id_ademe"],
        {
            "_id_ademe": _STR,
            "id_ban": _STR,
            "etiquette_dpe_ademe": _STR,
            "etiquette_ges_ademe": _STR,
            "conso_5_usages_par_m2_ef_ademe": _NUM,
            "conso_5_usages_par_m2_ep_ademe": _NUM,
            "surface_habitable_logement_ademe": _NUM,
            "annee_construction_ademe": _NUM,
            "periode_construction_ademe": _STR,
            "nombre_de_logements_enedis": (T.LongType(), -1),
            "conso_kwh": _NUM,
            "conso_kwh_m2": _NUM,
            "absolute_diff_conso_prim_fin": _NUM,
            "absolute_diff_conso_fin_act": _NUM,
            "consumption_difference": _NUM,
            "code_postal_ban_ademe": _STR,
            "batch_id": _STR,
        },
    ),
}
ENTITY_PKS = {name: key for name, (key, _) in GOLD_TABLES.items()}
LOAD_ORDER = list(GOLD_TABLES)


def conform(df: DataFrame, columns: dict[str, tuple[T.DataType, object]]) -> DataFrame:
    """Project ``df`` to the declared columns, in order, each cast to its
    type; a column ``df`` lacks becomes its default (SO2 set-difference
    fill, ``transform.py:253-261``)."""
    return df.select(
        *[
            (F.col(n) if n in df.columns else F.lit(default)).cast(dtype).alias(n)
            for n, (dtype, default) in columns.items()
        ]
    )


class DataTransformer:
    """Public signature parity with ``DataEnedisAdemeTransformer``
    (ctor ``transform.py:61-81``, ``run`` ``:379-409``)."""

    def __init__(self, spark: SparkSession, df: DataFrame, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self.df = normalize_columns(df, sort=True)
        self.entities: dict[str, DataFrame] = {}

    def cast(self, types_schema_fpath: str | None = None) -> "DataTransformer":
        """Declared schema if provided, else whole-column autocast
        (``transform.py:390-400``)."""
        if types_schema_fpath:
            self.df = apply_schema(self.df, load_schema_json(types_schema_fpath))
        else:
            self.df, _ = autocast_string_columns(self.df)
        return self

    def impute(self) -> "DataTransformer":
        """A2 — conditional median/mean imputation of float columns."""
        self.df, _ = impute_numeric(self.df)
        return self

    def derive(self) -> "DataTransformer":
        """F5-F7 derivations (``transform.py:162-213``). kWh from MWh:
        per-logement preferred, per-site fallback, -1 when the CSV
        carries neither; without it the measured kWh/m² is the ADEME
        final consumption, so its difference to that is 0."""
        prim = "consommation_annuelle_moyenne_par_logement_de_l_adresse_mwh_enedis"
        fallback = "consommation_annuelle_moyenne_par_site_de_l_adresse_mwh_enedis"
        present = [c for c in (prim, fallback) if c in self.df.columns]
        actual = "conso_5_usages_par_m2_ef_ademe"
        if present:
            kwh = F.coalesce(*[F.col(c).cast("double") * 1000.0 for c in present], F.lit(-1.0))
            self.df = self.df.withColumn("conso_kwh", kwh).withColumn("conso_kwh_m2", conso_kwh_m2())
            actual = "conso_kwh_m2"
        self.df = self.df.withColumns(consumption_diffs(actual=actual))
        return self

    def select_and_split(self) -> "DataTransformer":
        """P5 + SO2 + A4 — one deduplicated frame per declared table
        with columns (``transform.py:239-269``)."""
        self.df = self.df.cache()  # shared by all entity projections
        for name, (_, columns) in GOLD_TABLES.items():
            if columns:
                self.entities[name] = dedup_full(conform(self.df, columns))
        return self

    def make_statistical_metrics(self) -> "DataTransformer":
        """A3 — per-DPE-label paired tests (``transform.py:313-376``)."""
        self.entities["tests_statistiques_dpe"] = group_stats_dpe(
            self.entities["logements"], batch_id=self.config.batch_id
        )
        return self

    def save_all(self) -> dict[str, DataFrame]:
        """S7 ×6 — gold zone writes (``transform.py:291-311``), run
        concurrently; returns the gold files and releases the
        ``select_and_split`` cache."""
        self.entities = run_concurrently(
            self.spark,
            {
                name: partial(materialize_parquet, df, f"{self.config.zones.gold}/{name}")
                for name, df in self.entities.items()
            },
        )
        self.df.unpersist()
        return self.entities

    @log_run
    def run(self, types_schema_fpath: str | None = None) -> dict[str, DataFrame]:
        """Full chain (``transform.py:379-409``)."""
        return (
            self.cast(types_schema_fpath)
            .impute()
            .derive()
            .select_and_split()
            .make_statistical_metrics()
            .save_all()
        )
