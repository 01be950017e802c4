"""Transformation pipeline — Spark rebuild of
``DataEnedisAdemeTransformer.run`` (``transform.py:379-409``).

Chain (SURVEY §3.2): cast (autocast or declared schema) → conditional
imputation A2 → derive conso_kwh F5 / arrondissement F4 / conso_kwh_m2
F6 / consumption diffs F7 → entity split P5+SO2 (six gold tables) →
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

from pyspark.sql import DataFrame, SparkSession, functions as F

from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
from dpe_energy_performance_analysis_etl_spark.functions import (
    arrondissement,
    conso_kwh_m2,
    consumption_diffs,
)
from dpe_energy_performance_analysis_etl_spark.operators import dedup_full, group_stats_dpe, impute_numeric
from dpe_energy_performance_analysis_etl_spark.schema import (
    GoldenSchema,
    apply_schema,
    autocast_string_columns,
    load_schema_json,
    normalize_columns,
)
from dpe_energy_performance_analysis_etl_spark.sources import materialize_parquet
from dpe_energy_performance_analysis_etl_spark.utils import log_run, run_concurrently

# Default golden config (shape of ``schema_golden_data.json:1-100``;
# entity PKs from ``load.py:45-52``). Externalizable via
# GoldenSchema.from_file for deployments with their own column sets.
DEFAULT_GOLDEN_CONFIG: dict = {
    "schema-adresses": {
        "cols": {
            "id_ban": {"type": "string", "default": "N/C"},
            "full_adress_ban": {"type": "string", "default": "N/C"},
            "label_ban": {"type": "string", "default": "N/C"},
        },
        "required": ["id_ban"],
    },
    "schema-logements": {
        "cols": {
            "_id_ademe": {"type": "string", "default": "N/C"},
            "id_ban": {"type": "string", "default": "N/C"},
            "etiquette_dpe_ademe": {"type": "string", "default": "N/C"},
            "etiquette_ges_ademe": {"type": "string", "default": "N/C"},
            "conso_5_usages_par_m2_ef_ademe": {"type": "float", "default": -1.0},
            "conso_5_usages_par_m2_ep_ademe": {"type": "float", "default": -1.0},
            "surface_habitable_logement_ademe": {"type": "float", "default": -1.0},
            "annee_construction_ademe": {"type": "float", "default": -1.0},
            "periode_construction_ademe": {"type": "string", "default": "N/C"},
            "nombre_de_logements_enedis": {"type": "int", "default": -1},
            "conso_kwh": {"type": "float", "default": -1.0},
            "conso_kwh_m2": {"type": "float", "default": -1.0},
            "absolute_diff_conso_prim_fin": {"type": "float", "default": -1.0},
            "absolute_diff_conso_fin_act": {"type": "float", "default": -1.0},
            "consumption_difference": {"type": "float", "default": -1.0},
            "code_postal_ban_ademe": {"type": "string", "default": "N/C"},
            "batch_id": {"type": "string", "default": "N/C"},
        },
        "required": ["_id_ademe"],
    },
    "schema-villes": {
        "cols": {
            "code_postal_ban_ademe": {"type": "string", "default": "N/C"},
            "city_ban": {"type": "string", "default": "N/C"},
            "code_departement_enedis": {"type": "string", "default": "N/C"},
        },
        "required": ["code_postal_ban_ademe"],
    },
    "schema-donnees_geocodage": {
        "cols": {
            "id_ban": {"type": "string", "default": "N/C"},
            "lon_ban": {"type": "float", "default": 0.0},
            "lat_ban": {"type": "float", "default": 0.0},
            "score_ban": {"type": "float", "default": 0.0},
            "statut_geocodage_ademe": {"type": "string", "default": "N/C"},
        },
        "required": ["id_ban"],
    },
    "schema-donnees_climatiques": {
        "cols": {
            "id_ban": {"type": "string", "default": "N/C"},
            "zone_climatique_ademe": {"type": "string", "default": "N/C"},
        },
        "required": ["id_ban"],
    },
}

ENTITY_PKS = {
    "adresses": ["id_ban"],
    "logements": ["_id_ademe"],
    "villes": ["code_postal_ban_ademe"],
    "donnees_geocodage": ["id_ban"],
    "donnees_climatiques": ["id_ban"],
    "tests_statistiques_dpe": ["batch_id", "etiquette_dpe_ademe"],
}

# FK-safe load order (``load.py:181-212``).
LOAD_ORDER = [
    "tests_statistiques_dpe",
    "adresses",
    "villes",
    "donnees_geocodage",
    "donnees_climatiques",
    "logements",
]


class DataTransformer:
    """Public signature parity with ``DataEnedisAdemeTransformer``
    (ctor ``transform.py:61-81``, ``run`` ``:379-409``)."""

    def __init__(
        self,
        spark: SparkSession,
        df: DataFrame,
        config: EngineConfig | None = None,
        golden: GoldenSchema | None = None,
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        self.golden = golden or GoldenSchema(DEFAULT_GOLDEN_CONFIG)
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
        self.df, self.cols_filled = impute_numeric(self.df)
        return self

    def derive(self) -> "DataTransformer":
        """F4-F7 derivations (``transform.py:146-213``)."""
        cols: dict[str, F.Column] = {}
        # kWh from MWh: per-logement preferred, per-site fallback,
        # -1 when neither is available (``transform.py:162-181``)
        prim = "consommation_annuelle_moyenne_par_logement_de_l_adresse_mwh_enedis"
        fallback = "consommation_annuelle_moyenne_par_site_de_l_adresse_mwh_enedis"
        present = [c for c in (prim, fallback) if c in self.df.columns]
        if present:
            cols["conso_kwh"] = F.coalesce(
                *[F.col(c).cast("double") * 1000.0 for c in present], F.lit(-1.0)
            )
        if "district_enedis_with_ban" in self.df.columns:
            cols["arrondissement"] = arrondissement("district_enedis_with_ban")
        self.df = self.df.withColumns(cols) if cols else self.df
        if "district_enedis_with_ban" in self.df.columns:
            self.df = self.df.drop("district_enedis_with_ban")  # P9, transform.py:157
        cols2: dict[str, F.Column] = {}
        if {"conso_kwh", "surface_habitable_logement_ademe"} <= set(self.df.columns):
            cols2["conso_kwh_m2"] = conso_kwh_m2()
        if {"conso_5_usages_par_m2_ep_ademe", "conso_5_usages_par_m2_ef_ademe"} <= set(self.df.columns):
            for name, expr in consumption_diffs(
                actual="conso_kwh_m2" if "conso_kwh_m2" in cols2 or "conso_kwh_m2" in self.df.columns else "conso_5_usages_par_m2_ef_ademe"
            ).items():
                cols2[name] = expr
        if cols2:
            # conso_kwh_m2 must exist before the diff expressions read it
            if "conso_kwh_m2" in cols2:
                self.df = self.df.withColumn("conso_kwh_m2", cols2.pop("conso_kwh_m2"))
            self.df = self.df.withColumns(cols2)
        return self

    def select_and_split(self) -> "DataTransformer":
        """P5 + SO2 + A4 — six entity frames from the golden config
        (``transform.py:239-269``), deduplicated."""
        self.df = self.df.cache()  # shared by all entity projections
        for name, entity in self.golden.entities.items():
            self.entities[name] = dedup_full(entity.conform(self.df))
        return self

    def make_statistical_metrics(self) -> "DataTransformer":
        """A3 — per-DPE-label paired tests (``transform.py:313-376``)."""
        logements = self.entities.get("logements", self.df)
        self.entities["tests_statistiques_dpe"] = group_stats_dpe(
            logements, batch_id=self.config.batch_id
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
