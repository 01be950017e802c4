"""Extraction pipeline — Spark rebuild of
``DataEnedisAdemeExtractor.extract`` (``extract.py:587-640``).

Dataflow (SURVEY §3.1):
  1. ``get_enedis_data``   — CSV scan (S1/S2) or paged API scan (S4)
                             → schema gate → derive columns → filter.
  2. ``get_ban_data``      — distinct addresses → keyed geocoder
                             lookup (S5) as a ``mapInPandas`` stage.
  3. ``merge_enedis_ban``  — suffix + inner equi-join J1 → bronze.
  4. ``get_ademe_data``    — distinct BAN ids → 1→N DPE lookup (S6).
  5. ``merge_all``         — left join J2 + dedup → normalize →
                             stamp batch_id → silver.

All HTTP is behind injected ``fetch`` callables so tests run offline
(the reference's live-API tests are its weakest part, SURVEY §5).
Spark-first deltas from the reference: the fan-out thread pool +
rate limiter live per-executor inside mapInPandas; results align by
key, not list position. Each zone write (bronze ``enedis_with_ban``,
bronze ``ademe``, silver ``extraction``) is a durable boundary: the
step returns a scan of the files it wrote, so every distinct key is
fetched once per run and later actions never replay a fetch stage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
from dpe_energy_performance_analysis_etl_spark.functions import departement_from_iris, full_address
from dpe_energy_performance_analysis_etl_spark.operators import dedup_full, equi_join, suffix_columns
from dpe_energy_performance_analysis_etl_spark.schema import normalize_columns, validate_required_columns
from dpe_energy_performance_analysis_etl_spark.sources import materialize_parquet, read_csv, rest_lookup_join
from dpe_energy_performance_analysis_etl_spark.utils import log_run, retry

# Required Enedis input columns (``extract.py:317-331``; case-tolerant).
REQUIRED_INPUT_COLS = [
    "adresse",
    "nom_commune",
    "code_commune",
    "code_iris",
    "code_departement",
]

BAN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("id_ban", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("city", T.StringType()),
        T.StructField("citycode", T.StringType()),
        T.StructField("postcode", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)

ADEME_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("identifiant_ban", T.StringType()),
        T.StructField("etiquette_dpe", T.StringType()),
        T.StructField("etiquette_ges", T.StringType()),
        T.StructField("conso_5_usages_par_m2_ef", T.DoubleType()),
        T.StructField("conso_5_usages_par_m2_ep", T.DoubleType()),
        T.StructField("surface_habitable_logement", T.DoubleType()),
        T.StructField("annee_construction", T.DoubleType()),
        T.StructField("periode_construction", T.StringType()),
        T.StructField("code_postal_ban", T.StringType()),
        T.StructField("zone_climatique", T.StringType()),
        T.StructField("statut_geocodage", T.StringType()),
        T.StructField("date_etablissement_dpe", T.StringType()),
    ]
)


class DataExtractor:
    """Public signature parity with ``DataEnedisAdemeExtractor``
    (``extract.py:587-598``): construct, then ``extract(...)``."""

    def __init__(
        self,
        spark: SparkSession,
        config: EngineConfig | None = None,
        fetch_ban: Callable[[str], list[dict]] | None = None,
        fetch_ademe: Callable[[str], list[dict]] | None = None,
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        self.fetch_ban = fetch_ban
        self.fetch_ademe = fetch_ademe
        self.input: DataFrame | None = None
        self.ban_data: DataFrame | None = None
        self.output: DataFrame | None = None

    # ------------------------------------------------------ step 1
    def get_enedis_data(
        self,
        from_input: str,
        code_departement: str | None = None,
        rows: int = -1,
        schema: T.StructType | None = None,
    ) -> "DataExtractor":
        """CSV batch input (S1/S2) → validation gate → derived columns
        (F1/F2) → optional dept filter + limit (P3/W1,
        ``extract.py:367-416``)."""
        df = read_csv(self.spark, from_input, schema=schema)
        df = normalize_columns(df, sort=False)
        validate_required_columns(df, REQUIRED_INPUT_COLS)
        df = df.withColumns(
            {
                "code_departement": departement_from_iris("code_iris"),
                "full_adress": full_address("adresse", "code_commune", "nom_commune"),
            }
        )
        if code_departement is not None:
            df = df.filter(F.col("code_departement") == int(code_departement))
        if rows > 0:
            df = df.limit(rows)
        self.input = df
        return self

    # ------------------------------------------------------ step 2
    def get_ban_data(self) -> "DataExtractor":
        """Distinct addresses → geocoder lookup join (S5/J5,
        ``extract.py:418-463``). Dedup-before-fanout is kept: the API
        is hit once per distinct address regardless of fact-side
        duplication (the reference's lru_cache, done relationally).
        Builds the plan only; the fetch runs in the bronze write."""
        assert self.input is not None, "call get_enedis_data first"
        assert self.fetch_ban is not None, "no BAN fetch function configured"
        results = rest_lookup_join(
            self.input,
            key_col="full_adress",
            fetch=self.fetch_ban,
            result_schema=BAN_RESULT_SCHEMA,
        )
        # upper-case label post-fetch (F3, ``extract.py:458-459``)
        self.ban_data = results.withColumn("label", F.upper("label"))
        return self

    # ------------------------------------------------------ step 3
    def merge_enedis_ban(self) -> DataFrame:
        """Suffix provenance + inner join J1 (``extract.py:517-546``);
        BAN side is per-distinct-address → broadcast-sized in practice.
        Returns the bronze ``enedis_with_ban`` files."""
        assert self.input is not None and self.ban_data is not None
        enedis = suffix_columns(self.input, "_enedis")
        ban = suffix_columns(
            self.ban_data.withColumnRenamed("full_adress", "full_adress_ban"), "_ban",
            exclude=["full_adress_ban"],
        ).withColumnRenamed("id_ban_ban", "id_BAN")
        merged = equi_join(
            enedis,
            ban,
            left_on="full_adress_enedis",
            right_on="full_adress_ban",
            how="inner",
            broadcast_right=True,
        )
        self.output = materialize_parquet(merged, f"{self.config.zones.bronze}/enedis_with_ban")
        return self.output

    # ------------------------------------------------------ step 4
    @retry(times=3, delay_seconds=1.0)
    def get_ademe_data(self) -> DataFrame:
        """Distinct BAN ids → 1→N DPE lookup (S6/U3,
        ``extract.py:465-515``), flatMap semantics via mapInPandas.
        Returns the bronze ``ademe`` files."""
        assert self.output is not None, "call merge_enedis_ban first"
        assert self.fetch_ademe is not None, "no ADEME fetch function configured"
        ademe = rest_lookup_join(
            self.output.select(F.col("id_BAN").alias("id_ban_key")),
            key_col="id_ban_key",
            fetch=self.fetch_ademe,
            result_schema=ADEME_RESULT_SCHEMA,
        )
        ademe = suffix_columns(ademe.drop("id_ban_key"), "_ademe")
        return materialize_parquet(ademe, f"{self.config.zones.bronze}/ademe")

    # ------------------------------------------------------ step 5
    def merge_all(self, ademe: DataFrame) -> DataFrame:
        """Left join J2 (keys cast to string) + full dedup A4 →
        normalize names P2 → stamp batch_id F11 → silver
        (``extract.py:548-585``). Returns the silver ``extraction``
        files."""
        assert self.output is not None
        merged = equi_join(
            ademe,
            self.output,
            left_on="identifiant_ban_ademe",
            right_on="id_BAN",
            how="left",
            cast_keys_to_string=True,
        )
        merged = dedup_full(merged)
        merged = normalize_columns(merged, sort=True)
        merged = merged.withColumn("batch_id", F.lit(self.config.batch_id))
        self.output = materialize_parquet(merged, f"{self.config.zones.silver}/extraction")
        return self.output

    # ------------------------------------------------------ flow
    @log_run
    def extract(
        self,
        from_input: str,
        code_departement: str | None = None,
        rows: int = -1,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """End-to-end extraction flow (``extract.py:587-640``)."""
        self.get_enedis_data(from_input, code_departement, rows, schema)
        self.get_ban_data()
        self.merge_enedis_ban()
        ademe = self.get_ademe_data()
        return self.merge_all(ademe)
