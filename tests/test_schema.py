"""Schema subsystem tests (SURVEY §1.3 layers)."""

import pandas as pd
import pytest
from pyspark.sql import types as T

from dpe_energy_performance_analysis_etl_spark.pipelines.transform import conform
from dpe_energy_performance_analysis_etl_spark.schema import (
    SchemaValidationError,
    apply_schema,
    autocast_string_columns,
    load_schema_json,
    normalize_columns,
    save_schema_json,
    validate_required_columns,
)
from dpe_energy_performance_analysis_etl_spark.utils import normalize_name


def test_normalize_name():
    assert normalize_name("Consommation annuelle (MWh) ÉTÉ") == "consommation_annuelle_mwh_ete"
    assert normalize_name("Code Département") == "code_departement"
    # edge underscores are kept — reference parity (utils/fonctions.py:59-62);
    # `_id_ademe` is a gold-schema PK and must survive normalization
    assert normalize_name("_id_ademe") == "_id_ademe"
    assert normalize_name("__x--y__") == "_x_y_"


def test_normalize_columns_sorts(spark):
    df = spark.createDataFrame(pd.DataFrame({"B Col": [1], "a çol": [2]}))
    out = normalize_columns(df)
    assert out.columns == ["a_col", "b_col"]


def test_validate_required_is_case_tolerant(spark):
    df = spark.createDataFrame(pd.DataFrame({"Adresse": ["x"], "nom_commune": ["y"]}))
    validate_required_columns(df, ["adresse", "Nom_Commune"])
    with pytest.raises(SchemaValidationError, match="missing"):
        validate_required_columns(df, ["code_iris"])


def test_autocast_whole_column_semantics(spark):
    pdf = pd.DataFrame(
        {
            "dec_comma": ["1,5", "2,5", None],
            "mixed": ["1,5", "abc", "2"],
            "dates": ["2021-01-01", "2021-02-03", "2021-05-06"],
            "plain": ["x", "y", "z"],
        }
    )
    out, decisions = autocast_string_columns(spark.createDataFrame(pdf))
    assert decisions == {"dec_comma": "double", "dates": "timestamp"}
    vals = {r.dec_comma for r in out.select("dec_comma").collect()}
    assert vals == {1.5, 2.5, None}
    types = dict(out.dtypes)
    assert types["mixed"] == "string" and types["dates"] == "timestamp"


def test_schema_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(pd.DataFrame({"a": [1], "b": ["x"]}))
    p = str(tmp_path / "schema.json")
    save_schema_json(df, p)
    schema = load_schema_json(p)
    assert schema == df.schema


def test_apply_schema_coerces_and_fills(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": ["1", "oops"], "extra": ["k", "k"]}))
    target = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("missing", T.DoubleType())]
    )
    out = apply_schema(df, target)
    rows = {r.a for r in out.collect()}
    assert rows == {1, None}  # try_cast coerce, not ANSI abort
    assert "missing" in out.columns and "extra" in out.columns


def test_golden_schema_conform(spark):
    columns = {
        "pk": (T.StringType(), "N/C"),
        "v": (T.DoubleType(), -1.0),
        "absent": (T.StringType(), "N/C"),
    }
    df = spark.createDataFrame(pd.DataFrame({"pk": ["a"], "v": ["3,5"], "junk": [1]}))
    out = conform(df.withColumn("v", df.v.substr(1, 1).cast("double")), columns)
    assert out.columns == ["pk", "v", "absent"]
    row = out.collect()[0]
    assert row.absent == "N/C"


class TestSchemaEvolutionScan:
    def test_merge_schema_unions_generations(self, spark, tmp_path):
        """A zone written across schema generations (new column added
        later) must read as one evolved schema with null backfill."""
        zone = str(tmp_path / "zone")
        spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(zone)
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, name string, score double"
        ).write.mode("append").parquet(zone)

        evolved = spark.read.option("mergeSchema", "true").parquet(zone)
        assert set(evolved.columns) == {"id", "name", "score"}
        rows = {r["id"]: r["score"] for r in evolved.collect()}
        assert rows[1] is None and rows[2] == 9.5

    def test_default_scan_unchanged(self, spark, tmp_path):
        zone = str(tmp_path / "zone2")
        spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(zone)
        assert spark.read.parquet(zone).count() == 1


class TestXmlSource:
    def test_roundtrip_and_schema(self, spark, tmp_path):
        from pyspark.sql import types as T

        df = spark.createDataFrame(
            [(1, "alpha", 9.5), (2, "beta", -1.0)], "id long, name string, score double"
        )
        p = str(tmp_path / "xmlzone")
        df.write.format("xml").option("rowTag", "rec").option("rootTag", "recs").save(p)
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        back = spark.read.format("xml").option("rowTag", "rec").schema(schema).load(p)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    def test_inference_path(self, spark, tmp_path):
        df = spark.createDataFrame([(7, "x")], "id long, name string")
        p = str(tmp_path / "xmlzone2")
        df.write.format("xml").option("rowTag", "row").save(p)
        back = spark.read.format("xml").option("rowTag", "row").load(p)
        assert back.count() == 1 and set(back.columns) == {"id", "name"}
