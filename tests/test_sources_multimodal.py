"""REST source layer (paged scan, lookup join) and multimodal
plumbing (binary metadata, Arrow-batched feature extraction)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from dpe_energy_performance_analysis_etl_spark.multimodal import (
    binary_metadata,
    decode_image_batch,
    extract_features,
    frame_sample,
)
from dpe_energy_performance_analysis_etl_spark.sources import paged_rest_scan, rest_lookup_join


def test_paged_rest_scan_unions_all_pages(spark):
    schema = T.StructType(
        [T.StructField("row_id", T.LongType()), T.StructField("val", T.StringType())]
    )

    def fetch_page(limit, offset):
        return [{"row_id": offset + i, "val": f"v{offset + i}"} for i in range(limit)]

    out = paged_rest_scan(spark, fetch_page, schema, total_pages=7, page_size=10,
                          rate_limit_per_sec=10_000)
    rows = out.collect()
    assert len(rows) == 70
    assert {r.row_id for r in rows} == set(range(70))


def test_rest_lookup_join_dedups_and_flattens(spark):
    def fetch(key):
        return [{"v": f"{key}-{j}"} for j in range(2)]  # 1 -> N

    keys = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "a", None, "b"]}))
    schema = T.StructType([T.StructField("v", T.StringType())])
    out = rest_lookup_join(keys, "k", fetch, schema, rate_limit_per_sec=10_000)
    rows = out.collect()
    # dedup-before-fanout: duplicated keys fetched once (8 rows if not),
    # NULL key dropped, 1->N flattening preserved
    assert len(rows) == 4
    assert {(r.k, r.v) for r in rows} == {
        ("a", "a-0"), ("a", "a-1"), ("b", "b-0"), ("b", "b-1")
    }


def test_rest_lookup_join_survives_fetch_errors(spark):
    def fetch(key):
        if key == "boom":
            raise RuntimeError("api down")
        return [{"v": key.upper()}]

    keys = spark.createDataFrame(pd.DataFrame({"k": ["ok", "boom"]}))
    schema = T.StructType([T.StructField("v", T.StringType())])
    out = rest_lookup_join(keys, "k", fetch, schema, max_retries=1, backoff_seconds=0.01,
                           rate_limit_per_sec=10_000)
    rows = {r.k: r.v for r in out.collect()}
    assert rows == {"ok": "OK"}  # failed key dropped (P8 None-filter parity)


@pytest.fixture()
def media(spark):
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2, 3],
            "content": [b"fake-image-bytes-1", b"fake-image-bytes-2", None],
            "media_type": ["image", "image", "image"],
            "duration_ms": [0, 0, 0],
        }
    )
    return spark.createDataFrame(pdf)


def test_binary_metadata(spark, media):
    out = binary_metadata(media)
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].n_bytes == 18
    assert rows[1].content_md5 != rows[2].content_md5
    assert rows[1].header_hex == b"fake-ima".hex()
    assert rows[3].n_bytes is None


def test_decode_contract():
    # fake=False is the REAL dependency-free decoder now (PNG/BMP/PPM);
    # unsupported containers raise ValueError, not NotImplementedError
    real = decode_image_batch(fake=False)
    with pytest.raises(ValueError, match="unrecognized image container"):
        real(b"not-an-image")
    decode = decode_image_batch(fake=True)
    a, b = decode(b"same"), decode(b"same")
    assert (a == b).all() and a.dtype.name == "float32"


def test_extract_features_batch_shape(spark, media):
    out = extract_features(media)
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == {1, 2}  # NULL-content row produces no output
    assert len(rows[1].feature) == 16
    assert rows[1].feat_norm > 0
    # determinism: same bytes -> same features
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert again[1] == rows[1].feature


def test_frame_sample_explodes_timeline(spark):
    vids = spark.createDataFrame(
        pd.DataFrame({"media_id": [7], "duration_ms": [3500]})
    )
    out = frame_sample(vids, every_ms=1000)
    assert [r.frame_ts_ms for r in out.orderBy("frame_ts_ms").collect()] == [0, 1000, 2000, 3000]


def test_bucketed_join_needs_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the join key produce a
    plan with ZERO Exchange operators — the pay-the-shuffle-once
    contract that matters at fact-table scale."""
    from dpe_energy_performance_analysis_etl_spark.sources import write_bucketed_table

    # (warehouse dir is a static conf — tables land in ./spark-warehouse,
    # which is gitignored; dropped in the finally block)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed_table(orders, "orders_b", ["o_orderkey"], num_buckets=8)
    write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "li_b", ["o_orderkey"], num_buckets=8
    )
    joined = spark.table("orders_b").join(spark.table("li_b"), on="o_orderkey")
    # disable broadcast so the join strategy is the bucket-aware one
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_q5_bucketed_falls_back_then_uses_layout(spark):
    """q5_regional_revenue_bucketed must run WITHOUT the bucketed
    layout (plain-parquet fallback — the ADVICE r4 docstring/behavior
    mismatch) and produce identical results once q5_bucketed_layout
    has materialized the tables."""
    from dpe_energy_performance_analysis_etl_spark.plans.queries import (
        q5_bucketed_layout,
        q5_regional_revenue_bucketed,
    )
    from dpe_energy_performance_analysis_etl_spark.plans import QUERIES

    import shutil

    sf = "/root/testdata/sf0.001"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("q5_orders_b", "q5_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)  # stale location w/o catalog entry
    try:
        plain = {tuple(r) for r in QUERIES["q5_regional_revenue"](spark, sf).collect()}
        fallback = {tuple(r) for r in q5_regional_revenue_bucketed(spark, sf).collect()}
        assert fallback == plain  # no layout -> plain parquet, same answer
        q5_bucketed_layout(spark, sf, num_buckets=8)
        bucketed = q5_regional_revenue_bucketed(spark, sf)
        plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
        assert "q5_orders_b" in plan and "q5_lineitem_b" in plan
        assert {tuple(r) for r in bucketed.collect()} == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS q5_orders_b")
        spark.sql("DROP TABLE IF EXISTS q5_lineitem_b")


def test_json_lines_roundtrip_and_purge(spark, tmp_path):
    from dpe_energy_performance_analysis_etl_spark.sources import (
        purge_dir,
        read_json_lines,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "nation_jsonl")
    df.write.json(path)
    back = read_json_lines(spark, path, schema=df.schema)
    assert {(r.n_nationkey, r.n_name) for r in back.collect()} == {
        (r.n_nationkey, r.n_name) for r in df.collect()
    }
    assert purge_dir(spark, path) is True
    assert purge_dir(spark, path) is False  # already gone


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """partitionBy + filter ⇒ partition pruning: the scan must read
    only the matching directory (visible as PartitionFilters and in
    the input file count)."""
    from dpe_energy_performance_analysis_etl_spark.sources import write_parquet

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "orders_by_status")
    write_parquet(orders, path, partition_by=["o_orderstatus"])
    pruned = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    expect = orders.filter("o_orderstatus = 'F'").count()
    assert pruned.count() == expect


def test_audio_features_framing(spark, media):
    from dpe_energy_performance_analysis_etl_spark.multimodal import audio_features, decode_audio_batch

    real = decode_audio_batch(fake=False)
    with pytest.raises(ValueError, match="unrecognized audio container"):
        real(b"not-audio")
    out = audio_features(media, frame_size=16).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    assert set(by_id) == {1, 2}  # NULL content row skipped
    assert len(by_id[1]) == 4  # 64 fake samples / 16 per frame
    assert all(0.0 <= r.rms_energy <= 1.0 for r in out)


def test_write_parquet_sorted_rowgroups(spark, tmp_path):
    from dpe_energy_performance_analysis_etl_spark.sources import write_parquet
    from dpe_energy_performance_analysis_etl_spark.plans.queries import read_events

    ev = read_events(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "ev_sorted")
    write_parquet(ev, path, sort_by=["ts"])
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # each file covers a disjoint ts range (range partitioning)
    import pyspark.sql.functions as F
    per_file = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    )
    spans = sorted([(r.lo, r.hi) for r in per_file])
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {hi1} > {lo2}"


def test_read_media_dir_binary_file_source(spark, tmp_path):
    """binaryFile ingestion: one row per file with size/hash metadata,
    glob filtering, and a length pushdown that skips big files at the
    listing level."""
    import hashlib

    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.multimodal import read_media_dir

    media = tmp_path / "media"
    media.mkdir()
    payloads = {}
    for i in range(5):
        body = (b"\x89PNG" if i % 2 == 0 else b"RIFF") + bytes([i]) * (10 + i * 100)
        (media / f"f{i}.{'png' if i % 2 == 0 else 'wav'}").write_bytes(body)
        payloads[f"f{i}"] = body

    df = read_media_dir(spark, str(media))
    rows = {r["path"].rsplit("/", 1)[-1].split(".")[0]: r for r in df.collect()}
    assert len(rows) == 5
    assert rows["f0"]["n_bytes"] == len(payloads["f0"])
    assert rows["f0"]["content_md5"] == hashlib.md5(payloads["f0"]).hexdigest()
    assert rows["f0"]["header_hex"].startswith("89504e47")  # PNG magic
    assert rows["f1"]["header_hex"].startswith("52494646")  # RIFF magic

    pngs = read_media_dir(spark, str(media), glob="*.png")
    assert pngs.count() == 3

    small = read_media_dir(spark, str(media)).filter(F.col("length") < 200)
    assert small.count() == 2  # f0 (14B) and f1 (114B)


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    """PERMISSIVE + corrupt column: broken lines land verbatim in the
    quarantine column instead of silently dropping or aborting;
    DROPMALFORMED drops them; FAILFAST raises."""
    import pytest
    from pyspark.sql import types as T
    from dpe_energy_performance_analysis_etl_spark.sources.io import read_json_lines

    p = tmp_path / "dirty.jsonl"
    p.write_text('{"a": 1, "b": "x"}\nTHIS IS NOT JSON\n{"a": 2, "b": "y"}\n')
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = read_json_lines(spark, str(p), schema=schema, corrupt_col="_bad")
    rows = df.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and bad[0]["_bad"] == "THIS IS NOT JSON"
    good = sorted(r.a for r in rows if r["_bad"] is None)
    assert good == [1, 2]

    dropped = read_json_lines(spark, str(p), schema=schema, mode="DROPMALFORMED")
    assert sorted(r.a for r in dropped.collect()) == [1, 2]

    with pytest.raises(Exception):
        read_json_lines(spark, str(p), schema=schema, mode="FAILFAST").collect()


def test_csv_corrupt_record_quarantine(spark, tmp_path):
    """CSV dead-letter parity with the JSONL scan: a row with the
    wrong arity/type quarantines instead of dropping or aborting."""
    from pyspark.sql import types as T
    from dpe_energy_performance_analysis_etl_spark.sources.io import read_csv

    p = tmp_path / "dirty.csv"
    p.write_text("a;b\n1;x\nnot_an_int;y\n2;z\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = read_csv(spark, str(p), schema=schema, corrupt_col="_bad")
    rows = df.collect()
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and "not_an_int" in bad[0]["_bad"]
    assert sorted(r.a for r in rows if r["_bad"] is None) == [1, 2]
