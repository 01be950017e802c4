"""Structured Streaming surface: exactly-once incremental append and
windowed aggregation over the events table (SURVEY §2.8)."""

import pytest
from pyspark.sql import functions as F, types as T

SF = "/root/testdata/sf0.001"

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@pytest.fixture()
def events(spark):
    from dpe_energy_performance_analysis_etl_spark.plans.queries import read_events

    return read_events(spark, SF).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value", "props"
    )


def test_incremental_append_exactly_once(spark, events, tmp_path):
    from dpe_energy_performance_analysis_etl_spark.streaming import incremental_append_stream

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    events.filter("event_id < 400").write.parquet(landing)
    q = incremental_append_stream(spark, landing, EVENT_SCHEMA, target, ckpt, key_cols=["event_id"])
    assert q.awaitTermination(120)
    assert spark.read.parquet(target).count() == 400

    # second file arrives, OVERLAPPING ids 300-399 — must not duplicate
    events.filter("event_id >= 300 AND event_id < 600").write.mode("append").parquet(landing)
    q2 = incremental_append_stream(spark, landing, EVENT_SCHEMA, target, ckpt, key_cols=["event_id"])
    assert q2.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 600
    assert out.select("event_id").distinct().count() == 600


def test_windowed_stream_matches_batch(spark, events, tmp_path):
    from dpe_energy_performance_analysis_etl_spark.streaming import windowed_event_counts

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")
    events.write.parquet(landing)

    q = windowed_event_counts(spark, landing, EVENT_SCHEMA, target, ckpt)
    assert q.awaitTermination(120)
    got = spark.read.parquet(target)

    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w").start.alias("window_start"), "event_type", "n_events")
    )
    # watermark may hold back the final (open) window in availableNow mode;
    # every emitted window must match the batch result exactly
    got_c = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    batch_c = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert len(got_c) > 0
    for key, n in got_c.items():
        assert batch_c[key] == n


def test_stateful_sessionization_across_batches(spark, events, tmp_path):
    """applyInPandasWithState sessionizer: state carries OPEN sessions
    across micro-batches; closed sessions match the batch reference."""
    from dpe_energy_performance_analysis_etl_spark.streaming import (
        batch_closed_sessions,
        sessionize_stream,
    )
    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt3")
    # two strictly time-ordered batches (late data would be a different test)
    cutoff = events.agg(F.expr("percentile(CAST(ts AS DOUBLE), 0.5)")).collect()[0][0]
    events.filter(F.col("ts").cast("double") <= cutoff).write.parquet(f"{landing}/b1")
    q = sessionize_stream(spark, f"{landing}/b1", EVENT_SCHEMA, target, ckpt, gap_seconds=1800)
    assert q.awaitTermination(180)
    events.filter(F.col("ts").cast("double") > cutoff).write.parquet(f"{landing}/b1", mode="append")
    q2 = sessionize_stream(spark, f"{landing}/b1", EVENT_SCHEMA, target, ckpt, gap_seconds=1800)
    assert q2.awaitTermination(180)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(target).collect()
    }
    expect = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch_closed_sessions(events, gap_seconds=1800).collect()
    }
    assert len(got) > 0
    assert got == expect, (
        f"missing={sorted(expect - got)[:3]} extra={sorted(got - expect)[:3]}"
    )


def test_streaming_dedup_drops_duplicates(spark, events, tmp_path):
    from dpe_energy_performance_analysis_etl_spark.streaming import streaming_dedup
    from pyspark.sql import functions as F

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt4")
    subset = events.filter("event_id < 300")
    subset.write.parquet(landing)
    subset.limit(120).write.mode("append").parquet(landing)  # planted dups
    q = streaming_dedup(spark, landing, EVENT_SCHEMA, target, ckpt, key_cols=["event_id"])
    assert q.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 300
    assert out.select("event_id").distinct().count() == 300


def test_stream_to_jdbc_idempotent(spark, events, tmp_path):
    """foreachBatch JDBC load into embedded Derby: overlapping replays
    append only new keys (streaming twin of the batch load pipeline)."""
    from dpe_energy_performance_analysis_etl_spark.streaming import stream_to_jdbc

    url = f"jdbc:derby:{tmp_path}/sdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    landing = str(tmp_path / "landing")
    ckpt1, ckpt2 = str(tmp_path / "c1"), str(tmp_path / "c2")

    ev = events.toDF(*[c.upper() for c in events.columns]).drop("PROPS")
    ev.filter("EVENT_ID < 300").write.parquet(landing)
    q = stream_to_jdbc(spark, landing, ev.schema, url, "EVENTS_T", props, ["EVENT_ID"], ckpt1)
    assert q.awaitTermination(120)

    # overlapping delivery with a FRESH checkpoint (worst case: the
    # stream itself replays everything) — table must still dedupe
    ev.filter("EVENT_ID < 500").write.mode("overwrite").parquet(landing)
    q2 = stream_to_jdbc(spark, landing, ev.schema, url, "EVENTS_T", props, ["EVENT_ID"], ckpt2)
    assert q2.awaitTermination(120)

    out = spark.read.jdbc(url, "EVENTS_T", properties=props)
    assert out.count() == 500
    assert out.select("EVENT_ID").distinct().count() == 500


def test_continuous_trigger_projection(spark):
    """Continuous (epoch-based) trigger over the rate source: rows
    flow through a map-only projection with ~second latency."""
    import time

    from dpe_energy_performance_analysis_etl_spark.streaming import continuous_projection_stream

    q = continuous_projection_stream(spark, "cont_sink", rows_per_second=200)
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS n FROM cont_sink").collect()[0].n
            if n >= 50:
                break
            time.sleep(1)
        assert n >= 50, f"continuous stream produced only {n} rows"
        bad = spark.sql(
            "SELECT count(*) AS n FROM cont_sink WHERE value % 2 <> 0 OR doubled <> value * 2"
        ).collect()[0].n
        assert bad == 0
    finally:
        q.stop()


def test_interval_join_streams_matches_batch(spark, events, tmp_path):
    """Stream-stream interval join (watermarked both sides) emits
    exactly the rows the equivalent batch range-join produces."""
    from dpe_energy_performance_analysis_etl_spark.streaming import interval_join_streams

    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    target = str(tmp_path / "joined")
    ckpt = str(tmp_path / "ckpt_ij")

    left = events.filter("event_id % 2 = 0")
    right = events.filter("event_id % 2 = 1")
    left.write.parquet(left_dir)
    right.write.parquet(right_dir)

    q = interval_join_streams(
        spark, left_dir, right_dir, EVENT_SCHEMA, EVENT_SCHEMA,
        target, ckpt, key_col="user_id", upper="10 minutes",
    )
    assert q.awaitTermination(120)
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.read.parquet(target).collect()
    }

    batch = (
        left.alias("a")
        .join(
            right.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 minutes")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("l_event_id"),
            F.col("b.event_id").alias("r_event_id"),
        )
    )
    want = {(r.user_id, r.l_event_id, r.r_event_id) for r in batch.collect()}
    assert len(want) > 0
    assert got == want


def test_maintained_agg_stream_matches_recompute(spark, tmp_path):
    """Stream-maintained aggregate state == batch recompute over all
    files, and a second availableNow run over new files merges only
    the delta (versions advance, old ones GC'd)."""
    from pyspark.sql import functions as F, types as T

    from dpe_energy_performance_analysis_etl_spark.operators import agg_state
    from dpe_energy_performance_analysis_etl_spark.streaming import (
        maintained_agg_stream,
        read_agg_state,
    )

    src = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("ord", T.LongType()),
        ]
    )
    specs = {
        "n": ("count", "v"),
        "s": ("sum_dec2", "v"),
        "lo": ("min", "ord"),
        "hi": ("max", "ord"),
    }

    def mkbatch(lo, hi, part):
        df = spark.range(lo, hi).select(
            (F.col("id") % 13).alias("k"),
            (F.col("id") % 7).cast("double").alias("v"),
            F.col("id").alias("ord"),
        )
        df.write.mode("append").parquet(src)

    def run():
        q = maintained_agg_stream(spark, src, schema, state, ckpt, ["k"], specs)
        assert q.awaitTermination(120)

    mkbatch(0, 500, 1)
    run()
    first = {r["k"]: r["n"] for r in read_agg_state(spark, state).collect()}
    assert sum(first.values()) == 500

    mkbatch(500, 800, 2)
    run()
    cur = read_agg_state(spark, state)
    full = agg_state(
        spark.read.schema(schema).parquet(src), ["k"], specs
    )
    cols = ["k", "n", "s", "lo", "hi"]
    a = sorted(map(tuple, cur.select(*[F.col(c).cast("string") for c in cols]).collect()))
    b = sorted(map(tuple, full.select(*[F.col(c).cast("string") for c in cols]).collect()))
    assert a == b


def test_enrich_stream_list_key_matches_batch_join(spark, tmp_path):
    """Stream-static broadcast enrichment on a list ``on`` key == the
    batch join, unmatched keys null-filled."""
    from pyspark.sql import functions as F, types as T

    from dpe_energy_performance_analysis_etl_spark.streaming import enrich_stream

    src = str(tmp_path / "landing")
    out = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ckpt")
    facts = spark.range(300).select(
        F.col("id").alias("fact_id"), (F.col("id") % 7).alias("dim_key")
    )
    facts.write.parquet(src)
    dim = spark.createDataFrame(
        [(i, f"name_{i}") for i in range(5)], ["dim_key", "dim_name"]  # keys 5,6 unmatched
    )
    schema = T.StructType(
        [T.StructField("fact_id", T.LongType()), T.StructField("dim_key", T.LongType())]
    )
    q = enrich_stream(spark, src, schema, dim, ["dim_key"], out, ckpt)
    assert q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = spark.read.parquet(src).join(F.broadcast(dim), on=["dim_key"], how="left")
    cols = ["fact_id", "dim_key", "dim_name"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    assert got.filter(F.col("dim_name").isNull()).count() == want.filter(
        F.col("dim_name").isNull()
    ).count() > 0


def test_cdc_apply_stream_matches_batch_apply(spark, tmp_path):
    """Streamed CDC folds (two availableNow runs) == one batch
    apply_changelog over the full changelog."""
    import datetime as dt

    from pyspark.sql import functions as F, types as T

    from dpe_energy_performance_analysis_etl_spark.operators import apply_changelog
    from dpe_energy_performance_analysis_etl_spark.streaming import (
        cdc_apply_stream,
        read_agg_state,
    )

    src = str(tmp_path / "changes")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], ["k", "v"]
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("v", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ord", T.LongType()),
        ]
    )
    ts = lambda d: dt.datetime(2024, 1, d)
    batch1 = [(1, "U", "b1", ts(1), 1), (2, "D", None, ts(1), 2), (30, "I", "new30", ts(1), 3)]
    batch2 = [(1, "U", "b2", ts(2), 4), (30, "D", None, ts(2), 5), (3, "U", "b2x", ts(2), 6)]

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        q = cdc_apply_stream(spark, src, schema, base, state, ckpt, key="k", ord_col="ord")
        assert q.awaitTermination(120)

    run(batch1)
    run(batch2)
    got = sorted(map(tuple, read_agg_state(spark, state).collect()))

    full_changes = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(map(tuple, apply_changelog(base, full_changes, key="k", ord_col="ord").collect()))
    assert got == want
    assert dict(got)[1] == "b2" and 2 not in dict(got) and 30 not in dict(got)


def test_windowed_stream_drops_late_data(spark, tmp_path):
    """Watermark semantics under restart: rows older than the
    checkpointed watermark are DROPPED — a finalized window's count
    never changes, and no duplicate window rows appear."""
    import datetime as dt

    from pyspark.sql import types as T

    from dpe_energy_performance_analysis_etl_spark.streaming import windowed_event_counts

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)

    def run(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(landing)
        q = windowed_event_counts(
            spark, landing, schema, target, ckpt, window="1 hour", watermark="2 hours"
        )
        assert q.awaitTermination(120)

    # batch 1: 3 events in the 10:00 window; max ts 13:59 -> watermark 11:59,
    # so the 10:00 window (ends 11:00) finalizes and is emitted
    run([(t(10, 5), "click", 1.0), (t(10, 20), "click", 1.0),
         (t(10, 40), "view", 1.0), (t(13, 59), "view", 1.0)])
    first = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(target).collect()
    }
    assert first[(t(10), "click")] == 2

    # batch 2: a LATE click at 10:30 (behind the checkpointed watermark)
    # plus an on-time event advancing the clock
    run([(t(10, 30), "click", 1.0), (t(15, 30), "view", 1.0)])
    rows = spark.read.parquet(target).collect()
    clicks_10 = [r for r in rows if r["window_start"] == t(10) and r["event_type"] == "click"]
    # exactly one finalized row for that window, count unchanged — the
    # late row was dropped, not re-aggregated or double-emitted
    assert len(clicks_10) == 1 and clicks_10[0]["n_events"] == 2


def _plan_nodes(node):
    """Every node of an executed plan, looking through AQE's adaptive
    root and query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif name == "ReusedExchangeExec":
        kids = [node.child()]
    else:
        kids = [node.children().apply(i) for i in range(node.children().size())]
    return [node] + [n for kid in kids for n in _plan_nodes(kid)]


def _reads_only(node, path):
    """True iff every file scan under ``node`` reads ``path``."""
    scans = [
        n.relation().location().rootPaths().head().toString()
        for n in _plan_nodes(node)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    return bool(scans) and all(path in p for p in scans)


def test_pruned_existing_keys_pushes_range_into_scan(spark, events, tmp_path):
    """The gate's existing-side read must carry the batch's key range
    as a PUSHED parquet filter (row-group skipping), not a full-target
    scan — the 100 TB guard (VERDICT r1 #2)."""
    from dpe_energy_performance_analysis_etl_spark.operators import anti_join_new_rows
    from dpe_energy_performance_analysis_etl_spark.sources import parquet_sink

    target = str(tmp_path / "sink" / "target")
    read_existing_keys, append = parquet_sink(spark, str(tmp_path / "sink"))
    append(events, "target")
    batch = events.filter("event_id >= 100 AND event_id < 200")
    gate = anti_join_new_rows(batch, read_existing_keys("target", ["event_id"]), ["event_id"])
    assert gate.collect() == []

    nodes = _plan_nodes(gate._jdf.queryExecution().executedPlan())
    scan = [
        n for n in nodes
        if n.getClass().getSimpleName() == "FileSourceScanExec" and _reads_only(n, target)
    ]
    assert len(scan) == 1
    plan = scan[0].toString()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(event_id,100)" in plan
    assert "LessThanOrEqual(event_id,199)" in plan
    # and the prune is exact: precisely the overlapping keys
    filters = [
        n for n in nodes if n.getClass().getSimpleName() == "FilterExec" and _reads_only(n, target)
    ]
    assert [f.metrics().apply("numOutputRows").value() for f in filters] == [100]


def test_incremental_append_null_keys_and_range(spark, events, tmp_path):
    """Null keys in the batch widen the prune with IS NULL; existing
    null-key rows still dedupe across restarts."""
    from dpe_energy_performance_analysis_etl_spark.operators import key_bounds
    from dpe_energy_performance_analysis_etl_spark.streaming import incremental_append_stream

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    with_null = events.filter("event_id < 100").withColumn(
        "event_id", F.when(F.col("event_id") == 0, F.lit(None)).otherwise(F.col("event_id"))
    )
    bounds = key_bounds(with_null, ["event_id"])
    assert bounds["event_id"][2] is True and bounds["event_id"][0] == 1

    with_null.write.parquet(landing)
    q = incremental_append_stream(
        spark, landing, EVENT_SCHEMA, target, str(tmp_path / "c1"), key_cols=["event_id"]
    )
    assert q.awaitTermination(120)
    # overlapping redelivery incl. the null key, fresh checkpoint
    with_null.write.mode("append").parquet(landing)
    q2 = incremental_append_stream(
        spark, landing, EVENT_SCHEMA, target, str(tmp_path / "c2"), key_cols=["event_id"]
    )
    assert q2.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 100
    assert out.filter("event_id IS NULL").count() == 1


def test_gate_pushes_key_range_into_jdbc_scan(spark, tmp_path):
    """On a database sink the gate's key-range filter, null widening
    included, reaches the server: the existing-keys scan carries it in
    PushedFilters (a WHERE on the JDBC query), not a full-table read."""
    from dpe_energy_performance_analysis_etl_spark.operators import anti_join_new_rows
    from dpe_energy_performance_analysis_etl_spark.sources import jdbc_sink

    url = f"jdbc:derby:{tmp_path}/gatedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    read_existing_keys, append = jdbc_sink(spark, url, props)
    history = [(k, "old") for k in range(0, 20, 2)] + [(None, "old")]
    append(spark.createDataFrame(history, "K int, V string"), "GATE_T")

    batch = spark.createDataFrame(
        [(k, "new") for k in (1, 2, 3, 5, None)], "K int, V string"
    )
    gate = anti_join_new_rows(batch, read_existing_keys("GATE_T", ["K"]), ["K"])
    assert {r.K for r in gate.collect()} == {1, 3, 5}
    plan = gate._jdf.queryExecution().executedPlan().toString()
    assert (
        "PushedFilters: [*Or(And(GreaterThanOrEqual(K,1),LessThanOrEqual(K,5)),IsNull(K))]"
        in plan
    ), plan


def test_jdbc_table_exists_probe(spark, tmp_path):
    """Explicit metadata probe replaces read-and-catch existence
    checks (ADVICE r1: a transient failure must not read as 'absent')."""
    from dpe_energy_performance_analysis_etl_spark.sources import jdbc_table_exists

    url = f"jdbc:derby:{tmp_path}/probedb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    assert jdbc_table_exists(spark, url, "NOPE_T", props) is False
    df = spark.range(3).withColumnRenamed("id", "K")
    df.write.jdbc(url, "PROBE_T", mode="append", properties=props)
    assert jdbc_table_exists(spark, url, "PROBE_T", props) is True
    # case-folding: unquoted DDL is stored upper-case in Derby
    assert jdbc_table_exists(spark, url, "probe_t", props) is True


def test_native_session_window_stream_matches_batch(spark, events, tmp_path):
    """§2.8: the NATIVE session_window assigner under Structured
    Streaming (watermark + availableNow) must produce the same closed
    sessions as the batch twin (query events_session_window_native's
    shape). Watermark far past the data means every session closes and
    is emitted in the final batch."""
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    sample = events.filter("user_id < 20")
    sample.write.parquet(landing)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(landing)
    sessions = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("w_start"), "n_events")
    )
    q = (
        sessions.writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = {
        (r.user_id, r.w_start, r.n_events)
        for r in spark.read.parquet(target).collect()
    }
    # the stream only emits sessions CLOSED by the final watermark
    # (= max event time): a session still inside its gap when the
    # input drains stays in state, exactly like a live stream
    max_ts = sample.agg(F.max("ts")).collect()[0][0]
    batch = (
        sample.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("w.end") <= F.lit(max_ts))
        .select("user_id", F.col("w.start").alias("w_start"), "n_events")
    )
    expect = {(r.user_id, r.w_start, r.n_events) for r in batch.collect()}
    assert got == expect and len(expect) > 0


def test_dedup_within_watermark_drops_redelivery_with_shifted_ts(spark, events, tmp_path):
    """dropDuplicatesWithinWatermark: redelivered records carry a
    DIFFERENT event time (the at-least-once reality) — plain
    watermarked dropDuplicates state-matches on the original ts and
    can miss these; within-watermark dedup expires keys a fixed delay
    after first sighting and drops them regardless."""
    from dpe_energy_performance_analysis_etl_spark.streaming import streaming_dedup

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "deduped_ww")
    ckpt = str(tmp_path / "ckpt_ww")
    subset = events.filter("event_id < 300")
    subset.write.parquet(landing)
    # redelivery: same keys, event time nudged 90 s later (inside the
    # 1 h horizon) — duplicates a ts-keyed system would treat as new
    subset.limit(120).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 90 SECONDS")
    ).write.mode("append").parquet(landing)
    q = streaming_dedup(
        spark, landing, EVENT_SCHEMA, target, ckpt,
        key_cols=["event_id"], within_watermark=True,
    )
    assert q.awaitTermination(120)
    out = spark.read.parquet(target)
    assert out.count() == 300
    assert out.select("event_id").distinct().count() == 300


def test_hopping_window_stream_matches_batch(spark, events, tmp_path):
    """Hopping (2h window / 1h slide) streaming agg must equal the
    batch F.window(slide) aggregation on every closed window —
    the streaming twin of the events_hopping_window registry query."""
    from dpe_energy_performance_analysis_etl_spark.streaming import windowed_event_counts

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "out_hop")
    ckpt = str(tmp_path / "ckpt_hop")
    events.write.parquet(landing)

    q = windowed_event_counts(
        spark, landing, EVENT_SCHEMA, target, ckpt, window="2 hours", slide="1 hour"
    )
    assert q.awaitTermination(120)
    got = spark.read.parquet(target)
    batch = (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w").start.alias("window_start"), "event_type", "n_events")
    )
    got_c = {(r.window_start, r.event_type): r.n_events for r in got.collect()}
    batch_c = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert len(got_c) > 0
    for key, n in got_c.items():
        assert batch_c[key] == n
    # every event is in exactly two windows: totals must double-count
    assert sum(batch_c.values()) == 2 * events.count()


def test_stream_static_enrichment_matches_batch(spark, events, tmp_path):
    """Stream-static broadcast join (J5's streaming face): enriched
    stream rows equal the batch join, unmatched keys null-fill."""
    from dpe_energy_performance_analysis_etl_spark.streaming import enrich_stream

    landing = str(tmp_path / "landing_e")
    target = str(tmp_path / "out_enrich")
    ckpt = str(tmp_path / "ckpt_enrich")
    events.write.parquet(landing)
    # dimension covering only half the users
    dim = (
        events.select("user_id").distinct().filter("user_id % 2 = 0")
        .withColumn("segment", F.concat(F.lit("seg"), (F.col("user_id") % 3).cast("string")))
    )
    q = enrich_stream(spark, landing, EVENT_SCHEMA, dim, "user_id", target, ckpt)
    assert q.awaitTermination(120)
    got = spark.read.parquet(target)
    batch = events.join(dim, "user_id", "left")
    assert got.count() == events.count() == batch.count()
    g = {(r.event_id): r.segment for r in got.collect()}
    for r in batch.collect():
        assert g[r.event_id] == r.segment
    assert any(v is None for v in g.values()) and any(v is not None for v in g.values())


def test_mg_heavy_hitters_stream_exact_regime_and_restart(spark, tmp_path):
    """Streaming Misra-Gries: with k above each shard's distinct item
    count no decrement fires, so after draining all files the summary
    equals the exact counts regardless of micro-batch boundaries; a
    SECOND availableNow run over new files resumes from the state
    store and keeps accumulating (crash-replay contract)."""
    import pandas as pd
    from dpe_energy_performance_analysis_etl_spark.streaming.stateful import (
        mg_heavy_hitters_stream,
    )

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    words1 = ["apple"] * 30 + ["banana"] * 20 + ["cherry"] * 5
    df1 = spark.createDataFrame([(w,) for w in words1], "item string")
    df1.write.mode("overwrite").parquet(landing)

    def run_once():
        stream = spark.readStream.schema("item string").parquet(landing)
        out = mg_heavy_hitters_stream(stream, "item", k=16, n_shards=4)
        # update-mode stateful output + file history: foreachBatch
        # appends each trigger's changed summaries (file sinks are
        # append-only and reject update mode directly)
        q = (
            out.writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(target)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)

    run_once()
    # latest summary row per (shard, item) = the final state emission
    latest = (
        spark.read.parquet(target)
        .groupBy("item")
        .agg(F.max("count_lb").alias("count_lb"))
    )
    got = {r.item: r.count_lb for r in latest.collect()}
    assert got == {"apple": 30, "banana": 20, "cherry": 5}

    # restart with MORE data: state resumes, counts accumulate
    words2 = ["apple"] * 10 + ["durian"] * 7
    spark.createDataFrame([(w,) for w in words2], "item string").write.mode(
        "append"
    ).parquet(landing)
    run_once()
    latest2 = (
        spark.read.parquet(target)
        .groupBy("item")
        .agg(F.max("count_lb").alias("count_lb"))
    )
    got2 = {r.item: r.count_lb for r in latest2.collect()}
    assert got2 == {"apple": 40, "banana": 20, "cherry": 5, "durian": 7}


def test_mg_heavy_hitters_stream_bounded_state(spark, tmp_path):
    """k below the distinct count: every emitted summary holds <= k
    items per shard and count_lb never exceeds the true count (the MG
    underestimate contract) while every true heavy item survives."""
    from dpe_energy_performance_analysis_etl_spark.streaming.stateful import (
        mg_heavy_hitters_stream,
    )

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    rows = [("hot",)] * 200 + [(f"rare{i}",) for i in range(60)]
    spark.createDataFrame(rows, "item string").write.parquet(landing)

    stream = spark.readStream.schema("item string").parquet(landing)
    out = mg_heavy_hitters_stream(stream, "item", k=4, n_shards=1)
    q = (
        out.writeStream.foreachBatch(
            lambda bdf, _bid: bdf.write.mode("append").parquet(target)
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    res = spark.read.parquet(target)
    per_trigger = res.groupBy("shard").count().collect()
    assert all(r["count"] <= 4 * 10 for r in per_trigger)  # <= k rows per emission x triggers
    hot = {r.item: r.count_lb for r in res.collect() if r.item == "hot"}
    assert hot and max(hot.values()) <= 200  # underestimate, present


def test_interval_join_left_outer_emits_unmatched_after_watermark(spark, events, tmp_path):
    """left_outer stream-stream interval join: unmatched left rows
    emit with NULL right columns once the watermark proves no match
    can arrive. Events older than (final watermark - horizon) must
    all appear — matched or null-padded; the batch left join is the
    reference for that closed region."""
    from dpe_energy_performance_analysis_etl_spark.streaming import interval_join_streams

    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    target = str(tmp_path / "joined_lo")
    ckpt = str(tmp_path / "ckpt_lo")

    # sparse right side => plenty of unmatched left rows
    left = events.filter("event_id % 2 = 0 AND user_id < 30")
    right = events.filter("event_id % 11 = 1 AND user_id < 30")
    left.write.parquet(left_dir)
    right.write.parquet(right_dir)

    q = interval_join_streams(
        spark, left_dir, right_dir, EVENT_SCHEMA, EVENT_SCHEMA,
        target, ckpt, key_col="user_id", upper="10 minutes",
        watermark="1 minute", how="left_outer",
    )
    assert q.awaitTermination(180)
    out = spark.read.parquet(target)
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in out.collect()
    }
    assert any(r_ev is None for _, _, r_ev in got), "no null-padded rows emitted"

    # closed region: left rows whose full match window is behind the
    # final watermark (max event time - 1 minute watermark delay)
    # the GLOBAL watermark is the MIN over both inputs — the sparse
    # right stream's max event time is what gates eviction, not the
    # corpus max
    lmax = left.agg(F.max("ts")).collect()[0][0]
    rmax = right.agg(F.max("ts")).collect()[0][0]
    import datetime

    # generous margin past (upper + watermark): the engine's eviction
    # math is trigger-lagged, so the theoretical 11-minute boundary is
    # only eventually tight
    closed_before = min(lmax, rmax) - datetime.timedelta(minutes=30)
    closed_left = left.filter(F.col("ts") < F.lit(closed_before))
    batch = (
        closed_left.alias("a")
        .join(
            right.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 minutes")),
            "left",
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("l_event_id"),
            F.col("b.event_id").alias("r_event_id"),
        )
    )
    want = {(r.user_id, r.l_event_id, r.r_event_id) for r in batch.collect()}
    closed_ids = {r.event_id for r in closed_left.collect()}
    got_closed = {t for t in got if t[1] in closed_ids}
    assert want and got_closed == want


def test_cdc_chunks_streaming_matches_batch(spark, tmp_path):
    """cdc_chunks is pure column expressions, so it applies unchanged
    to a streaming DataFrame: chunking a document stream
    (AvailableNow) produces exactly the batch chunk table — the
    sub-document dedup path works as an ingest-time transform."""
    from pyspark.sql import functions as F, types as T

    from dpe_energy_performance_analysis_etl_spark.text.chunking import cdc_chunks

    src = str(tmp_path / "docs_landing")
    out = str(tmp_path / "chunks_out")
    ckpt = str(tmp_path / "chunks_ckpt")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    docs.write.parquet(src)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        cdc_chunks(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, cdc_chunks(docs).collect()))
    assert got == want and len(want) > 100


def test_maintained_iblt_stream_reconciles_vs_snapshot(spark, tmp_path):
    """Streamed IBLT state decoded against a snapshot == the batch
    iblt_set_diff of (all streamed keys) vs snapshot == the true
    anti-join diff; a second availableNow run merges only the new
    file's cells (the monoid property across micro-batches)."""
    from pyspark.sql import functions as F, types as T

    from dpe_energy_performance_analysis_etl_spark.operators.diff import iblt_set_diff
    from dpe_energy_performance_analysis_etl_spark.streaming import (
        maintained_iblt_stream,
        streaming_set_diff_vs,
    )

    src = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("key", T.LongType())])

    # stream keys 0..399 in two files (disjoint: at-most-once per key)
    spark.range(0, 200).select(F.col("id").alias("key")).write.mode(
        "append"
    ).parquet(src)
    spark.range(200, 400).select(F.col("id").alias("key")).write.mode(
        "append"
    ).parquet(src)
    q = maintained_iblt_stream(
        spark, src, schema, state, ckpt, "key", n_cells=1024, k=3
    )
    assert q.awaitTermination(120)

    # snapshot: keys 100..499 -> left_only = 0..99, right_only = 400..499
    snap = spark.range(100, 500).select(F.col("id").alias("key"))
    got = {
        (r["key"], r["side"])
        for r in streaming_set_diff_vs(
            spark, state, snap, "key", n_cells=1024, k=3
        ).collect()
    }
    exp = {(k, "left_only") for k in range(100)} | {
        (k, "right_only") for k in range(400, 500)
    }
    assert got == exp

    # batch operator agrees on the same inputs
    allkeys = spark.range(0, 400).select(F.col("id").alias("key"))
    batch = {
        (r["key"], r["side"])
        for r in iblt_set_diff(allkeys, snap, "key", n_cells=1024, k=3).collect()
    }
    assert batch == exp

    # new arrivals merge as a delta: stream 400..449, diff shrinks
    spark.range(400, 450).select(F.col("id").alias("key")).write.mode(
        "append"
    ).parquet(src)
    q = maintained_iblt_stream(
        spark, src, schema, state, ckpt, "key", n_cells=1024, k=3
    )
    assert q.awaitTermination(120)
    got2 = {
        (r["key"], r["side"])
        for r in streaming_set_diff_vs(
            spark, state, snap, "key", n_cells=1024, k=3
        ).collect()
    }
    exp2 = {(k, "left_only") for k in range(100)} | {
        (k, "right_only") for k in range(450, 500)
    }
    assert got2 == exp2


def test_streaming_bradley_terry_leaderboard_matches_batch(spark, tmp_path):
    """Pair counts are an additive monoid: a stream-maintained
    (winner, loser) count matrix + bradley_terry_from_counts must
    equal the batch bradley_terry_mm over ALL matches — the
    incremental arena-leaderboard twin."""
    from pyspark.sql import types as T

    from dpe_energy_performance_analysis_etl_spark.operators.ml import (
        bradley_terry_from_counts,
        bradley_terry_mm,
    )
    from dpe_energy_performance_analysis_etl_spark.streaming import (
        maintained_agg_stream,
        read_agg_state,
    )

    src = str(tmp_path / "landing")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [
            T.StructField("winner", T.StringType()),
            T.StructField("loser", T.StringType()),
        ]
    )

    def mk(i):
        return ("ABC"[i % 3], "ABC"[(i + 1 + i // 7 % 2) % 3])

    all_rows = [mk(i) for i in range(300) if mk(i)[0] != mk(i)[1]]
    half = len(all_rows) // 2
    spark.createDataFrame(all_rows[:half], schema).write.mode("append").parquet(src)
    q = maintained_agg_stream(
        spark, src, schema, state, ckpt, ["winner", "loser"],
        {"n": ("count", "winner")},
    )
    assert q.awaitTermination(120)
    spark.createDataFrame(all_rows[half:], schema).write.mode("append").parquet(src)
    q = maintained_agg_stream(
        spark, src, schema, state, ckpt, ["winner", "loser"],
        {"n": ("count", "winner")},
    )
    assert q.awaitTermination(120)

    stream_lb = sorted(
        map(tuple, bradley_terry_from_counts(read_agg_state(spark, state)).collect())
    )
    batch_lb = sorted(
        map(
            tuple,
            bradley_terry_mm(spark.createDataFrame(all_rows, schema)).collect(),
        )
    )
    assert stream_lb == batch_lb


def test_maintained_user_days_stream_dau_mau_matches_batch(spark, tmp_path):
    """The (user, day) activity SET is an idempotent mergeable monoid:
    the stream-maintained state fed through the boundary-diff metric
    must equal batch sliding_distinct_daily over ALL events — the
    exact-DAU/MAU streaming twin."""
    import datetime as dt

    from pyspark.sql import types as T

    from dpe_energy_performance_analysis_etl_spark.operators.temporal import (
        sliding_distinct_daily,
        sliding_distinct_from_user_days,
    )
    from dpe_energy_performance_analysis_etl_spark.streaming import (
        maintained_user_days_stream,
        read_agg_state,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    src = str(tmp_path / "src")
    rows1 = [
        (u, dt.datetime(2021, 3, 1) + dt.timedelta(days=d, hours=u), u * 100 + d)
        for u in range(1, 6)
        for d in range(0, 10, u)  # staggered activity patterns
    ]
    rows2 = [
        (u, dt.datetime(2021, 3, 12) + dt.timedelta(days=d), 10_000 + u * 100 + d)
        for u in range(3, 9)
        for d in range(0, 6, 2)
    ]
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(src)

    q = maintained_user_days_stream(
        spark,
        src,
        schema,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    state = read_agg_state(spark, str(tmp_path / "state"))
    got = sorted(
        map(
            tuple,
            sliding_distinct_from_user_days(state, window_days=7).collect(),
        )
    )
    batch_events = spark.createDataFrame(rows1 + rows2, schema)
    want = sorted(
        map(tuple, sliding_distinct_daily(batch_events, window_days=7).collect())
    )
    assert got == want and len(got) >= 15
