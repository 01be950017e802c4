"""End-to-end pipeline tests — offline (injected fetch fakes and an
in-memory sink; the reference's equivalent tests hit live APIs)."""

import pytest

from dpe_energy_performance_analysis_etl_spark.pipelines import (
    DataExtractor,
    DataLoader,
    DataTransformer,
)
from dpe_energy_performance_analysis_etl_spark.pipelines.transform import GOLD_TABLES, LOAD_ORDER


@pytest.fixture()
def extractor(spark, zones, fake_fetch_ban, fake_fetch_ademe):
    return DataExtractor(spark, zones, fetch_ban=fake_fetch_ban, fetch_ademe=fake_fetch_ademe)


def test_extract_end_to_end(extractor, enedis_csv, zones):
    silver = extractor.extract(enedis_csv)
    assert silver.count() > 0
    cols = set(silver.columns)
    # normalized, suffixed, batch-stamped (SURVEY §3.1 step 5)
    assert "batch_id" in cols
    assert any(c.endswith("_enedis") for c in cols)
    assert any(c.endswith("_ademe") for c in cols)
    # alpha-sorted except batch_id, which is stamped after normalization
    # (reference order: extract.py:578-579)
    body = [c for c in silver.columns if c != "batch_id"]
    assert body == sorted(body)
    # silver zone written and reloadable
    reloaded = extractor.spark.read.parquet(f"{zones.zones.silver}/extraction")
    assert reloaded.count() == silver.count()


def test_extract_dept_filter_and_limit(extractor, enedis_csv):
    extractor.get_enedis_data(enedis_csv, code_departement="06", rows=5)
    got = extractor.input.collect()
    assert len(got) == 5
    assert all(r.code_departement == 6 for r in got)


def test_extract_validation_gate(spark, zones, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("foo;bar\n1;2\n")
    ex = DataExtractor(spark, zones, fetch_ban=lambda a: [], fetch_ademe=lambda a: [])
    from dpe_energy_performance_analysis_etl_spark.schema import SchemaValidationError

    with pytest.raises(SchemaValidationError):
        ex.get_enedis_data(str(bad))


def test_transform_and_load_idempotent(extractor, enedis_csv, spark, zones):
    silver = extractor.extract(enedis_csv)
    entities = DataTransformer(spark, silver, zones).run()
    assert set(LOAD_ORDER) <= set(entities)
    logements = entities["logements"]
    assert logements.count() > 0
    assert "conso_kwh_m2" in logements.columns
    stats = entities["tests_statistiques_dpe"]
    srows = stats.collect()
    assert len(srows) > 0
    assert {"sample_size", "paired_t_test_p_value", "batch_id"} <= set(stats.columns)

    # in-memory sink: second run must append nothing (idempotence J3/J4)
    sink: dict[str, list] = {}

    def read_existing(table, key_cols):
        if table not in sink:
            return None
        return sink[table][0].select(*key_cols)

    def append(df, table):
        sink.setdefault(table, []).append(df.cache())
        df.count()

    loader = DataLoader(spark, zones, read_existing_keys=read_existing, append=append)
    first = loader.run(entities)
    assert sum(first.values()) > 0
    loader2 = DataLoader(spark, zones, read_existing_keys=read_existing, append=append)
    second = loader2.run(entities)
    assert sum(second.values()) == 0, f"second run appended rows: {second}"


def test_transform_writes_each_declared_gold_table(extractor, enedis_csv, spark, zones):
    """Each gold file holds exactly its table's declared columns, in
    order and with the declared types, and its primary key columns."""
    silver = extractor.extract(enedis_csv)
    assert set(DataTransformer(spark, silver, zones).run()) == set(GOLD_TABLES)
    for name, (key, columns) in GOLD_TABLES.items():
        schema = spark.read.parquet(f"{zones.zones.gold}/{name}").schema
        assert set(key) <= set(schema.names), name
        if columns:
            declared = [(n, dtype) for n, (dtype, _) in columns.items()]
            assert [(f.name, f.dataType) for f in schema] == declared, name


def test_transform_without_enedis_consumption(spark, zones, enedis_csv, tmp_path,
                                              fake_fetch_ban, fake_fetch_ademe):
    """An Enedis CSV with neither the per-logement nor the per-site
    consumption column: ``conso_kwh`` takes its default, and the
    measured consumption falls back to the ADEME final one, so their
    difference is 0."""
    site = "consommation_annuelle_moyenne_par_site_de_l_adresse_mwh"
    lines = [line.split(";") for line in open(enedis_csv).read().splitlines()]
    drop = lines[0].index(site)
    csv = tmp_path / "enedis_no_conso.csv"
    csv.write_text("\n".join(";".join(f[:drop] + f[drop + 1:]) for f in lines) + "\n")
    silver = DataExtractor(
        spark, zones, fetch_ban=fake_fetch_ban, fetch_ademe=fake_fetch_ademe
    ).extract(str(csv))
    assert not [c for c in silver.columns if c.startswith("consommation_annuelle_moyenne")]
    rows = (
        DataTransformer(spark, silver, zones).run()["logements"]
        .select("conso_kwh", "absolute_diff_conso_fin_act").collect()
    )
    assert rows and {(r.conso_kwh, r.absolute_diff_conso_fin_act) for r in rows} == {(-1.0, 0.0)}


def test_transform_declared_schema_roundtrip(extractor, enedis_csv, spark, zones, tmp_path):
    """The declared-schema cast path (apply_schema via persisted JSON),
    reference flow: infer once, persist, re-apply on later batches."""
    from dpe_energy_performance_analysis_etl_spark.schema import save_schema_json

    silver = extractor.extract(enedis_csv)
    t1 = DataTransformer(spark, silver, zones)
    t1.cast(None)  # autocast infers types
    schema_path = str(tmp_path / "silver_schema.json")
    save_schema_json(t1.df, schema_path)

    t2 = DataTransformer(spark, silver, zones)
    t2.cast(types_schema_fpath=schema_path)
    # declared-schema cast reproduces the autocast run's types exactly
    assert dict(t2.df.dtypes) == dict(t1.df.dtypes)
    entities = t2.impute().derive().select_and_split().make_statistical_metrics().save_all()
    assert entities["logements"].count() > 0


def test_loader_respects_fk_order(extractor, enedis_csv, spark, zones):
    silver = extractor.extract(enedis_csv)
    entities = DataTransformer(spark, silver, zones).run()
    order_seen = []

    def append(df, table):
        order_seen.append(table)
        df.count()

    DataLoader(spark, zones, read_existing_keys=lambda t, k: None, append=append).run(entities)
    assert order_seen == [t for t in LOAD_ORDER if t in entities]
    assert order_seen[0] == "tests_statistiques_dpe" and order_seen[-1] == "logements"


def _memory_sink(spark, keys: dict[str, list] | None = None):
    """(read_existing_keys, append) over an in-memory dict of DataFrames,
    optionally preloaded with one-column key lists; ``appended`` maps
    each table to the rows written to it."""
    appended: dict[str, list] = {}

    def read_existing(table, key_cols):
        if table not in (keys or {}):
            return None
        return spark.createDataFrame([(k,) for k in keys[table]], f"{key_cols[0]} string")

    def append(df, table):
        appended.setdefault(table, []).extend(df.collect())

    return read_existing, append, appended


def test_loader_skips_a_null_key_the_sink_holds(spark, zones):
    """A sink that already holds a null key gets no second row for it:
    the gate compares keys null-safely, as ``dropDuplicates`` does."""
    batch = spark.createDataFrame(
        [(None, "again"), ("a", "again"), ("b", "new")], "id_ban string, label_ban string"
    )
    read_existing, append, appended = _memory_sink(spark, {"adresses": ["a", None]})
    counts = DataLoader(spark, zones, read_existing_keys=read_existing, append=append).run(
        {"adresses": batch}
    )
    assert counts == {"adresses": 1}
    assert [r.id_ban for r in appended["adresses"]] == ["b"]


def test_loader_keeps_the_same_row_per_key_in_any_order(spark, zones):
    """Gold rows with several rows per PK, handed to the loader in two
    orders, write the same row per key: the gate keeps a fixed row, not
    whichever row a partition meets first."""
    from pyspark.sql import functions as F

    rows = [(f"id{k}", f"v{v}", float(v)) for k in range(5) for v in range(4)]
    gold = spark.createDataFrame(rows, "_id_ademe string, label string, conso double")
    written = []
    for order in (F.col("label").asc(), F.col("label").desc()):
        read_existing, append, appended = _memory_sink(spark)
        loader = DataLoader(spark, zones, read_existing_keys=read_existing, append=append)
        assert loader.run({"logements": gold.orderBy(order).coalesce(1)}) == {"logements": 5}
        written.append(sorted(map(tuple, appended["logements"])))
    assert written[0] == written[1]
    assert [r[0] for r in written[0]] == [f"id{k}" for k in range(5)]


def test_loader_over_derby_appends_nothing_on_rerun(spark, zones, tmp_path, monkeypatch):
    """The loader's default JDBC sink on embedded Derby, string keys in
    CLOB columns (Spark's Derby type for a string): a second run over
    the same gold rows, null key included, appends nothing. Derby
    cannot compare CLOB, so the gate must not push a key range for
    string keys into the key read."""
    from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
    from dpe_energy_performance_analysis_etl_spark.sources.jdbc_dialect import execute_statements

    url = f"jdbc:derby:{tmp_path}/loaddb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # unquoted DDL: Derby folds the names to upper case, which the
    # sink's key read resolves case-insensitively
    execute_statements(spark, url, props, ["CREATE TABLE adresses (id_ban CLOB, label_ban CLOB)"])
    monkeypatch.setattr(EngineConfig, "jdbc_properties", property(lambda self: props))
    zones.jdbc_url = url
    gold = spark.createDataFrame(
        [("a", "x"), ("b", "y"), (None, "z")], "id_ban string, label_ban string"
    )
    assert DataLoader(spark, zones).run({"adresses": gold}) == {"adresses": 3}
    assert DataLoader(spark, zones).run({"adresses": gold}) == {"adresses": 0}
    assert spark.read.jdbc(url, "adresses", properties=props).count() == 3


def test_loader_reruns_over_a_derby_table_it_created(spark, zones, tmp_path, monkeypatch):
    """The loader's default JDBC sink creates the table itself on
    embedded Derby: Spark's writer quotes the engine's lower-case
    column names, so the table holds ``"id_ban"``, not ``ID_BAN``, and
    the second run's key read must quote them too. It appends 0 rows
    instead of failing on a column name the database folded to upper
    case."""
    from dpe_energy_performance_analysis_etl_spark.config import EngineConfig

    url = f"jdbc:derby:{tmp_path}/owndb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    monkeypatch.setattr(EngineConfig, "jdbc_properties", property(lambda self: props))
    zones.jdbc_url = url
    gold = spark.createDataFrame([("a", "x"), ("b", "y")], "id_ban string, label_ban string")
    assert DataLoader(spark, zones).run({"adresses": gold}) == {"adresses": 2}
    assert DataLoader(spark, zones).run({"adresses": gold}) == {"adresses": 0}
    back = spark.read.jdbc(url, "adresses", properties=props)
    assert back.columns == ["id_ban", "label_ban"]
    assert back.count() == 2


def _counted(fetch, acc):
    """Count calls to ``fetch`` in a Spark accumulator: the fetch runs
    inside executor tasks, where a driver-side counter never sees it."""

    def call(key):
        acc.add(1)
        return fetch(key)

    return call


def _distinct(spark, path, col):
    return {r[0] for r in spark.read.parquet(path).select(col).distinct().collect()}


def test_run_etl_fetches_each_key_once(
    spark, zones, enedis_csv, fake_fetch_ban, fake_fetch_ademe, tmp_path
):
    """Every distinct API key is fetched once per run: each zone write is
    a durable boundary, so no later action (silver/gold writes, autocast
    and impute collects, load) replays a fetch stage. A second run over
    the same sink appends no entity row."""
    from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
    from dpe_energy_performance_analysis_etl_spark.pipelines.etl import parquet_sink, run_etl

    sc = spark.sparkContext
    ban_calls, ademe_calls = sc.accumulator(0), sc.accumulator(0)
    fetch_ban = _counted(fake_fetch_ban, ban_calls)
    fetch_ademe = _counted(fake_fetch_ademe, ademe_calls)
    read_existing, append = parquet_sink(spark, str(tmp_path / "gold_db"))

    def run(config):
        return run_etl(
            spark, enedis_csv, fetch_ban, fetch_ademe, config=config,
            read_existing_keys=read_existing, append=append,
        )

    first = run(zones)
    addresses = (
        DataExtractor(spark, zones).get_enedis_data(enedis_csv)
        .input.select("full_adress").distinct().count()
    )
    ban_ids = _distinct(spark, f"{zones.zones.bronze}/enedis_with_ban", "id_BAN")
    assert ban_calls.value == addresses
    assert ademe_calls.value == len(ban_ids)
    assert sum(first.values()) > 0

    second = run(EngineConfig())
    assert (ban_calls.value, ademe_calls.value) == (2 * addresses, 2 * len(ban_ids))
    entity_rows = {t: n for t, n in second.items() if t != "tests_statistiques_dpe"}
    assert entity_rows and sum(entity_rows.values()) == 0, second


def test_zones_agree_under_nondeterministic_fetch(spark, zones, enedis_csv, fake_fetch_ban):
    """A geocoder that answers with a fresh id on every call (a live API
    may change its answer between calls) still leaves bronze, silver and
    gold with one id set: each zone is built from the files of the zone
    before it, never from a second fetch."""
    import uuid

    from dpe_energy_performance_analysis_etl_spark.pipelines.etl import offline_fetchers, run_etl

    def fetch_ban(addr):
        return [{**rec, "id_ban": f"ban_{uuid.uuid4()}"} for rec in fake_fetch_ban(addr)]

    _, fetch_ademe = offline_fetchers()
    run_etl(
        spark, enedis_csv, fetch_ban, fetch_ademe, config=zones,
        read_existing_keys=lambda table, key_cols: None, append=lambda df, table: None,
    )
    bronze = _distinct(spark, f"{zones.zones.bronze}/enedis_with_ban", "id_BAN")
    silver = _distinct(spark, f"{zones.zones.silver}/extraction", "id_ban")
    gold = _distinct(spark, f"{zones.zones.gold}/adresses", "id_ban")
    assert len(bronze) == 12  # one fresh id per distinct address
    assert bronze == silver == gold


def test_run_etl_logs_one_record_per_stage(
    spark, zones, enedis_csv, fake_fetch_ban, fake_fetch_ademe, caplog
):
    """Each stage ``run_etl`` calls logs one structured record for its
    run, keyed by the run's batch_id."""
    import json
    import logging

    from dpe_energy_performance_analysis_etl_spark.pipelines.etl import run_etl

    with caplog.at_level(logging.INFO, logger="dpe_spark_engine"):
        run_etl(
            spark, enedis_csv, fake_fetch_ban, fake_fetch_ademe, config=zones,
            read_existing_keys=lambda table, key_cols: None, append=lambda df, table: None,
        )
    records = [json.loads(r.getMessage()) for r in caplog.records if r.name == "dpe_spark_engine"]
    assert sorted(r["op"] for r in records) == [
        "DataExtractor.extract", "DataLoader.run", "DataTransformer.run"
    ]
    assert all(r["status"] == "SUCCESS" for r in records), records
    assert all(r["correlation_id"] == zones.batch_id for r in records), records


def test_run_jobs_keep_the_callers_job_group(extractor, enedis_csv, spark, zones):
    """The gold writes and load gates run on worker threads; every Spark
    job they launch still carries the caller's job group (a plain thread
    would start with no local properties and launch ungrouped jobs)."""
    silver = extractor.extract(enedis_csv)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("transform-and-load", "transform and load under one group")
    try:
        entities = DataTransformer(spark, silver, zones).run()
        counts = DataLoader(
            spark, zones, read_existing_keys=lambda t, k: None, append=lambda df, t: df.count()
        ).run(entities)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    assert sum(counts.values()) > 0
    assert tracker.getJobIdsForGroup("transform-and-load")
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_failed_gate_stops_load_before_any_append(extractor, enedis_csv, spark, zones):
    """The gates run before any append, so a gate that raises for one
    table (here the third in load order) surfaces from ``run`` and
    nothing reaches the sink, not even the tables ahead of it."""
    silver = extractor.extract(enedis_csv)
    entities = DataTransformer(spark, silver, zones).run()
    appended = []

    def read_existing(table, key_cols):
        if table == "villes":
            raise ConnectionError("sink unreachable")
        return None

    loader = DataLoader(
        spark, zones, read_existing_keys=read_existing, append=lambda df, t: appended.append(t)
    )
    with pytest.raises(ConnectionError, match="sink unreachable"):
        loader.run(entities)
    assert LOAD_ORDER.index("villes") == 2 and appended == []


def _children(node):
    """Children of a physical plan node, looking through AQE's
    adaptive root and query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "ReusedExchangeExec":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _scans_before_a_join(node):
    """Root paths of the file scans that feed ``node`` without a join
    in between."""
    name = node.getClass().getSimpleName()
    if "Join" in name:
        return []
    if name == "FileSourceScanExec":
        return [node.relation().location().rootPaths().head().toString()]
    return [p for child in _children(node) for p in _scans_before_a_join(child)]


def _broadcast_inputs(node):
    """File scans read by every BroadcastExchange of the plan under
    ``node``, up to the nearest join below the exchange."""
    found = []
    if node.getClass().getSimpleName() == "BroadcastExchangeExec":
        found = _scans_before_a_join(node)
    return found + [p for child in _children(node) for p in _broadcast_inputs(child)]


def test_load_gate_joins_only_the_batch_keys(spark, tmp_path):
    """A sink whose key column is larger than the broadcast threshold:
    a second load appends no row, and no broadcast in the gate's plan
    reads the sink directly. The gate first reduces the history to the
    batch's keys, so its memory is bounded by the batch, not the sink."""
    from pyspark.sql import functions as F

    from dpe_energy_performance_analysis_etl_spark.operators import anti_join_new_rows
    from dpe_energy_performance_analysis_etl_spark.pipelines.etl import parquet_sink

    sink = tmp_path / "gold_db"
    read_existing, append = parquet_sink(spark, str(sink))
    history = spark.range(50_000).select(
        F.format_string("ban_%08d", "id").alias("id_ban"), F.lit("old").alias("label_ban")
    )
    append(history, "adresses")
    rows = [(f"ban_{i:08d}", "seen") for i in range(0, 40, 4)]
    rows += [(f"new_{i}", "new") for i in range(10)]
    gold = str(tmp_path / "gold" / "adresses")
    spark.createDataFrame(rows, "id_ban string, label_ban string").write.parquet(gold)
    batch = spark.read.parquet(gold)

    threshold_key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(threshold_key)
    spark.conf.set(threshold_key, str(64 * 1024))
    try:
        keys = read_existing("adresses", ["id_ban"])
        assert keys._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > 64 * 1024

        def load():
            loader = DataLoader(spark, read_existing_keys=read_existing, append=append)
            return loader.run({"adresses": batch})["adresses"]

        assert load() == 10
        assert load() == 0
        gate = anti_join_new_rows(batch, read_existing("adresses", ["id_ban"]), ["id_ban"])
        assert gate.collect() == []
        plan = gate._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(threshold_key, threshold)
    broadcast = _broadcast_inputs(plan)
    assert broadcast, "expected the batch's keys to be broadcast"
    assert not [p for p in broadcast if str(sink) in p], broadcast


def test_pandas_api_on_spark_migration_path(spark):
    """The reference's users write pandas; pyspark.pandas runs that
    style unchanged on this engine's session and agrees with the
    DataFrame API — the incremental migration path for reference
    pipelines (eager pandas idioms, distributed execution)."""
    import warnings

    warnings.filterwarnings("ignore", category=FutureWarning)
    import pyspark.pandas as ps
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    pdf = ps.read_parquet(f"{sf}/orders.parquet")
    # reference-style chain: filter → derive → groupby → agg
    pdf = pdf[pdf["o_totalprice"] > 0]
    pdf["big"] = pdf["o_totalprice"] > 200_000
    got = pdf.groupby("o_orderpriority")["big"].sum().sort_index()

    want = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(f"{sf}/orders.parquet")
        .filter(F.col("o_totalprice") > 0)
        .groupBy("o_orderpriority")
        .agg(F.count_if(F.col("o_totalprice") > 200_000).alias("n"))
        .collect()
    }
    assert {k: int(v) for k, v in got.items()} == want


def test_cli_entry_point_smoke(spark, enedis_csv, tmp_path, monkeypatch):
    """VERDICT r1 next#8: the runnable deployment entry point — the
    thing an external cron invokes (reference: etl_app.py:84-95) —
    runs the whole flow on offline fetchers with the parquet sink,
    prints a JSON summary, and is idempotent across invocations."""
    import json

    from dpe_energy_performance_analysis_etl_spark.pipelines.etl import main

    monkeypatch.setenv("ENGINE_DATA_ROOT", str(tmp_path / "data"))
    gold_db = str(tmp_path / "gold_db")
    argv = ["--input", enedis_csv, "--rows", "6", "--gold-db", gold_db]

    counts = main(argv)
    assert sum(counts.values()) > 0
    assert {"logements", "adresses"} <= set(counts)
    back = spark.read.parquet(f"{gold_db}/logements")
    assert back.count() == counts["logements"]

    # second invocation: anti-join idempotence — entity tables append
    # nothing; only tests_statistiques_dpe grows, because its PK
    # includes batch_id (per the reference PK map, load.py:45-52) and
    # each run is a new batch
    counts2 = main(argv)
    entity_only = {t: n for t, n in counts2.items() if t != "tests_statistiques_dpe"}
    assert sum(entity_only.values()) == 0, counts2
    assert counts2["tests_statistiques_dpe"] > 0


def test_cli_offline_fetchers_deterministic():
    from dpe_energy_performance_analysis_etl_spark.pipelines.etl import offline_fetchers

    ban1, ademe1 = offline_fetchers()
    ban2, ademe2 = offline_fetchers()
    assert ban1("10 RUE LACOUR 06029 Cannes") == ban2("10 RUE LACOUR 06029 Cannes")
    recs = ademe1("ban_123")
    assert recs == ademe2("ban_123") and len(recs) == 2
    assert all(r["identifiant_ban"] == "ban_123" for r in recs)
