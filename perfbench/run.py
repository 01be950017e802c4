"""ETL + analytics benchmark for the engine.

One run starts a fresh Spark session (``local[nproc]``), generates its
inputs from ``--seed`` and runs ``pipelines.etl.run_etl`` once with the
engine's ``offline_fetchers()`` and ``parquet_sink`` (cold, as the
scheduled CLI runs it in a fresh process). The appended row counts are
checked against counts worked out in plain Python.

    python3 perfbench/run.py --workload etl_cold --seed 1 --seconds 4 --trace 0

With ``--trace 0`` the last stdout line carries the end-to-end
metrics. With ``--trace 1`` the same ``run_etl`` call runs with the layers'
public methods wrapped, so each call into them gets its own span and
Spark job group; then a few ``plans.QUERIES`` analytics queries are checked against their
DuckDB oracle and timed for ``--seconds``, and the line carries the
per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "dpe_energy_performance_analysis_etl_spark"

# addresses: distinct addresses in the Enedis CSV (4 yearly rows each);
# history_addresses: addresses whose gold rows are preloaded into the sink.
WORKLOADS = {
    "etl_cold": {"addresses": 8, "history_addresses": 0},
    "etl_rerun": {"addresses": 4, "history_addresses": 200_000},
}

# Analytics headliners that read only the TPC-H-shaped tables: a scan
# aggregate, a window dedup and a contingency statistic over a join.
QUERIES = ["q1_pricing_summary", "dedup_keep_first", "cramers_v_priority_status"]
TPCH_SCALE = 0.01  # 60 000 lineitem rows
TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
SETUP_REPEATS = 3
# sources.rest's public functions: the traced run counts calls into them
REST_ENTRY_POINTS = ["rest_lookup_join", "paged_rest_scan", "shared_limiter"]
EXTRACT_STEPS = ["get_enedis_data", "get_ban_data", "merge_enedis_ban", "get_ademe_data", "merge_all"]
TRANSFORM_STEPS = ["cast", "impute", "derive", "select_and_split", "make_statistical_metrics", "save_all"]


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; hidden and marker files skipped."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def _cpu_busy_s() -> float:
    """CPU seconds this machine has spent busy, summed over its cores.
    Time the hypervisor gave to other guests (steal) is not included,
    so a delta is the work done, whatever the host's load."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq = map(int, fh.readline().split()[1:8])
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers must import the package: put the checkout on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["ENGINE_DATA_ROOT"] = os.path.join(work, "zones")
    for var in ("ENGINE_PATH_BRONZE", "ENGINE_PATH_SILVER", "ENGINE_PATH_GOLD", "ENGINE_JDBC_URL"):
        os.environ.pop(var, None)

    from dpe_energy_performance_analysis_etl_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the JVM exits
    when its stdin closes, and takes its Python workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _generate(work: str, spec: dict, seed: int, rep: int) -> dict:
    import gen

    d = os.path.join(work, f"inputs{rep}")
    os.makedirs(d)
    csv = os.path.join(d, "enedis.csv")
    addresses = gen.write_enedis_csv(csv, spec["addresses"], seed)
    sink = os.path.join(d, "sink")
    existing = 0
    if spec["history_addresses"]:
        existing = gen.write_history_sink(sink, addresses, spec["history_addresses"], seed)
    tpch = os.path.join(d, "tpch")
    gen.write_tpch_tables(tpch, TPCH_SCALE, seed)
    expected = gen.expected_counts(addresses)
    if existing:
        # every entity key is already in the sink; only the batch's own
        # statistics rows (batch_id is part of their key) are new
        expected["tables"] = {
            t: (n if t == "tests_statistiques_dpe" else 0) for t, n in expected["tables"].items()
        }
    return {"csv": csv, "sink": sink, "tpch": tpch, "existing_keys": existing, "expected": expected}


def _etl_span_targets() -> list:
    """The public methods ``run_etl`` reaches, each with the span (and
    Spark job group) its calls are timed in; see ``tracing.spans_around``."""
    from dpe_energy_performance_analysis_etl_spark.pipelines.extract import DataExtractor
    from dpe_energy_performance_analysis_etl_spark.pipelines.load import DataLoader
    from dpe_energy_performance_analysis_etl_spark.pipelines.transform import DataTransformer

    return [
        (DataExtractor, "__init__", "extract.init"),
        (DataExtractor, "extract", "extract.extract"),
        *[(DataExtractor, step, f"extract.{step}") for step in EXTRACT_STEPS],
        (DataTransformer, "__init__", "transform.init"),
        (DataTransformer, "run", "transform.run"),
        *[(DataTransformer, step, f"transform.{step}") for step in TRANSFORM_STEPS],
        (DataLoader, "__init__", "load.init"),
        (DataLoader, "run", "load.run"),
        (DataLoader, "save_one_table", lambda df, table: f"load.{table}"),
    ]


class Run:
    """One benchmark run: inputs, the ETL operation, the analytics
    passes, and the tally of attempted and failed operations."""

    def __init__(self, spark, workload: str, seed: int, work: str, trace: bool):
        from tracing import Tracer

        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.work = work
        self.tracer = Tracer(spark) if trace else None
        self.attempted = self.failed = 0

    def _fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: {msg}", file=sys.stderr)

    def setup(self) -> None:
        gen_s = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.inputs = _generate(self.work, WORKLOADS[self.workload], self.seed, rep)
            gen_s.append(time.perf_counter() - t)
        self.gen_s = statistics.median(gen_s)

    def etl(self) -> None:
        from dpe_energy_performance_analysis_etl_spark.config import EngineConfig
        from dpe_energy_performance_analysis_etl_spark.pipelines.etl import (
            offline_fetchers,
            parquet_sink,
            run_etl,
        )
        from tracing import counted, spans_around

        sc = self.spark.sparkContext
        self.ban_calls, self.ademe_calls = sc.accumulator(0), sc.accumulator(0)
        fetch_ban, fetch_ademe = offline_fetchers()
        fetch_ban = counted(fetch_ban, self.ban_calls)
        fetch_ademe = counted(fetch_ademe, self.ademe_calls)
        read_existing, append = parquet_sink(self.spark, self.inputs["sink"])
        self.sink_before = _du(self.inputs["sink"])
        self.attempted += 1
        cpu = _cpu_busy_s()
        t = time.perf_counter()
        try:
            with contextlib.ExitStack() as traced:
                if self.tracer:
                    traced.enter_context(spans_around(self.tracer, _etl_span_targets()))
                    traced.enter_context(self.tracer.span("etl"))
                counts = run_etl(
                    self.spark, self.inputs["csv"], fetch_ban, fetch_ademe,
                    config=EngineConfig(), read_existing_keys=read_existing, append=append,
                )
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            counts = None
            self._fail(f"run_etl raised {exc!r}")
        self.etl_s = time.perf_counter() - t
        self.etl_cpu_s = _cpu_busy_s() - cpu
        self.counts = counts or {}
        if counts is not None and counts != self.inputs["expected"]["tables"]:
            self._fail(f"ETL appended {counts}, expected {self.inputs['expected']['tables']}")
        self.etl_calls = {"ban": self.ban_calls.value, "ademe": self.ademe_calls.value}

    def check_queries(self) -> None:
        """Run each query once and compare it with its DuckDB oracle; this
        is also the analytics warm-up."""
        import duckdb

        from dpe_energy_performance_analysis_etl_spark.plans import ORACLE_SQL, QUERIES as REGISTRY
        from tools.check_queries import compare, spark_nonscalar_cols

        tpch = self.inputs["tpch"]
        con = duckdb.connect()
        for name in TPCH_TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tpch}/{name}.parquet')")
        self.tracer.set_group("analytics.check")
        for q in QUERIES:
            self.attempted += 1
            try:
                query = REGISTRY[q](self.spark, tpch)
                got = query.toPandas()
            except Exception as exc:  # noqa: BLE001
                self._fail(f"{q} raised {exc!r}")
                continue
            problems = compare(q, got, con.execute(ORACLE_SQL[q]).fetch_arrow_table())[0]
            nonscalar = spark_nonscalar_cols(query.schema)
            if nonscalar:
                problems.append(f"non-scalar output columns {nonscalar}")
            if problems:
                self._fail(f"{q} differs from its oracle: {'; '.join(problems)}")
        con.close()
        self.tracer.set_group(None)

    def analytics(self, seconds: float) -> None:
        from dpe_energy_performance_analysis_etl_spark.plans import QUERIES as REGISTRY

        self.passes: list[dict[str, float]] = []
        t_end = time.perf_counter() + seconds
        self.pass_cpu_s: list[float] = []
        while not self.passes or time.perf_counter() < t_end:
            cpu = _cpu_busy_s()
            one = {}
            for q in QUERIES:
                self.attempted += 1
                t = time.perf_counter()
                try:
                    with self.tracer.span(f"plans.{q}"):
                        query = REGISTRY[q](self.spark, self.inputs["tpch"])
                        query.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    self._fail(f"{q} raised {exc!r}")
                one[q] = time.perf_counter() - t
            self.passes.append(one)
            self.pass_cpu_s.append(_cpu_busy_s() - cpu)
        # per query, the median over passes: one slow execution moves nothing
        self.per_query = {q: statistics.median(p[q] for p in self.passes) for q in QUERIES}

    def end_to_end(self, session_s: float) -> dict:
        return {
            "setup_s": (session_s + self.gen_s, "s"),
            "etl_s": (self.etl_s, "s"),
            "etl_cpu_s": (self.etl_cpu_s, "s"),
            "api_calls": (sum(self.etl_calls.values()), "count"),
        }

    def per_layer(self) -> dict:
        from dpe_energy_performance_analysis_etl_spark.pipelines.transform import LOAD_ORDER
        from tracing import COUNTERS, spark_counters_by_group

        tr, exp, calls = self.tracer, self.inputs["expected"], self.etl_calls
        self_s, whole_s = tr.self_times(), tr.durations()
        m = {
            "rest.ban_calls": (calls["ban"], "count"),
            "rest.ademe_calls": (calls["ademe"], "count"),
            "rest.ban_calls_per_key": (calls["ban"] / exp["distinct_ban_keys"], "ratio"),
            "rest.ademe_calls_per_key": (calls["ademe"] / exp["distinct_ademe_keys"], "ratio"),
            "rest.etl_entry_calls": (self.rest_etl_calls, "count"),
            "rest.analytics_calls": (sum(self.rest_calls.values()) - self.rest_etl_calls, "count"),
        }
        for step in EXTRACT_STEPS:
            m[f"extract.{step}_s"] = (self_s.get(f"extract.{step}", 0.0), "s")
        m["extract.extract_s"] = (whole_s.get("extract.extract", 0.0), "s")
        for step in TRANSFORM_STEPS:
            m[f"transform.{step}_s"] = (self_s.get(f"transform.{step}", 0.0), "s")
        m["transform.run_s"] = (whole_s.get("transform.run", 0.0), "s")
        m["load.run_s"] = (whole_s.get("load.run", 0.0), "s")
        for name in LOAD_ORDER:
            m[f"load.{name}_s"] = (self_s.get(f"load.{name}", 0.0), "s")
        m["load.rows_appended"] = (sum(self.counts.values()), "count")
        m["load.existing_keys"] = (self.inputs["existing_keys"], "count")

        zones = os.environ["ENGINE_DATA_ROOT"]
        written = {z: _du(os.path.join(zones, z)) for z in ("bronze", "silver", "gold")}
        sink_after = _du(self.inputs["sink"])
        written["sink"] = (sink_after[0] - self.sink_before[0], sink_after[1] - self.sink_before[1])
        for z, (nbytes, _) in written.items():
            m[f"io.{z}_bytes"] = (nbytes, "bytes")
        m["io.files_written"] = (sum(f for _, f in written.values()), "count")

        groups = spark_counters_by_group(self.spark)
        # analytics counters are per pass; ETL phases run once
        for phase, prefix, runs in (
            ("extract", "extract.", 1),
            ("transform", "transform.", 1),
            ("load", "load.", 1),
            ("analytics", "plans.", len(self.passes)),
        ):
            for k in COUNTERS:
                total = sum(c[k] for g, c in groups.items() if g.startswith(prefix))
                m[f"spark.{phase}.{k}"] = (total / runs, "bytes" if k.endswith("bytes") else "count")
        for q in QUERIES:
            m[f"plans.{q}_s"] = (self.per_query[q], "s")
        m["analytics_s"] = (sum(self.per_query.values()), "s")
        m["query_p50_s"] = (statistics.median(self.per_query.values()), "s")
        m["analytics_cpu_s"] = (statistics.median(self.pass_cpu_s), "s")
        m["analytics.passes"] = (len(self.passes), "count")
        m["peak_rss_mb"] = (_jvm_peak_rss_mb(self.spark), "MB")
        m["fail_frac"] = (self.failed / self.attempted, "ratio")

        # bench.py's fixed calibration loop: host speed at the time of the run
        self.spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()
        t = time.perf_counter()
        self.spark.range(100_000_000).selectExpr("sum(id * 2 + 1)").collect()
        m["host.calib_s"] = (time.perf_counter() - t, "s")
        m["trace.overhead_s"] = (tr.overhead_s, "s")

        etl_wall = whole_s.get("etl", 0.0)
        attributed = sum(v for k, v in self_s.items() if k != "etl" and not k.startswith("plans."))
        tr.dump(
            os.path.join(os.path.dirname(self.work), f"trace-{self.workload}-{self.seed}.json"),
            {
                "workload": self.workload,
                "seed": self.seed,
                "etl_wall_s": etl_wall,
                "etl_layer_self_sum_s": attributed,
                "etl_unattributed_s": etl_wall - attributed,
                "spark_by_group": groups,
                "metrics": {k: v[0] for k, v in m.items()},
            },
        )
        return m


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    t = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t
    try:
        r = Run(spark, workload, seed, work, trace)
        r.setup()
        with contextlib.ExitStack() as traced:
            if trace:
                from dpe_energy_performance_analysis_etl_spark.sources import rest
                from tracing import calls_into

                r.rest_calls = traced.enter_context(calls_into(rest, REST_ENTRY_POINTS, PACKAGE))
            r.etl()
            print(
                f"perfbench: session {session_s:.2f}s, inputs {r.gen_s:.2f}s, "
                f"etl {r.etl_s:.2f}s ({r.etl_cpu_s:.1f} CPU s)",
                file=sys.stderr,
            )
            if trace:
                r.rest_etl_calls = sum(r.rest_calls.values())
                r.check_queries()
                r.analytics(seconds)
        metrics = r.per_layer() if trace else r.end_to_end(session_s)
        return {"attempted": r.attempted, "failed": r.failed, "metrics": metrics}
    finally:
        _stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE} not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]

    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
