"""Structured Streaming surface (SURVEY §2.8).

The reference has no streaming — its closest constructs are weekly
cron batches with batch_id lineage and idempotent anti-join appends
(J3/J4). The Spark-native generalization:

  - ``incremental_append_stream``: a file stream over a landing
    (bronze) directory with ``Trigger.AvailableNow`` — processes
    whatever has arrived, exactly once (checkpointed offsets), runs
    the ETL loader's idempotent-append gate
    (``operators.anti_join_new_rows``) per micro-batch via
    ``foreachBatch``, then stops. Scheduled-batch semantics identical
    to the reference's cron flow, plus recovery the reference lacks.
  - ``windowed_event_counts``: event-time tumbling window aggregation
    with a watermark for late data — the streaming twin of the batch
    ``events_tumbling_window`` query.

Every query started here and in ``stateful.py`` runs once: it is
checkpointed at the caller's ``checkpoint_dir`` and triggered with
``Trigger.AvailableNow`` through ``_start_once``, so a run
processes exactly the files that landed since the last one and then
stops. ``continuous_projection_stream`` is the one exception: it
demonstrates the continuous trigger and runs until stopped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from dpe_energy_performance_analysis_etl_spark.sources.io import hadoop_fs


def _start_once(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` checkpointed at ``checkpoint_dir`` under
    ``Trigger.AvailableNow``: process everything that has landed,
    exactly once across restarts, then stop."""
    return writer.option("checkpointLocation", checkpoint_dir).trigger(availableNow=True).start()


def _start_parquet(df: DataFrame, target_dir: str, checkpoint_dir: str) -> StreamingQuery:
    """Run-once append of ``df``'s finalized rows to parquet files
    under ``target_dir``."""
    return _start_once(
        df.writeStream.format("parquet").option("path", target_dir).outputMode("append"),
        checkpoint_dir,
    )


def _start_foreach_batch(df: DataFrame, fn, checkpoint_dir: str) -> StreamingQuery:
    """Run-once ``fn(batch, batch_id)`` on each micro-batch of ``df``."""
    return _start_once(
        df.writeStream.foreachBatch(fn).outputMode("update"), checkpoint_dir
    )


def incremental_append_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
) -> StreamingQuery:
    """Exactly-once idempotent append from a landing directory.

    Every micro-batch goes through the idempotent-append gate
    ``operators.anti_join_new_rows`` against the CURRENT target on
    ``key_cols`` (same semantics as ``load.py:133-160``) and its new
    rows are appended to ``target_dir``. Checkpointing makes
    re-runs no-ops even after crashes — strictly stronger than the
    reference's read-the-whole-table idempotence.

    Scale: the reference re-read ALL target keys per run
    (``load.py:127-131``); for numeric, date and timestamp keys the gate
    prunes the existing-keys read to the batch's key min/max, pushed
    into the parquet scan as row-group skipping, so per-batch cost
    tracks the batch, not the accumulated target."""
    from dpe_energy_performance_analysis_etl_spark.operators import anti_join_new_rows
    from dpe_energy_performance_analysis_etl_spark.sources import write_parquet
    from dpe_energy_performance_analysis_etl_spark.sources.sinks import _dir_has_data

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            sess = batch.sparkSession
            existing = None
            if _dir_has_data(sess, target_dir):
                existing = sess.read.parquet(target_dir).select(*key_cols)
            write_parquet(anti_join_new_rows(batch, existing, key_cols), target_dir, mode="append")
        finally:
            batch.unpersist()

    return _start_foreach_batch(stream, upsert_batch, checkpoint_dir)


def windowed_event_counts(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_dir: str,
    checkpoint_dir: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> StreamingQuery:
    """Tumbling-window counts/sums with late-data watermark, appended
    to parquet once each window closes. ``slide`` < ``window`` makes
    the windows HOPPING (each event lands in window/slide overlapping
    windows — assignment explodes before the shuffle, state is one row
    per open window, and the watermark closes them in start order);
    the batch twin is the events_hopping_window registry query."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w").start.alias("window_start"), "event_type", "n_events", "total_value")
    )
    return _start_parquet(agg, target_dir, checkpoint_dir)


def streaming_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    within_watermark: bool = False,
) -> StreamingQuery:
    """Streaming exact deduplication: first occurrence of each key
    wins, duplicates within the watermark horizon are dropped by the
    engine's dedup state store. The incremental twin of the batch
    ``dedup`` family — state is bounded by (keys seen within the
    watermark), so it runs forever on an unbounded stream.

    ``within_watermark=True`` switches to
    ``dropDuplicatesWithinWatermark`` (Spark 3.5+): dedup keys expire
    ``watermark`` after their FIRST sighting rather than by event-time
    watermark comparison — the operating mode for at-least-once
    sources (Kafka redelivery, replayed batches) where duplicates
    arrive with *different* event times but within a bounded delay;
    state stays bounded even when the key column itself never
    repeats organically."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    marked = stream.withWatermark(ts_col, watermark)
    if within_watermark:
        deduped = marked.dropDuplicatesWithinWatermark(key_cols)
    else:
        deduped = marked.dropDuplicates(key_cols)
    return _start_parquet(deduped, target_dir, checkpoint_dir)


def stream_to_jdbc(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    url: str,
    table: str,
    properties: dict[str, str],
    key_cols: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming idempotent load into a live database: per micro-batch,
    the idempotent-append gate ``operators.anti_join_new_rows`` against
    the CURRENT table keys, then append of its new rows (J3/J4 + S12,
    ``load.py:133-176``, as a stream).

    Spark has no native JDBC streaming sink, so ``foreachBatch``
    supplies one (``sources.jdbc_sink``); combined with the gate the
    write is effectively exactly-once even though plain JDBC appends
    are only at-least-once under retries — a replayed batch finds its
    keys already present and appends nothing.

    Scale: for numeric, date and timestamp keys the gate's key-range
    filter on the existing-keys read is pushed by Spark into the
    database query — the server scans an index range, not the full
    table, per batch. No broadcast hint on
    the existing side: past ~10⁸ keys a forced broadcast OOMs the
    driver; the pruned read is small enough that AQE picks broadcast
    by itself when it actually fits. Table existence is probed via
    JDBC metadata so a transient connectivity failure fails the
    micro-batch (checkpoint retries) instead of silently skipping the
    gate and duplicating rows."""
    from dpe_energy_performance_analysis_etl_spark.operators import anti_join_new_rows
    from dpe_energy_performance_analysis_etl_spark.sources import jdbc_sink

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def load_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            read_existing_keys, append = jdbc_sink(batch.sparkSession, url, properties)
            append(anti_join_new_rows(batch, read_existing_keys(table, key_cols), key_cols), table)
        finally:
            batch.unpersist()

    return _start_foreach_batch(stream, load_batch, checkpoint_dir)


def interval_join_streams(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    left_schema: T.StructType,
    right_schema: T.StructType,
    target_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    upper: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> StreamingQuery:
    """Stream-stream event-time interval join: for each left row,
    right rows with the same ``key_col`` whose timestamp falls in
    [left_ts, left_ts + ``upper``]. Both sides carry a watermark, so
    the join state store evicts rows once they can no longer match —
    bounded state on unbounded streams (state ≈ one watermark horizon
    per side, regardless of total stream length).

    ``how='left_outer'``: left rows that never matched emit with NULL
    r_* columns — but only once the watermark PROVES no match can
    still arrive (the time-bound is what makes streaming outer joins
    decidable at all; Spark rejects unbounded stream-stream outers).
    Under AvailableNow the final watermark = max event time seen, so
    unmatched rows inside the last horizon stay in state for the next
    run — the same end-of-input semantics as session windows.

    Columns are disambiguated as l_*/r_* (shared ``key_col`` kept
    once). Results append to parquet as matches become final."""
    if how not in ("inner", "left_outer"):
        raise ValueError("interval_join_streams supports inner | left_outer")
    left = spark.readStream.schema(left_schema).parquet(left_dir)
    right = spark.readStream.schema(right_schema).parquet(right_dir)

    def prefixed(df: DataFrame, p: str) -> DataFrame:
        cols = [F.col(key_col)] if p == "l" else []
        cols += [
            F.col(c).alias(f"{p}_{c}")
            for c in df.columns
            if c != key_col
        ]
        return df.select(*cols) if p == "l" else df.select(F.col(key_col).alias("r_key"), *cols)

    l = prefixed(left.withWatermark(ts_col, watermark), "l")
    r = prefixed(right.withWatermark(ts_col, watermark), "r")
    joined = l.join(
        r,
        F.expr(
            f"{key_col} = r_key AND r_{ts_col} >= l_{ts_col} "
            f"AND r_{ts_col} <= l_{ts_col} + INTERVAL {upper}"
        ),
        how,
    ).drop("r_key")
    return _start_parquet(joined, target_dir, checkpoint_dir)


def continuous_projection_stream(
    spark: SparkSession,
    query_name: str,
    rows_per_second: int = 100,
    checkpoint_ms: int = 1000,
    num_partitions: int = 2,
) -> StreamingQuery:
    """Continuous-trigger (epoch-based, ~ms latency) processing over
    the rate source into an in-memory sink. Continuous mode supports
    only map-side operations (projection/filter — no shuffles), which
    is exactly the shape of a low-latency enrichment hop; aggregations
    belong in micro-batch mode upstream/downstream.

    ``num_partitions`` must be sized deliberately: continuous tasks
    are LONG-RUNNING and pin one core each for the stream's lifetime
    (unsized, the rate source defaults to the cluster parallelism and
    starves every other job — observed as a whole-cluster deadlock on
    local[32])."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
        .filter(F.col("value") % 2 == 0)
        .select(
            "timestamp",
            "value",
            (F.col("value") * 2).alias("doubled"),
        )
    )
    return (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .trigger(continuous=f"{checkpoint_ms} milliseconds")
        .start()
    )


def maintained_agg_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    specs: dict[str, tuple[str, str]],
) -> StreamingQuery:
    """Continuously-maintained aggregate: the streaming face of
    ``operators/incremental.py::merge_agg_state``.

    Each micro-batch is partially aggregated (count/decimal-sum/
    min/max per key) and MERGED into the state table — cost
    proportional to the batch, never a rescan of history.

    Exactly-once without a transactional table format: state is
    written to VERSIONED directories ``{state_dir}/v=<batch_id>``.
    Batch B always merges onto the newest complete version < B, so
    a crash mid-write (no ``_SUCCESS`` marker) or a checkpoint
    replay of batch B deterministically rebuilds ``v=B`` from the
    same predecessor — rerunning is idempotent. Superseded versions
    are garbage-collected after each successful merge. Read the
    current state with ``read_agg_state``. (At warehouse scale the
    same merge targets a transactional format or the JDBC upsert
    sink, ``sources/jdbc_dialect.py``.)
    """
    from dpe_energy_performance_analysis_etl_spark.operators import (
        agg_state,
        merge_agg_state,
    )

    def merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = agg_state(batch, keys, specs)
        if state is None:
            return delta
        # align decimal widths: merged sums widen by one digit
        return merge_agg_state(
            state.select(delta.schema.names), delta, keys, specs
        ).select(
            *[F.col(c).cast(delta.schema[c].dataType) for c in delta.schema.names]
        )

    return versioned_merge_stream(
        spark, source_dir, schema, state_dir, checkpoint_dir, merge
    )


def maintained_user_days_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> StreamingQuery:
    """Stream-maintained (user, day) activity SET — the state behind
    exact sliding-distinct DAU/MAU (operators/temporal.py
    sliding_distinct_from_user_days): each micro-batch reduces to its
    distinct user-days and UNION-DISTINCT-merges into the versioned
    state (a set is the simplest mergeable monoid — idempotent, so
    checkpoint replays are exact-once for free under the versioned
    protocol). State size is bounded by active-users x distinct days,
    independent of event volume; the metric recomputes from any
    snapshot in bounded-table arithmetic (no per-day DISTINCT, the
    boundary-diff algorithm). Read with ``read_agg_state`` and feed
    ``sliding_distinct_from_user_days``.
    """
    from dpe_energy_performance_analysis_etl_spark.functions.temporal import (
        epoch_micros,
    )

    def merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = (
            batch.select(
                F.col(user_col).alias("u"),
                epoch_micros(F.col(ts_col)).alias("eus"),
            )
            .selectExpr("u", "eus div 86400000000 AS d")
            .distinct()
        )
        if state is None:
            return delta
        return state.select("u", "d").unionByName(delta).distinct()

    return versioned_merge_stream(
        spark, source_dir, schema, state_dir, checkpoint_dir, merge
    )


def _state_versions(spark: SparkSession, state_dir: str, below: int | None = None) -> list[int]:
    """Complete (``_SUCCESS``-marked) state versions, ascending."""
    fs, root = hadoop_fs(spark, state_dir)
    if not fs.exists(root):
        return []
    versions = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith("v="):
            continue
        v = int(name[2:])
        if below is not None and v >= below:
            continue
        if fs.exists(spark._jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            versions.append(v)
    return sorted(versions)


def _gc_state_versions(spark: SparkSession, state_dir: str, keep: list[int]) -> None:
    fs, root = hadoop_fs(spark, state_dir)
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v=") and int(name[2:]) not in keep:
            fs.delete(st.getPath(), True)


def read_agg_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current (latest complete) maintained-aggregate state."""
    versions = _state_versions(spark, state_dir)
    if not versions:
        raise FileNotFoundError(f"no complete state under {state_dir}")
    return spark.read.parquet(f"{state_dir}/v={versions[-1]}")


def versioned_merge_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    merge,
) -> StreamingQuery:
    """Generic incrementally-maintained materialized view: per
    micro-batch, ``merge(prev_state_or_None, batch) -> new_state``
    is written to ``{state_dir}/v=<batch_id>`` with the same
    crash/replay-idempotent versioning contract as
    ``maintained_agg_stream`` (which is this, specialized to monoid
    aggregate merging). ``apply_changelog`` and ``scd2_merge`` slot
    in directly — the streaming faces of the incremental operator
    trio share one state discipline."""

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def do_merge(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        prev = _state_versions(sess, state_dir, below=batch_id)
        state = sess.read.parquet(f"{state_dir}/v={prev[-1]}") if prev else None
        new_state = merge(state, batch)
        new_state.write.mode("overwrite").parquet(f"{state_dir}/v={batch_id}")
        _gc_state_versions(sess, state_dir, keep=prev[-1:] + [batch_id])

    return _start_foreach_batch(stream, do_merge, checkpoint_dir)


def cdc_apply_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    base: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str,
    op_col: str = "op",
    ts_col: str = "ts",
    ord_col: str | None = None,
) -> StreamingQuery:
    """Streaming CDC materialization: each micro-batch of I/U/D
    records folds into the maintained snapshot via
    ``operators.incremental.apply_changelog`` (first batch applies to
    ``base``). Last-write-wins ACROSS batches holds because
    micro-batches arrive in source order and within-batch order is
    resolved by (ts, ord)."""
    from dpe_energy_performance_analysis_etl_spark.operators import apply_changelog

    base_cols = base.columns

    def merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        snapshot = state if state is not None else base
        return apply_changelog(
            snapshot.select(base_cols), batch, key=key,
            op_col=op_col, ts_col=ts_col, ord_col=ord_col,
        )

    return versioned_merge_stream(
        spark, source_dir, schema, state_dir, checkpoint_dir, merge
    )


def enrich_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    dim: DataFrame,
    on: str | list[str],
    target_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream-static dimension enrichment: every micro-batch of the
    file stream joins the (bounded) static dimension, broadcast so
    the stream side never shuffles — the streaming face of the
    reference's lookup-join (J5/S5: BAN enrichment of the Enedis
    feed). The static side is re-resolved per micro-batch, so a
    dimension backed by a table picks up updates between batches;
    stateless, no watermark needed (unlike stream-stream interval
    joins, which bound state instead). A left join: stream rows
    without a dimension match are kept with null dimension columns.
    ``on`` is one key column or a list of them."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    joined = stream.join(F.broadcast(dim), on=on, how="left")
    return _start_parquet(joined, target_dir, checkpoint_dir)


def maintained_iblt_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    n_cells: int = 8192,
    k: int = 3,
) -> StreamingQuery:
    """Continuously-maintained IBLT cell summary of every key ever
    streamed — the streaming face of ``operators/diff.py``'s set
    reconciliation. Each micro-batch encodes to (cell, cnt, xor,
    xor) cells and MERGES into the state via the IBLT monoid (counts
    add, xors combine): cost proportional to the batch, state
    bounded by ``n_cells``, O(1) per replica regardless of history.

    At any point `streaming_set_diff_vs` decodes the state against a
    reference snapshot — "what diverged between this stream and that
    table" for the cost of a summary, the replica-reconciliation
    question a 100 TB ingest pipeline asks after every incident.
    Exactly-once via the versioned-state recipe of
    ``maintained_agg_stream`` (deterministic rebuild from the newest
    complete predecessor version).

    NOTE: the stream must deliver each key at most once across all
    batches (e.g. the bronze landing flow where files are immutable
    and batches partition arrivals) — xor cancels PAIRS, so a key
    seen twice vanishes from the sketch, exactly like the batch
    encoder's per-side ``distinct``. Enforce upstream with
    ``streaming_dedup`` when arrivals can repeat.
    """
    from dpe_energy_performance_analysis_etl_spark.operators.diff import (
        iblt_encode,
        iblt_merge,
        iblt_summarize,
    )

    def merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        delta = iblt_summarize(iblt_encode(batch, key_col, n_cells, k, 1))
        if state is None:
            return delta.filter(
                (F.col("cnt") != 0) | (F.col("xk") != 0) | (F.col("xc") != 0)
            )
        return iblt_merge(state, delta)

    return versioned_merge_stream(
        spark, source_dir, schema, state_dir, checkpoint_dir, merge
    )


def streaming_set_diff_vs(
    spark: SparkSession,
    state_dir: str,
    snapshot: DataFrame,
    key_col: str,
    n_cells: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Decode the maintained IBLT state against a reference snapshot:
    returns (key, side) with side = 'left_only' (streamed, not in
    snapshot) | 'right_only' (in snapshot, never streamed). The
    snapshot side encodes with weight −1 and the merged cells peel
    exactly as in the batch operator — work bounded by the DIFF."""
    from dpe_energy_performance_analysis_etl_spark.operators.diff import (
        iblt_decode,
        iblt_encode,
        iblt_merge,
        iblt_summarize,
    )

    state = read_agg_state(spark, state_dir)
    cells0 = iblt_merge(
        state, iblt_summarize(iblt_encode(snapshot, key_col, n_cells, k, -1))
    ).localCheckpoint()
    return iblt_decode(spark, cells0, key_col, n_cells, k)
