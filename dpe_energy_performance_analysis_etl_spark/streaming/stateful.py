"""Custom stateful streaming operator: session windows via
``applyInPandasWithState`` (SURVEY §2.8 generalization — arbitrary
per-key state the built-in session window can't express).

Each user's state is the OPEN session (start, last-seen, count, sum)
carried across micro-batches; a batch's events extend it or close it
(gap exceeded → emit the closed session, open a new one). Closed
sessions stream out exactly once; the final open session stays in the
state store until later data closes it.

Scale: state is O(active keys) × 32 bytes, partitioned by the group
key — the standard Structured Streaming state-store shape. Arrow
batches keep the Python hop vectorized per key group.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dpe_energy_performance_analysis_etl_spark.streaming.incremental import _start_parquet

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _sessionize_fn(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values("ts")
        cur: list[Any] | None = list(state.get) if state.exists else None
        closed: list[dict] = []
        for ts, value in zip(rows["ts"], rows["value"]):
            us = int(pd.Timestamp(ts).value // 1_000)
            if cur is not None and us - cur[1] > gap_us:
                closed.append(
                    {
                        "user_id": user_id,
                        "session_start": pd.Timestamp(cur[0] * 1_000),
                        "session_end": pd.Timestamp(cur[1] * 1_000),
                        "n_events": cur[2],
                        "total_value": cur[3],
                    }
                )
                cur = None
            if cur is None:
                cur = [us, us, 0, 0.0]
            cur[1] = us
            cur[2] += 1
            cur[3] += float(value) if value == value else 0.0
        if cur is not None:
            state.update(tuple(cur))
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )

    return fn


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    target_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
) -> StreamingQuery:
    """Stream CLOSED sessions (30-min default inactivity gap) from a
    landing directory of event parquet, run once under
    ``Trigger.AvailableNow`` like every starter in ``incremental.py``;
    open sessions persist in the state store across restarts
    (checkpointed)."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    sessions = (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _start_parquet(sessions, target_dir, checkpoint_dir)


def batch_closed_sessions(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch reference for the streaming operator: gaps-and-islands
    sessionization, keeping only sessions that a LATER session proves
    closed (each user's final session is still open)."""
    from pyspark.sql import Window, functions as F

    from dpe_energy_performance_analysis_etl_spark.functions.temporal import epoch_double

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_double("ts") - F.lag(epoch_double("ts")).over(w)
    flagged = events.withColumn(
        "new_session", F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    agg = sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    last = agg.groupBy("user_id").agg(F.max("session_id").alias("last_sid"))
    return (
        agg.join(last, on="user_id")
        .filter(F.col("session_id") < F.col("last_sid"))
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


# ---------------------------------------------------------------------
# Streaming Misra-Gries heavy hitters (bounded state per shard)
# ---------------------------------------------------------------------

MG_OUTPUT_SCHEMA = "shard int, item string, count_lb bigint"
_MG_STATE_SCHEMA = "items array<string>, counts array<bigint>"


def _mg_stream_fn(k: int):
    """Per-shard stateful update: fold each micro-batch's value_counts
    into the persisted <= k-entry summary (the batch operator's
    `_mg_fold` — ONE definition of the decrement rule), emit the
    current summary."""
    from dpe_energy_performance_analysis_etl_spark.operators.heavyhitters import _mg_fold

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, counts = state.get
            summary = dict(zip(items, (int(c) for c in counts)))
        else:
            summary = {}
        for pdf in pdfs:
            if len(pdf):
                _mg_fold(summary, pdf["item"].value_counts(), k)
        state.update((list(summary.keys()), [int(v) for v in summary.values()]))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(summary),
                "item": list(summary.keys()),
                "count_lb": list(summary.values()),
            }
        )

    return fn


def mg_heavy_hitters_stream(
    stream: DataFrame, item_col: str, k: int = 64, n_shards: int = 8
) -> DataFrame:
    """Continuous heavy hitters over an unbounded stream with BOUNDED
    state: items hash-shard across ``n_shards`` state groups, each
    holding a <= k-counter Misra-Gries summary that every micro-batch
    folds into (same decrement rule as the batch operator, so the
    merge-and-compress algebra and error bound carry over:
    ĉ(x) ≤ c(x), deficit ≤ n_shard/(k+1) per shard; k above the
    shard's distinct count ⇒ exact — the deterministic test regime).

    Why not a plain streaming groupBy count: that state is
    VOCABULARY-sized (unbounded for URLs/n-grams); MG state is k
    counters per shard, forever, no watermark eviction needed. Output
    mode 'update': each trigger re-emits the shards that changed;
    downstream reads the latest summary per shard and merges with
    operators.heavyhitters.mg_merge. File sinks are append-only and
    reject update mode — persist trigger history via
    ``writeStream.foreachBatch(lambda b, _: b.write.mode("append")...)``
    (the tested pattern) or use a memory/kafka sink."""
    shard = F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards)).cast("int")
    return (
        stream.select(shard.alias("shard"), F.col(item_col).alias("item"))
        .groupBy("shard")
        .applyInPandasWithState(
            _mg_stream_fn(k),
            outputStructType=MG_OUTPUT_SCHEMA,
            stateStructType=_MG_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
