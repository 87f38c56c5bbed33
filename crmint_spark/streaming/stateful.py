"""Stateful streaming operators.

The exact operators run on Spark's built-in state store operators, so
the per-key state never leaves the JVM (state lives in the state store,
RocksDB/HDFS-backed on a cluster, keyed by the grouping column —
partition-parallel and fault-tolerant by construction):

- ``user_running_profile`` — per-user running profile (event count,
  total value, first/last seen) as a streaming ``groupBy().agg``
  emitted in update mode; the streaming twin of the batch per-user
  aggregate with no window bound.
- ``streaming_dedup_by_key`` — drop rows whose key was already seen
  (exact streaming dedup via ``dropDuplicates``).

The one exception is dedup with a processing-time retention
(``ttl_ms``): no built-in operator expires state on processing time
(``dropDuplicatesWithinWatermark`` expires on event time), so that
variant keeps a per-key marker in ``applyInPandasWithState`` with a
``ProcessingTimeTimeout``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("first_ts", TimestampType()),
        StructField("last_ts", TimestampType()),
    ]
)


def user_running_profile(events: DataFrame) -> DataFrame:
    """Unbounded per-user running profile (update-mode output; null
    values count as events and add 0 to the total)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias(
            "total_value"
        ),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


DEDUP_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("is_first", LongType()),
    ]
)

_SEEN_STATE_SCHEMA = StructType([StructField("seen", LongType())])


def streaming_dedup_by_key(
    events: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Emit only the first occurrence of each event_id across the
    stream (exact dedup; state = one marker per key).

    ``None`` keeps exact forever-dedup on the built-in
    ``dropDuplicates`` (unbounded state, suitable when the key space
    itself is bounded). ``ttl_ms`` is the processing-time retention
    contract: each key's marker arms a ProcessingTimeTimeout that is
    re-armed on every sighting; once a key goes quiet for ttl_ms the
    state-store entry is removed (bounding state to the working set of
    keys seen within the retention window — the knob that keeps per-key
    state finite on an unbounded 100 TB stream), and a later arrival of
    that key re-emits as a fresh first occurrence."""
    cols = ["event_id", "user_id", "event_type"]
    if ttl_ms is None:
        return events.dropDuplicates(["event_id"]).select(
            *cols, F.lit(1).cast("long").alias("is_first")
        )
    empty = pd.DataFrame(columns=DEDUP_SCHEMA.fieldNames())

    def dedup(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            yield empty
            return
        seen = state.exists
        out = []
        for pdf in pdfs:
            if not seen and not pdf.empty:
                out.append(pdf.iloc[[0]][cols].assign(is_first=1))
                seen = True
        state.update((1,))
        state.setTimeoutDuration(int(ttl_ms))
        yield from out or [empty]

    return events.groupBy("event_id").applyInPandasWithState(
        dedup,
        outputStructType=DEDUP_SCHEMA,
        stateStructType=_SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcastable
    dimension table — no state, the static side is re-read per
    micro-batch (picks up dimension updates automatically)."""
    return events.join(dim, on, "left")
