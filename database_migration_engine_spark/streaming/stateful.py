"""Custom stateful streaming operator via applyInPandasWithState.

Demonstrates the arbitrary-stateful-processing path the built-in windows
can't express: a per-user running profile (total events, total value,
last-seen timestamp) maintained as GroupState across micro-batches and
emitted on every update. At scale, state lives in the state store
partitioned by the grouping key — the same shuffle boundary as a groupBy.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import ensure_worker_imports

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# State carries the value sum as an EXACT scaled integer (decimal(28,10)
# × 10^10, computed JVM-side before the stateful op). Integer addition is
# associative, so the running total is independent of batch boundaries
# and pandas' pairwise-summation order — which is what lets this custom
# stateful operator carry a full DuckDB value oracle (r03; it was the
# one rows-only query whose output was semantically SQL-expressible).
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_int", T.LongType()),
    ]
)

_VALUE_SCALE = 10_000_000_000  # decimal(28,10) → integer


def _update_profile(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n_events, total_int = state.get if state.exists else (0, 0)
    for pdf in batches:
        n_events += len(pdf)
        total_int += int(pdf["value_int"].sum())
    state.update((n_events, total_int))
    # one float division from the exact integer — bit-identical to the
    # oracle's CAST(SUM AS DOUBLE) / scale
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n_events],
            "total_value": [float(total_int) / _VALUE_SCALE],
        }
    )


def user_profiles(events: DataFrame) -> DataFrame:
    """Streaming per-user running profile with explicit GroupState."""
    ensure_worker_imports(events.sparkSession)
    return (
        events.select(
            "user_id",
            F.expr(
                f"CAST(CAST(value AS DECIMAL(28,10)) * {_VALUE_SCALE}"
                " AS BIGINT)"
            ).alias("value_int"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=PROFILE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


THROTTLE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.StringType()),
        T.StructField("event_type", T.StringType()),
    ]
)

# state: the set of 5-minute buckets this user has already emitted in,
# carried as a sorted array of bucket ids
_THROTTLE_STATE_SCHEMA = T.StructType(
    [T.StructField("buckets", T.ArrayType(T.LongType()))]
)

_BUCKET_US = 300_000_000  # 5 minutes in microseconds


def _throttle(
    key: tuple, batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    seen = set(state.get[0]) if state.exists else set()
    out = []
    frames = [pdf for pdf in batches if len(pdf)]
    if frames:
        pdf = pd.concat(frames, ignore_index=True)
        # arrival order within the batch is partition-dependent; sorting
        # by (ts, event_id) makes admission deterministic and equal to
        # the batch rank-1 semantics when the drain is single-batch
        pdf = pdf.sort_values(["ts", "event_id"])
        for row in pdf.itertuples(index=False):
            bucket = (row.ts.value // 1000) // _BUCKET_US
            if bucket in seen:
                continue
            seen.add(bucket)
            out.append(
                (
                    int(row.event_id),
                    int(user_id),
                    row.ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                    row.event_type,
                )
            )
    state.update((sorted(seen),))
    yield pd.DataFrame(
        out, columns=["event_id", "user_id", "ts", "event_type"]
    )


def rate_limit_first_per_bucket(events: DataFrame) -> DataFrame:
    """Streaming ingestion throttle: admit each user's FIRST event per
    5-minute bucket, with the admitted-bucket set as explicit GroupState.
    The custom-stateful twin of the batch events_rate_limited rank-1
    plan: under an availableNow single-batch drain the admission order is
    (ts, event_id), so the output equals the batch query exactly (full
    oracle hash-match); across live micro-batches the semantics become
    first-ARRIVAL-wins, which is what a real collector enforces. State is
    one bucket-id array per user, partitioned by the grouping key in the
    state store — the same shuffle boundary as a groupBy at 100 TB."""
    ensure_worker_imports(events.sparkSession)
    return (
        events.select("event_id", "user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _throttle,
            outputStructType=THROTTLE_SCHEMA,
            stateStructType=_THROTTLE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
