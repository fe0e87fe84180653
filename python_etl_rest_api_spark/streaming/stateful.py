"""Arbitrary stateful streaming via applyInPandasWithState.

The streaming-native analogue of the reference's First100 service
(reference api/first100.py): instead of one global mutable set in process
memory, KEYED state - each user owns a bounded 1..n extraction set, state
lives in the state store (checkpointed, recoverable, scales with keys
across executors), and extract requests arrive as an event stream.

Output per micro-batch and user: how many requests were newly accepted,
rejected (duplicate/out-of-range - the reference's 400 cases), and the
running total.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..worker_imports import steady_zip_imports

OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), False),
    T.StructField("n_new", T.IntegerType(), False),
    T.StructField("n_rejected", T.IntegerType(), False),
    T.StructField("n_total", T.IntegerType(), False),
])

STATE_SCHEMA = T.StructType([
    T.StructField("extracted", T.ArrayType(T.IntegerType()), True),
])

N = 100


def _update(key: tuple[Any, ...],
            pdfs: Iterator[pd.DataFrame],
            state: GroupState) -> Iterator[pd.DataFrame]:
    steady_zip_imports()
    extracted = set(state.get[0]) if state.exists else set()
    n_new = n_rejected = 0
    for pdf in pdfs:
        for raw in pdf["number"]:
            n = int(raw)
            # the reference's validation rules (api/first100.py:21-26)
            if 1 <= n <= N and n not in extracted:
                extracted.add(n)
                n_new += 1
            else:
                n_rejected += 1
    state.update((sorted(extracted),))
    yield pd.DataFrame([{
        "user_id": key[0],
        "n_new": n_new,
        "n_rejected": n_rejected,
        "n_total": len(extracted),
    }])


def first100_stream(requests: DataFrame) -> DataFrame:
    """requests: streaming frame with (user_id long, number int/long).
    Returns per-batch per-user acceptance stats with durable keyed state."""
    return (requests
            .groupBy("user_id")
            .applyInPandasWithState(
                _update,
                outputStructType=OUTPUT_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def requests_from_events(events: DataFrame) -> DataFrame:
    """Derive an extract-request stream from the events table: event_id
    folds into 1..100 (deterministic, reproducible in a batch oracle)."""
    return events.select(
        "user_id", (F.col("event_id") % 100 + 1).cast("int").alias("number"))
