"""Custom stateful streaming operator: per-conversation session state.

The reference keeps per-connection state (RELP txnr ack rings,
``/root/reference/services/network/relp.go:81-149``); the Spark-native
equivalent for arbitrary per-key logic is
``applyInPandasWithState``.  This operator tracks, per conversation:
turn count, max turn_idx seen, severity histogram peak — and emits an
updated session row per micro-batch.  State survives restarts via the
streaming checkpoint (the badger analog).

Pattern notes for 10^12-turn scale: state is per-key O(1) (a few
counters — never buffer rows); the state store shards by conv_id hash
across executors.  An event-time timeout evicts an idle conversation
once the watermark is 1 h of event time past its latest turn, so an
``availableNow`` query ends when its input is drained instead of
firing empty batches forever.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

SESSION_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("n_turns", T.LongType(), False),
    T.StructField("max_turn_idx", T.IntegerType(), True),
    T.StructField("max_severity", T.IntegerType(), True),
    T.StructField("n_pass", T.LongType(), True),
])

STATE_SCHEMA = T.StructType([
    T.StructField("n_turns", T.LongType()),
    T.StructField("max_turn_idx", T.IntegerType()),
    T.StructField("max_severity", T.IntegerType()),
    T.StructField("n_pass", T.LongType()),
])


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    n_turns, max_turn, max_sev, n_pass = (
        state.get if state.exists else (0, -1, -1, 0)
    )
    latest_ms = state.getCurrentWatermarkMs()
    for pdf in pdfs:
        n_turns += len(pdf)
        if len(pdf):
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
            max_sev = max(max_sev, int(pdf["severity"].max()))
            n_pass += int((pdf["filter_status"] == "PASS").sum())
            # ts arrives tz-naive in the session time zone (UTC, pinned
            # by build_session), so its ns value is epoch time
            latest_ms = max(latest_ms, pdf["ts"].max().value // 1_000_000)
    state.update((n_turns, max_turn, max_sev, n_pass))
    # from event time, not the watermark alone: the watermark is 0 in a
    # query's first batch, so watermark + 1 h would evict every
    # conversation at the next batch
    state.setTimeoutTimestamp(latest_ms + 3_600_000)
    yield pd.DataFrame(
        [(key[0], n_turns, max_turn, max_sev, n_pass)],
        columns=[f.name for f in SESSION_SCHEMA.fields],
    )


def conversation_sessions(routed_stream: DataFrame) -> DataFrame:
    """streaming routed frame → running per-conversation session rows."""
    return (
        # ts carries the watermark the event-time timeout needs
        routed_stream.select(
            "conv_id", "turn_idx", "severity", "filter_status", "ts"
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            _update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
