"""Custom stateful streaming operator: event sessionization.

The reference has no streaming (SURVEY.md §2.10); this is the engine's
`applyInPandasWithState` showcase — per-user session windows with a gap
timeout, the canonical custom stateful operator the build brief calls for.
A batch twin (`sessionize_batch`, plain window functions) exists so the
stateful path is verifiable against a deterministic oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("event_count", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("count", LongType()),
    ]
)


def sessionize_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization in event time, with the batch twin's rule:
    a user's next event more than `gap_minutes` after the session's last
    one starts a new session. Closed sessions are emitted as soon as a
    later event closes them; the open one is emitted when the watermark
    (latest event time minus `gap_minutes`) passes its end plus the gap.
    Event time lets a replay of finite input end: a processing-time
    timeout keeps requesting no-data batches until the gap has passed on
    the wall clock, so an availableNow query would not terminate."""
    gap_us = gap_minutes * 60 * 1_000_000

    def frame(uid, sessions) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": pd.Series([uid] * len(sessions), dtype="int64"),
                "session_start": pd.to_datetime([s[0] for s in sessions], unit="us"),
                "session_end": pd.to_datetime([s[1] for s in sessions], unit="us"),
                "event_count": pd.Series([s[2] for s in sessions], dtype="int64"),
            }
        )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            session = state.get
            state.remove()
            yield frame(key[0], [session])
            return
        ts_us = pd.concat([p["ts"] for p in pdfs]).astype("int64") // 1000
        closed = []
        cur = list(state.get) if state.exists else None
        for t in sorted(ts_us.tolist()):
            if cur is not None and t - cur[1] <= gap_us:
                cur = [min(cur[0], t), max(cur[1], t), cur[2] + 1]
            else:
                if cur is not None:
                    closed.append(cur)
                cur = [t, t, 1]
        state.update(tuple(cur))
        state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
        if closed:
            yield frame(key[0], closed)

    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch twin: gap-based sessions via lag + cumulative session ids —
    the deterministic oracle for the stateful operator."""
    from pyspark.sql.window import Window

    # secondary key stabilizes ordering under equal timestamps; interval
    # comparison (not unix_timestamp) keeps the gap test independent of the
    # session timezone for TIMESTAMP_NTZ inputs
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = (
        events.withColumn("__prev", F.lag("ts").over(w))
        .withColumn(
            "__new_sess",
            (
                F.col("__prev").isNull()
                | (
                    F.col("ts") - F.col("__prev")
                    > F.expr(f"INTERVAL {gap_minutes} MINUTES")
                )
            ).cast("int"),
        )
        .withColumn(
            "__sess_id",
            F.sum("__new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return marked.groupBy("user_id", "__sess_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("long").alias("event_count"),
    ).drop("__sess_id")


PACK_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bin", LongType()),
    ]
)

PACK_STATE_SCHEMA = StructType(
    [
        StructField("cur_bin", LongType()),
        StructField("cur_fill", LongType()),
        StructField("max_doc_id", LongType()),
    ]
)


def pack_greedy_stream(docs: DataFrame, budget: int) -> DataFrame:
    """STREAMING greedy sequence packing — the stateful twin of
    operators/packing.pack_greedy: per shard, documents arriving across
    micro-batches keep filling the current context-window bin, opening a
    new one whenever the next doc would overflow. State per shard is
    just (current bin, current fill, high-water doc id) — constant, so
    watermarkless processing-time streaming is safe at any corpus size.
    Docs are processed in doc_id order WITHIN a micro-batch; an
    out-of-order doc arriving in a LATER micro-batch simply packs into
    the current bin (bins already emitted are never rewritten — append
    semantics), and the high-water doc id rides in the state for
    observability of such arrivals. Exactly-once packing across
    restarts comes from Structured Streaming's checkpointed state."""

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values("doc_id")
        if state.exists:
            cur_bin, cur_fill, hwm = state.get
        else:
            cur_bin, cur_fill, hwm = 0, 0, -1
        out_bins = []
        for did, tok in zip(
            rows["doc_id"].astype("int64"), rows["n_tokens"].astype("int64")
        ):
            t = int(tok)
            if cur_fill > 0 and cur_fill + t > budget:
                cur_bin += 1
                cur_fill = 0
            out_bins.append(cur_bin)
            cur_fill += t
            hwm = max(hwm, int(did))
        state.update((int(cur_bin), int(cur_fill), int(hwm)))
        yield pd.DataFrame(
            {
                "shard": key[0],
                "doc_id": rows["doc_id"].astype("int64").to_numpy(),
                "n_tokens": rows["n_tokens"].astype("int64").to_numpy(),
                "bin": out_bins,
            }
        )

    return docs.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=PACK_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
