"""Stateful sessionization + salted aggregation correctness."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from giga_spatial_spark.pipeline import salted_count
from giga_spatial_spark.streaming.sessionize import (
    sessionize_batch,
    sessionize_stream,
)

from .conftest import SF_DIR


def test_sessionize_batch_properties(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sess = sessionize_batch(ev, gap_minutes=30).toPandas()
    # total events conserved
    assert sess["event_count"].sum() == ev.count()
    # sessions are well-formed and per-user non-overlapping
    assert (sess["session_end"] >= sess["session_start"]).all()
    for _, g in sess.groupby("user_id"):
        g = g.sort_values("session_start")
        gaps = (
            g["session_start"].iloc[1:].reset_index(drop=True)
            - g["session_end"].iloc[:-1].reset_index(drop=True)
        ).dt.total_seconds()
        assert (gaps > 0).all()


def test_sessionize_stream_runs_stateful(spark):
    """The applyInPandasWithState operator consumes the events, the
    availableNow query terminates on its own, and every session it emits
    is a session of the batch twin (whose DuckDB oracle is q_sessionize);
    only a user's last, still-open session may be missing."""
    tmp = tempfile.mkdtemp(prefix="sess_")
    q = None
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        shutil.copy(f"{SF_DIR}/events.parquet", src)
        schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        q = (
            sessionize_stream(stream, gap_minutes=30)
            .writeStream.format("memory")
            .queryName("sessions_out")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(60) is True
        assert q.lastProgress is not None

        def keyed(df):
            return {
                tuple(r)
                for r in df.select(
                    "user_id", F.unix_micros("session_start"),
                    F.unix_micros("session_end"), "event_count",
                ).collect()
            }

        got = keyed(spark.table("sessions_out"))
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        want = keyed(
            sessionize_batch(ev.withColumn("ts", F.col("ts").cast("timestamp")))
        )
        assert got and got <= want
        missing = [s[0] for s in want - got]
        assert len(missing) == len(set(missing))  # at most one per user
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def test_salted_count_equals_plain_groupby(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    salted = (
        salted_count(ev, ["event_type"], "n", buckets=8)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    plain = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert salted.equals(plain)
