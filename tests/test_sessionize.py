"""Sessionization: batch window-function variant vs native
session_window variant must agree; streaming session_window must
merge a session across micro-batches and emit it once finalized."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_intern_spark.operators.analytics import q_sessionize
from ocr_intern_spark.streaming.extract_stream import sessionize_events

SF_DIR = "/root/testdata/sf0.001"


def test_batch_parity_with_window_function_sessionizer(spark):
    """The two implementations (lag+running-sum vs session_window)
    must produce identical (user, start, n, value) session sets on the
    events testdata — they differ only on a microsecond-exact 30:00
    gap, which the synthetic data cannot contain."""
    a = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in q_sessionize(spark, SF_DIR).collect()
    }
    b = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in sessionize_events(
            spark.read.parquet(f"{SF_DIR}/events.parquet"), streaming=False
        ).collect()
    }
    assert a == b
    assert len(a) > 100  # real session structure, not one blob


def test_streaming_session_merges_across_microbatches(spark, tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0)

    def write(i, rows):
        pq.write_table(
            pa.table(
                {
                    "ts": [r[0] for r in rows],
                    "user_id": [r[1] for r in rows],
                    "value": [float(r[2]) for r in rows],
                }
            ),
            str(d / f"part-{i}.parquet"),
        )
        # FileStreamSource orders by modification time; same-instant
        # writes tie and can run a later file first, whose events
        # move the watermark past the earlier ones — pin strictly
        # increasing mtimes so batch order == file index
        os.utime(d / f"part-{i}.parquet", (1700000000 + i * 60,) * 2)

    # user 1's session spans files 0 and 1 (10-min gaps < 30-min gap
    # rule); the user-99 sentinels only advance the watermark so the
    # session finalizes and APPEND mode emits it.
    write(0, [(t0, 1, 1.0), (t0 + dt.timedelta(minutes=10), 1, 2.0)])
    write(1, [(t0 + dt.timedelta(minutes=20), 1, 3.0),
              (t0 + dt.timedelta(hours=4), 99, 0.0)])
    write(2, [(t0 + dt.timedelta(hours=8), 99, 0.0)])

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        sessionize_events(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    rows = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in spark.sql("select * from sess_out").collect()
    }
    assert (1, t0, 3, 6.0) in rows, rows


def test_streaming_session_under_rocksdb_state_store(spark, tmp_path):
    """Same cross-micro-batch merge, but with the RocksDB state store
    provider — the configuration a 100 TB deployment actually runs
    (state spills to disk instead of living on the executor heap).
    Pins that the session-window state round-trips through RocksDB
    unchanged; conf is restored afterwards so the in-memory default
    keeps covering the other streaming tests."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        d = tmp_path / "ev"
        d.mkdir()
        t0 = dt.datetime(2024, 1, 1, 12, 0)

        def write(i, rows):
            pq.write_table(
                pa.table(
                    {
                        "ts": [r[0] for r in rows],
                        "user_id": [r[1] for r in rows],
                        "value": [float(r[2]) for r in rows],
                    }
                ),
                str(d / f"part-{i}.parquet"),
            )
            # batch order == file index (see the test above)
            os.utime(d / f"part-{i}.parquet", (1700000000 + i * 60,) * 2)

        write(0, [(t0, 1, 1.0), (t0 + dt.timedelta(minutes=10), 1, 2.0)])
        write(1, [(t0 + dt.timedelta(minutes=20), 1, 3.0),
                  (t0 + dt.timedelta(hours=4), 99, 0.0)])
        write(2, [(t0 + dt.timedelta(hours=8), 99, 0.0)])

        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            sessionize_events(stream, watermark="1 hour")
            .writeStream.format("memory")
            .queryName("sess_rocksdb")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        rows = {
            (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
            for r in spark.sql("select * from sess_rocksdb").collect()
        }
        assert (1, t0, 3, 6.0) in rows, rows
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
