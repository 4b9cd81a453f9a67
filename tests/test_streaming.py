"""Structured Streaming surface: foreachBatch pipeline resume, watermark
windows on a real stream, and applyInPandasWithState keyed state."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dataflow_spark.core.pipeline import Pipeline
from dataflow_spark.core.registry import get_operator
from dataflow_spark.streaming.batched import stream_pipeline, tumbling_counts
from dataflow_spark.streaming.stateful import running_user_stats


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    # stage the events table as a streamable directory with a known schema
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(src.dtypes).get("ts") == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    out = str(tmp_path / "events_in")
    src.write.parquet(out)
    return out


def test_stream_pipeline_foreachbatch(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    pipe = Pipeline([
        get_operator("GeneralFilter", {"predicates": [F.col("value") > 0]}),
    ])
    out_path, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = stream_pipeline(stream, pipe, out_path, chk, trigger_once=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out_path).count()
    want = spark.read.parquet(events_dir).filter(F.col("value") > 0).count()
    assert got == want

    # restart with the same checkpoint: no new data -> no duplicate output
    stream2 = spark.readStream.schema(schema).parquet(events_dir)
    q2 = stream_pipeline(stream2, pipe, out_path, chk, trigger_once=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_path).count() == want


def test_stream_pipeline_rerun_batch_is_written_once(spark, tmp_path,
                                                     monkeypatch):
    """Spark re-runs a batch whose write finished but whose commit did
    not. The first batch raises right after its write (foreachBatch runs
    in this driver process); the restarted query re-runs it, and the sink
    still holds each of the 100 source rows once."""
    from pyspark.sql import DataFrameWriter

    in_dir = str(tmp_path / "in")
    spark.range(100).withColumnRenamed("id", "doc_id").coalesce(1) \
        .write.parquet(in_dir)
    schema = spark.read.parquet(in_dir).schema
    pipe = Pipeline([
        get_operator("GeneralFilter", {"predicates": [F.col("doc_id") >= 0]}),
    ])
    out_path, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    real_save = DataFrameWriter.save
    saves = []

    def save_then_die(self, *args, **kwargs):
        real_save(self, *args, **kwargs)
        saves.append(1)
        if len(saves) == 1:
            raise RuntimeError("driver died after the batch write")

    monkeypatch.setattr(DataFrameWriter, "save", save_then_die)
    q = stream_pipeline(spark.readStream.schema(schema).parquet(in_dir),
                        pipe, out_path, chk)
    with pytest.raises(Exception, match="driver died"):
        q.awaitTermination(120)
    q2 = stream_pipeline(spark.readStream.schema(schema).parquet(in_dir),
                         pipe, out_path, chk)
    q2.awaitTermination(120)
    assert len(saves) == 2  # the batch did run twice
    back = spark.read.parquet(out_path)
    assert back.count() == 100
    assert back.select("doc_id").distinct().count() == 100


def test_tumbling_counts_streaming_matches_batch(spark, events_dir):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    agg = tumbling_counts(stream, ts_key="ts", window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["win"]["start"], r["n_events"])
           for r in spark.sql("select * from win_counts").collect()}
    batch = tumbling_counts(spark.read.parquet(events_dir), ts_key="ts",
                            window="1 hour")
    want = {(r["win"]["start"], r["n_events"]) for r in batch.collect()}
    assert got == want


def test_running_user_stats_state(spark, events_dir, tmp_path):
    schema = spark.read.parquet(events_dir).schema
    stream = spark.readStream.schema(schema).parquet(events_dir)
    stats = running_user_stats(stream)
    q = (stats.writeStream.format("memory").queryName("user_stats")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # final state per user must equal the batch aggregate
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6))
           for r in spark.sql(
               "select * from (select *, row_number() over "
               "(partition by user_id order by n_events desc) rn from user_stats) "
               "where rn = 1").collect()}
    want = {r["user_id"]: (r["n"], round(r["t"], 6))
            for r in spark.read.parquet(events_dir).groupBy("user_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("t")).collect()}
    assert got == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    from dataflow_spark.streaming.batched import stream_dedup

    # duplicate user_id rows within the watermark horizon
    rows = [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 10:05:00", "a-dup"),
            (2, "2024-01-01 10:10:00", "b"), (2, "2024-01-01 10:12:00", "b-dup"),
            (3, "2024-01-01 11:00:00", "c")]
    src = spark.createDataFrame(rows, ["user_id", "ts_s", "payload"]).withColumn(
        "ts", F.to_timestamp("ts_s")).drop("ts_s")
    in_dir = str(tmp_path / "dd_in")
    src.coalesce(1).write.parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = stream_dedup(stream, "user_id", ts_key="ts", watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("dd_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select user_id from dd_stream").collect()
    assert sorted(r["user_id"] for r in got) == [1, 2, 3]

    # batch path: same helper, same keys
    batch = stream_dedup(spark.read.parquet(in_dir), "user_id")
    assert batch.count() == 3


def test_stream_dedup_content_hash(spark, tmp_path):
    from dataflow_spark.streaming.batched import stream_dedup

    rows = [("same text", "2024-01-01 10:00:00"),
            ("same text", "2024-01-01 10:30:00"),
            ("other", "2024-01-01 10:40:00")]
    src = spark.createDataFrame(rows, ["text", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")).drop("ts_s")
    in_dir = str(tmp_path / "ddh_in")
    src.coalesce(1).write.parquet(in_dir)

    schema = spark.read.parquet(in_dir).schema
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out = stream_dedup(stream, "text", ts_key="ts", watermark="2 hours",
                       content_hash=True)
    assert "_dd_hash" not in out.columns
    q = (out.writeStream.format("memory").queryName("ddh_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    texts = sorted(r["text"] for r in spark.sql("select text from ddh_stream").collect())
    assert texts == ["other", "same text"]


def test_session_window_agg_matches_sessionize(spark):
    """Native session_window sessions == lag-window sessionize sessions
    (same strict > gap semantics, verified incl. the exact-gap boundary:
    an event at last+gap MERGES, one past it splits)."""
    import datetime as dt

    from dataflow_spark.streaming.batched import session_window_agg, sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base), (1, base + dt.timedelta(seconds=1800)),   # merges
            (2, base), (2, base + dt.timedelta(seconds=1801)),   # splits
            (3, base), (3, base + dt.timedelta(seconds=100)),
            (3, base + dt.timedelta(seconds=5000))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    sw = session_window_agg(df, gap="30 minutes")
    got = {(r.user_id, r.session_start, r.n_events) for r in sw.collect()}
    assert (1, base, 2) in got
    assert {(u, n) for u, _s, n in got if u == 2} == {(2, 1)}
    assert sorted(n for u, _s, n in got if u == 3) == [1, 2]

    n_sw = {r.user_id: r.n for r in
            sw.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    sess = sessionize(df, gap_minutes=30)
    n_lag = {r.user_id: r.n for r in
             sess.groupBy("user_id").agg(
                 F.countDistinct("session_id").alias("n")).collect()}
    assert n_sw == n_lag


def test_session_window_agg_streaming(spark, tmp_path):
    """Same helper on a file stream: watermarked session state, availableNow."""
    import datetime as dt

    from dataflow_spark.streaming.batched import session_window_agg

    base = dt.datetime(2024, 1, 1)
    rows = [(1, base), (1, base + dt.timedelta(seconds=60)),
            (2, base), (2, base + dt.timedelta(seconds=4000))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    src = str(tmp_path / "events_in")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    agg = session_window_agg(stream, gap="30 minutes")
    query = (agg.writeStream.format("memory").queryName("sess_stream")
             .outputMode("complete").trigger(availableNow=True).start())
    query.awaitTermination()
    out = {(r.user_id, r.n_events) for r in spark.table("sess_stream").collect()}
    assert out == {(1, 2), (2, 1), (2, 1)} or out == {(1, 2), (2, 1)}


def test_sliding_counts_overlap(spark):
    """1h window / 15m slide: every event lands in exactly 4 windows."""
    import datetime as dt

    from dataflow_spark.streaming.batched import tumbling_counts

    base = dt.datetime(2024, 1, 1, 10, 7)   # mid-bucket timestamp
    df = spark.createDataFrame([(1, base)], "user_id long, ts timestamp")
    out = tumbling_counts(df, window="1 hour", slide="15 minutes")
    rows = sorted((r["win"].start, r.n_events) for r in out.collect())
    assert len(rows) == 4
    assert all(n == 1 for _s, n in rows)
    starts = [s for s, _ in rows]
    assert starts[0] == dt.datetime(2024, 1, 1, 9, 15)
    assert starts[-1] == dt.datetime(2024, 1, 1, 10, 0)


def test_streaming_incremental_neardedup(spark, tmp_path):
    """CDC-style corpus refresh: each micro-batch of new docs is
    near-dup-filtered against the growing archive inside foreachBatch,
    and survivors append to the archive."""
    import os

    from pyspark.sql import functions as F

    from dataflow_spark.core.registry import get_operator

    src = str(tmp_path / "incoming")
    archive = str(tmp_path / "archive")
    chk = str(tmp_path / "chk")
    base = "a long enough seed document about structured streaming state"

    # seed the archive
    spark.createDataFrame([(0, base)], ["doc_id", "text"]) \
        .write.parquet(archive)
    # two incoming batches: one near-dup of the archive, one fresh,
    # then a near-dup of batch-1's fresh doc
    os.makedirs(src)
    spark.createDataFrame(
        [(1, base + "!"), (2, "an entirely new doc about z-ordering")],
        ["doc_id", "text"]).write.parquet(src + "/b1")
    op = get_operator("IncrementalMinHashDedupFilter", {
        "input_key": "text", "order_key": "doc_id", "threshold": 0.7})

    def refresh(batch_df, _bid):
        existing = batch_df.sparkSession.read.parquet(archive)
        kept = op.run(batch_df, existing=existing)
        kept.write.mode("append").parquet(archive)

    schema = "doc_id long, text string"

    def run_once():
        q = (spark.readStream.schema(schema).parquet(src + "/*")
             .writeStream.foreachBatch(refresh)
             .option("checkpointLocation", chk)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    got = {r["doc_id"] for r in spark.read.parquet(archive).collect()}
    assert got == {0, 2}  # doc 1 died against the archive seed

    spark.createDataFrame(
        [(3, "an entirely new doc about z-ordering!!")],  # near-dup of 2
        ["doc_id", "text"]).write.parquet(src + "/b2")
    run_once()
    got = {r["doc_id"] for r in spark.read.parquet(archive).collect()}
    assert got == {0, 2}  # doc 3 died against the refreshed archive


def test_drain_complete_distributed_sink(spark, tmp_path):
    """drain_complete returns the final complete-mode result without a
    driver-side memory sink (the sf10 OOM regression)."""
    import pandas as pd

    from dataflow_spark.streaming.batched import drain_complete, tumbling_counts

    src = str(tmp_path / "events_in")
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(
            ["2024-01-01 00:05", "2024-01-01 00:25", "2024-01-01 01:10"]),
        "event_type": ["a", "a", "b"],
    })
    spark.createDataFrame(pdf).write.parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema).parquet(src))
    agg = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    out = drain_complete(agg, out_dir=str(tmp_path / "drain"))
    rows = {(r["win"]["start"].hour, r["n_events"]) for r in out.collect()}
    assert rows == {(0, 2), (1, 1)}


def test_drain_complete_reused_out_dir_not_stale(spark, tmp_path):
    """Reusing out_dir previously returned the FIRST run's
    parquet forever (retained checkpoint saw no new data). Each call
    must reflect the source as it stands."""
    import pandas as pd

    from dataflow_spark.streaming.batched import drain_complete, tumbling_counts

    src = str(tmp_path / "ev")
    out_dir = str(tmp_path / "drain")

    def write_batch(hours):
        pdf = pd.DataFrame({
            "ts": pd.to_datetime([f"2024-01-01 {h:02d}:15" for h in hours]),
            "event_type": ["a"] * len(hours),
        })
        spark.createDataFrame(pdf).write.mode("append").parquet(src)

    def drain():
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema).parquet(src))
        agg = tumbling_counts(stream, window="1 hour", watermark="2 hours")
        out = drain_complete(agg, out_dir=out_dir)
        return {(r["win"]["start"].hour, r["n_events"])
                for r in out.collect()}

    write_batch([0, 0])
    assert drain() == {(0, 2)}
    write_batch([1])
    assert drain() == {(0, 2), (1, 1)}  # NOT the stale first result
    # no checkpoint accumulation in the caller's dir
    import os
    assert not [d for d in os.listdir(out_dir) if d.startswith("ckpt")]


def test_stream_bloom_dedup_forever_exact(spark, tmp_path):
    """Forever-dedup across micro-batches: cross-FILE duplicates (far
    beyond any watermark horizon) must dedup exactly; result equals the
    batch-mode keep-first over the whole corpus."""
    import time

    from dataflow_spark.streaming import stream_bloom_dedup

    in_dir = str(tmp_path / "bloom_in")
    # chunk i: ids [100i, 100i+9]; texts repeat across chunks (t0..t24);
    # sequential appends give mtime order = chunk order (file source
    # processes oldest first), so arrival keep-first == doc_id keep-first
    for i in range(3):
        rows = [(100 * i + j, f"t{(17 * i + j) % 25}") for j in range(10)]
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        time.sleep(1.1)

    schema = "doc_id bigint, text string"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    state = str(tmp_path / "bloom_state")
    out = stream_bloom_dedup(stream, state, keys="text",
                             order_key="doc_id", bits_log2=16)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    from dataflow_spark.core.registry import get_operator
    whole = spark.createDataFrame(
        [(100 * i + j, f"t{(17 * i + j) % 25}")
         for i in range(3) for j in range(10)], ["doc_id", "text"])
    want = sorted(r["doc_id"] for r in get_operator(
        "HashDeduplicateFilter",
        {"input_keys": "text", "order_key": "doc_id"}).run(whole)
        .select("doc_id").collect())
    assert got == want
    assert len(got) == 25  # 25 distinct texts


def test_stream_bloom_dedup_resume(spark, tmp_path):
    """Restart with the same state_dir: new files dedup against the
    PERSISTED corpus (bloom.bin + digest table), not just their own
    run's batches."""
    from dataflow_spark.streaming import stream_bloom_dedup

    in_dir = str(tmp_path / "bloom_in2")
    state = str(tmp_path / "bloom_state2")
    schema = "doc_id bigint, text string"

    spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"]) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    out1 = stream_bloom_dedup(stream, state, keys="text", order_key="doc_id")
    assert out1.count() == 2

    # day 2: one duplicate of day 1, one genuinely new
    spark.createDataFrame([(10, "alpha"), (11, "gamma")], ["doc_id", "text"]) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    stream2 = spark.readStream.schema(schema).parquet(in_dir)
    out2 = stream_bloom_dedup(stream2, state, keys="text", order_key="doc_id")
    got = sorted(r["doc_id"] for r in out2.select("doc_id").collect())
    assert got == [1, 2, 11]  # 10 ("alpha") deduped against day 1


def test_stream_bloom_dedup_torn_bloom_write_keeps_previous(spark, tmp_path,
                                                            monkeypatch):
    """A ``bloom.bin`` rewrite that raises partway leaves the previous
    filter on disk, so the restarted stream resumes with the expected
    survivors instead of rejecting a truncated filter."""
    import builtins
    import io

    from dataflow_spark.streaming import stream_bloom_dedup

    in_dir = str(tmp_path / "bloom_in3")
    state = tmp_path / "bloom_state3"
    schema = "doc_id bigint, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        return stream_bloom_dedup(stream, str(state), keys="text",
                                  order_key="doc_id", bits_log2=16)

    spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"]) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    assert run().count() == 2
    before = (state / "bloom.bin").read_bytes()

    real_open = builtins.open

    class Torn:
        """Writes half of what it is given, then fails like a full disk."""

        def __init__(self, f):
            self.f = f

        def write(self, data):
            data = bytes(data)
            self.f.write(data[:len(data) // 2])
            self.f.flush()
            raise OSError(28, "No space left on device")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.f.close()

    def torn_open(file, mode="r", *args, **kwargs):
        f = real_open(file, mode, *args, **kwargs)
        if ("w" in mode and isinstance(file, (str, os.PathLike))
                and os.fspath(file).endswith("bloom.bin")):
            return Torn(f)
        return f

    spark.createDataFrame([(10, "alpha"), (11, "gamma")], ["doc_id", "text"]) \
        .coalesce(1).write.mode("append").parquet(in_dir)
    with monkeypatch.context() as m:
        m.setattr(builtins, "open", torn_open)
        m.setattr(io, "open", torn_open)
        with pytest.raises(Exception, match="No space left"):
            run()
    assert (state / "bloom.bin").read_bytes() == before

    got = sorted(r["doc_id"] for r in run().select("doc_id").collect())
    assert got == [1, 2, 11]
