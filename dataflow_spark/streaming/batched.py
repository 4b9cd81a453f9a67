"""Batched & streaming execution.

The reference's 'streaming' is chunked batch with (step, batch) resume
(StreamBatchedFileStorage.iter_chunks, storage.py:1169-1184;
Pipeline.py:624-713). Two Spark-native equivalents:

  1. ``BatchedRunner`` — partitioned batch: the pipeline runs once over
     the whole (lazy) DataFrame; 'batch_size' becomes partition sizing.
     This is the default and the honest mapping: Spark already streams
     partitions through the operator chain.
  2. ``stream_pipeline`` — Structured Streaming foreachBatch with a
     checkpointLocation for exactly-once output across restarts, for
     genuinely unbounded sources (file drops, Kafka).

Event-time helpers (watermark + tumbling window) are provided for the
training-data-pipeline surface even though the reference has none
(SURVEY.md §2.12).
"""

from __future__ import annotations

import os
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.pipeline import Pipeline
from dataflow_spark.core.storage import commit_file
from dataflow_spark.functions.text import sql_ident


def _event_time(df: DataFrame, ts_key: str) -> DataFrame:
    """Normalize an event-time column so watermarks and gap math work
    regardless of how the parquet was written.

    Parquet ``timestamp[us]`` without timezone metadata reads back as
    TIMESTAMP_NTZ in Spark 4, which ``withWatermark`` rejects
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and which cannot be cast
    straight to BIGINT. One cast to TIMESTAMP (ltz) here fixes both
    consumers; values are preserved (session timezone is UTC in tests).
    """
    dtype = dict(df.dtypes).get(ts_key)
    if dtype == "timestamp_ntz":
        df = df.withColumn(ts_key, F.col(ts_key).cast("timestamp"))
    return df


class BatchedRunner:
    """Run a pipeline with partition-count control (reference batch_size
    semantics -> repartition)."""

    def __init__(self, pipeline: Pipeline, rows_per_batch: int = 100_000):
        self.pipeline = pipeline
        self.rows_per_batch = rows_per_batch

    def run(self, df: DataFrame, approx_rows: int | None = None) -> DataFrame:
        if approx_rows:
            n_parts = max(1, approx_rows // self.rows_per_batch)
            df = df.repartition(n_parts)
        return self.pipeline.forward(df)


def stream_pipeline(stream_df: DataFrame, pipeline: Pipeline, output_path: str,
                    checkpoint_path: str, trigger_once: bool = True,
                    fmt: str = "parquet"):
    """readStream source -> pipeline per micro-batch -> sink with
    checkpointed resume. trigger_once processes available data and
    stops (the reference's batch-resume semantics).

    Each micro-batch overwrites its own partition
    ``output_path/batch_id=N``, so a batch Spark re-runs after a restart
    (its write finished, its commit did not) replaces its output instead
    of adding a second copy: the sink holds each batch once. Readers of
    ``output_path`` see a ``batch_id`` provenance column."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = pipeline.forward(batch_df)
        out.write.mode("overwrite").format(fmt).save(
            os.path.join(output_path, f"batch_id={batch_id}"))

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def tumbling_counts(events: DataFrame, ts_key: str = "ts", window: str = "1 hour",
                    watermark: str = "2 hours",
                    group_keys: list[str] | None = None,
                    slide: str | None = None) -> DataFrame:
    """Watermarked windowed counts — works on both batch and streaming
    DataFrames (same code path, Spark's unified model).

    ``slide=None`` gives tumbling windows; a slide shorter than the
    window gives overlapping (hopping) windows — each event lands in
    window/slide buckets, Spark expands them without a self-join."""
    df = _event_time(events, ts_key)
    if df.isStreaming:
        df = df.withWatermark(ts_key, watermark)
    win = (F.window(F.col(ts_key), window, slide) if slide
           else F.window(F.col(ts_key), window))
    keys = [win.alias("win")] + [F.col(k) for k in (group_keys or [])]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_events"))


def sessionize(events: DataFrame, user_key: str = "user_id", ts_key: str = "ts",
               gap_minutes: int = 30, tie_breaker: str | None = None) -> DataFrame:
    """Gap-based sessionization (batch): session starts when the gap
    from the previous event of the same user exceeds ``gap_minutes``.
    Returns events + session_id = '<user>-<n>'.
    One shuffle on user_id; window functions run within partitions.
    ``tie_breaker``: extra order column for deterministic results when
    timestamps collide (recommended: the event primary key).
    """
    # single-parse selectExpr: the Window-API form cost ~220 py4j
    # round trips per plan build; one SQL string parses the identical
    # tree (Catalyst dedups the repeated lag window expression exactly
    # as it did for the shared Column reference). unix_timestamp works
    # on both TIMESTAMP and TIMESTAMP_NTZ (a direct BIGINT cast raises
    # DATATYPE_MISMATCH on NTZ).
    u, t = sql_ident(user_key), sql_ident(ts_key)
    order = f"{t} ASC" + (f", {sql_ident(tie_breaker)} ASC" if tie_breaker else "")
    over = f"OVER (PARTITION BY {u} ORDER BY {order})"
    prev = f"lag({t}) {over}"
    new_session = (f"cast(({prev} IS NULL OR "
                   f"unix_timestamp({t}) - unix_timestamp({prev}) > "
                   f"{int(gap_minutes) * 60}) as int)")
    sess_n = (f"sum({new_session}) OVER (PARTITION BY {u} ORDER BY {order} "
              "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return events.selectExpr(
        "*",
        f"concat_ws('-', cast({u} as string), cast({sess_n} as string)) "
        "AS session_id")


def session_window_agg(events: DataFrame, user_key: str = "user_id",
                       ts_key: str = "ts", gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Gap-based session aggregation via Spark's native ``session_window``
    — the streaming-capable twin of ``sessionize`` (which labels
    individual events via a lag window, batch-only).

    Returns one row per (user, session): [user, session_start,
    session_end, n_events]. Works on batch and streaming frames with the
    same code; streaming gets a watermark so session state is bounded by
    the horizon (late events past it are dropped — the standard trade).
    One shuffle on the grouping keys; sessions merge incrementally, no
    per-user sort at scale.
    """
    df = _event_time(events, ts_key)
    if df.isStreaming:
        df = df.withWatermark(ts_key, watermark)
    win = F.session_window(F.col(ts_key), gap)
    return (
        df.groupBy(win.alias("sw"), F.col(user_key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col(user_key),
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "n_events")
    )


def stream_dedup(df: DataFrame, keys: list[str] | str,
                 ts_key: str = "ts", watermark: str = "2 hours",
                 content_hash: bool = False) -> DataFrame:
    """Exact dedup that works on both batch and streaming frames.

    Streaming: watermark + ``dropDuplicatesWithinWatermark`` — the state
    store only keeps keys newer than the watermark, so memory is bounded
    by (event rate x watermark horizon), not by stream lifetime. Two
    events with the same key arriving within the watermark dedup
    exactly; beyond it the old state has been dropped (the documented
    trade: bounded state for bounded-horizon dedup — on an unbounded
    corpus an exact forever-dedup would need unbounded state on any
    engine).

    Batch: plain ``dropDuplicates`` on the same keys.

    ``content_hash=True`` dedups on md5 of the (single) key column
    instead of the raw value — the streaming twin of
    ``HashDeduplicateFilter`` for long text payloads (state stores the
    32-char digest, not the document).
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    df = _event_time(df, ts_key)
    if content_hash:
        if len(key_list) != 1:
            raise ValueError("content_hash dedup takes exactly one key column")
        df = df.withColumn("_dd_hash", F.md5(F.col(key_list[0])))
        key_list = ["_dd_hash"]
    if df.isStreaming:
        out = df.withWatermark(ts_key, watermark)
        out = out.dropDuplicatesWithinWatermark(key_list)
    else:
        out = df.dropDuplicates(key_list)
    return out.drop("_dd_hash") if content_hash else out


StreamTransform = Callable[[DataFrame], DataFrame]

def drain_complete(agg: DataFrame, out_dir: str | None = None) -> DataFrame:
    """Run a complete-mode aggregation stream to termination and return
    the final result as a (batch) DataFrame.

    The obvious harness — a complete-mode MEMORY sink — materializes
    the entire result on the DRIVER every trigger: verifying the
    session-window twin on a 10x replica (~9.5M session rows) OOMed an
    8g driver JVM. ``foreachBatch`` receives the same complete result
    but writes it DISTRIBUTED to parquet (overwrite: with
    ``availableNow`` the last trigger is the full drain), so driver
    memory stays flat at any scale; the caller gets a lazily re-read
    DataFrame. State-store memory is still proportional to the
    aggregate cardinality per partition — that is inherent to
    complete-mode aggregation, not to the sink.

    Lifecycle: the checkpoint directory is FRESH per call
    — a retained checkpoint under a reused ``out_dir`` would make the
    restarted availableNow stream see no new data and silently hand
    back the previous run's parquet. Engine-created temp directories
    are removed at interpreter exit (the returned DataFrame reads the
    files lazily, so they must outlive this call; pass ``out_dir`` to
    own the result's lifetime yourself).
    """
    import atexit
    import shutil
    import tempfile
    import uuid

    spark = agg.sparkSession
    if out_dir is None:
        out_dir = tempfile.mkdtemp(prefix="dfspark_drain_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    sink = os.path.join(out_dir, "result")
    # fresh checkpoint per drain; drop any previous call's checkpoint
    # so a caller-supplied out_dir does not accumulate one per call
    ckpt = os.path.join(out_dir, f"ckpt-{uuid.uuid4().hex[:12]}")

    def _write(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(sink)

    query = (agg.writeStream.foreachBatch(_write)
             .outputMode("complete")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    query.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(sink)


def stream_bloom_dedup(stream_df: DataFrame, state_dir: str,
                       keys: list[str] | str = "text",
                       order_key: str | None = None,
                       bits_log2: int = 27, k: int = 7,
                       available_now: bool = True):
    """Exact FOREVER-dedup for an unbounded stream — the answer to
    :func:`stream_dedup`'s documented trade ("an exact forever-dedup
    would need unbounded state"): state-store memory never grows at
    all. Driver state is an m-bit bloom (16 MiB at the default) and an
    on-disk digest table; both persist under ``state_dir`` and survive
    restarts.

    Per micro-batch (foreachBatch):
      1. dedup the batch against ALL history via
         BloomIncrementalDedupFilter with the in-memory bloom and the
         digest table restricted to ``batch_id < current`` — a batch
         Spark re-runs after a restart never sees its own partial digest
         write, so the step is idempotent;
      2. write survivors to ``deduped/batch_id=N`` (overwrite);
      3. write survivors' (h1, h2) pairs to ``digests/batch_id=N``;
      4. OR the survivors' filter into the bloom; replace ``bloom.bin``
         (tmp + ``os.replace``: a torn write leaves the previous filter).

    Crash-safety costs nothing extra: a bloom that over-approximates
    (rebuilt after a partial step 3/4) only adds exact probes, never a
    wrong drop — the sketch-proposes-exact-confirms invariant
    (docs/engineering-notes.md §4). "First occurrence" = batch arrival
    order, then ``order_key`` within a batch.

    With ``available_now`` (default) the call drains the stream and
    returns the deduped corpus as a batch DataFrame (plus a
    ``batch_id`` provenance column); otherwise it returns the running
    StreamingQuery.
    """
    from dataflow_spark.core.registry import get_operator

    key_list = [keys] if isinstance(keys, str) else list(keys)
    op = get_operator("BloomIncrementalDedupFilter", {
        "input_keys": key_list, "order_key": order_key,
        "bits_log2": bits_log2, "k": k})
    dig_root = os.path.join(state_dir, "digests")
    out_root = os.path.join(state_dir, "deduped")
    bloom_path = os.path.join(state_dir, "bloom.bin")
    os.makedirs(state_dir, exist_ok=True)
    if os.path.exists(bloom_path):
        with open(bloom_path, "rb") as f:
            start_bloom = f.read()
    else:
        start_bloom = bytes(1 << (bits_log2 - 3))  # all-zero filter
    state = {"bloom": start_bloom}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        import numpy as np

        spark = batch_df.sparkSession
        if os.path.isdir(dig_root):
            hist = (spark.read.parquet(dig_root)
                    .filter(F.col("batch_id") < batch_id)
                    .select("h1", "h2"))
        else:
            hist = spark.createDataFrame([], "h1 long, h2 long")
        fresh = op.run(batch_df, digests=hist, bloom=state["bloom"])
        out_dir = os.path.join(out_root, f"batch_id={batch_id}")
        fresh.write.mode("overwrite").parquet(out_dir)
        kept = spark.read.parquet(out_dir)
        h1, h2 = op._hash_pair()
        pairs = kept.select(h1.alias("h1"), h2.alias("h2"))
        pairs.write.mode("overwrite").parquet(
            os.path.join(dig_root, f"batch_id={batch_id}"))
        delta = op.build_filter_from_hashes(pairs)
        state["bloom"] = bytes(np.bitwise_or(
            np.frombuffer(state["bloom"], dtype=np.uint8),
            np.frombuffer(delta, dtype=np.uint8)))
        commit_file(bloom_path,
                    lambda tmp: Path(tmp).write_bytes(state["bloom"]))

    ckpt = os.path.join(state_dir, "ckpt")
    writer = (stream_df.writeStream.foreachBatch(process)
              .option("checkpointLocation", ckpt))
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return stream_df.sparkSession.read.parquet(out_root)
    return writer.start()
