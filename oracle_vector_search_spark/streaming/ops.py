"""Streaming operators over the events fixture.

The reference has no streaming (its online path is request/response
Streamlit reruns, SURVEY.md §2.8); this module supplies the engine's
streaming surface: windowed aggregation, gap sessionization
(``session_window``), watermarked late-data handling, and a streaming
kNN scorer (static broadcast index ⋈ query stream via foreachBatch).

Testing pattern: parquet file source → memory sink →
``processAllAvailable()`` drives the stream to completion synchronously,
so results are deterministic and comparable to the batch oracle. The
same code runs against kafka/socket sources on a cluster.
"""

from __future__ import annotations

import os
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (ts_ns BIGINT + µs ts,
    mirroring io.load_table's type policy).

    The stream schema is DERIVED from a batch read of the same path —
    never hard-coded — so a fixture regeneration that changes the
    physical ``ts`` type (int64-nanos vs timestamp[us]) can't silently
    reinterpret values; the batch path (io.load_table) branches on the
    actual type and the stream inherits that decision.
    """
    from oracle_vector_search_spark.io import load_table

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    batch = load_table(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(
        os.path.join(sf_dir, "events.parquet")
    ).schema
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .load(sf_dir)
    )
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        out = raw.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    else:
        out = raw.withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).withColumn("ts_ns", F.unix_micros("ts") * F.lit(1000))
    # Same column order as the batch loader.
    return out.select(*batch.columns)


def run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Start → processAllAvailable → stop; return the memory-sink table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


def hourly_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation (complete mode — all windows
    emitted when the bounded source drains)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            (F.unix_micros(F.col("window.start")) * 1000).alias(
                "window_start_ns"
            ),
            "event_type",
            "n",
            "sum_value_cents",
        )
    )
    return run_to_memory(agg, "complete")


def sliding_windows_watermarked_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliding 2h/30min windows WITH a watermark (late-data drop policy).
    Append mode — only finalized windows are emitted; demonstrates the
    watermark machinery (rows-only check: finalization depends on
    arrival order, which a streaming engine doesn't promise)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            (F.unix_micros(F.col("window.start")) * 1000).alias(
                "window_start_ns"
            ),
            "event_type",
            "n",
        )
    )
    return run_to_memory(agg, "append")


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization with the native ``session_window``
    (30-minute gap), aggregated to per-user session stats."""
    ev = stream_events(spark, sf_dir)
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events_in_session"))
    )
    per_user = run_to_memory(sessions, "complete")
    return per_user.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events_in_session").alias("n_events"),
    )


def streaming_knn_scores(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 10
) -> DataFrame:
    """Streaming kNN: a stream of query vectors scored per micro-batch
    against a static (broadcastable) index via foreachBatch — the
    engine's answer to the reference's online search path (app.py:
    139-143) under Structured Streaming. Per-batch exact top-k, global
    re-rank on the accumulated candidates (same merge as the GEMM tier)."""
    from pyspark.sql import Window

    from oracle_vector_search_spark.functions.vector import (
        as_double_array,
        cosine_similarity,
    )
    from oracle_vector_search_spark.io import load_table

    index_df = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array("embedding").alias("v_vec"),
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qstream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("vec_id", T.LongType()),
                    T.StructField(
                        "embedding", T.ArrayType(T.FloatType())
                    ),
                    T.StructField("label", T.IntegerType()),
                ]
            )
        )
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
        .filter(F.col("vec_id") < n_queries)
    )

    # foreachBatch runs in a cloned session — temp views registered there
    # are invisible here, so the per-batch top-k goes to a parquet sink
    # table instead (executor-side append; nothing ever collects to the
    # driver, so throughput is unbounded in the number of queries). The
    # final re-rank is a window over the sink — candidates are ≤ k rows
    # per query per batch, so the sink stays tiny relative to the stream.
    from oracle_vector_search_spark.scratch import scratch_dir

    sink_path = scratch_dir("ovs_knn_sink_")

    def score_batch(batch_df: DataFrame, epoch_id: int) -> None:
        q = batch_df.select(
            F.col("vec_id").alias("query_id"),
            as_double_array("embedding").alias("q_vec"),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("neighbor_id")
        )
        (
            index_df.join(F.broadcast(q))
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    cosine_similarity("q_vec", "v_vec"), 6
                ).alias("score"),
            )
            .withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= k)
            .select("query_id", "neighbor_id", "score")
            .write.mode("append")
            .parquet(sink_path)
        )

    q = qstream.writeStream.foreachBatch(score_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    acc = spark.read.schema(
        "query_id long, neighbor_id long, score double"
    ).parquet(sink_path)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        acc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` keeps one row
    per (user_id, event_type) in the state store as batches arrive,
    feeding a downstream distinct-count aggregation (chained stateful
    operators). The bounded fixture drains completely, so the result
    equals batch COUNT(DISTINCT) exactly — on an unbounded stream you
    would add a watermark + dropDuplicatesWithinWatermark to bound the
    dedup state."""
    ev = stream_events(spark, sf_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    agg = dedup.groupBy("user_id").agg(
        F.count("*").alias("n_distinct_types")
    )
    return run_to_memory(agg, "complete")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: the view stream joins the purchase
    stream per user within (view_ts, view_ts + 1 hour]. Both sides
    carry event-time watermarks so the join state is prunable; on the
    bounded fixture every pair is emitted, so the per-user pair counts
    equal the batch interval join exactly (oracle-checked). The raw
    pair stream lands in the memory sink; the per-user rollup runs on
    the drained table.

    Shuffle partitions pin to 8 for the run: each stream-stream join
    partition spins up four state stores (left/right x keyed state),
    so partition count — not data volume — dominates wall clock at
    fixture scale."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return _stream_stream_join_inner(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stream_stream_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "24 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "24 hours")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts "
            "AND p_ts <= v_ts + interval 1 hour"
        ),
    )
    sunk = run_to_memory(pairs.select("v_user"), "append")
    return sunk.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count("*").alias("n_pairs")
    )


def upsert_snapshot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC maintenance: the event stream micro-batches merge
    (latest-record-wins, operators.merge.merge_upsert) into a
    versioned at-rest snapshot — one parquet version per epoch, each
    built from the previous version plus the batch, never from
    history. Returns the final snapshot, which must equal the batch
    rebuild over all events: latest-wins over a total (ts_us,
    event_id) order is associative, so the result is independent of
    how the stream happened to batch.

    The source is the events table re-split into 4 files streamed with
    maxFilesPerTrigger=1, so the merge genuinely runs multiple times.
    foreachBatch runs in a cloned session; state passes between
    epochs via the written parquet paths, not session objects.
    """
    from oracle_vector_search_spark.scratch import scratch_dir

    from pyspark.sql import Window

    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.operators.merge import merge_upsert

    src_dir = scratch_dir("ovs_upsert_src_")
    snap_root = scratch_dir("ovs_upsert_snap_")
    (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    schema = (
        "user_id long, ts_us long, event_id long, "
        "event_type string, value_cents long"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    state = {"path": None, "version": 0}

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if state["path"] is not None:
            base = sess.read.schema(schema).parquet(state["path"])
            latest = merge_upsert(
                base, latest, keys=["user_id"], order_cols=["ts_us", "event_id"]
            )
        out = f"{snap_root}/v{state['version']}"
        latest.write.mode("overwrite").parquet(out)
        state["path"] = out
        state["version"] += 1

    q = stream.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    if state["path"] is None:
        # empty source: no micro-batch ever arrived — degrade to an
        # empty snapshot (the multi-epoch invariant below only applies
        # when there was data to arrive in batches)
        return spark.createDataFrame([], schema)
    snap = spark.read.schema(schema).parquet(state["path"])
    if state["version"] < 2:
        # a lone micro-batch is only legitimate when it carried no
        # rows (an empty source can still emit one empty part file);
        # with real data the multi-file fixture guarantees >= 2 epochs
        if not snap.isEmpty():
            raise RuntimeError("stream produced fewer than 2 merge epochs")
    return snap


class _InjectedCrash(RuntimeError):
    """Deliberate mid-stream failure injected by tests (see
    ``upsert_snapshot_stream_recoverable``'s ``crash_after_epochs``)."""


def upsert_snapshot_stream_recoverable(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    snap_root: str,
    src_dir: str | None = None,
    crash_after_epochs: int | None = None,
) -> DataFrame | None:
    """The PRODUCTION-shaped twin of ``upsert_snapshot_stream``
    (VERDICT r10 #6: checkpoint recovery had never been exercised):
    the same latest-wins CDC merge, but restartable.

    What makes it recoverable:

    * the query runs with a ``checkpointLocation`` — on restart Spark
      replays only the LAST uncommitted micro-batch and continues;
      committed epochs are never re-delivered;
    * merge state lives in a durable ledger (``_ledger.json`` under
      ``snap_root`` mapping epoch_id → snapshot path), not in Python
      session objects: a restarted process reconstructs the merge
      chain from disk;
    * each epoch writes its snapshot to a path KEYED BY epoch_id and
      merges against the highest ledger entry STRICTLY BELOW its own
      epoch — so a replayed epoch (crash after the snapshot write but
      before the checkpoint commit) overwrites its own output from the
      same base: the merge is idempotent per epoch, the exactly-once
      contract foreachBatch requires.

    ``crash_after_epochs=N`` injects a failure at the start of epoch
    N+1 (after N committed epochs) — the test's kill switch; the
    function then returns None. A later call with the SAME checkpoint
    and ledger resumes where the stream died and returns the final
    snapshot DataFrame.
    """
    import json as _json

    from pyspark.errors import StreamingQueryException
    from pyspark.sql import Window

    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.operators.merge import merge_upsert

    schema = (
        "user_id long, ts_us long, event_id long, "
        "event_type string, value_cents long"
    )
    if src_dir is None:
        src_dir = os.path.join(snap_root, "src")
    if not os.path.isdir(src_dir) or not os.listdir(src_dir):
        (
            load_table(spark, sf_dir, "events")
            .select(
                "user_id",
                F.expr("ts_ns div 1000").alias("ts_us"),
                "event_id",
                "event_type",
                F.floor(F.col("value") * 100)
                .cast("long")
                .alias("value_cents"),
            )
            .repartition(4)
            .write.mode("overwrite")
            .parquet(src_dir)
        )

    ledger_path = os.path.join(snap_root, "_ledger.json")

    def _read_ledger() -> dict[int, str]:
        if not os.path.exists(ledger_path):
            return {}
        with open(ledger_path) as fh:
            return {int(k): v for k, v in _json.load(fh).items()}

    def _write_ledger(led: dict[int, str]) -> None:
        tmp = ledger_path + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump({str(k): v for k, v in led.items()}, fh)
        os.replace(tmp, ledger_path)  # atomic on POSIX

    def _merge_batch_impl(batch_df: DataFrame, epoch_id: int) -> None:
        led = _read_ledger()
        done = [e for e in led if e < epoch_id]
        if (
            crash_after_epochs is not None
            and len(done) >= crash_after_epochs
        ):
            raise _InjectedCrash(
                f"injected crash before epoch {epoch_id}"
            )
        sess = batch_df.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts_us"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if done:
            base = sess.read.schema(schema).parquet(led[max(done)])
            latest = merge_upsert(
                base,
                latest,
                keys=["user_id"],
                order_cols=["ts_us", "event_id"],
            )
        out = os.path.join(snap_root, f"epoch_{epoch_id}")
        latest.write.mode("overwrite").parquet(out)
        led[int(epoch_id)] = out
        _write_ledger(led)

    # foreachBatch runs DRIVER-side in this Python process, so the
    # injected-vs-genuine decision is a closure flag set at the raise
    # site — not message/chain parsing, which misclassifies a genuine
    # error raised while the injected crash is in flight (its message
    # and __context__ both reach the injection marker).
    flags: dict[str, object] = {}

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            _merge_batch_impl(batch_df, epoch_id)
        except _InjectedCrash:
            flags["injected"] = True
            raise
        except BaseException as err:
            flags["genuine"] = repr(err)
            raise

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    except StreamingQueryException:
        # Only the INJECTED crash is an expected outcome — a genuine
        # merge_batch bug during a crash-injection run must still
        # surface (ADVICE r11). The closure flags were set at the
        # Python raise site, so the classification is exact: any
        # genuine error (even one raised while the injection was in
        # flight) re-raises.
        if (
            crash_after_epochs is None
            or "genuine" in flags
            or "injected" not in flags
        ):
            raise
        return None  # the injected crash killed the query, as asked
    finally:
        q.stop()

    led = _read_ledger()
    if not led:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(led[max(led)])


def index_maintenance_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingestion driving incremental LSH index
    maintenance: each micro-batch hashes ONLY its own vectors
    (ann.lsh_bucket_table) and merges them over the previous index
    version (operators.index_maint.merge_index_rows — broadcast
    anti-join on the batch ids, then union), writing one at-rest
    version per epoch. Because the merge replaces ids wholesale it is
    idempotent per id and batching-independent, so the final version
    must equal a full rebuild over the whole corpus — which is exactly
    what the DuckDB oracle computes. The reference has no streaming
    ingestion at all (build_faiss_db.py rebuilds offline); this is the
    continuous-ingest shape a 100 TB corpus actually runs.

    Source: embeddings re-split into 4 files, maxFilesPerTrigger=1 →
    ≥4 genuine merge epochs. foreachBatch runs in a cloned session;
    state passes between epochs via written parquet paths.
    """
    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.operators import ann, index_maint
    from oracle_vector_search_spark.scratch import scratch_dir

    src_dir = scratch_dir("ovs_idx_stream_src_")
    snap_root = scratch_dir("ovs_idx_stream_snap_")
    (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    schema = "vec_id long, embedding array<double>"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    state = {"path": None, "version": 0}

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        fresh = ann.lsh_bucket_table(batch_df, dims=64)
        if state["path"] is not None:
            old = sess.read.parquet(state["path"])
            merged = index_maint.merge_index_rows(old, fresh)
        else:
            merged = fresh
        out = f"{snap_root}/v{state['version']}"
        merged.write.mode("overwrite").parquet(out)
        state["path"] = out
        state["version"] += 1

    # the per-epoch merge moves metadata-sized (id, band, bucket) rows;
    # default 200 shuffle partitions drown it in task overhead
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = stream.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    idx_schema = "vec_id long, band int, bucket int"
    if state["path"] is None:
        # empty source — same empty-input degradation as the upsert
        # snapshot stream above
        return spark.createDataFrame([], idx_schema)
    # explicit schema: a lone EMPTY micro-batch writes a file-less
    # snapshot dir that schema inference cannot read
    snap = spark.read.schema(idx_schema).parquet(state["path"])
    if state["version"] < 2:
        # same single-empty-micro-batch allowance as the upsert stream
        if not snap.isEmpty():
            raise RuntimeError(
                "stream produced fewer than 2 index maintenance epochs"
            )
    return snap


def has_protobuf() -> bool:
    """``transformWithStateInPandas`` (the v2 arbitrary-state API) talks
    to the JVM state server over protobuf; absent in this container."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def transform_with_state_user_type_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 v2 arbitrary-state streaming (transformWithStateInPandas):
    per-user totals in a ValueState plus a per-event-type MapState — the
    typed composite state v1's single tuple (``stateful_user_counts``,
    queries/grouped_map_queries.py) can't hold. Bounded drain ⇒ final
    emission equals the batch groupBy, so when protobuf is available
    this is oracle-comparable exactly like its v1 twin.

    Raises ImportError when protobuf is missing (probe with
    ``has_protobuf()``); the pytest tier skips, mirroring the torch/cv2
    seams (PERF.md optional-deps note).
    """
    import math

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    if not has_protobuf():
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf"
        )

    class UserTypeStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState(
                "totals", "n long, cents long"
            )
            self.type_counts = handle.getMapState(
                "type_counts", "t string", "c long"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (
                self.totals.get() if self.totals.exists() else (0, 0)
            )
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    sum(math.floor(v * 100) for v in pdf["value"])
                )
                for t, c in pdf["event_type"].value_counts().items():
                    prev = (
                        self.type_counts.getValue((t,))[0]
                        if self.type_counts.containsKey((t,))
                        else 0
                    )
                    self.type_counts.updateValue((t,), (prev + int(c),))
            self.totals.update((n, cents))
            n_types = sum(1 for _ in self.type_counts.keys())
            yield pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n_events": n,
                        "n_types": n_types,
                        "sum_value_cents": cents,
                    }
                ]
            )

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    out_schema = (
        "user_id long, n_events long, n_types long, sum_value_cents long"
    )
    updated = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTypeStats(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        mem = run_to_memory(updated, "update")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        mem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "n_types", "sum_value_cents")
    )


def dedup_within_watermark_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the production-shape
    streaming dedup whose state is BOUNDED by the event-time watermark
    (plain ``dropDuplicates`` state grows forever on an unbounded
    stream). The source is the events fixture written TWICE into one
    directory (every event a planted duplicate); the watermarked dedup
    must collapse each pair to one row before the downstream per-type
    aggregation, so the drained result equals the batch aggregation
    over the original table exactly.

    At 100 TB: dedup state holds only event-ids younger than
    (max event time − watermark delay) per partition — the property
    that makes exactly-once ingest dedup feasible at all.

    Batching robustness (ADVICE r4): the duplicate copies of an event
    land in DIFFERENT files, so under a multi-batch drain
    (maxFilesPerTrigger, availableNow batching, checkpoint restart) a
    first-seen copy can arrive in a later batch than events that
    already advanced the watermark past it — and a delay shorter than
    the fixture's time span would drop it as late, diverging from the
    batch oracle. The delay is therefore set WIDER than the fixture's
    ~30-day span (45 days), making equality hold under ANY batch
    split, not just a single-batch drain. The state-bounding property
    is unchanged — in production the delay is tuned to the real
    out-of-orderness, here to the fixture's.
    """
    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.scratch import scratch_dir

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = scratch_dir("ovs_dup_events_")
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    for _ in range(2):  # every event_id appears in two files
        base.coalesce(2).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    raw = spark.readStream.schema(schema).parquet(src)
    dedup = raw.withWatermark("ts", "45 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = dedup.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "sum_value_cents"
        ),
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        return run_to_memory(agg, "complete")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def weighted_reservoir_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A-ES weighted reservoir maintained ON ARRIVAL: each micro-batch
    folds its documents' full-precision A-ES keys into a per-source
    top-k state table (the literal reservoir — k rows per stratum,
    bounded regardless of how much history streamed past). Per-stratum
    top-k by (key DESC, doc_id) is an associative, commutative,
    idempotent merge, so the drained reservoir is batching-independent
    and must equal the batch ``weighted_reservoir_sample_aes``
    selection exactly — the same DuckDB oracle checks both.

    State is versioned parquet (one tiny file set per epoch, built
    from the previous version plus the batch, never from history) —
    at 100 TB the state is |sources|·k rows however large the corpus,
    and each epoch's work is one batch-sized scan plus a
    reservoir-sized merge window.

    Source: documents re-split into 4 files, maxFilesPerTrigger=1 →
    ≥4 genuine reservoir-merge epochs.
    """
    from pyspark.sql import Window

    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.queries.curation_queries import (
        _AES_K,
        aes_keyed_docs,
    )
    from oracle_vector_search_spark.scratch import scratch_dir

    src_dir = scratch_dir("ovs_reservoir_src_")
    state_root = scratch_dir("ovs_reservoir_state_")
    (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    state = {"path": None, "epochs": 0}

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        incoming = aes_keyed_docs(batch_df)
        if state["path"] is not None:
            incoming = incoming.unionByName(
                sess.read.parquet(state["path"])
            )
        win = Window.partitionBy("source").orderBy(
            F.desc("aes_key"), F.asc("doc_id")
        )
        merged = (
            incoming.withColumn("rnk", F.row_number().over(win))
            .filter(F.col("rnk") <= _AES_K)
            .drop("rnk")
        )
        new_path = f"{state_root}/v{epoch_id}"
        merged.coalesce(1).write.mode("overwrite").parquet(new_path)
        state["path"] = new_path
        state["epochs"] += 1

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = stream.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    if state["path"] is None:
        return spark.createDataFrame(
            [], "doc_id long, source string, w int, aes_key double"
        )
    if state["epochs"] < 2:
        raise RuntimeError(
            f"reservoir stream drained in {state['epochs']} epochs; "
            "expected multi-batch arrival"
        )
    return spark.read.parquet(state["path"])


def corpus_admission_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-on-arrival: a document stream is admission-controlled
    per micro-batch — quality-classifier gate plus directional MinHash
    near-dup check against the STANDING corpus's at-rest signature
    table (operators.dedup.minhash_near_dup_against) — and the
    decisions append to an at-rest decisions table.

    Decisions depend only on the document itself and the FIXED standing
    snapshot, so they are batching-independent: the drained decisions
    table must equal the batch ``incremental_corpus_admission`` result
    under ANY file split (the same DuckDB oracle checks both).
    Intra-increment duplicates are deliberately out of scope here —
    they are the post-admission merge's job (see
    ``dedup_within_watermark_stream`` / ``index_maintenance_stream``).

    Source: the batch slice (doc_id % 7 = 0) re-split into 4 files,
    maxFilesPerTrigger=1 → ≥4 genuine admission epochs.
    """
    from oracle_vector_search_spark.functions import text as TX
    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.operators.dedup import (
        minhash_near_dup_against,
        minhash_signatures,
    )
    from oracle_vector_search_spark.scratch import scratch_dir

    threshold = 0.4  # MINHASH_THRESHOLD — the corpus dedup policy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    standing = docs.filter(F.col("doc_id") % 7 != 0)
    batch_slice = docs.filter(F.col("doc_id") % 7 == 0)

    sig_path = scratch_dir("ovs_admission_sigs_")
    minhash_signatures(
        standing.repartition(spark.sparkContext.defaultParallelism)
    ).write.mode(
        "overwrite"
    ).parquet(sig_path)

    src_dir = scratch_dir("ovs_admission_src_")
    batch_slice.repartition(4).write.mode("overwrite").parquet(src_dir)
    dec_dir = scratch_dir("ovs_admission_dec_")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    n_epochs = {"n": 0}

    def decide_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        standing_sigs = sess.read.parquet(sig_path)
        batch_sigs = minhash_signatures(batch_df)
        pairs = minhash_near_dup_against(
            batch_sigs, standing_sigs, threshold=threshold
        )
        dup = pairs.groupBy("batch_id").agg(
            F.min("standing_id").cast("bigint").alias("dup_of")
        )
        gate = (
            batch_df.withColumn("toks", F.split(TX.norm_text("text"), " "))
            .withColumn("ws", F.expr(TX.qc_weight_sum_expr("toks")))
            .select("doc_id", "ws")
        )
        out = gate.join(
            dup, gate.doc_id == dup.batch_id, "left"
        ).select(
            "doc_id",
            F.when(F.col("ws") > 0, 1).otherwise(0).cast("int").alias(
                "classifier_keep"
            ),
            F.coalesce(F.col("dup_of"), F.lit(-1)).alias("dup_of"),
            F.when((F.col("ws") > 0) & F.col("dup_of").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("admitted"),
        )
        out.write.mode("append").parquet(dec_dir)
        n_epochs["n"] += 1

    # decision batches move ≤ dozens of rows; shrink shuffles for the drain
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = stream.writeStream.foreachBatch(decide_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    if n_epochs["n"] == 0:
        # empty source — no decisions were ever appended; degrade to an
        # empty decisions table with the sink schema
        return spark.createDataFrame(
            [],
            "doc_id long, classifier_keep int, dup_of bigint, "
            "admitted int",
        )
    if n_epochs["n"] < 2:
        raise RuntimeError(
            f"admission stream drained in {n_epochs['n']} epochs; "
            "expected multi-batch arrival"
        )
    return spark.read.parquet(dec_dir)


def psi_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per-hour value histograms computed as a
    REAL complete-mode streaming aggregation (10 equal-width integer-
    cents bins against batch-derived global bounds — a metadata-sized
    driver lookup, the scalar-max-id precedent), then PSI of each
    window against the whole-corpus reference on the drained snapshot.
    The production shape: the stream maintains (window, bin) counts;
    the monitor reads the state table and scores it.
    """
    from oracle_vector_search_spark.io import load_table

    ev_b = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 100).cast("long").alias("c")
    )
    row = ev_b.agg(
        F.min("c").alias("mn"), F.max("c").alias("mx")
    ).first()  # bounded: one min/max row
    if row["mn"] is None:
        # empty events table: min/max aggregate to NULL and the bin
        # width below would be garbage — degrade to an empty result
        # like every other query family (ADVICE r6 low).
        return spark.createDataFrame(
            [], "window_start_ns long, n_events long, psi double"
        )
    mn, mx = int(row["mn"]), int(row["mx"])
    span = mx - mn + 1

    ev = stream_events(spark, sf_dir)
    binned = ev.select(
        F.window("ts", "1 hour").alias("w"),
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.expr(
                    f"(cast(floor(value * 100) as bigint) - {mn}L)"
                    f" * 10 div {span}L"
                ),
            ),
        ).alias("b"),
    )
    agg = (
        binned.groupBy("w", "b")
        .agg(F.count(F.lit(1)).alias("k"))
        .select(
            (F.unix_micros(F.col("w.start")) * 1000).alias(
                "window_start_ns"
            ),
            "b",
            "k",
        )
    )
    snap = run_to_memory(agg, "complete")

    # reference histogram (whole corpus) + per-window PSI, batch-side
    ref = (
        ev_b.select(
            F.least(
                F.lit(9),
                F.greatest(
                    F.lit(0),
                    F.expr(f"(c - {mn}L) * 10 div {span}L"),
                ),
            ).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("rk"))
    )
    n_ref = ev_b.count()
    wn = snap.groupBy("window_start_ns").agg(
        F.sum("k").alias("n_win")
    )
    bins = wn.crossJoin(
        spark.range(10).select(F.col("id").alias("b"))
    )
    snap2 = snap.select(
        F.col("window_start_ns").alias("sw"),
        F.col("b").alias("sb"),
        "k",
    )
    terms = (
        bins.join(
            snap2,
            (F.col("window_start_ns") == F.col("sw"))
            & (F.col("b") == F.col("sb")),
            "left",
        )
        .join(F.broadcast(ref), "b", "left")
        .select(
            "window_start_ns",
            "n_win",
            (
                (F.coalesce("k", F.lit(0)) + F.lit(1.0))
                / (F.col("n_win") + F.lit(10.0))
            ).alias("p"),
            (
                (F.coalesce("rk", F.lit(0)) + F.lit(1.0))
                / F.lit(float(n_ref) + 10.0)
            ).alias("q"),
        )
    )
    return terms.groupBy("window_start_ns", "n_win").agg(
        F.round(
            F.sum(
                (F.col("p") - F.col("q"))
                * F.log(F.col("p") / F.col("q"))
            ),
            6,
        ).alias("psi")
    ).select(
        "window_start_ns",
        F.col("n_win").cast("bigint").alias("n_events"),
        "psi",
    )


# ---------------------------------------- streaming audio VAD admission

SAVA_CLIPS = 32
SAVA_N = 1600  # samples per clip
SAVA_FRAME = 160  # 10 ms frames at 16 kHz -> 10 per clip
SAVA_THRESH = 1_000_000  # voiced frame sum-of-squares threshold
SAVA_MIN, SAVA_MAX = 3, 9  # admit clips with n_voiced in [MIN, MAX]


def audio_vad_admission_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal curation-on-arrival: WAV clips stream in micro-
    batches; each batch decodes (numpy WAV codec), frames, computes
    integer frame energies JVM-side, and appends a per-clip admission
    decision — speech-like clips (voiced fraction in [0.3, 0.9]) pass;
    all-silence and wall-of-noise clips are rejected. Decisions depend
    on each clip alone, so they are batching-independent and the batch
    formula oracle checks the drained table under any file split.

    The speech-corpus intake shape at scale: media bytes are decoded
    ONCE on arrival, the admission signal is a few integers per clip,
    and rejected bytes never reach the training store.

    Source: clips re-split into 4 files, maxFilesPerTrigger=1 → ≥4
    genuine decision epochs; empty sources degrade to an empty
    decisions table (the registry-wide empty-input contract)."""
    import numpy as np
    import pandas as pd

    from oracle_vector_search_spark.functions.wav_numpy import (
        encode_wav_pcm16,
    )
    from oracle_vector_search_spark.scratch import scratch_dir
    from oracle_vector_search_spark.sources.media import (
        decode_audio_samples,
    )

    def make_wavs(it):
        for pdf in it:
            rows = []
            for cid in pdf["id"]:
                c = int(cid)
                t = np.arange(SAVA_N, dtype=np.int64)
                k = t // SAVA_FRAME
                voiced = ((c * 13 + k * 7) % 5) < (c % 6)
                s = np.where(
                    voiced,
                    ((c * 31 + t * 17) % 4096) - 2048,
                    ((c * 31 + t * 17) % 64) - 32,
                )
                rows.append(
                    (c, encode_wav_pcm16(s.astype(np.int16), 16000))
                )
            yield pd.DataFrame(rows, columns=["id", "content"])

    src_dir = scratch_dir("ovs_vad_stream_src_")
    dec_dir = scratch_dir("ovs_vad_stream_dec_")
    (
        spark.range(SAVA_CLIPS)
        .mapInPandas(make_wavs, schema="id long, content binary")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    stream = (
        spark.readStream.schema("id long, content binary")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    n_epochs = {"n": 0}
    dec_schema = (
        "clip_id long, n_frames long, n_voiced long, admitted int"
    )

    def decide_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        frames = decode_audio_samples(batch_df).select(
            F.col("id").alias("clip_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(size(samples) / "
                    f"{SAVA_FRAME} AS INT) - 1), k -> "
                    f"aggregate(slice(samples, k * {SAVA_FRAME} + 1, "
                    f"{SAVA_FRAME}), CAST(0 AS BIGINT), "
                    f"(a, x) -> a + CAST(x AS BIGINT) * x))"
                )
            ).alias("ss"),
        )
        out = (
            frames.groupBy("clip_id")
            .agg(
                F.count(F.lit(1)).alias("n_frames"),
                F.sum(
                    F.when(F.col("ss") > SAVA_THRESH, 1).otherwise(0)
                ).alias("n_voiced"),
            )
            .select(
                "clip_id",
                "n_frames",
                "n_voiced",
                F.when(
                    F.col("n_voiced").between(SAVA_MIN, SAVA_MAX), 1
                )
                .otherwise(0)
                .cast("int")
                .alias("admitted"),
            )
        )
        out.write.mode("append").parquet(dec_dir)
        n_epochs["n"] += 1

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q = stream.writeStream.foreachBatch(decide_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    if n_epochs["n"] == 0:
        # empty source — registry-wide empty-input contract
        return spark.createDataFrame([], dec_schema)
    if n_epochs["n"] < 2:
        raise RuntimeError(
            f"VAD admission stream drained in {n_epochs['n']} epochs; "
            "expected multi-batch arrival"
        )
    return spark.read.schema(dec_schema).parquet(dec_dir)


# -------------------- streaming preference ingestion (round 8)

SPB_FILES = 4  # match-source file splits -> decision epochs


def preference_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bradley-Terry sufficient statistics: pairwise match
    outcomes arrive in micro-batches (the derived source-vs-source
    match table re-split into SPB_FILES files, maxFilesPerTrigger=1)
    and a foreachBatch upsert maintains the at-rest per-source state
    (wins, matches) a reward-model trainer reads — the incremental
    half of `bradley_terry_mm_step`.  Sufficient statistics are sums,
    so the drained state is batching-independent and the batch closed
    form is the oracle.  The drained output also finalizes MM step 1
    (π¹ = 2·W/N — exact given uniform init).

    100 TB shape: each arriving batch reduces to O(sources) partials
    map-side; the state table is sources-sized; history is never
    rescanned."""
    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.queries.preference_queries import (
        source_matches,
    )
    from oracle_vector_search_spark.scratch import scratch_dir

    matches = source_matches(load_table(spark, sf_dir, "documents"))
    src_dir = scratch_dir("ovs_pref_stream_src_")
    state_dir = scratch_dir("ovs_pref_stream_state_")
    matches.repartition(SPB_FILES).write.mode("overwrite").parquet(
        src_dir
    )
    stream = (
        spark.readStream.schema("sa string, sb string, a_wins int")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def upd(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        part = (
            batch_df.selectExpr("sa AS source", "a_wins AS w")
            .unionByName(
                batch_df.selectExpr("sb AS source", "1 - a_wins AS w")
            )
            .groupBy("source")
            .agg(
                F.sum("w").cast("long").alias("w_i"),
                F.count(F.lit(1)).cast("long").alias("n_i"),
            )
        )
        try:
            old = s.read.parquet(state_dir)
            merged = (
                old.unionByName(part)
                .groupBy("source")
                .agg(
                    F.sum("w_i").cast("long").alias("w_i"),
                    F.sum("n_i").cast("long").alias("n_i"),
                )
            )
        except AnalysisException:  # first epoch: no state yet
            # (narrow on purpose — ADVICE r8: a transient FS error
            # swallowed here would silently restart the totals)
            merged = part
        # pin BEFORE overwrite — the merged plan reads the very
        # directory the write replaces; released right after (the
        # write is the only consumer). foreachBatch calls back on a
        # thread with no query scope, hence the scope of its own.
        from oracle_vector_search_spark.plans.ckpt import (
            owned_by,
            pin,
            unpin,
        )

        with owned_by(None):
            state = pin(merged)
            state.write.mode("overwrite").parquet(state_dir)
            unpin(state)

    q = (
        stream.writeStream.foreachBatch(upd)
        .option("checkpointLocation", scratch_dir("ovs_pref_stream_ckp_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        state = spark.read.parquet(state_dir)
    except AnalysisException:  # empty source: typed empty (contract)
        return spark.createDataFrame(
            [], "source string, wins long, n_matches long, pi_step1 double"
        )
    return state.select(
        "source",
        F.col("w_i").alias("wins"),
        F.col("n_i").alias("n_matches"),
        (
            F.round(
                F.col("w_i").cast("double") * 2
                / F.col("n_i").cast("double"),
                6,
            )
            + F.lit(0.0)
        ).alias("pi_step1"),
    ).orderBy("source")


def pass_at_k_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pass@k sufficient statistics: sampled generations
    arrive in micro-batches (the derived (task, correct) sample table
    re-split into SPB_FILES files, maxFilesPerTrigger=1) and a
    foreachBatch upsert maintains the at-rest per-task state (n, c) an
    eval dashboard reads — the on-arrival twin of ``pass_at_k_per_task``.
    (n, c) are sums, so the drained state is batching-independent and
    the batch closed form is the oracle; the drained output finalizes
    the unbiased pass@k estimate for k in (1, 5, 10).

    100 TB shape: each arriving batch reduces to O(tasks) partials
    map-side; the state table is tasks-sized; history is never
    rescanned; the falling-factorial finalization is a scalar
    projection over O(tasks) rows."""
    from oracle_vector_search_spark.io import load_table
    from oracle_vector_search_spark.queries.sft_queries import (
        _MIN_SAMPLES,
        _N_TASKS,
        _PASS_K,
        _falling_ratio_sql,
    )
    from oracle_vector_search_spark.scratch import scratch_dir

    samples = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % _N_TASKS).cast("long").alias("task_id"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .cast("int")
        .alias("correct"),
    )
    src_dir = scratch_dir("ovs_passk_stream_src_")
    state_dir = scratch_dir("ovs_passk_stream_state_")
    samples.repartition(SPB_FILES).write.mode("overwrite").parquet(src_dir)
    stream = (
        spark.readStream.schema("task_id long, correct int")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )

    def upd(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        part = batch_df.groupBy("task_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("correct").cast("long").alias("c"),
        )
        try:
            old = s.read.parquet(state_dir)
            merged = (
                old.unionByName(part)
                .groupBy("task_id")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("c").cast("long").alias("c"),
                )
            )
        except AnalysisException:  # first epoch: no state yet
            # (narrow on purpose — ADVICE r8: a transient FS error
            # swallowed here would silently restart the totals)
            merged = part
        # pin BEFORE overwrite — the merged plan reads the very
        # directory the write replaces; released right after (the
        # write is the only consumer). foreachBatch calls back on a
        # thread with no query scope, hence the scope of its own.
        from oracle_vector_search_spark.plans.ckpt import (
            owned_by,
            pin,
            unpin,
        )

        with owned_by(None):
            state = pin(merged)
            state.write.mode("overwrite").parquet(state_dir)
            unpin(state)

    q = (
        stream.writeStream.foreachBatch(upd)
        .option("checkpointLocation", scratch_dir("ovs_passk_stream_ckp_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        state = spark.read.parquet(state_dir)
    except AnalysisException:  # empty source: typed empty (contract)
        return spark.createDataFrame(
            [],
            "task_id long, n long, c long, pass_at_1 double, "
            "pass_at_5 double, pass_at_10 double",
        )
    cols = [
        F.expr(f"round(1.0 - {_falling_ratio_sql(k)}, 6)").alias(
            f"pass_at_{k}"
        )
        for k in _PASS_K
    ]
    return (
        state.filter(F.col("n") >= _MIN_SAMPLES)
        .select("task_id", "n", "c", *cols)
        .orderBy("task_id")
    )
