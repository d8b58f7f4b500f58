"""Streaming operators over the fixture tables.

The reference has no streaming (its online path is request/response
Streamlit reruns, SURVEY.md §2.8); this module supplies the engine's
streaming surface: windowed aggregation, gap sessionization
(``session_window``), watermarked late-data handling, a stream-stream
join, and streams that maintain an at-rest table as data arrives (CDC
snapshots, incremental index maintenance, curation on arrival).

Every stream drains a bounded source to completion, so its result is
deterministic and comparable to the batch oracle. There are two ways
to run one:

* ``run_to_memory``: file source → memory sink →
  ``processAllAvailable()``, for the stateful operators Spark runs
  itself (windows, dedup, joins, arbitrary state). These use the
  session's shuffle-partition count for their state stores.
* ``drain_file_stream``: the one micro-batch driver for the file-fed
  streams. It writes the source as 4 parquet files and streams them
  one file per trigger, so the stream's merge runs several times.
  Each non-empty micro-batch calls the stream's ``step(batch, prev)``
  with the previous output version, and writes the result to a
  version directory named by its epoch id. Versions are write-once:
  no plan ever reads a directory that is being written, so nothing
  needs pinning. The one rewrite is a replayed epoch, which rewrites
  its own version from the same base. A fold stream returns its last
  version, an append stream the union of every version. An empty
  source returns a typed empty frame. Non-empty data that arrived in
  only one micro-batch raises ``RuntimeError``: the multi-batch merge
  the stream exists to show never ran.

Every driver stream is restartable. All it keeps (source files,
checkpoint, versions and the ledger of committed versions) lives under
one ``root`` directory; a stream that failed mid-run resumes where it
stopped when it is run again on the same ``root``.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from oracle_vector_search_spark.io import load_table, write_artifact
from oracle_vector_search_spark.operators.topk import top_k_per_group
from oracle_vector_search_spark.scratch import scratch_dir


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as an unbounded stream (ts_ns BIGINT + µs ts,
    mirroring io.load_table's type policy).

    The stream schema is DERIVED from a batch read of the same path —
    never hard-coded — so a fixture regeneration that changes the
    physical ``ts`` type (int64-nanos vs timestamp[us]) can't silently
    reinterpret values; the batch path (io.load_table) branches on the
    actual type and the stream inherits that decision.
    """
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
    """Start → processAllAvailable → stop; return the memory-sink table.
    The checkpoint lives in a scratch directory: Spark removes one it
    made itself only when the query succeeds."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir("ovs_mem_"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.table(name)


def drain_file_stream(
    source: DataFrame,
    schema: str,
    step: Callable[[DataFrame, DataFrame | None], DataFrame],
    append: bool = False,
    root: str | None = None,
) -> DataFrame:
    """Stream ``source`` in micro-batches and fold or append ``step``'s
    output into versions (see the module doc).

    ``step(batch, prev)`` runs on every non-empty micro-batch, in
    arrival order; ``prev`` is the previous version (``None`` on the
    first), and the result must have the DDL ``schema``. Returns the
    last version, or with ``append`` the union of every version, in
    epoch order. ``step`` runs in the stream's cloned session, so state
    passes between epochs through the version directories, never
    through session objects.

    Everything the stream keeps lives under ``root`` (a fresh scratch
    directory by default):

    * ``src/``: the source files, written only if missing or empty, so
      a restart streams the same files;
    * ``_checkpoint/``: the query's checkpoint. On restart Spark never
      re-delivers a committed epoch, and replays the one it had started;
    * ``v<epoch_id>/``: the version each epoch writes;
    * ``_ledger.json``: epoch id → version, replaced atomically after
      each version is written.

    An epoch's ``prev`` is the ledger's highest entry below its own
    epoch id, so a replayed epoch rewrites its own version from the
    same base. A failed ``step`` raises ``StreamingQueryException``;
    running the stream again on the same ``root`` resumes it."""
    spark = source.sparkSession
    if root is None:
        root = scratch_dir("ovs_stream_")
    src_dir = os.path.join(root, "src")
    if not os.path.isdir(src_dir) or not os.listdir(src_dir):
        source.repartition(4).write.mode("overwrite").parquet(src_dir)
    ledger_path = os.path.join(root, "_ledger.json")

    def read_ledger() -> dict[int, str]:
        if not os.path.exists(ledger_path):
            return {}
        with open(ledger_path) as fh:
            return {int(e): v for e, v in json.load(fh).items()}

    def run_epoch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        ledger = read_ledger()
        done = [e for e in ledger if e < epoch_id]
        prev = None
        if done:
            prev = batch.sparkSession.read.schema(schema).parquet(
                ledger[max(done)]
            )
        out = os.path.join(root, f"v{epoch_id}")
        write_artifact(step(batch, prev), out)
        ledger[epoch_id] = out
        tmp = ledger_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(ledger, fh)
        os.replace(tmp, ledger_path)

    q = (
        spark.readStream.schema(source.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .writeStream.option(
            "checkpointLocation", os.path.join(root, "_checkpoint")
        )
        .foreachBatch(run_epoch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ledger = read_ledger()
    if not ledger:
        return spark.createDataFrame([], schema)
    if len(ledger) == 1:
        raise RuntimeError(
            "stream data arrived in one micro-batch; expected multi-batch "
            "arrival"
        )
    versions = [ledger[e] for e in sorted(ledger)]
    return spark.read.schema(schema).parquet(
        *(versions if append else versions[-1:])
    )


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
    against a static (broadcastable) index — the engine's answer to the
    reference's online search path (app.py: 139-143) under Structured
    Streaming. Each micro-batch appends its exact top-k; the global
    re-rank over the accumulated candidates is the GEMM tier's merge.
    Nothing collects to the driver, so throughput is unbounded in the
    number of queries; the candidates are ≤ k rows per query per batch."""
    from oracle_vector_search_spark.operators.knn import knn_exact

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "embedding"
    )

    def score_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        return knn_exact(emb, batch, k).select(
            "query_id", "neighbor_id", "score"
        )

    acc = drain_file_stream(
        queries,
        "query_id long, neighbor_id long, score double",
        score_batch,
        append=True,
    )
    return top_k_per_group(
        acc, ["query_id"], k, F.desc("score"), F.asc("neighbor_id")
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
    the drained table."""
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


def upsert_snapshot_stream(
    spark: SparkSession, sf_dir: str, root: str | None = None
) -> DataFrame:
    """Streaming CDC maintenance: the event stream micro-batches merge
    (latest-record-wins, operators.merge.merge_upsert) into a
    versioned at-rest snapshot — one parquet version per epoch, each
    built from the previous version plus the batch, never from
    history. Returns the final snapshot, which must equal the batch
    rebuild over all events: latest-wins over a total (ts_us,
    event_id) order is associative, so the result is independent of
    how the stream happened to batch, or of where it stopped and was
    restarted. ``root`` is ``drain_file_stream``'s: run again on the
    same ``root``, a stream that failed mid-run resumes from its
    checkpoint and ledger.
    """
    from oracle_vector_search_spark.operators.merge import merge_upsert

    events = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )

    def merge_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        latest = top_k_per_group(
            batch, ["user_id"], 1, F.desc("ts_us"), F.desc("event_id"),
            rank_col="__rn",
        ).drop("__rn")
        if prev is None:
            return latest
        return merge_upsert(
            prev, latest, keys=["user_id"], order_cols=["ts_us", "event_id"]
        )

    return drain_file_stream(
        events,
        "user_id long, ts_us long, event_id long, "
        "event_type string, value_cents long",
        merge_batch,
        root=root,
    )


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
    """
    from oracle_vector_search_spark.operators import ann, index_maint

    vectors = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
    )

    def merge_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        fresh = ann.lsh_bucket_table(batch, dims=64)
        if prev is None:
            return fresh
        return index_maint.merge_index_rows(prev, fresh)

    return drain_file_stream(
        vectors, "vec_id long, band int, bucket int", merge_batch
    )


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
    mem = run_to_memory(updated, "update")
    return top_k_per_group(mem, ["user_id"], 1, F.desc("n_events")).select(
        "user_id", "n_events", "n_types", "sum_value_cents"
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
    (one file per trigger, availableNow batching, checkpoint restart) a
    first-seen copy can arrive in a later batch than events that
    already advanced the watermark past it — and a delay shorter than
    the fixture's time span would drop it as late, diverging from the
    batch oracle. The delay is therefore set WIDER than the fixture's
    ~30-day span (45 days), making equality hold under ANY batch
    split, not just a single-batch drain. The state-bounding property
    is unchanged — in production the delay is tuned to the real
    out-of-orderness, here to the fixture's.
    """
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
    return run_to_memory(agg, "complete")


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
    """
    from oracle_vector_search_spark.queries.curation_queries import (
        _AES_K,
        aes_keyed_docs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )

    def merge_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        incoming = aes_keyed_docs(batch)
        if prev is not None:
            incoming = incoming.unionByName(prev)
        return (
            top_k_per_group(
                incoming, ["source"], _AES_K, F.desc("aes_key"),
                F.asc("doc_id"),
            )
            .drop("rank")
            .coalesce(1)
        )

    return drain_file_stream(
        docs, "doc_id long, source string, w int, aes_key double", merge_batch
    )


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

    The stream is the batch slice (doc_id % 7 = 0).
    """
    from oracle_vector_search_spark.functions import text as TX
    from oracle_vector_search_spark.operators.dedup import (
        minhash_near_dup_against,
        minhash_signatures,
    )

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

    def decide_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        standing_sigs = batch.sparkSession.read.parquet(sig_path)
        pairs = minhash_near_dup_against(
            minhash_signatures(batch), standing_sigs, threshold=threshold
        )
        dup = pairs.groupBy("batch_id").agg(
            F.min("standing_id").cast("bigint").alias("dup_of")
        )
        gate = (
            batch.withColumn("toks", F.split(TX.norm_text("text"), " "))
            .withColumn("ws", F.expr(TX.qc_weight_sum_expr("toks")))
            .select("doc_id", "ws")
        )
        return gate.join(
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

    return drain_file_stream(
        batch_slice,
        "doc_id long, classifier_keep int, dup_of bigint, admitted int",
        decide_batch,
        append=True,
    )


def psi_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per-hour value histograms computed as a
    REAL complete-mode streaming aggregation (10 equal-width integer-
    cents bins against batch-derived global bounds — a metadata-sized
    driver lookup, the scalar-max-id precedent), then PSI of each
    window against the whole-corpus reference on the drained snapshot.
    The production shape: the stream maintains (window, bin) counts;
    the monitor reads the state table and scores it.
    """
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
    and rejected bytes never reach the training store. The clips are
    synthesized, so the stream does not read ``sf_dir``."""
    import numpy as np

    from oracle_vector_search_spark.functions.wav_numpy import (
        encode_wav_pcm16,
    )
    from oracle_vector_search_spark.operators.rowmap import map_rows
    from oracle_vector_search_spark.sources.media import (
        decode_audio_samples,
    )

    def make_wav(c):
        t = np.arange(SAVA_N, dtype=np.int64)
        k = t // SAVA_FRAME
        voiced = ((c * 13 + k * 7) % 5) < (c % 6)
        s = np.where(
            voiced,
            ((c * 31 + t * 17) % 4096) - 2048,
            ((c * 31 + t * 17) % 64) - 32,
        )
        return [(c, encode_wav_pcm16(s.astype(np.int16), 16000))]

    clips = map_rows(
        spark.range(SAVA_CLIPS), make_wav, "id long, content binary"
    )

    def decide_batch(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        frames = decode_audio_samples(batch).select(
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
        return (
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

    return drain_file_stream(
        clips,
        "clip_id long, n_frames long, n_voiced long, admitted int",
        decide_batch,
        append=True,
    )


def preference_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bradley-Terry sufficient statistics: pairwise match
    outcomes (the derived source-vs-source match table) arrive in
    micro-batches, and each one folds into the at-rest per-source state
    (wins, matches) a reward-model trainer reads — the incremental
    half of `bradley_terry_mm_step`.  Sufficient statistics are sums,
    so the drained state is batching-independent and the batch closed
    form is the oracle.  The drained output also finalizes MM step 1
    (π¹ = 2·W/N — exact given uniform init).

    100 TB shape: each arriving batch reduces to O(sources) partials
    map-side; the state table is sources-sized; history is never
    rescanned."""
    from oracle_vector_search_spark.queries.preference_queries import (
        source_matches,
    )

    matches = source_matches(load_table(spark, sf_dir, "documents"))

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        rows = batch.selectExpr(
            "sa AS source", "a_wins AS w_i", "1 AS n_i"
        ).unionByName(
            batch.selectExpr("sb AS source", "1 - a_wins AS w_i", "1 AS n_i")
        )
        if prev is not None:
            rows = rows.unionByName(prev)
        return rows.groupBy("source").agg(
            F.sum("w_i").cast("long").alias("w_i"),
            F.sum("n_i").cast("long").alias("n_i"),
        )

    state = drain_file_stream(
        matches, "source string, w_i long, n_i long", fold
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
    """Streaming pass@k sufficient statistics: sampled generations (the
    derived (task, correct) sample table) arrive in micro-batches, and
    each one folds into the at-rest per-task state (n, c) an eval
    dashboard reads — the on-arrival twin of ``pass_at_k_per_task``.
    (n, c) are sums, so the drained state is batching-independent and
    the batch closed form is the oracle; the drained output finalizes
    the unbiased pass@k estimate for k in (1, 5, 10).

    100 TB shape: each arriving batch reduces to O(tasks) partials
    map-side; the state table is tasks-sized; history is never
    rescanned; the falling-factorial finalization is a scalar
    projection over O(tasks) rows."""
    from oracle_vector_search_spark.queries.sft_queries import (
        _MIN_SAMPLES,
        _N_TASKS,
        _PASS_K,
        _falling_ratio_sql,
    )

    samples = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % _N_TASKS).cast("long").alias("task_id"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .cast("int")
        .alias("correct"),
    )

    def fold(batch: DataFrame, prev: DataFrame | None) -> DataFrame:
        rows = batch.select(
            "task_id", F.lit(1).alias("n"), F.col("correct").alias("c")
        )
        if prev is not None:
            rows = rows.unionByName(prev)
        return rows.groupBy("task_id").agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("c").cast("long").alias("c"),
        )

    state = drain_file_stream(samples, "task_id long, n long, c long", fold)
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
