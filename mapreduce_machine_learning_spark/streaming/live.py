"""Live Structured Streaming twins of the §2.7 batch queries.

Spark's unified model means the same DataFrame expression runs over
``readStream`` unchanged; these helpers build the streaming variants and the
pytest suite (tests/test_streaming_live.py) asserts the batch/stream
equivalences the contract claims:

- complete-mode windowed aggregation  == the batch aggregation, exactly;
- append-mode output under a watermark == the batch windows whose end is at
  or below the final watermark (the rest are still "open" when the bounded
  stream ends);
- foreachBatch sees every input row exactly once with availableNow.

Scale notes: state in the windowed aggregations is bounded by the watermark
(late rows beyond 1 h are dropped, closed windows are evicted); the
checkpoint/WAL goes to the sink's checkpointLocation so a 1000-executor job
resumes after failure without reprocessing.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_machine_learning_spark.io import normalize_timestamps, prepare


def _parquet_file_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File-source stream over one read-only parquet table. The file source
    requires a *directory*, so the file is exposed through a symlink in a
    temp dir (no data copy); schema comes from a static read."""
    import os

    prepare(spark)
    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    stage = tempfile.mkdtemp(prefix=f"{table}_stream_")
    os.symlink(src, os.path.join(stage, f"{table}.parquet"))
    static = spark.read.parquet(src)
    return spark.readStream.schema(static.schema).parquet(stage)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed events with the same timestamp normalization as the batch
    loader (io.load_table)."""
    return normalize_timestamps(_parquet_file_stream(spark, sf_dir, "events"))


def tumbling_agg(ev: DataFrame, watermark: str | None = "1 hour") -> DataFrame:
    """The q_stream_tumble aggregation minus countDistinct (exact distinct
    is not available in streaming aggregation — use approx_count_distinct
    there; the batch twin checks the exact value)."""
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def run_to_memory(
    spark: SparkSession, sdf: DataFrame, name: str, mode: str
) -> DataFrame:
    """Execute a bounded stream to completion (availableNow) into a memory
    sink; returns the sink table."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_foreach_batch(spark: SparkSession, sdf: DataFrame) -> list[tuple[int, int]]:
    """Drain a stream through foreachBatch; returns [(batch_id, row_count)]."""
    seen: list[tuple[int, int]] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        seen.append((batch_id, batch_df.count()))

    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_feb_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return seen


def range_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self-join: pairs of events of the same user within 5
    minutes — the live twin of q_join_range. Both sides carry watermarks so
    the join state is bounded: a left row can be evicted once the right
    watermark passes its ts + 5 minutes (Spark derives the state cleanup
    bound from the interval condition)."""
    left = (
        events_stream(spark, sf_dir)
        .select(F.col("user_id").alias("u1"), F.col("ts").alias("ts1"))
        .withWatermark("ts1", "10 minutes")
    )
    right = (
        events_stream(spark, sf_dir)
        .select(F.col("user_id").alias("u2"), F.col("ts").alias("ts2"))
        .withWatermark("ts2", "10 minutes")
    )
    return left.join(
        right,
        (F.col("u1") == F.col("u2"))
        & (F.col("ts2") > F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES")),
    )


def dedup_users_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first event per user survives
    (dropDuplicates on the key — state holds one entry per distinct user;
    in production bound it with dropDuplicatesWithinWatermark)."""
    return events_stream(spark, sf_dir).dropDuplicates(["user_id"])


def dedup_users_stream_bounded(
    spark: SparkSession, sf_dir: str, within: str = "365 days"
) -> DataFrame:
    """Production streaming dedup: ``dropDuplicatesWithinWatermark`` keeps
    one row per user per watermark horizon, so state is EVICTED once the
    watermark passes — bounded memory at any stream length, unlike plain
    dropDuplicates whose key state grows forever. With a horizon covering
    the whole replayed dataset the output equals the global per-user dedup
    (asserted live in tests); in production the horizon is the real
    re-delivery bound (minutes-hours) and state stays tiny."""
    return (
        events_stream(spark, sf_dir)
        .withWatermark("ts", within)
        .dropDuplicatesWithinWatermark(["user_id"])
    )


def session_agg(ev: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Native ``session_window`` aggregation in STREAMING mode — the live
    twin of q_stream_session's batch session windows (and the built-in
    counterpart of the applyInPandasWithState sessionizer in
    ``streaming/stateful.py``). Sessions merge as events arrive; a session
    closes — and is emitted in append mode — once the event-time watermark
    passes its end (last event + gap). State per open session is one
    (start, end, aggregates) entry, evicted on emission, so memory is
    bounded by ACTIVE sessions regardless of stream length."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed documents (no timestamp column to normalize)."""
    return _parquet_file_stream(spark, sf_dir, "documents")


def incremental_dedup_probe_stream(
    spark: SparkSession, sf_dir: str, ex_bands: DataFrame | None = None
) -> DataFrame:
    """Streaming twin of q_llm_dedup_incremental's candidate probe: the
    incoming slice (doc_id % 10 = 0) arrives as a STREAM, is MinHash-signed
    ROW-WISE, and probes the static existing-corpus band table via a
    stream-static equi-join — the live ingest-dedup shape.

    The row-wise signature is the stateless reformulation the streaming
    context forces: `llm.minhash_band_keys` (sig_i = array_min(transform(
    tokens, t → md5(seed|t)))) needs no explode/groupBy (no aggregation
    state, no watermark), and is value-identical to the batch band kernel
    (tests/test_minhash_kernel.py pins the two). The static side is the
    same band table the batch pipeline maintains; at scale it is the
    persisted, append-only LSH index and this join is the per-microbatch
    lookup. Emits one row per (incoming doc, matching band) — the test
    collapses to distinct docs and asserts equality with the batch
    candidate set."""
    from mapreduce_machine_learning_spark.operators.llm import (
        _bands,
        minhash_band_keys,
    )

    inc = documents_stream(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    probe = inc.select(
        F.col("doc_id").alias("inc_id"),
        F.posexplode(minhash_band_keys(F.col("text"))).alias(
            "band_id", "band_key"
        ),
    )
    if ex_bands is None:
        ex_bands = (
            _bands(spark, sf_dir)
            .filter(F.col("doc_id") % 10 != 0)
            .select(F.col("doc_id").alias("ex_id"), "band_id", "band_key")
        )
        # pass ex_bands explicitly to probe a PERSISTED index instead —
        # e.g. the bucketed band table of tests/test_incremental_state.py
        # (columns (ex_id | doc_id, band_id, band_key)); the stream-static
        # join is the same either way, which is the point: the live probe
        # and the at-rest state share one contract
    if "doc_id" in ex_bands.columns:
        ex_bands = ex_bands.select(
            F.col("doc_id").alias("ex_id"), "band_id", "band_key"
        )
    # A caller-supplied index defines the EXISTING corpus; if it also
    # covers in-flight ids (e.g. the session-wide band table), a doc would
    # trivially collide with its own band rows — drop self-pairs so the
    # probe only ever reports candidates against OTHER documents. (The
    # default branch's % 10 filter already excludes the whole incoming
    # slice; the guard makes the supplied-frame branch safe too.)
    return (
        probe.join(ex_bands, ["band_id", "band_key"])
        .filter(F.col("inc_id") != F.col("ex_id"))
        .select("inc_id", "ex_id")
    )


def ann_probe_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN candidate probe: a stream of query vectors (the
    vec_id % 50 = 0 slice) is LSH-signed in-stream — the Arrow
    `mapInPandas` signature batch runs per micro-batch unchanged — and
    probes the static band index via a stream-static equi-join, emitting
    (query, candidate) pairs. The vector twin of
    incremental_dedup_probe_stream: at scale this is how a retrieval
    service dedups/looks up INCOMING embeddings against a persisted index
    without any stateful operator (no watermark needed; the join is
    stateless on the stream side)."""
    from mapreduce_machine_learning_spark.operators.ann import (
        _RP_BANDS,
        SIG_SCHEMA,
        _bands,
        sig_batches,
    )

    stream = _parquet_file_stream(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 50 == 0
    )
    sigs = stream.select("vec_id", "embedding").mapInPandas(
        sig_batches, schema=SIG_SCHEMA
    )
    probe = sigs.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(
            F.array(*[f"k{b}" for b in range(_RP_BANDS)])
        ).alias("band_id", "band_key"),
    )
    index = _bands(spark, sf_dir).select(
        F.col("vec_id").alias("cand_id"), "band_id", "band_key"
    )
    return (
        probe.join(index, ["band_id", "band_key"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )


def ivf_probe_stream(
    spark: SparkSession,
    sf_dir: str,
    index: DataFrame | None = None,
    centroids: list | None = None,
) -> DataFrame:
    """Streaming IVF retrieval probe: a stream of query vectors (the
    vec_id % 50 = 0 slice) is assigned its top-nprobe cells IN-STREAM —
    an Arrow mapInPandas kernel closed over the 16-row centroid metadata,
    row-local and stateless, the kernel q_llm_ann_ivf_knn ranks its own
    query with —
    and a stream-static join against the cell index emits (query,
    candidate) pairs, final rerank left to the consumer. The IVF twin of
    ann_probe_stream, and the live half of the persisted-index story:
    pass ``index`` to probe the at-rest cell-partitioned layout of
    tests/test_ann.py::test_ivf_index_append_delta (columns (vec_id |
    cand_id, cid)) — the same frame contract the batch queries read, so
    ingest-time retrieval needs no recompute of anything but the stream's
    own cell assignment. Pass ``centroids`` (the (cid, vector) rows, e.g.
    a cached `ann.ivf_centroid_rows` result stored with the index) to skip
    the default one-time metadata fetch — a production probe service loads
    the metadata once at startup, not per stream construction."""
    from mapreduce_machine_learning_spark.operators.ann import (
        CELL_PROBE_SCHEMA,
        _ivf_cells,
        ivf_centroid_rows,
        make_cell_probe_kernel,
    )

    if centroids is None:
        centroids = ivf_centroid_rows(spark, sf_dir)
    kernel = make_cell_probe_kernel(centroids)
    stream = _parquet_file_stream(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 50 == 0
    )
    probe = stream.select("vec_id", "embedding").mapInPandas(
        kernel, schema=CELL_PROBE_SCHEMA
    ).select(F.col("vec_id").alias("query_id"), "cid")
    if index is None:
        index = _ivf_cells(spark, sf_dir)
    if "vec_id" in index.columns:
        index = index.select(F.col("vec_id").alias("cand_id"), "cid")
    return (
        probe.join(index, "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )
