"""Post-window streaming queries (registered after the 50-slot driver
window; verified by the local exact-hash gate)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_datalake_spark.catalog import load_tables
from pg_datalake_spark.plans.registry import ORACLES, register


@register(
    "st07_streaming_dedup",
    oracle="""
    SELECT count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    """,
)
def st07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication (SURVEY §2.10 beyond-reference tier):
    the landing zone receives every event file TWICE (an
    at-least-once upstream replay), and
    ``streaming.streaming_dedup_ingest`` — watermarked
    ``dropDuplicatesWithinWatermark`` on the event key, so dedup state
    is bounded by the watermark window, not the stream length — must
    deliver each event exactly once: the sink aggregate equals the
    clean single-copy aggregate the oracle computes."""
    from pg_datalake_spark.streaming.ingest import streaming_dedup_ingest

    t = load_tables(spark, sf_dir, ["events"])
    clean = t["events"].select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "value"
    )
    stage = tempfile.mkdtemp(prefix="st07_")
    landing = os.path.join(stage, "landing")
    clean.write.parquet(landing)
    clean.write.mode("append").parquet(landing)  # the duplicate delivery
    sink_dir = os.path.join(stage, "sink")

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(sink_dir)

    schema = spark.read.parquet(landing).schema
    streaming_dedup_ingest(
        spark,
        landing,
        schema,
        os.path.join(stage, "ckpt"),
        sink,
        key_cols=["event_id"],
        event_time_col="ts",
        watermark="10 minutes",
    )
    return spark.read.parquet(sink_dir).agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long")
        .alias("value_cents"),
    )


@register(
    "st08_stream_stream_join",
    oracle="""
    SELECT count(*) AS n_pairs,
           count(DISTINCT v_id) AS n_views_matched,
           count(DISTINCT p_id) AS n_purchases_matched,
           CAST(sum(CAST(round(p_value * 100) AS BIGINT)) AS BIGINT)
             AS attributed_cents
    FROM (
      SELECT v.event_id AS v_id, p.event_id AS p_id, p.value AS p_value
      FROM events v JOIN events p
        ON p.user_id = v.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    )
    """,
)
def st08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution within
    30 minutes): views and purchases land as two file streams, both
    watermarked, joined with the two-sided event-time constraint that
    bounds join state (streaming.ingest.streaming_interval_join). The
    sink's pair set must equal the batch join the oracle computes —
    exactly-once, no pair lost at micro-batch boundaries, none
    duplicated."""
    from pg_datalake_spark.streaming.ingest import streaming_interval_join

    t = load_tables(spark, sf_dir, ["events"])
    ev = t["events"].select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    stage = tempfile.mkdtemp(prefix="st08_")
    views_dir = os.path.join(stage, "views")
    buys_dir = os.path.join(stage, "purchases")
    ev.filter(F.col("event_type") == "view").write.parquet(views_dir)
    ev.filter(F.col("event_type") == "purchase").write.parquet(buys_dir)
    sink_dir = os.path.join(stage, "sink")

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(sink_dir)

    schema = spark.read.parquet(views_dir).schema
    streaming_interval_join(
        spark,
        views_dir,
        buys_dir,
        schema,
        os.path.join(stage, "ckpt"),
        sink,
        key_col="user_id",
        time_col="ts",
        max_lag="30 minutes",
        watermark="10 minutes",
    )
    return spark.read.parquet(sink_dir).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("l_event_id").alias("n_views_matched"),
        F.countDistinct("r_event_id").alias("n_purchases_matched"),
        F.sum(F.round(F.col("r_value") * 100).cast("long")).cast("long")
        .alias("attributed_cents"),
    )


@register(
    "st09_streaming_lsh_neardup",
    # the accumulated stream MUST equal the batch pipeline, so the
    # oracle IS d02's (lazy: resolved after llmops registers)
    oracle=lambda: ORACLES["d02_minhash_lsh_neardup"],
)
def st09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MinHash-LSH near-duplicate detection
    (streaming.ingest.streaming_lsh_candidates): documents land as
    four separate micro-batches (maxFilesPerTrigger=1); per-bucket
    state emits each candidate pair exactly once, the moment its
    later member arrives — arrival-order independent, so the
    accumulated pair sink must equal the BATCH LSH candidate set and,
    after the exact-Jaccard verify, d02's full output. A near-dup
    pair split across distant micro-batches is still found, exactly
    once."""
    from pg_datalake_spark.operators.dedup import (
        jaccard_verify_shingles,
        with_shingles,
    )
    from pg_datalake_spark.streaming.ingest import streaming_lsh_candidates

    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].select("doc_id", "text")
    stage = tempfile.mkdtemp(prefix="st09_")
    landing = os.path.join(stage, "landing")
    # four id-range chunks -> four micro-batches (order irrelevant to
    # the emitted pair set, but chunking exercises cross-batch pairing)
    n_chunks = 4
    for i in range(n_chunks):
        docs.filter(F.col("doc_id") % n_chunks == i).repartition(1).write.mode(
            "append"
        ).parquet(landing)
    sink_dir = os.path.join(stage, "sink")

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").parquet(sink_dir)

    schema = spark.read.parquet(landing).schema
    streaming_lsh_candidates(
        spark,
        landing,
        schema,
        os.path.join(stage, "ckpt"),
        sink,
        id_col="doc_id",
        text_col="text",
    )
    # explicit schema: a zero-pair stream leaves no part files and
    # schema inference would fail instead of yielding an empty frame
    pairs = spark.read.schema("id_a long, id_b long").parquet(sink_dir).distinct()
    sh = with_shingles(docs, "doc_id", "text")
    return jaccard_verify_shingles(pairs, sh, "doc_id", threshold=0.5)
