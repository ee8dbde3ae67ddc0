"""Structured Streaming ingest: the reference's Kafka -> parquet-lake
landing job (spark/streaming/consume_jobs.py) rebuilt idiomatically.

The batch transform (plans.domain_pipeline.normalize_offers) is
applied unchanged to the streaming DataFrame — one definition of the
semantics for both paths. Differences from the reference:

- ``maxOffsetsPerTrigger`` replaces the inert DStream backpressure
  confs (SURVEY §2.9) — on processing-time triggers only.
- ``Trigger.AvailableNow`` drains the backlog in ONE micro-batch:
  Spark 4.1's Python source API has no admission control, so an
  availableNow query over a Python source runs exactly one batch, and
  the Kafka consumers leave the per-trigger cap unset for it — the
  batch lands everything available at query start (the AvailableNow
  contract) instead of a capped slice that strands the rest until the
  next round. Processing-time triggers keep the 10,000-record cap.
- A watermarked tumbling-window count stream is provided as the
  idiomatic upgrade of the "offers per day" dashboard (the reference
  lands raw rows only and counts later in batch).

Kafka itself is an option behind the same interface: swap the file
source for ``spark.readStream.format("kafka")`` + the S2/S3 decode
(CAST value AS STRING -> from_json) with no change downstream. The
spark-sql-kafka jar is not in this image and there is no network to
fetch it, so the REAL connector cannot load (documented by
test_kafka_source_invocation_documented). Since round 10 the path
still EXECUTES end to end through the wire-compatible file-backed
double (sources/kafka_wire.py): :func:`stream_kafka_offers_to_lake`
runs subscribe -> offsets -> micro-batches -> decode -> partitioned
lake with checkpoint restart, identical code and options either way;
only the TCP broker protocol itself stays untested here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.domain_pipeline import normalize_cvs, normalize_offers
from ..schemas import CV_SCHEMA, JOB_RAW_SCHEMA


def read_offer_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-based stream of raw offer JSON (one record per line).
    Fixed schema — never inferred (consume_jobs.py:39-75)."""
    return spark.readStream.schema(JOB_RAW_SCHEMA).json(input_path)


def decode_kafka_offers(kafka_df: DataFrame) -> DataFrame:
    """S2+S3: binary key/value -> typed columns (consume_jobs.py:105-111).
    Apply to a ``format("kafka")`` readStream DataFrame."""
    return (
        kafka_df.selectExpr("CAST(value AS STRING) AS json")
        .select(F.from_json("json", JOB_RAW_SCHEMA).alias("r"))
        .select("r.*")
    )


def stream_offers_to_lake(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Land the normalized offer stream as partitioned parquet
    (consume_jobs.py:144-156: append mode, partitionBy(scraped_date,
    source), checkpointed — exactly-once via checkpoint + idempotent
    file sink)."""
    normalized = normalize_offers(read_offer_stream(spark, input_path))
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("scraped_date", "source")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def read_cv_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-based stream of raw candidate-CV JSON, fixed CV_SCHEMA —
    the ingestion twin of the reference's declared-but-never-written
    CV consumer (PLAN_REALISATION.md:260-271: consume_cvs.py missing;
    table schema create_tables.sql:98-128). Swap in
    ``format("kafka")`` + :func:`decode_kafka_cvs` unchanged
    downstream, exactly as the offer path."""
    return spark.readStream.schema(CV_SCHEMA).json(input_path)


def decode_kafka_cvs(kafka_df: DataFrame) -> DataFrame:
    """Binary Kafka value -> typed CV columns (same S2+S3 shape as
    :func:`decode_kafka_offers`, against CV_SCHEMA)."""
    return (
        kafka_df.selectExpr("CAST(value AS STRING) AS json")
        .select(F.from_json("json", CV_SCHEMA).alias("r"))
        .select("r.*")
    )


def stream_cvs_to_lake(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Land the normalized CV stream as partitioned parquet —
    (scraped_date, source_site) partitions mirroring the offer lake's
    (scraped_date, source), append mode, checkpointed for
    exactly-once via the idempotent file sink."""
    normalized = normalize_cvs(read_cv_stream(spark, input_path))
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("scraped_date", "source_site")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def dedup_offer_stream(offers: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Stateful streaming dedup by offer id: exactly-one-row-per-id
    within the watermark horizon (re-scrapes and producer retries are
    the duplicate source). State is bounded by the watermark —
    Spark's dropDuplicatesWithinWatermark evicts ids older than the
    horizon, so state size tracks the arrival rate, not history.

    The reference's streaming job lands duplicates and relies on the
    batch dedup stage; this closes that gap at ingest.
    """
    return offers.withWatermark("scraped_ts", watermark).dropDuplicatesWithinWatermark(["offer_id"])


def windowed_offer_counts(offers: DataFrame, window: str = "1 day", watermark: str = "2 days") -> DataFrame:
    """Watermarked tumbling-window offer counts per source — late data
    beyond the watermark is dropped, state is bounded (the idiomatic
    'offers per day' stream)."""
    return (
        offers.withWatermark("scraped_ts", watermark)
        .groupBy(F.window("scraped_ts", window).alias("w"), "source")
        .agg(F.count(F.lit(1)).alias("n_offers"))
        .select(F.col("w.start").alias("window_start"), "source", "n_offers")
    )


def streaming_rate_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming twin of the batch ``events_rate_outliers`` bucketing:
    per-user counts over 1-minute tumbling event-time windows. The
    batch query takes max-per-user over the same buckets; here the
    windowed counts stream out as the watermark closes each minute,
    and the threshold filter runs downstream (alerting sink).

    State is one counter per (user, open window) — bounded by the
    watermark horizon times the active-user rate.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("minute_start"), "user_id", "c")
    )


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    streaming DataFrame (the standard "join the offer stream to the
    sector/location dim" step the reference's batch chain does after
    landing — done in-flight here, one less lake round-trip).

    The static side is explicitly broadcast: a stream-static join
    must not shuffle the unbounded side, and Spark re-reads the
    static relation per micro-batch (so a versioned-dim refresh is
    picked up on the next trigger without restarting the query).
    Stateless — no watermark required, any output mode."""
    return stream.join(F.broadcast(dim), on, how)


def read_kafka_offer_stream(
    spark: SparkSession,
    broker_path: str,
    topic: str = "job_offers_raw",
    source_format: str = "kafka_wire",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 10_000,
) -> DataFrame:
    """S1 as an EXECUTING path (round-10): subscribe to a topic and
    return connector-shaped wire rows. Default source is the
    file-backed wire double (sources/kafka_wire.py — partitioned
    offset logs read by executors one task per topic partition,
    connector output schema, maxOffsetsPerTrigger); a cluster with the
    spark-sql-kafka jar swaps ``source_format="kafka"`` and passes the
    broker address as ``broker_path``, with every option name and
    everything downstream unchanged (consume_jobs.py:93-100).

    ``max_offsets_per_trigger`` caps each processing-time micro-batch;
    ``None`` leaves it unset, which is what an availableNow query
    wants: that query runs a single batch, so a cap would strand every
    record beyond it until the next query."""
    if source_format == "kafka_wire":
        from ..sources.kafka_wire import register_kafka_wire

        register_kafka_wire(spark)
        reader = spark.readStream.format("kafka_wire").option(
            "path", broker_path)
    else:
        reader = spark.readStream.format(source_format).option(
            "kafka.bootstrap.servers", broker_path)
    reader = reader.option("subscribe", topic).option(
        "startingOffsets", starting_offsets)
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    return reader.load()


def _trigger_cap(available_now: bool) -> int | None:
    """Per-trigger cap for the Kafka consumers: none for the
    single-batch availableNow drain, 10,000 records otherwise."""
    return None if available_now else 10_000


def stream_kafka_offers_to_lake(
    spark: SparkSession,
    broker_path: str,
    output_path: str,
    checkpoint_path: str,
    topic: str = "job_offers_raw",
    source_format: str = "kafka_wire",
    available_now: bool = True,
) -> StreamingQuery:
    """The reference's full consume job (S1 -> S2 -> S3 -> S6),
    executing end to end: subscribe -> drop tombstones (null value:
    a Kafka delete marker carries nothing to land) -> decode ->
    normalize -> partitioned parquet lake, checkpointed for
    exactly-once across restarts."""
    wire = read_kafka_offer_stream(
        spark, broker_path, topic, source_format,
        max_offsets_per_trigger=_trigger_cap(available_now))
    offers = decode_kafka_offers(wire.filter("value IS NOT NULL"))
    normalized = normalize_offers(offers)
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("scraped_date", "source")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def stream_kafka_cvs_to_lake(
    spark: SparkSession,
    broker_path: str,
    output_path: str,
    checkpoint_path: str,
    topic: str = "candidate_cvs_raw",
    source_format: str = "kafka_wire",
    available_now: bool = True,
) -> StreamingQuery:
    """The CV twin of :func:`stream_kafka_offers_to_lake` — the
    reference DECLARED this consumer and never wrote it
    (PLAN_REALISATION.md:260-271: consume_cvs.py missing); here the
    full path executes: subscribe -> drop tombstones -> decode
    against CV_SCHEMA -> normalize -> (scraped_date, source_site)
    partitioned lake, checkpointed. The wire source is
    :func:`read_kafka_offer_stream` — topic-generic despite the name:
    it returns connector-shaped rows for whatever topic it is given,
    and only the decode step downstream is schema-specific."""
    wire = read_kafka_offer_stream(
        spark, broker_path, topic, source_format,
        max_offsets_per_trigger=_trigger_cap(available_now))
    cvs = decode_kafka_cvs(wire.filter("value IS NOT NULL"))
    normalized = normalize_cvs(cvs)
    writer = (
        normalized.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("scraped_date", "source_site")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()
