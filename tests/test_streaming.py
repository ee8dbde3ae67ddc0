"""Structured Streaming ingest: file-source drain -> partitioned
parquet lake, and watermarked windowed counts."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from bigdata_jobmatching_spark.streaming.ingest import (
    read_offer_stream,
    stream_offers_to_lake,
    windowed_offer_counts,
)

from tests.fixtures import make_raw_offers


def _write_json_batch(d: Path, rows: list[dict], name: str) -> None:
    d.mkdir(parents=True, exist_ok=True)
    with open(d / name, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_lands_partitioned_parquet(spark, tmp_path):
    rows = make_raw_offers(40)
    _write_json_batch(tmp_path / "in", rows, "batch1.json")
    q = stream_offers_to_lake(
        spark,
        str(tmp_path / "in"),
        str(tmp_path / "lake"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "lake"))
    assert out.count() == len(rows)  # fixture list already includes the planted dup pair
    # hive partitioning by (scraped_date, source) exists on disk
    parts = {p.name for p in (tmp_path / "lake").iterdir() if p.is_dir()}
    assert any(p.startswith("scraped_date=") for p in parts)
    # exactly-once on restart: draining again with same checkpoint adds nothing
    q2 = stream_offers_to_lake(
        spark, str(tmp_path / "in"), str(tmp_path / "lake"), str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "lake")).count() == len(rows)


def test_windowed_counts_with_watermark(spark, tmp_path):
    rows = make_raw_offers(30)
    _write_json_batch(tmp_path / "in2", rows, "batch1.json")
    stream = read_offer_stream(spark, str(tmp_path / "in2"))
    from bigdata_jobmatching_spark.plans.domain_pipeline import normalize_offers

    agg = windowed_offer_counts(normalize_offers(stream))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory").queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; with a
    # single drained batch nothing closes yet — the streaming query
    # must still run clean. The same transform applied in batch mode
    # gives the full counts (one definition, two execution modes).
    batch = normalize_offers(spark.read.schema(stream.schema).json(str(tmp_path / "in2")))
    daily = windowed_offer_counts(batch)
    total = daily.agg(F.sum("n_offers").alias("t")).collect()[0].t
    assert total == 32


def test_stateful_stream_dedup(spark, tmp_path):
    from bigdata_jobmatching_spark.plans.domain_pipeline import normalize_offers
    from bigdata_jobmatching_spark.streaming.ingest import dedup_offer_stream

    rows = make_raw_offers(20)
    dup_rows = rows + rows[:5]  # replayed records (producer retries)
    _write_json_batch(tmp_path / "in3", dup_rows, "batch1.json")
    stream = read_offer_stream(spark, str(tmp_path / "in3"))
    deduped = dedup_offer_stream(normalize_offers(stream))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT offer_id FROM dedup_out").collect()
    assert len(out) == len(rows)  # five replays dropped
    assert len({r.offer_id for r in out}) == len(out)


def test_decode_kafka_wire_format(spark):
    # Rows shaped exactly like the kafka connector's output schema
    # (key/value binary + topic/partition/offset/timestamp/timestampType);
    # decode_kafka_offers is a pure transformation, so the batch twin
    # proves the S2+S3 decode without the connector jar.
    import datetime

    from bigdata_jobmatching_spark.streaming.ingest import decode_kafka_offers

    offers = make_raw_offers(3)
    ts = datetime.datetime(2024, 3, 1, 4, 0, 0)
    rows = [
        (o["job_id"].encode(), json.dumps(o).encode(), "job_offers_raw", i % 2, i, ts, 0)
        for i, o in enumerate(offers)
    ] + [(b"tomb", None, "job_offers_raw", 0, 99, ts, 0)]  # tombstone
    wire = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )
    out = decode_kafka_offers(wire).collect()
    assert len(out) == len(offers) + 1
    decoded = {r.job_id: r for r in out if r.job_id is not None}
    assert len(decoded) == len(offers)
    src = {o["job_id"]: o for o in offers}
    for jid, r in decoded.items():
        assert r.title == src[jid]["title"]
        assert r.source == src[jid]["source"]
    # a null Kafka value (tombstone) decodes to an all-null row, not a crash
    assert sum(1 for r in out if r.job_id is None) == 1


def test_kafka_source_invocation_documented(spark):
    # The real S1 invocation — proves our option shape is what the
    # connector expects and that ONLY the jar is missing in this image
    # (spark-sql-kafka is not bundled; no network to fetch it).
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)kafka"):
        (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", "localhost:9092")
            .option("subscribe", "job_offers_raw")
            .option("startingOffsets", "earliest")
            .option("maxOffsetsPerTrigger", 10000)
            .load()
        )


def test_interval_join_e2e_drops_late_click(spark, tmp_path):
    """Two-source stream-stream interval join e2e with out-of-order
    arrival, proving WATERMARK STATE EXPIRY (for an inner interval
    join Spark does not filter late input rows — the watermark's
    guarantee is that buffered state older than the bound is evicted,
    so a late row can no longer find an already-expired counterpart).

    Batch 1: purchase P2 (17:10) is buffered unmatched; watermark
    advances to 20:00 - 2h = 18:00. Batch 2 (on-time fillers only)
    runs with wm=18:00, whose end-of-batch state cleanup evicts P2
    (17:10 < 18:00: no non-late click can match it anymore). Batch 3:
    the very late click B (16:30) arrives — it satisfies the interval
    condition against P2, but P2's state is gone, so (P2, B) must NOT
    appear. Control: on-time click C (18:10, batch 2) is still
    retained (click bound = wm - horizon = 17:00) and must match
    purchase P3 (18:30, batch 3)."""
    import os

    from bigdata_jobmatching_spark.streaming.joins import stream_click_purchase_join

    def wf(d: Path, name: str, rows: list[dict], mtime: int) -> None:
        d.mkdir(parents=True, exist_ok=True)
        p = d / name
        with open(p, "w", encoding="utf-8") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    D = "2024-01-01T"
    cdir, pdir = tmp_path / "clicks", tmp_path / "purch"
    wf(cdir, "f1.json", [
        {"c_user_id": "u1", "click_id": "A", "click_ts": D + "10:00:00"},
        {"c_user_id": "wmc", "click_id": "W", "click_ts": D + "20:00:00"},
    ], 1_000_000)
    wf(pdir, "f1.json", [
        {"user_id": "u1", "purchase_id": "P1", "ts": D + "10:30:00"},
        {"user_id": "u2", "purchase_id": "P2", "ts": D + "17:10:00"},
        {"user_id": "wmp", "purchase_id": "PW", "ts": D + "20:00:00"},
    ], 1_000_000)
    wf(cdir, "f2.json", [
        {"c_user_id": "u3", "click_id": "C", "click_ts": D + "18:10:00"},
    ], 2_000_000)
    wf(pdir, "f2.json", [
        {"user_id": "fill", "purchase_id": "P4", "ts": D + "19:00:00"},
    ], 2_000_000)
    wf(cdir, "f3.json", [
        {"c_user_id": "u2", "click_id": "B", "click_ts": D + "16:30:00"},
    ], 3_000_000)
    wf(pdir, "f3.json", [
        {"user_id": "u3", "purchase_id": "P3", "ts": D + "18:30:00"},
    ], 3_000_000)

    clicks = (
        spark.readStream
        .schema("c_user_id string, click_id string, click_ts timestamp")
        .option("maxFilesPerTrigger", "1").json(str(cdir))
    )
    purch = (
        spark.readStream
        .schema("user_id string, purchase_id string, ts timestamp")
        .option("maxFilesPerTrigger", "1").json(str(pdir))
    )
    out = stream_click_purchase_join(clicks, purch, horizon="1 hour", watermark="2 hours")
    q = (
        out.writeStream.outputMode("append")
        .format("memory").queryName("ij_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.purchase_id, r.click_id) for r in spark.sql("SELECT * FROM ij_out").collect()}
    # the late pair (P2, B) joins under the interval condition but both
    # rows are beyond the watermark bounds — it must be expired
    assert got == {("P1", "A"), ("P3", "C")}


def test_streaming_rate_counts_match_batch(spark, tmp_path):
    """Batch/stream parity for the bot-detection bucketing: the same
    1-minute-bucket counts come out of the streaming aggregation
    (availableNow drain, watermark-closed windows) as from the batch
    groupBy that events_rate_outliers uses."""
    from bigdata_jobmatching_spark.streaming.ingest import streaming_rate_counts

    D = "2024-01-01T10:0"
    rows = [
        {"event_id": i, "user_id": u, "ts": f"{D}{m}:{s:02d}"}
        for i, (u, m, s) in enumerate([
            (1, 0, 5), (1, 0, 30), (1, 0, 55),   # burst: 3 in minute 0
            (1, 1, 10),
            (2, 0, 20), (2, 2, 40), (2, 2, 50),  # burst: 2 in minute 2
        ])
    ] + [{"event_id": 99, "user_id": 9, "ts": "2024-01-01T11:00:00"}]  # advances watermark
    src = tmp_path / "ev"
    src.mkdir()
    with open(src / "f1.json", "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = "event_id long, user_id long, ts timestamp"
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        streaming_rate_counts(stream)
        .writeStream.outputMode("append")
        .format("memory").queryName("rate_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.minute_start)): r.c
        for r in spark.sql("SELECT * FROM rate_counts").collect()
    }
    # all 10:0x windows are closed by the 11:00 row (watermark 10 min)
    assert got[(1, "2024-01-01 10:00:00")] == 3
    assert got[(1, "2024-01-01 10:01:00")] == 1
    assert got[(2, "2024-01-01 10:00:00")] == 1
    assert got[(2, "2024-01-01 10:02:00")] == 2
    # batch twin over the same data and buckets agrees
    batch = spark.read.schema(schema).json(str(src))
    b = {
        (r.user_id, str(r.minute_start)): r.c
        for r in batch.groupBy(
            F.window("ts", "1 minute").alias("w"), "user_id"
        ).agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("w.start").alias("minute_start"), "user_id", "c")
        .collect()
    }
    for k, v in got.items():
        assert b[k] == v


def test_stream_surprisal_stage_matches_batch(spark, tmp_path):
    """Round-10 (r9 verdict #7): the corpus pipeline's surprisal band
    run as a foreachBatch stream over micro-batches == the batch stage
    on the same corpus with the same frozen LM; the per-epoch monotone
    gate holds and epochs land idempotently."""
    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.sources.io import load_table
    from bigdata_jobmatching_spark.streaming.corpus_stream import (
        stream_surprisal_stage,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)  # 4 files -> 4 epochs

    lm = OC.fit_unigram_lm(spark.read.parquet(src))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = str(tmp_path / "out")
    q = stream_surprisal_stage(
        spark, stream, lm, out, str(tmp_path / "ckpt"),
        lo_milli_bits=2000, hi_milli_bits=15000,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() > 1  # really streamed
    want = OC.surprisal_band_filter(
        spark.read.parquet(src), 2000, 15000)
    got_ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    want_ids = sorted(r.doc_id for r in want.select("doc_id").collect())
    assert got_ids == want_ids and len(got_ids) > 0
    # stage only shrinks (the gate the stream enforces per epoch)
    assert len(got_ids) <= docs.count()


def test_kafka_wire_consume_end_to_end(spark, tmp_path):
    """Round-10 (r9 verdict #6): S1 EXECUTES — subscribe to a
    partitioned offset log through the wire-compatible kafka_wire
    source, decode, normalize, land the partitioned lake; a restart
    from the checkpoint picks up only new offsets (exactly-once)."""
    from bigdata_jobmatching_spark.sources import kafka_wire as KW
    from bigdata_jobmatching_spark.streaming.ingest import (
        stream_kafka_offers_to_lake,
    )

    broker = str(tmp_path / "broker")
    offers = make_raw_offers(20)
    KW.produce(
        broker, "job_offers_raw",
        [(o["job_id"].encode(), json.dumps(o).encode()) for o in offers]
        + [(b"gone", None)],  # tombstone: must not land
        partitions=3,
    )

    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    q = stream_kafka_offers_to_lake(spark, broker, out, ckpt)
    q.awaitTermination(120)
    landed = spark.read.parquet(out)
    assert landed.count() == len(offers)
    assert {"scraped_date", "source"} <= set(landed.columns)
    got_ids = {r.scraper_job_id
               for r in landed.select("scraper_job_id").collect()}
    assert got_ids == {o["job_id"] for o in offers}

    # restart with MORE records appended: only the delta lands (no
    # replay duplication through the checkpoint)
    more = make_raw_offers(30)[20:]
    KW.produce(
        broker, "job_offers_raw",
        [(o["job_id"].encode(), json.dumps(o).encode()) for o in more],
        partitions=3,
    )
    q2 = stream_kafka_offers_to_lake(spark, broker, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == len(offers) + len(more)


def test_kafka_wire_source_semantics(spark, tmp_path):
    """The wire double's connector contracts: exact output schema,
    batch face, and startingOffsets=latest skips the backlog (the
    maxOffsetsPerTrigger cap is pinned by
    test_kafka_wire_processing_time_cap_and_restart)."""
    from bigdata_jobmatching_spark.sources import kafka_wire as KW

    broker = str(tmp_path / "broker")
    recs = [(f"k{i}".encode(), f"v{i}".encode()) for i in range(12)]
    KW.produce(broker, "t", recs, partitions=2)
    KW.register_kafka_wire(spark)

    # batch face, connector schema
    b = (spark.read.format("kafka_wire")
         .option("path", broker).option("subscribe", "t").load())
    assert b.count() == 12
    assert [f.name for f in b.schema.fields] == [
        "key", "value", "topic", "partition", "offset",
        "timestamp", "timestampType"]
    # offsets are per-partition line numbers
    assert b.selectExpr("max(offset)").first()[0] < 12

    # latest: the pre-existing backlog is invisible; new records flow
    stream = (spark.readStream.format("kafka_wire")
              .option("path", broker).option("subscribe", "t")
              .option("startingOffsets", "latest").load())
    out = str(tmp_path / "latest_out")
    q = (stream.writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "latest_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    files_now = spark.read.schema(b.schema).parquet(out)
    assert files_now.count() == 0

    KW.produce(broker, "t", [(b"new", b"fresh")], partitions=2)
    q2 = (spark.readStream.format("kafka_wire")
          .option("path", broker).option("subscribe", "t")
          .option("startingOffsets", "latest").load()
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", str(tmp_path / "latest_ckpt"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(60)
    vals = {bytes(r.value) for r in
            spark.read.parquet(out).select("value").collect()}
    assert vals == {b"fresh"}


def test_stream_semantic_dedup_matches_batch(spark, tmp_path):
    """Round-10: streaming SemDeDup in the incremental shape — micro-
    batched arrivals matched against a frozen reference corpus keep
    exactly the docs a one-shot batch match keeps; planted twins drop,
    the per-epoch monotone gate holds."""
    from pyspark.sql import functions as F

    from bigdata_jobmatching_spark.operators import dedup as D
    from bigdata_jobmatching_spark.sources.io import load_table
    from bigdata_jobmatching_spark.streaming.corpus_stream import (
        stream_semantic_dedup_stage,
    )

    ref = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # arrivals: LCG-perturbed twins (tau-close to their base -> drop
    # whenever blocking lands them beside it) + negated probes
    twin = ref.select(
        (F.col("vec_id") + 10_000_000).alias("doc_id"),
        F.expr(
            "transform(embedding, (x, j) -> CAST(x AS DOUBLE) + "
            "CAST(((1103515245 * (vec_id * 64 + j) + 54321) % 2147483648)"
            " % 96001 - 48000 AS DOUBLE) / 1000000.0)"
        ).alias("embedding"),
    )
    neg = ref.select(
        (F.col("vec_id") + 20_000_000).alias("doc_id"),
        F.expr("transform(embedding, x -> -CAST(x AS DOUBLE))")
        .alias("embedding"),
    )
    arrivals = twin.unionByName(neg)
    src = str(tmp_path / "src")
    arrivals.repartition(4).write.parquet(src)

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_semantic_dedup_stage(
        spark, stream, ref, out, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() > 1  # really streamed

    # batch twin: one-shot match of ALL arrivals against the same ref
    parts = D.semantic_blocks(ref, "vec_id", "embedding")
    drops = D.semantic_match_against(
        spark.read.parquet(src), parts, "doc_id", "embedding",
    ).withColumnRenamed("match_id", "doc_id")
    want = spark.read.parquet(src).join(drops, "doc_id", "left_anti")

    got_ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    want_ids = sorted(r.doc_id for r in want.select("doc_id").collect())
    assert got_ids == want_ids
    n_in = arrivals.count()
    assert 0 < len(got_ids) < n_in  # some dropped, some kept


def test_stream_corpus_stages_match_batch(spark, tmp_path):
    """Round-10 capstone: the full streaming corpus chain (quality ->
    frozen-LM surprisal -> incremental semantic dedup vs a frozen
    reference -> PII scrub) over micro-batches == the same chain run
    in one batch pass; every per-epoch gate holds."""
    from pyspark.sql import functions as F

    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.operators import dedup as D
    from bigdata_jobmatching_spark.sources.io import load_table
    from bigdata_jobmatching_spark.streaming.corpus_stream import (
        stream_corpus_stages,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    # arrivals: docs 250.. with their embeddings; reference corpus:
    # embeddings of docs 0..249 (so some arrivals semantically match
    # the reference and drop, most survive)
    ref = emb.filter(F.col("vec_id") < 250)
    arrivals = docs.filter(F.col("doc_id") >= 250).join(
        emb.withColumnRenamed("vec_id", "doc_id").select(
            "doc_id", "embedding"),
        "doc_id",
    )
    src = str(tmp_path / "src")
    arrivals.repartition(4).write.parquet(src)

    lm = OC.fit_unigram_lm(spark.read.parquet(src))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = str(tmp_path / "out")
    q = stream_corpus_stages(
        spark, stream, lm, ref, out, str(tmp_path / "ckpt"))
    q.awaitTermination(240)

    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() > 1

    # batch twin: identical chain, one pass, same frozen inputs
    b = OC.quality_filter(spark.read.parquet(src), 0.5)
    b = OC.surprisal_band_filter(b, 2000, 15000, lm=lm)
    parts = D.semantic_blocks(ref, "vec_id", "embedding")
    drops = D.semantic_match_against(
        b, parts, "doc_id", "embedding",
    ).withColumnRenamed("match_id", "doc_id")
    b = OC.scrub_pii(b.join(drops, "doc_id", "left_anti"))

    got_rows = sorted((r.doc_id, r.text) for r in
                      got.select("doc_id", "text").collect())
    want_rows = sorted((r.doc_id, r.text) for r in
                       b.select("doc_id", "text").collect())
    assert got_rows == want_rows
    assert 0 < len(got_rows) < arrivals.count()


def test_kafka_wire_cv_consume(spark, tmp_path):
    """The declared-but-never-written CV consumer, executing: CV JSON
    through the kafka_wire log -> decode vs CV_SCHEMA -> normalized
    partitioned lake."""
    from bigdata_jobmatching_spark.sources import kafka_wire as KW
    from bigdata_jobmatching_spark.streaming.ingest import (
        stream_kafka_cvs_to_lake,
    )
    from tests.fixtures import make_cvs

    broker = str(tmp_path / "broker")
    cvs = make_cvs(12)
    KW.produce(
        broker, "candidate_cvs_raw",
        [(c["cv_id"].encode(), json.dumps(c).encode()) for c in cvs],
        partitions=2,
    )
    out, ckpt = str(tmp_path / "cv_lake"), str(tmp_path / "cv_ckpt")
    q = stream_kafka_cvs_to_lake(spark, broker, out, ckpt)
    q.awaitTermination(120)
    landed = spark.read.parquet(out)
    assert landed.count() == len(cvs)
    assert {r.cv_id for r in landed.select("cv_id").collect()} == {
        c["cv_id"] for c in cvs}


def test_compact_epochs_into_versioned_table(spark, tmp_path):
    """Streaming epoch dirs fold into one manifest-carrying published
    version: same rows, bounded file count, manifest-pruned reads
    work on the stream-built table."""
    from bigdata_jobmatching_spark import orchestrate_corpus as OC
    from bigdata_jobmatching_spark.sources import manifest as MF
    from bigdata_jobmatching_spark.sources import versioned as V
    from bigdata_jobmatching_spark.sources.io import load_table
    from bigdata_jobmatching_spark.streaming.corpus_stream import (
        compact_epochs,
        stream_surprisal_stage,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "src")
    docs.repartition(4).write.parquet(src)
    lm = OC.fit_unigram_lm(spark.read.parquet(src))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    out = str(tmp_path / "epochs")
    q = stream_surprisal_stage(
        spark, stream, lm, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    table = str(tmp_path / "corpus_table")
    v = compact_epochs(spark, out, table, stats_cols=("doc_id",),
                       target_files=2)
    assert v == 1
    compacted = V.read_version(spark, table)
    n_epoch_rows = spark.read.parquet(out).count()
    assert compacted.count() == n_epoch_rows > 0
    assert "epoch" not in compacted.columns
    man = MF.read_manifest(table)
    assert 0 < len(man["files"]) <= 2
    # manifest-pruned read answers exactly like the full table
    lo = compacted.agg({"doc_id": "min"}).first()[0]
    pruned, total, read = MF.read_pruned(spark, table, "doc_id", lo, lo)
    assert pruned.filter(f"doc_id = {lo}").count() == \
        compacted.filter(f"doc_id = {lo}").count() == 1


def test_kafka_wire_timestamp_is_true_instant(spark, tmp_path):
    """Round-10 review fix: the wire timestamp is the produced epoch
    instant (tz-aware UTC), not a session-timezone reinterpretation —
    parity with format("kafka")."""
    from bigdata_jobmatching_spark.sources import kafka_wire as KW

    broker = str(tmp_path / "broker")
    ts_ms = 1_700_000_000_000  # 2023-11-14T22:13:20Z
    KW.produce(broker, "t", [(b"k", b"v")], partitions=1,
               timestamp_ms=ts_ms)
    KW.register_kafka_wire(spark)
    row = (spark.read.format("kafka_wire")
           .option("path", broker).option("subscribe", "t").load()
           .selectExpr("unix_millis(timestamp) AS ms").first())
    assert row.ms == ts_ms


def test_kafka_wire_offset_protocol_properties(tmp_path):
    """Property test of the wire double's offset protocol (pure
    Python, no Spark), driven the way the engine drives it —
    latestOffset -> partitions -> read per partition: for ANY
    interleaving of produces and batches, under every cap in
    {0, 3, 7}, chaining batches from the initial offset loses nothing,
    duplicates nothing, keeps each batch within the cap as one input
    partition per topic partition, and readBetweenOffsets replays each
    slice exactly."""
    import random

    from bigdata_jobmatching_spark.sources import kafka_wire as KW

    def batch(reader, start):
        end = reader.latestOffset()
        parts = reader.partitions(start, end)
        assert len({p.partition for p in parts}) == len(parts)
        rows = [r for part in parts for r in reader.read(part)]
        return rows, end

    for cap in (0, 3, 7):
        rng = random.Random(20260816 + cap)
        broker = str(tmp_path / f"broker_{cap}")
        topic = "prop"
        produced: list[bytes] = []

        reader = KW.KafkaWireStreamReader(
            {"path": broker, "subscribe": topic,
             "maxOffsetsPerTrigger": str(cap)})
        offset = reader.initialOffset()
        consumed: list[bytes] = []
        batches: list[tuple[dict, dict]] = []
        for step in range(40):
            if rng.random() < 0.5:
                n = rng.randint(0, 4)
                recs = [(f"k{len(produced) + i}".encode(),
                         f"v{len(produced) + i}".encode())
                        for i in range(n)]
                KW.produce(broker, topic, recs, partitions=3)
                produced.extend(v for _, v in recs)
            else:
                rows, nxt = batch(reader, offset)
                assert not cap or len(rows) <= cap
                batches.append((dict(offset), dict(nxt)))
                consumed.extend(bytes(r[1]) for r in rows)
                offset = nxt
        # drain whatever remains (cap may need several batches)
        for _ in range(200):
            rows, nxt = batch(reader, offset)
            assert not cap or len(rows) <= cap
            if not rows and nxt == offset:
                break
            batches.append((dict(offset), dict(nxt)))
            consumed.extend(bytes(r[1]) for r in rows)
            offset = nxt
        # exactly-once: multiset equality (order differs across
        # partitions)
        assert sorted(consumed) == sorted(produced)
        # replay: every recorded batch replays to the identical multiset
        for start, end in batches:
            replay = [bytes(r[1])
                      for r in reader.readBetweenOffsets(start, end)]
            direct_rows, _ = batch(KW.KafkaWireStreamReader(
                {"path": broker, "subscribe": topic}), start)
            # replay slice == the rows whose offsets fall in [start, end)
            want = [bytes(r[1]) for r in direct_rows
                    if int(start.get(str(r[3]), 0)) <= r[4]
                    < int(end.get(str(r[3]), 0))]
            assert sorted(replay) == sorted(want)


def _query_task_counts(spark, query) -> list[int]:
    """Task count of every stage the streaming query ran (its jobs run
    under the query's runId as job group)."""
    tracker = spark.sparkContext.statusTracker()
    return [
        tracker.getStageInfo(sid).numTasks
        for jid in sorted(tracker.getJobIdsForGroup(str(query.runId)))
        for sid in tracker.getJobInfo(jid).stageIds
    ]


def test_kafka_wire_cv_backlog_drains_in_one_available_now_batch(
        spark, tmp_path):
    """A consumer restart with a backlog over the 10,000-record
    per-trigger cap lands ALL of it in one availableNow query: one
    micro-batch (the Python source API runs exactly one batch for
    availableNow, so a cap would strand the rest), read by one task
    per topic partition."""
    from bigdata_jobmatching_spark.sources import kafka_wire as KW
    from bigdata_jobmatching_spark.streaming.ingest import (
        stream_kafka_cvs_to_lake,
    )
    from tests.fixtures import make_cvs

    broker = str(tmp_path / "broker")
    cvs = make_cvs(10_250)
    # 8-byte big-endian keys route CV i to partition i % 2
    KW.produce(
        broker, "candidate_cvs_raw",
        [(i.to_bytes(8, "big"), json.dumps(c).encode())
         for i, c in enumerate(cvs)],
        partitions=2,
    )
    out, ckpt = str(tmp_path / "cv_lake"), str(tmp_path / "cv_ckpt")
    q = stream_kafka_cvs_to_lake(spark, broker, out, ckpt)
    q.awaitTermination(300)
    data_batches = [p for p in q.recentProgress if p["numInputRows"]]
    assert [p["numInputRows"] for p in data_batches] == [len(cvs)]
    assert spark.read.parquet(out).count() == len(cvs)
    # the batch's one stage (scan -> decode -> lake write, no
    # shuffle): one task per topic partition
    assert _query_task_counts(spark, q) == [2]


def test_kafka_wire_processing_time_cap_and_restart(spark, tmp_path):
    """maxOffsetsPerTrigger caps each processing-time micro-batch, and
    a restart from the checkpoint part-way through lands the remaining
    records exactly once."""
    import time

    from bigdata_jobmatching_spark.sources import kafka_wire as KW

    broker = str(tmp_path / "broker")
    # 8-byte big-endian keys route record i to partition i % 2
    recs = [(i.to_bytes(8, "big"), f"v{i}".encode()) for i in range(12)]
    KW.produce(broker, "t", recs, partitions=2)
    KW.register_kafka_wire(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        return (spark.readStream.format("kafka_wire")
                .option("path", broker).option("subscribe", "t")
                .option("maxOffsetsPerTrigger", 3).load()
                .writeStream.format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(processingTime="1 second").start())

    def landed() -> list[bytes]:
        try:
            return [bytes(r.value) for r in
                    spark.read.parquet(out).select("value").collect()]
        except Exception:  # no batch committed yet
            return []

    def wait_for(cond, timeout=120):
        deadline = time.time() + timeout
        while not cond():
            assert time.time() < deadline
            time.sleep(0.05)

    batch_sizes: list[int] = []
    q = start()
    wait_for(lambda: any(p["numInputRows"] for p in q.recentProgress))
    q.stop()
    batch_sizes += [p["numInputRows"] for p in q.recentProgress]
    first = landed()
    assert 0 < len(first) < len(recs)

    q2 = start()
    wait_for(lambda: len(landed()) >= len(recs))
    q2.stop()
    batch_sizes += [p["numInputRows"] for p in q2.recentProgress]
    assert all(n <= 3 for n in batch_sizes)
    got = landed()
    assert sorted(got) == sorted(v for _, v in recs)  # exactly once


def test_stream_fingerprint_assets_matches_batch(spark, tmp_path):
    """Ingest-time fingerprinting: drained streaming signatures equal
    the batch perceptual hashes key-for-key (image AND audio kinds),
    and a near-dup band join over the PERSISTED signatures finds the
    same pairs as the batch query — the steady-state deployment the
    perceptual family's scale notes describe."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from bigdata_jobmatching_spark.plans.multimodal_queries import (
        _audio_fp_of, _phash_of,
    )
    from bigdata_jobmatching_spark.streaming.corpus_stream import (
        stream_fingerprint_assets,
    )

    keys = list(range(0, 24)) + [4096, 4097]
    # third file RE-ARRIVES nine keys from the first two epochs plus
    # two fresh ones: the cross-epoch anti-join must land only the
    # fresh keys' rows ("fingerprint ONCE" holds across epochs —
    # round-10 advice), with the re-arrivals neither duplicated nor
    # re-decoded
    fresh = [8192, 8193]
    replays = keys[3:12]
    keys = keys + fresh
    src = tmp_path / "keys_src"
    src.mkdir()
    for i, half in enumerate((keys[:13], keys[13:26], replays + fresh)):
        part = tmp_path / f"__k{i}"
        spark.createDataFrame(
            [(k,) for k in half], "p_partkey long",
        ).coalesce(1).write.mode("overwrite").parquet(str(part))
        f = next(part.glob("part-*.parquet"))
        dest = src / f"k{i:03d}.parquet"
        shutil.move(str(f), str(dest))
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))

    for kind, fp_of in (("image", _phash_of), ("audio", _audio_fp_of)):
        out = str(tmp_path / f"sigs_{kind}")
        stream = (
            spark.readStream.schema("p_partkey long")
            .option("maxFilesPerTrigger", "1").parquet(str(src))
        )
        stream_fingerprint_assets(
            spark, stream, out, str(tmp_path / f"ck_{kind}"), kind=kind,
        ).awaitTermination(300)
        landed = [(r.p_partkey, r.ph)
                  for r in spark.read.parquet(out).drop("epoch").collect()]
        assert len(landed) == len(keys), (
            "a re-arriving key landed a duplicate signature row")
        got = dict(landed)
        assert sorted(got) == sorted(keys)
        for k in keys:
            assert got[k] == fp_of(k // 8, (k % 8) // 2)
    # exact twins (same clip, same variant) collide at distance 0 in
    # the persisted signatures — the band join's anchor property
    assert got[0] == got[1] and got[4096] == got[4097]


def test_stream_candidate_recs_matches_batch(spark, tmp_path):
    """Round-12 (r11 verdict task #4): the diversified dashboard
    served on arrival — micro-batched CV slices through
    stream_candidate_recs produce exactly the rows the one-shot batch
    dashboard produces for the same candidates (per-candidate
    independence makes the equivalence exact, not approximate)."""
    from bigdata_jobmatching_spark.plans.domain_queries import (
        _tiered_cvs,
        candidate_recs_for,
    )
    from bigdata_jobmatching_spark.streaming.serving import (
        stream_candidate_recs,
    )

    sf = "/root/testdata/sf0.001"
    cvs = _tiered_cvs(spark, sf)
    src = str(tmp_path / "cv_src")
    cvs.repartition(4).write.parquet(src)

    out = str(tmp_path / "recs_out")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_candidate_recs(spark, sf, stream, out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() > 1  # really streamed

    want = candidate_recs_for(spark, sf, spark.read.parquet(src))
    got_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in got.drop("epoch").collect())
    want_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in want.collect())
    assert got_rows == want_rows
    assert len(got_rows) > 0


def test_stream_candidate_recs_restart_is_exactly_once(spark, tmp_path):
    """Serving restart discipline: drain half the arriving CV files,
    stop, restart from the same checkpoint with the remaining files
    appended — every candidate's recs land exactly once, and a replay
    with nothing new adds nothing (epoch=N overwrite + checkpointed
    offsets)."""
    from bigdata_jobmatching_spark.plans.domain_queries import (
        _tiered_cvs,
        candidate_recs_for,
    )
    from bigdata_jobmatching_spark.streaming.serving import (
        stream_candidate_recs,
    )

    sf = "/root/testdata/sf0.001"
    cvs = _tiered_cvs(spark, sf)
    first = cvs.filter(F.col("cv_id") % 2 == 0)
    second = cvs.filter(F.col("cv_id") % 2 == 1)
    src = str(tmp_path / "cv_src")
    first.coalesce(2).write.parquet(src)

    out = str(tmp_path / "recs_out")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(src)
        )
        stream_candidate_recs(spark, sf, stream, out, ckpt).awaitTermination(300)

    drain()
    n_first = spark.read.parquet(out).count()
    assert n_first > 0

    # restart with the second half appended: only the delta lands
    second.coalesce(2).write.mode("append").parquet(src)
    drain()
    got = spark.read.parquet(out)
    want = candidate_recs_for(spark, sf, spark.read.parquet(src))
    got_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in got.drop("epoch").collect())
    want_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in want.collect())
    assert got_rows == want_rows  # no lost and no duplicated candidates

    # replay with nothing new: output unchanged
    drain()
    again = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in spark.read.parquet(out).drop("epoch").collect())
    assert again == want_rows


def test_stream_candidate_recs_frees_per_epoch_storage(spark, tmp_path):
    """Round-13 (r12 advice): each serving micro-batch eagerly
    checkpoints its pool/sims frames; a long stream must not
    accumulate those blocks in executor storage between Python GC
    cycles. After the stream drains, the only surviving NEW persistent
    RDD is the stream-lifetime offers checkpoint — per-epoch
    checkpoints are freed deterministically at the end of each
    apply_batch, not left to GC."""
    from bigdata_jobmatching_spark.plans.domain_queries import _tiered_cvs
    from bigdata_jobmatching_spark.streaming.serving import (
        _persistent_rdd_ids,
        stream_candidate_recs,
    )

    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "cv_src")
    _tiered_cvs(spark, sf).repartition(4).write.parquet(src)

    before = set(_persistent_rdd_ids(spark))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_candidate_recs(
        spark, sf, stream, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    n_epochs = spark.read.parquet(str(tmp_path / "out")) \
        .select("epoch").distinct().count()
    assert n_epochs > 1  # really streamed several epochs
    leaked = set(_persistent_rdd_ids(spark)) - before
    # one offers checkpoint, zero per-epoch leftovers (each epoch
    # creates >=2 eager checkpoints, so an unbounded stream would
    # otherwise grow by 2 per epoch)
    assert len(leaked) <= 1, f"per-epoch checkpoints leaked: {leaked}"


def test_stream_offer_arrivals_displaces_and_matches_full(spark, tmp_path):
    """Round-13 (r12 verdict task #4): fresh OFFERS reach candidates.
    Bootstrap the serving store against 6/7 of the offers corpus,
    stream the held-out offers in as arrival micro-batches, and
    check (a) at least one candidate's top-5 actually CHANGED — an
    arriving offer displaced a bootstrap entry, so the test isn't
    vacuous — and (b) the final latest-wins store row-equals the full
    one-shot recompute over the complete corpus (the delta-serve
    exactness contract: only affected candidates were re-served)."""
    from bigdata_jobmatching_spark.plans.domain_queries import (
        _tiered_cvs,
        _tiered_offers,
        candidate_recs_for,
    )
    from bigdata_jobmatching_spark.streaming.serving import (
        bootstrap_offer_serving,
        read_current_recs,
        stream_offer_arrivals,
    )

    sf = "/root/testdata/sf0.001"
    full = _tiered_offers(spark, sf)
    base = full.filter(F.col("job_id") % 7 != 3)
    arrivals = full.filter(F.col("job_id") % 7 == 3)
    assert arrivals.count() > 0

    out = str(tmp_path / "recs_out")
    bootstrap_offer_serving(spark, sf, out, base)
    boot_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id)
        for r in read_current_recs(spark, out).collect())

    src = str(tmp_path / "offer_src")
    arrivals.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_offer_arrivals(
        spark, sf, stream, out, str(tmp_path / "ckpt"),
        str(tmp_path / "offer_store"), base_offers=base)
    q.awaitTermination(300)

    got = sorted(
        (r.candidate_id, r.rnk, r.job_id)
        for r in read_current_recs(spark, out).collect())
    assert got != boot_rows  # an arriving offer displaced an entry

    want = sorted(
        (r.candidate_id, r.rnk, r.job_id)
        for r in candidate_recs_for(spark, sf, _tiered_cvs(spark, sf),
                                    full).collect())
    assert got == want  # delta-serve == full recompute, row for row

    # at-least-once upstream RE-DELIVERY: append the same offers
    # again — the duplicate guard must drop them (offers are
    # immutable postings), leaving the store duplicate-free and the
    # current view unchanged (a landed duplicate would double skill
    # document frequencies and could flip rare status corpus-wide)
    arrivals.repartition(1).write.mode("append").parquet(src)
    q2 = stream_offer_arrivals(
        spark, sf,
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
        out, str(tmp_path / "ckpt"), str(tmp_path / "offer_store"),
        base_offers=base)
    q2.awaitTermination(300)
    store = spark.read.parquet(str(tmp_path / "offer_store"))
    assert store.count() == store.select("job_id").distinct().count()
    again = sorted(
        (r.candidate_id, r.rnk, r.job_id)
        for r in read_current_recs(spark, out).collect())
    assert again == want


def test_fingerprint_stream_fails_loudly_on_store_schema_drift(spark, tmp_path):
    """Round-12 advice fix pinned: the cross-epoch seen-keys read used
    to swallow EVERY AnalysisException as 'first epoch', silently
    disabling the anti-join on a corrupt/drifted store and landing
    duplicates. Now only the genuine first-epoch case (no epoch=
    directories) skips the anti-join; a store whose schema drifted
    fails the stream loudly instead of degrading silently."""
    import pyspark.sql.utils as U

    from bigdata_jobmatching_spark.streaming.corpus_stream import (
        stream_fingerprint_assets,
    )

    src = str(tmp_path / "keys_src")
    spark.createDataFrame([(k,) for k in range(8)], "p_partkey long") \
        .coalesce(1).write.parquet(src)

    out = str(tmp_path / "sigs")
    # pre-existing store with a DRIFTED schema (p_partkey renamed)
    spark.createDataFrame([(1, 2)], "part_key long, ph long") \
        .write.parquet(f"{out}/epoch=999")

    stream = (
        spark.readStream.schema("p_partkey long")
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    q = stream_fingerprint_assets(
        spark, stream, out, str(tmp_path / "ck"), kind="image")
    try:
        q.awaitTermination(120)
        failed = q.exception() is not None
    except Exception:
        failed = True
    assert failed, (
        "schema-drifted signature store must fail the stream, not "
        "silently disable the cross-epoch anti-join")


def test_stream_candidate_recs_rearrival_latest_wins(spark, tmp_path):
    """A candidate whose CV re-arrives in a later micro-batch is
    RE-served; the store keeps the full history, and the read
    contract (read_current_recs) resolves latest-wins so dashboards
    never see two rec sets for one candidate."""
    from bigdata_jobmatching_spark.plans.domain_queries import (
        _tiered_cvs,
        candidate_recs_for,
    )
    from bigdata_jobmatching_spark.streaming.serving import (
        read_current_recs,
        stream_candidate_recs,
    )

    sf = "/root/testdata/sf0.001"
    cvs = _tiered_cvs(spark, sf)
    src = str(tmp_path / "cv_src")
    # file 1: all candidates; file 2: a RE-ARRIVAL of some of them
    cvs.coalesce(1).write.parquet(src)
    cvs.filter(F.col("cv_id") % 3 == 0).coalesce(1) \
        .write.mode("append").parquet(src)

    out = str(tmp_path / "recs_out")
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    )
    stream_candidate_recs(
        spark, sf, stream, out, str(tmp_path / "ckpt")
    ).awaitTermination(300)

    hist = spark.read.parquet(out)
    rearrived = hist.filter(F.col("candidate_id") % 3 == 0)
    # the history really contains both servings of the re-arrivals
    assert rearrived.select("epoch").distinct().count() == 2

    current = read_current_recs(spark, out)
    # exactly one rec set per candidate...
    per_cand = current.groupBy("candidate_id").count().collect()
    assert per_cand and all(r["count"] <= 5 for r in per_cand)
    # ...and (frozen corpus) the current rows equal the batch answer
    want = candidate_recs_for(spark, sf, cvs)
    got_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in current.collect())
    want_rows = sorted(
        (r.candidate_id, r.rnk, r.job_id, r.rel, r.score)
        for r in want.collect())
    assert got_rows == want_rows
