"""A wire-compatible, file-backed Kafka test double as a Spark
Python Data Source — the round-10 answer to the one environmental
gap in SURVEY §2.1 S1.

The reference executes ``readStream.format("kafka")`` against a live
broker (spark/streaming/consume_jobs.py:93-100). This image bundles
no spark-sql-kafka jar and has no network to fetch one, so the real
connector cannot LOAD here (pinned by
tests/test_streaming.py::test_kafka_source_invocation_documented).
What CAN execute — and what this module provides — is everything the
connector contributes on the Spark side of the wire:

- **log model**: a topic is a directory of numbered partitions, each
  an append-only JSONL file; a record is (key, value, timestamp) with
  key/value base64 (binary-safe, tombstones as null) — Kafka's
  partitioned-offset-log semantics on a filesystem;
- **output schema**: rows come back in the CONNECTOR'S EXACT shape —
  ``key binary, value binary, topic string, partition int, offset
  long, timestamp timestamp, timestampType int`` — so the S2+S3
  decode (streaming/ingest.decode_kafka_offers) and everything
  downstream runs UNCHANGED against either source;
- **offset protocol**: streaming offsets are {partition: next_index}
  dicts; micro-batches replay exactly (the log is immutable), giving
  checkpoint-restart exactly-once through the standard file-sink
  discipline;
- **options**: ``path`` (broker dir), ``subscribe`` (topic),
  ``startingOffsets`` earliest|latest, ``maxOffsetsPerTrigger``
  (per-batch row cap across partitions, the backpressure knob the
  reference sets inertly via DStream confs). The cap is for
  processing-time triggers only: Spark 4.1's Python source API has no
  admission control, so an availableNow query runs exactly ONE batch
  ending at ``latestOffset()``; a capped end would leave the rest of
  the backlog for the next query. Consumers that drain with
  availableNow leave the option unset (streaming/ingest.py).

What it deliberately does NOT cover: the TCP broker protocol,
consumer groups, and transactional producers — those live beyond the
Spark/connector boundary this engine is responsible for. With this
double, S1 is exercised by EXECUTION (subscribe -> offsets ->
micro-batches -> decode -> lake landing, restart included) rather
than by construction.

Scale note: the stream reader is a partitioned
``DataSourceStreamReader``. The driver only plans offsets (line counts,
kept incrementally per partition file); each micro-batch is one input
partition per topic partition with new records, streamed lazily by
executors in parallel, exactly like the real connector's 1:1
Kafka-partition-to-Spark-partition mapping. A batch's task count is
therefore the number of topic partitions that received records. A
production swap is ``format("kafka_wire") -> format("kafka")`` plus
broker options.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def _topic_dir(path: str, topic: str) -> str:
    return os.path.join(path, topic)


def _partition_file(path: str, topic: str, partition: int) -> str:
    return os.path.join(_topic_dir(path, topic), f"p{partition:04d}.jsonl")


def _list_partitions(path: str, topic: str) -> list[int]:
    d = _topic_dir(path, topic)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[1:-6]) for n in os.listdir(d)
        if n.startswith("p") and n.endswith(".jsonl")
    )


def _b64(b: bytes | None) -> str | None:
    return None if b is None else base64.b64encode(b).decode()


def _unb64(s: str | None) -> bytes | None:
    return None if s is None else base64.b64decode(s)


def produce(
    path: str,
    topic: str,
    records: list[tuple[bytes | None, bytes | None]],
    partitions: int = 2,
    timestamp_ms: int | None = None,
) -> None:
    """Harness-side producer twin (base_scraper.py:94-109: keyed JSON,
    acks=all): append (key, value) records to the topic log. Records
    route to partitions by key hash (None key -> round robin), the
    connector-visible half of Kafka's default partitioner."""
    os.makedirs(_topic_dir(path, topic), exist_ok=True)
    ts = timestamp_ms if timestamp_ms is not None else 1_700_000_000_000
    rr = 0
    by_part: dict[int, list[str]] = {}
    for key, value in records:
        if key is None:
            p = rr % partitions
            rr += 1
        else:
            p = int.from_bytes(key[:8].ljust(8, b"\0"), "big") % partitions
        by_part.setdefault(p, []).append(json.dumps(
            {"k": _b64(key), "v": _b64(value), "ts": ts}))
    for p, lines in by_part.items():
        with open(_partition_file(path, topic, p), "a") as f:
            f.write("\n".join(lines) + "\n")


def _read_slice(
    path: str, topic: str, partition: int, lo: int, hi: int | None,
) -> Iterator[tuple]:
    f = _partition_file(path, topic, partition)
    if not os.path.isfile(f):
        return
    with open(f) as fh:
        for i, line in enumerate(fh):
            if i < lo:
                continue
            if hi is not None and i >= hi:
                break
            rec = json.loads(line)
            # tz-AWARE instant: a naive datetime would be read in the
            # session timezone and shift the stored instant whenever
            # that is not UTC — a parity break with format("kafka"),
            # which always lands the true epoch instant
            yield (
                _unb64(rec["k"]), _unb64(rec["v"]), topic, partition, i,
                _dt.datetime.fromtimestamp(
                    rec["ts"] / 1000.0, tz=_dt.timezone.utc),
                0,  # timestampType: CREATE_TIME, like the connector
            )


# (file byte size -> line count) per partition file: the log is
# append-only, so an unchanged size means an unchanged count and a
# larger size means the old count plus the newlines in the appended
# bytes — each trigger's cost grows with the new records, not with the
# topic's retention (a continuously-running stream would otherwise pay
# O(total) per trigger forever). Only complete lines count: a record
# still being appended stays invisible until its newline lands.
_COUNT_CACHE: dict[str, tuple[int, int]] = {}
_COUNT_CHUNK = 1 << 20


def _end_offsets(path: str, topic: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for p in _list_partitions(path, topic):
        f = _partition_file(path, topic, p)
        size = os.path.getsize(f)
        seen, n = _COUNT_CACHE.get(f, (0, 0))
        if size < seen:  # not this log any more (recreated): recount
            seen, n = 0, 0
        if size > seen:
            with open(f, "rb") as fh:
                fh.seek(seen)
                for chunk in iter(lambda: fh.read(_COUNT_CHUNK), b""):
                    n += chunk.count(b"\n")
                _COUNT_CACHE[f] = (fh.tell(), n)
        out[str(p)] = n
    return out


class _WirePartition(InputPartition):
    def __init__(self, partition: int, lo: int, hi: int | None) -> None:
        self.partition = partition
        self.lo = lo
        self.hi = hi


class KafkaWireBatchReader(DataSourceReader):
    """Batch face (the connector's ``spark.read.format("kafka")``):
    whole log, one Spark partition per topic partition."""

    def __init__(self, options) -> None:
        self.path = options["path"]
        self.topic = options["subscribe"]

    def partitions(self):
        return [
            _WirePartition(p, 0, None)
            for p in _list_partitions(self.path, self.topic)
        ] or [_WirePartition(0, 0, None)]

    def read(self, part: _WirePartition) -> Iterator[tuple]:
        return _read_slice(
            self.path, self.topic, part.partition, part.lo, part.hi)


def _cap_offsets(start: dict, end: dict, budget: int) -> dict:
    """``end`` cut to at most ``budget`` records past ``start`` in
    total (connector semantics: proportional cap; here a greedy fill in
    partition order). Partitions the cap skips keep their start."""
    capped = {k: int(v) for k, v in start.items()}
    for p in sorted(end, key=int):
        lo = int(start.get(p, 0))
        take = max(min(int(end[p]) - lo, budget), 0)
        capped[p] = lo + take
        budget -= take
    return capped


class KafkaWireStreamReader(DataSourceStreamReader):
    """Offset = {partition(str): next unread line index}. The log is
    append-only and immutable below the end offset, so replaying
    [start, end) is exact — the property checkpoint recovery needs.

    The driver only plans offsets; ``partitions`` turns a batch into
    one :class:`_WirePartition` per topic partition with new records,
    and executors stream those slices in parallel (the connector's 1:1
    Kafka-partition-to-Spark-partition mapping)."""

    def __init__(self, options) -> None:
        self.path = options["path"]
        self.topic = options["subscribe"]
        self.starting = options.get("startingOffsets", "earliest")
        self.max_per_trigger = int(options.get("maxOffsetsPerTrigger", 0))
        self._initial: dict | None = None
        # end of the last planned batch: the base the per-trigger cap
        # counts from, since latestOffset() is not told the start.
        # Seeded by the first partitions()/commit() call on a restart
        # from a checkpoint, else by the initial offset.
        self._planned: dict | None = None

    def initialOffset(self) -> dict:
        if self._initial is None:
            if self.starting == "latest":
                self._initial = _end_offsets(self.path, self.topic)
            else:
                self._initial = {
                    str(p): 0 for p in _list_partitions(self.path, self.topic)}
        return self._initial

    def latestOffset(self) -> dict:
        end = _end_offsets(self.path, self.topic)
        if not self.max_per_trigger:
            return end
        if self._planned is None:
            self._planned = self.initialOffset()
        self._planned = _cap_offsets(self._planned, end, self.max_per_trigger)
        return self._planned

    def partitions(self, start: dict, end: dict) -> list[_WirePartition]:
        if self._planned is None:
            self._planned = end
        return [
            _WirePartition(int(p), int(start.get(p, 0)), int(hi))
            for p, hi in sorted(end.items(), key=lambda kv: int(kv[0]))
            if int(hi) > int(start.get(p, 0))
        ]

    def read(self, part: _WirePartition) -> Iterator[tuple]:
        return _read_slice(
            self.path, self.topic, part.partition, part.lo, part.hi)

    def commit(self, end: dict) -> None:
        if self._planned is None:
            self._planned = end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        for p in sorted(end, key=int):
            lo, hi = int(start.get(p, 0)), int(end[p])
            yield from _read_slice(self.path, self.topic, int(p), lo, hi)


class KafkaWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kafka_wire"

    def schema(self) -> str:
        return WIRE_SCHEMA

    def reader(self, schema) -> KafkaWireBatchReader:
        return KafkaWireBatchReader(self.options)

    def streamReader(self, schema) -> KafkaWireStreamReader:
        return KafkaWireStreamReader(self.options)


def register_kafka_wire(spark) -> None:
    spark.dataSource.register(KafkaWireDataSource)
