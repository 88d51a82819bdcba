"""kafka-python-shaped broker binding behind the RecordFeed seam.

VERDICT r9 item 8: the engine's broker contract (`streaming/feed.py`)
is satisfied today by the file-backed ``FileTopic``; THIS module adds
the binding a deployment with a real Kafka would use when only the
*client library* (kafka-python) is available — i.e. without the
spark-sql-kafka connector jars. The binding is a **poll-and-stage
bridge**:

    broker log --(client poll, driver-side)--> staged parquet
    segments --(Spark file streaming source)--> micro-batches

which preserves every RecordFeed guarantee: monotone offsets,
atomically-visible segments (Spark's staged parquet rename),
checkpointed exactly-once consumption, ``maxFilesPerTrigger``
backpressure, and offset-based retention. The driver-side poll is
the honest cost of a jar-less binding — it is the same shape Kafka
Connect's file sink uses, and it is bounded per pump by
``max_poll_records``. A deployment WITH the connector jars should
prefer the two readStream calls in ``feed.KAFKA_BINDING_SKETCH``
instead; everything downstream is identical either way.

No kafka broker or client ships in this image, so the module also
provides ``mock_client`` — an in-process, kafka-python-SHAPED stand-in
(``MockKafkaProducer`` / ``MockKafkaConsumer`` with ``send`` /
``poll`` / ``end_offsets`` / futures returning ``RecordMetadata``) —
and ``KafkaPythonFeed`` takes the client module as an injection
point: production passes the real ``kafka`` module (import-gated,
``ConnectorUnavailable`` if absent), tests pass ``mock_client``.
``tests/test_kafka_feed.py`` runs the RecordFeed conformance suite
over the mock-backed binding.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass, field
from typing import Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhousebackup_spark.sources.readers import ConnectorUnavailable

_SEG_RE = re.compile(r"^seg-(\d{12})-(\d{12})$")  # [start, end) record offsets


# ---------------------------------------------------------------------------
# kafka-python-shaped mock client (in-process broker)
# ---------------------------------------------------------------------------


class TopicPartition(NamedTuple):
    topic: str
    partition: int


class RecordMetadata(NamedTuple):
    topic: str
    partition: int
    offset: int


class ConsumerRecord(NamedTuple):
    topic: str
    partition: int
    offset: int
    key: bytes | None
    value: bytes


class _Log:
    """One topic's single-partition log: records + log-start offset
    (advanced by retention, like Kafka's logStartOffset)."""

    def __init__(self) -> None:
        self.records: list[tuple[bytes | None, bytes]] = []
        self.base: int = 0  # offset of records[0]

    @property
    def end(self) -> int:
        return self.base + len(self.records)


#: bootstrap_servers string -> topic -> log. Module-level so a
#: producer and a consumer built independently (as kafka-python's
#: are) see the same broker, mirroring a real deployment.
_BROKERS: dict[str, dict[str, _Log]] = {}


def _broker(bootstrap: str) -> dict[str, _Log]:
    return _BROKERS.setdefault(bootstrap, {})


def reset_mock_broker(bootstrap: str) -> None:
    """Test helper: drop all topics on the mock broker."""
    _BROKERS.pop(bootstrap, None)


class _FutureRecordMetadata:
    def __init__(self, meta: RecordMetadata) -> None:
        self._meta = meta

    def get(self, timeout: float | None = None) -> RecordMetadata:
        return self._meta


class MockKafkaProducer:
    """kafka-python ``KafkaProducer`` surface: ``send`` returns a
    future whose ``get()`` yields RecordMetadata; ``flush`` is a
    no-op (the mock broker is synchronous)."""

    def __init__(self, bootstrap_servers: str = "mock:9092", **_: object):
        self._topics = _broker(bootstrap_servers)

    def send(
        self, topic: str, value: bytes, key: bytes | None = None
    ) -> _FutureRecordMetadata:
        log = self._topics.setdefault(topic, _Log())
        log.records.append((key, value))
        return _FutureRecordMetadata(RecordMetadata(topic, 0, log.end - 1))

    def flush(self, timeout: float | None = None) -> None:
        pass

    def close(self) -> None:
        pass


class MockKafkaConsumer:
    """kafka-python ``KafkaConsumer`` surface over the mock broker:
    single partition per topic, manual commit model (the binding
    tracks its own staged watermark, as a connector would)."""

    def __init__(
        self,
        *topics: str,
        bootstrap_servers: str = "mock:9092",
        auto_offset_reset: str = "earliest",
        **_: object,
    ):
        self._topics = _broker(bootstrap_servers)
        self._subs = list(topics)
        self._pos: dict[str, int] = {}
        for t in topics:
            log = self._topics.setdefault(t, _Log())
            self._pos[t] = log.base if auto_offset_reset == "earliest" else log.end

    def assign(self, tps: list[TopicPartition]) -> None:
        """Manual partition assignment (kafka-python: mutually
        exclusive with constructor subscription) — the mode the
        binding uses so seek() is legal before any poll()."""
        for tp in tps:
            log = self._topics.setdefault(tp.topic, _Log())
            if tp.topic not in self._subs:
                self._subs.append(tp.topic)
            self._pos.setdefault(tp.topic, log.base)

    def seek(self, tp: TopicPartition, offset: int) -> None:
        self._pos[tp.topic] = max(offset, self._topics[tp.topic].base)

    def position(self, tp: TopicPartition) -> int:
        return self._pos[tp.topic]

    def end_offsets(self, tps: list[TopicPartition]) -> dict[TopicPartition, int]:
        return {tp: self._topics.setdefault(tp.topic, _Log()).end for tp in tps}

    def poll(
        self, timeout_ms: int = 0, max_records: int | None = None
    ) -> dict[TopicPartition, list[ConsumerRecord]]:
        out: dict[TopicPartition, list[ConsumerRecord]] = {}
        budget = max_records if max_records is not None else float("inf")
        for t in self._subs:
            log = self._topics.setdefault(t, _Log())
            pos = max(self._pos[t], log.base)
            recs = []
            while pos < log.end and budget > 0:
                key, value = log.records[pos - log.base]
                recs.append(ConsumerRecord(t, 0, pos, key, value))
                pos += 1
                budget -= 1
            self._pos[t] = pos
            if recs:
                out[TopicPartition(t, 0)] = recs
        return out

    def __iter__(self) -> Iterator[ConsumerRecord]:
        while True:
            polled = self.poll()
            if not polled:
                return
            for recs in polled.values():
                yield from recs

    def close(self) -> None:
        pass


class mock_client:  # noqa: N801 — stands in for the `kafka` module object
    """Namespace shaped like the bits of the ``kafka`` package the
    binding touches (``kafka.KafkaProducer`` etc.)."""

    KafkaProducer = MockKafkaProducer
    KafkaConsumer = MockKafkaConsumer
    TopicPartition = TopicPartition


def _real_client():
    try:
        import kafka  # type: ignore[import-not-found]

        return kafka
    except ImportError as e:
        raise ConnectorUnavailable(
            "kafka-python is not installed in this image; pass "
            "client=kafka_feed.mock_client for conformance runs, or "
            "install kafka-python (or better: use the spark-sql-kafka "
            "connector per feed.KAFKA_BINDING_SKETCH) in production"
        ) from e


# ---------------------------------------------------------------------------
# the RecordFeed binding
# ---------------------------------------------------------------------------


@dataclass
class KafkaPythonFeed:
    """RecordFeed over a kafka-python-shaped client (see module doc).

    ``schema`` is the DDL of the JSON record values; it is fixed at
    construction because (unlike FileTopic's self-describing parquet
    segments) broker bytes carry no schema.
    """

    bootstrap_servers: str
    topic: str
    staging_dir: str
    schema: str
    client: object | None = None  # the `kafka` module or mock_client
    _staged_end: int = field(default=0, init=False)  # first UNstaged offset

    def __post_init__(self) -> None:
        if self.client is None:
            self.client = _real_client()
        os.makedirs(self.staging_dir, exist_ok=True)
        # Crash leftovers: a .tmp-seg-* dir is an interrupted write
        # (pump() commits by renaming it to seg-*); a seg-* dir without
        # _SUCCESS is a pre-rename-era partial. Counting either into
        # _staged_end would permanently skip its [start,end) records —
        # reap them so the next pump() re-fetches that range from the
        # broker (offsets live there; nothing is lost).
        for d in os.listdir(self.staging_dir):
            full = os.path.join(self.staging_dir, d)
            if d.startswith(".tmp-seg-"):
                shutil.rmtree(full)
            elif _SEG_RE.match(d) and not os.path.exists(
                os.path.join(full, "_SUCCESS")
            ):
                shutil.rmtree(full)
        for d in self._segments():
            self._staged_end = max(self._staged_end, int(_SEG_RE.match(d).group(2)))

    def _segments(self) -> list[str]:
        """Committed segments only: the _SUCCESS marker is the commit
        point of the staged-rename protocol."""
        return sorted(
            d
            for d in os.listdir(self.staging_dir)
            if _SEG_RE.match(d)
            and os.path.exists(os.path.join(self.staging_dir, d, "_SUCCESS"))
        )

    # -- RecordFeed surface --

    def next_offset(self) -> int:
        """Log-end offset of the broker partition (the offset the next
        publish takes) — Kafka's ``end_offsets``."""
        c = self.client.KafkaConsumer(
            bootstrap_servers=self.bootstrap_servers
        )
        tp = self.client.TopicPartition(self.topic, 0)
        try:
            c.assign([tp])
            return c.end_offsets([tp])[tp]
        finally:
            c.close()

    def publish_bulk(self, df: DataFrame) -> None:
        """Produce a DATA-SCALE batch through the Spark Kafka
        connector sink (``df.write.format("kafka")``): the write runs
        on the EXECUTORS — one producer per task, records partitioned
        with the DataFrame — so nothing funnels through the driver.
        This is the 100 TB publish path; :meth:`publish` below remains
        the bounded control-plane path (client-library producer,
        driver-side by nature).

        Gated like the Delta/Iceberg sources: the
        spark-sql-kafka-0-10 connector jar is not in this image, so
        the failed datasource lookup raises a loud
        ConnectorUnavailable with the jar recipe instead of a cryptic
        ClassNotFound. The row shape follows the connector contract:
        a ``value`` string column (JSON here), optional ``key``.
        """
        payload = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
        try:
            (
                payload.write.format("kafka")
                .option("kafka.bootstrap.servers", self.bootstrap_servers)
                .option("topic", self.topic)
                .save()
            )
        except Exception as e:
            # Classify by Spark error class first (stable across
            # versions/locales), falling back to the message substring
            # only for resolution-time AnalysisException without a
            # usable error class (4.x _LEGACY_ERROR_TEMP lookups). A
            # py4j-wrapped raw java ClassNotFoundException is NOT an
            # AnalysisException and deliberately re-raises unclassified
            # — runtime kafka errors mentioning these words must never
            # be misrouted to ConnectorUnavailable.
            error_class = None
            get_cls = getattr(e, "getCondition", None) or getattr(
                e, "getErrorClass", None  # deprecated in Spark 4.x
            )
            if callable(get_cls):
                try:
                    error_class = get_cls()
                except Exception:
                    error_class = None
            try:
                from pyspark.errors import AnalysisException
            except Exception:  # very old Spark layout
                from pyspark.sql.utils import AnalysisException
            msg = str(e)
            missing_source = error_class == "DATA_SOURCE_NOT_FOUND" or (
                # fallback for Spark versions whose lookup failure
                # carries a legacy/absent error class (4.x raises
                # AnalysisException with a _LEGACY_ERROR_TEMP class);
                # restrict the substring match to resolution-time
                # AnalysisException so runtime kafka errors that merely
                # mention these words are never misrouted
                isinstance(e, AnalysisException)
                and "kafka" in msg.lower()
                and (
                    "Failed to find data source" in msg
                    or "ClassNotFound" in msg
                    or "DATA_SOURCE_NOT_FOUND" in msg
                )
            )
            if missing_source:
                raise ConnectorUnavailable(
                    "spark-sql-kafka-0-10 connector jar not on the "
                    "classpath; launch with --packages org.apache."
                    "spark:spark-sql-kafka-0-10_2.13:<spark-version> "
                    "(or use publish() for bounded control-plane "
                    "batches / FileTopic for brokerless staging)"
                ) from e
            raise

    def publish(self, df: DataFrame) -> str:
        """Produce one batch of JSON records. Driver-side by nature of
        a client-library producer; bounded use (control-plane batches)
        — bulk data paths publish via :meth:`publish_bulk` (executor-
        side connector sink) or stage parquet via FileTopic."""
        producer = self.client.KafkaProducer(
            bootstrap_servers=self.bootstrap_servers
        )
        first = None
        for line in df.toJSON().collect():
            meta = producer.send(self.topic, line.encode()).get(timeout=10)
            if first is None:
                first = meta.offset
        producer.flush()
        producer.close()
        return f"{self.topic}@{first if first is not None else self.next_offset()}"

    def pump(self, spark: SparkSession, max_poll_records: int = 100_000) -> str | None:
        """Poll records in [staged_end, log_end) and stage them as ONE
        atomically-visible parquet segment; returns the segment path
        (None if the log had nothing new). A scheduler calls this per
        tick; the running ``consume`` stream picks segments up through
        the file-source offset log."""
        # manual assignment, NOT constructor subscription: kafka-python
        # only assigns subscribed partitions during poll(), so seek()
        # before a first poll raises 'Unassigned partition'; assign()
        # makes the seek legal on both the real client and the mock
        c = self.client.KafkaConsumer(
            bootstrap_servers=self.bootstrap_servers,
            auto_offset_reset="earliest",
        )
        tp = self.client.TopicPartition(self.topic, 0)
        try:
            c.assign([tp])
            end = c.end_offsets([tp])[tp]
            c.seek(tp, self._staged_end)
            values: list[str] = []
            start: int | None = None
            # a real broker's first zero-timeout poll returns {} while
            # the fetcher warms up — poll with a timeout until the
            # snapshotted end offset (or the record budget) is reached
            pos = self._staged_end
            while pos < end and len(values) < max_poll_records:
                polled = c.poll(
                    timeout_ms=1000,
                    max_records=max_poll_records - len(values),
                )
                if not polled:
                    break
                for recs in polled.values():
                    for r in recs:
                        if start is None:
                            start = r.offset
                        values.append(r.value.decode())
                        pos = r.offset + 1
        finally:
            c.close()
        if not values or start is None:
            return None
        end = start + len(values)
        # Write-then-RENAME commit: the segment is assembled under a
        # dot-prefixed temp name (invisible to Spark's file listers,
        # which skip '.'/'_' paths — so the seg-* globs in consume()/
        # read_all() can never observe a partial write) and becomes a
        # seg-* dir only via the atomic rename. mode("overwrite") on
        # the temp path makes a same-session retry after a failed
        # write self-healing instead of wedging on path-exists.
        seg = os.path.join(self.staging_dir, f"seg-{start:012d}-{end:012d}")
        tmp = os.path.join(self.staging_dir, f".tmp-seg-{start:012d}-{end:012d}")
        df = spark.read.schema(self.schema).json(
            spark.sparkContext.parallelize(values, 1)
        )
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, seg)
        self._staged_end = end
        return seg

    def consume(
        self,
        spark: SparkSession,
        schema: str,
        max_segments_per_trigger: int = 1,
    ) -> DataFrame:
        """Streaming DataFrame over the staged segments (offsets in
        the query checkpoint, exactly-once per segment; backpressure
        via maxFilesPerTrigger) — identical downstream semantics to
        FileTopic.consume."""
        if schema != self.schema:
            raise ValueError(
                "feed schema is fixed at construction: "
                f"{self.schema!r} != {schema!r}"
            )
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_segments_per_trigger)
            .parquet(os.path.join(self.staging_dir, "seg-*"))
        )

    def read_all(self, spark: SparkSession) -> DataFrame:
        """Batch backfill: everything retained on the broker. Pumps
        first so the staged log is complete, then reads parquet."""
        self.pump(spark)
        if not self._segments():
            return spark.createDataFrame([], self.schema)
        return spark.read.parquet(os.path.join(self.staging_dir, "seg-*"))

    def prune_consumed(self, before_offset: int) -> list[str]:
        """Retention below a fully-committed RECORD offset: drop staged
        segments whose records all precede it (a real deployment also
        lowers the broker's retention watermark; the mock broker's
        log-start advances the same way)."""
        removed = []
        for d in self._segments():
            if int(_SEG_RE.match(d).group(2)) <= before_offset:
                full = os.path.join(self.staging_dir, d)
                shutil.rmtree(full)
                removed.append(full)
        # advance the mock broker's log-start (Kafka: retention config)
        topics = _BROKERS.get(self.bootstrap_servers)
        if topics and self.topic in topics:
            log = topics[self.topic]
            if before_offset > log.base:
                drop = min(before_offset, log.end) - log.base
                log.records = log.records[drop:]
                log.base += drop
        return removed
