"""Source/sink connectors (SURVEY.md §2.B scans group + guide §Sources).

Parquet is the primary format (tables.py). This module adds the rest
of the practical surface with explicit schemas everywhere (inference
is an anti-pattern at scale: it costs an extra full pass and can flip
types between runs):

- CSV / JSON / ORC roundtrips;
- a REAL, e2e-tested JDBC connector: Spark bundles the Derby embedded
  driver (pyspark/jars/derby-*.jar), so `sink_jdbc_roundtrip` writes a
  table through a genuine JDBC transaction and reads it back — the
  driver hash-checks the roundtrip. Against a networked RDBMS only
  the URL/driver options change (see read_jdbc's partitioning notes);
- table-format (Delta/Iceberg) connectors stay gated behind classpath
  checks, since their jars aren't in this image (stubs raise a clear
  error instead of a Py4J stack).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from clickhousebackup_spark.registry import register

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).option("header", "true").csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


class ConnectorUnavailable(RuntimeError):
    """Raised when a connector's jars aren't on the classpath (or the
    only available backend cannot serve the current deployment shape —
    see ``single_jvm_master``)."""


def single_jvm_master(spark: SparkSession) -> bool:
    """True when driver and executors share ONE JVM (``local[...]``).

    Embedded Derby — the only JDBC engine bundled with pyspark — allows
    exactly one booting JVM per database directory. Under any
    multi-executor master (local-cluster, spark://, yarn, k8s) the
    JDBC write tasks, the driver-side schema probe, and the read tasks
    each run in DIFFERENT JVMs, so a second boot of the same db is
    structurally impossible (found by the round-11 local-cluster
    sweep: executor 1's boot fails while executor 0 holds db.lck).
    Derby's network server (derbynet.jar) is not in this image; a real
    cluster points the same read_jdbc/write_jdbc code at a networked
    RDBMS url instead."""
    master = spark.conf.get("spark.master", "")
    return master.startswith("local[") or master == "local"


def read_jdbc(
    spark: SparkSession, url: str, dbtable: str, **options
) -> DataFrame:
    """JDBC source. Spark's bundled Derby embedded driver makes this
    e2e-usable in-image (`jdbc:derby:<path>`); for a networked RDBMS
    pass its driver class + add the jar via spark.jars.

    Scale notes for real use: always set partitionColumn/lowerBound/
    upperBound/numPartitions — otherwise the whole table reads through
    one connection.
    """
    try:
        reader = spark.read.format("jdbc").option("url", url).option(
            "dbtable", dbtable
        )
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
    except Exception as e:  # ClassNotFound / Py4J
        raise ConnectorUnavailable(
            f"JDBC driver unavailable for {url!r}; add the driver jar via "
            f"spark.jars"
        ) from e


def write_jdbc(
    df: DataFrame, url: str, dbtable: str, mode: str = "overwrite", **options
) -> None:
    """JDBC sink (same driver notes as read_jdbc). Keep write
    parallelism modest against single-node databases — every partition
    opens its own connection/transaction."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


@register(
    "sink_jdbc_roundtrip",
    oracle="SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders",
    doc="REAL JDBC sink + source roundtrip through Spark's bundled "
    "Derby embedded driver: write orders into a Derby database (one "
    "transaction per partition, coalesced to 4 against the embedded "
    "engine), read it back over JDBC, hash-check against the parquet "
    "original. Proves the connector path end-to-end — with a "
    "networked RDBMS only url/driver change, plus partitionColumn "
    "bounds for parallel reads (read_jdbc notes).",
)
def sink_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    from clickhousebackup_spark.tables import load_table

    # Per-process scratch db: embedded Derby allows ONE booting JVM
    # per database directory, so a concurrently-running suite and
    # driver sim (or two pytest shards) sharing the sf_dir-keyed path
    # race to an XSDB6 double-boot. The pid suffix isolates each
    # process; within a process the path is stable so re-runs reuse
    # the booted db.
    from clickhousebackup_spark.scratch import reap_stale_siblings

    if not single_jvm_master(spark):
        raise ConnectorUnavailable(
            "embedded Derby is single-JVM by design (one booting JVM "
            "per db; the driver's schema probe and every executor task "
            "would each need to boot it) — on a multi-executor master "
            "point write_jdbc/read_jdbc at a network-reachable RDBMS "
            "url; no such database exists in this image"
        )
    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    # pid-suffixed dbs accumulate across runs; reclaim pre-boot ones
    reap_stale_siblings(os.path.join(tempfile.gettempdir(), "cbs_derby_"))
    db = os.path.join(
        tempfile.gettempdir(), f"cbs_derby_{suffix}_{os.getpid()}"
    )
    url = f"jdbc:derby:{db};create=true"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    write_jdbc(o.coalesce(4), url, "orders_rt", driver=DERBY_DRIVER)
    return read_jdbc(spark, url, "orders_rt", driver=DERBY_DRIVER)


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    """Delta Lake source — jar not in this image (guide §Sources)."""
    try:
        return spark.read.format("delta").load(path)
    except Exception as e:
        raise ConnectorUnavailable(
            "delta-spark jars not on classpath; install delta-spark and set "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension"
        ) from e


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    """Iceberg source — jar not in this image (guide §Sources)."""
    try:
        return spark.read.format("iceberg").load(table)
    except Exception as e:
        raise ConnectorUnavailable(
            "iceberg-spark-runtime jars not on classpath"
        ) from e


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source — the spark-avro DATASOURCE module is external
    since Spark 2.4 and not in this image (only the core avro-*.jar
    libraries ship with pyspark); on a real cluster add
    --packages org.apache.spark:spark-avro_2.13:<spark version>."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:
        raise ConnectorUnavailable(
            "spark-avro datasource not on classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark version>"
        ) from e


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink — gated like read_avro."""
    try:
        df.write.mode(mode).format("avro").save(path)
    except Exception as e:
        raise ConnectorUnavailable(
            "spark-avro datasource not on classpath; submit with "
            "--packages org.apache.spark:spark-avro_2.13:<spark version>"
        ) from e


@register(
    "scan_csv_malformed",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(CASE WHEN o_orderkey % 97 = 0 THEN 1 END)
                   AS BIGINT) AS n_null_key,
               CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                        THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                        END) AS BIGINT) AS sum_cents_valid,
               CAST(COUNT(CASE WHEN o_orderkey % 97 <> 0 THEN 1 END)
                   AS BIGINT) AS n_after_drop
        FROM orders
    """,
    doc="Malformed-row CSV handling: a CSV export where every 97th "
    "row's key field is corrupted ('X' prefix — unparseable as "
    "LONG), read back twice: PERMISSIVE mode nulls ONLY the bad "
    "field and keeps the row (n_null_key counts them; the intact "
    "cents field still parses — verified Spark semantics), "
    "DROPMALFORMED drops the whole row (n_after_drop). This is the "
    "ingestion-robustness contract every production CSV feed needs "
    "pinned: silent row loss vs null-field quarantine is a POLICY "
    "choice and both paths must be countable. Money travels as "
    "integer cents (floor(price·100) — no float→text→float "
    "roundtrip). The oracle recomputes all four counts from the "
    "source table. Write is one text sink; both reads are map-only "
    "scans feeding single-row aggregates.",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    line = F.concat_ws(
        ",",
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.concat(F.lit("X"), F.col("o_orderkey").cast("string")),
        ).otherwise(F.col("o_orderkey").cast("string")),
        cents.cast("string"),
    )
    out = scratch_path(spark, "csv_malformed", sf_dir)
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    schema = "k LONG, cents LONG"
    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").csv(out)
    drop = spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(out)
    pa = perm.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("k")).cast("long").alias("n_null_key"),
        F.sum(F.when(F.col("k").isNotNull(), F.col("cents")))
        .cast("long")
        .alias("sum_cents_valid"),
    )
    # CSV column pruning means an unreferenced-column count(1) never
    # parses the fields, so DROPMALFORMED silently drops NOTHING —
    # reference BOTH columns in the aggregate to force a full parse
    # (a real Spark footgun worth pinning; kept rows have both fields
    # valid so least(count(k), count(cents)) is the surviving count).
    da = drop.agg(
        F.least(F.count("k"), F.count("cents"))
        .cast("long")
        .alias("n_after_drop")
    )
    return pa.join(da)


@register(
    "scan_json_malformed",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(CASE WHEN o_orderkey % 89 = 0 THEN 1 END)
                   AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN o_orderkey % 89 <> 0
                        THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                        END) AS BIGINT) AS sum_cents_valid,
               CAST(COUNT(CASE WHEN o_orderkey % 89 <> 0 THEN 1 END)
                   AS BIGINT) AS n_valid
        FROM orders
    """,
    doc="Malformed-line JSONL handling, the sibling of "
    "scan_csv_malformed for the other dominant feed format: every "
    "89th order's JSON line is truncated mid-document; PERMISSIVE "
    "mode routes the raw broken line into the "
    "columnNameOfCorruptRecord column and nulls the data fields "
    "(n_corrupt counts them — the quarantine-and-continue contract), "
    "while valid lines parse fully (n_valid, integer-cents sum). "
    "The oracle recomputes all four counters from the source table "
    "by the same corruption rule. One text write, one map-only "
    "schema-bound JSON scan feeding a single-row aggregate — "
    "schema-on-read with an explicit schema, never inference "
    "(at 100 TB inference costs a full extra pass).",
)
def scan_json_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    good = F.concat(
        F.lit('{"k": '),
        F.col("o_orderkey").cast("string"),
        F.lit(', "cents": '),
        cents.cast("string"),
        F.lit("}"),
    )
    line = F.when(
        F.col("o_orderkey") % 89 == 0, F.substring(good, 1, 9)
    ).otherwise(good)
    out = scratch_path(spark, "json_malformed", sf_dir)
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("k LONG, cents LONG, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(out)
    )
    return parsed.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("_bad").cast("long").alias("n_corrupt"),
        F.sum(F.when(F.col("_bad").isNull(), F.col("cents")))
        .cast("long")
        .alias("sum_cents_valid"),
        F.count(F.when(F.col("_bad").isNull(), 1)).cast("long").alias("n_valid"),
    )


@register(
    "sink_partitioned_overwrite",
    oracle="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                        THEN CAST(floor(o_totalprice * 100) AS BIGINT) * 2
                        ELSE CAST(floor(o_totalprice * 100) AS BIGINT)
                        END) AS BIGINT) AS cents
        FROM orders GROUP BY o_orderstatus
    """,
    doc="Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION "
    "semantics): orders land partitioned by o_orderstatus, then ONE "
    "partition ('F') is rewritten with doubled cents under "
    "partitionOverwriteMode=dynamic — only the touched partition is "
    "replaced, the others must survive byte-for-byte. The readback "
    "aggregate proves exactly that (doubled F cents, untouched "
    "O/P). This is the idempotent-backfill primitive every "
    "partitioned 100 TB table relies on — the engine-level "
    "equivalent of the reference's replace-one-generation-dir "
    "publish (backup.sh:90-97). Static mode would silently drop "
    "the untouched partitions; the key pins the dynamic contract.",
)
def sink_partitioned_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = scratch_path(spark, "part_overwrite", sf_dir)
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    patch = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "cents", F.col("cents") * 2
    )
    # the writer option scopes dynamic mode to this one write; the
    # session conf stays as the caller set it
    patch.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
    )


@register(
    "scan_recursive_glob",
    oracle="""
        SELECT CAST(SUM(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_skipped,
               CAST(SUM(CASE WHEN o_orderkey % 3 < 2
                        THEN CAST(floor(o_totalprice * 100) AS BIGINT)
                        END) AS BIGINT) AS cents_kept
        FROM orders
    """,
    doc="Recursive directory scan with a path glob: orders split "
    "three ways into a nested tree (batch=a/part.parquet under "
    "keep/, batch=b/part.parquet under keep/, plus a skip/ sibling "
    "dir), read back with recursiveFileLookup over the keep/ root — "
    "the lake-layout ingestion pattern for feeds that drop files "
    "into dated subdirectories with mixed junk alongside. "
    "input_file_name() splits the readback per source batch; the "
    "skip/ third must NOT appear in the scan, which the key proves "
    "by pairing the readback counts with a source-side ledger "
    "(n_skipped) — n_a + n_b + n_skipped reconciles to the full "
    "table while the scan itself saw only keep/. Directory listing "
    "is driver/executor-parallel metadata work; the scan stays "
    "columnar with pushdown intact.",
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = scratch_path(spark, "recursive_glob", sf_dir)
    o.filter(F.col("o_orderkey") % 3 == 0).write.mode("overwrite").parquet(
        f"{base}/keep/batch=a/data"
    )
    o.filter(F.col("o_orderkey") % 3 == 1).write.mode("overwrite").parquet(
        f"{base}/keep/batch=b/data"
    )
    o.filter(F.col("o_orderkey") % 3 == 2).write.mode("overwrite").parquet(
        f"{base}/skip/batch=c/data"
    )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{base}/keep")
        .withColumn("src", F.input_file_name())
    )
    read_agg = back.agg(
        F.sum(F.when(F.col("src").contains("batch=a"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("src").contains("batch=b"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum("cents").cast("long").alias("cents_kept"),
    )
    # source-side ledger: the rows the recursive scan must NOT see
    skipped = o.filter(F.col("o_orderkey") % 3 == 2).agg(
        F.count(F.lit(1)).cast("long").alias("n_skipped")
    )
    return read_agg.join(skipped)


@register(
    "sink_parquet_codecs",
    oracle="""
        SELECT codec,
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n,
               CAST((SELECT SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
                     FROM lineitem) AS BIGINT) AS cents
        FROM (VALUES ('gzip'), ('snappy'), ('zstd')) c(codec)
    """,
    doc="Compression-codec roundtrip: lineitem written as parquet "
    "under snappy, zstd, and gzip, each read back and "
    "checksummed — identical row counts and integer-cents sums "
    "across codecs prove the storage path is lossless under every "
    "codec the cluster might mandate. Codec choice is THE 100 TB "
    "storage-cost lever (zstd ≈ 30% smaller than snappy at similar "
    "scan speed), and this key keeps the whole matrix exercised so "
    "a cluster-wide codec flip is a config change, not a leap of "
    "faith. Three writes + three map-only scan/agg passes.",
)
def sink_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import functools

    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    base = scratch_path(spark, "parquet_codecs", sf_dir)
    per_codec = []
    for codec in ("gzip", "snappy", "zstd"):
        path = f"{base}/{codec}"
        li.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        per_codec.append(
            back.agg(
                F.lit(codec).alias("codec"),
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("cents").cast("long").alias("cents"),
            )
        )
    return functools.reduce(lambda a, b: a.unionByName(b), per_codec)


@register(
    "scan_text_lines",
    oracle="""
        WITH t AS (
            SELECT regexp_replace(text, '[\r\n]+', ' ', 'g') AS line
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(length(line)) AS BIGINT) AS total_chars,
               CAST(SUM(CAST(concat('0x', substr(md5(line), 1, 15))
                       AS BIGINT) % 1000000007) AS BIGINT) AS checksum
        FROM t
    """,
    doc="Plain-text line feed roundtrip — spark.read.text, the format "
    "under every log-shipping and corpus-dump pipeline (one document "
    "per line, the WebText/C4 interchange layout). Documents are "
    "newline-sanitized, written with the text sink, read back as "
    "raw lines, and checksummed: line count, exact char volume, and "
    "a SUM over the md5-grid (mod 1e9+7 so 100 TB of lines can't "
    "overflow int64) — content-faithful, not just count-faithful. "
    "The oracle recomputes all three from the source table, so the "
    "gate proves text→line→text loses nothing. Both sides are "
    "map-only scans into one 3-cell aggregate.",
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    out = scratch_path(spark, "text_lines", sf_dir)
    d.select(
        F.regexp_replace("text", "[\r\n]+", " ").alias("value")
    ).write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    md5int = F.conv(
        F.substring(F.md5("value"), 1, 15), 16, 10
    ).cast("long")
    return lines.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.length("value")).cast("long").alias("total_chars"),
        F.sum(md5int % 1000000007).cast("long").alias("checksum"),
    )


@register(
    "scan_binary_files",
    oracle="""
        SELECT 'f' || lpad(CAST(i AS VARCHAR), 2, '0') || '.bin'
                   AS fname,
               CAST(32 AS BIGINT) AS length,
               md5(md5('payload-' || i)) AS content_md5
        FROM range(0, 26) t(i)
    """,
    doc="Opaque-binary ingestion via the binaryFile source — the read "
    "path for the multimodal vertical (SURVEY §2: image/audio/video "
    "as opaque binary + typed metadata): 26 deterministic payload "
    "files (content = md5 hex of 'payload-<i>', so the oracle can "
    "regenerate them in SQL) are laid down and read back as "
    "(path, length, content) rows; the key emits filename, byte "
    "length, and the md5 OF THE BYTES — proving content passes "
    "through the source exactly, not merely that files were listed. "
    "File writes are catalog-scale driver-side setup (the payloads "
    "under test, not the operator); the read is the distributed "
    "path: binaryFile splits per file across executors, and at "
    "100 TB ingestion parallelism is the file count, with "
    "pathGlobFilter/recursiveFileLookup pruning at the listing "
    "(scan_recursive_glob's contract). Map-only, no exchange.",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path

    base = scratch_path(spark, "binary_files", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    for i in range(26):
        payload = hashlib.md5(f"payload-{i}".encode()).hexdigest()
        with open(os.path.join(base, f"f{i:02d}.bin"), "wb") as fh:
            fh.write(payload.encode())
    files = spark.read.format("binaryFile").load(base)
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").cast("long").alias("length"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "scan_xml_source",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents,
               CAST(MIN(event_id) AS BIGINT) AS min_id,
               CAST(MAX(event_id) AS BIGINT) AS max_id
        FROM events WHERE event_id % 11 = 0
        GROUP BY event_type
    """,
    doc="XML source/sink roundtrip — Spark 4's built-in XML data "
    "source (SPARK-44265), the remaining first-class feed format "
    "after CSV/JSON/ORC/JDBC/text/binary (ClickHouse ships XML as "
    "a format too): an events subset is written with the native XML "
    "writer (rootTag/rowTag documents, one well-formed doc per "
    "partition file), read back under an EXPLICIT schema (never "
    "inference in production — schema drift must fail loudly, the "
    "union_by_name_evolved contract), and aggregated per type; the "
    "oracle recomputes from the source table, so the gate proves "
    "value fidelity through XML text. Money rides the cent grid. "
    "Write and read are both file-parallel; the agg is one "
    "two-phase hash agg over the readback.",
)
def scan_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.scratch import scratch_path
    from clickhousebackup_spark.tables import load_table

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 11 == 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.floor(F.col("value") * 100.0 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    out = scratch_path(spark, "xml_source", sf_dir)
    (
        e.write.format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .mode("overwrite")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema(
            "event_id LONG, user_id LONG, event_type STRING, cents LONG"
        )
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )
