"""JSON-in-binary-envelope ingestion ring (SURVEY.md §3 EP1/EP2).

The reference's bronze layer is Event Hubs Capture Avro files whose
``body`` column holds UTF-8 JSON bytes plus broker metadata
(README.md:114-131; ETL/flight-silver-transformation (1).ipynb:574-578).
Our engine reproduces the *data contract* — a DataFrame with a binary
``body`` plus envelope metadata — storage-agnostically:

- ``encode_envelope``: typed rows → ``to_json(struct(*))`` →  binary
  body + partition/offset/enqueued_at metadata (what the producers +
  broker did, kafka-eh/produce_to_eventhub.py:73-86).
- ``write_envelope_bronze`` / ``read_envelope_bronze``: land/scan the
  envelope frame. ``fmt=None`` picks the PERFORMANCE path: native
  ``format("avro")`` when the spark-avro jar is on the classpath,
  else parquet (same columns; the silver transform is identical).
  An EXPLICIT ``fmt="avro"`` is always honored: native spark-avro
  when present, else the pure-Python OCF DataSource
  (``avro_ocf.AvroOcfDataSource``, format ``sg_avro``) — so the
  reference's actual bronze wire format is readable and exercised in
  every container, jar or no jar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "encode_envelope", "decode_envelope", "csv_to_envelope_batch",
    "write_envelope_bronze", "read_envelope_bronze", "format_available",
]

ENVELOPE_COLUMNS = ("body", "partition", "offset", "enqueued_at")


_FORMATS: dict[tuple[str, str], bool] = {}


def format_available(spark: SparkSession, name: str) -> bool:
    """True if the datasource ``name`` (``"avro"``, ``"delta"``) is
    registered. Both are separate artifacts not bundled with pip
    pyspark, and a bare classpath probe is not enough: Spark 4 ships
    some sql.avro classes in core without registering the source.
    A miss scans every registered provider (0.1-0.2 s, seconds on
    first use) and the answer is fixed for the life of the
    application, so each name is probed once per application."""
    try:
        key = (spark.sparkContext.applicationId, name)
    except Exception:
        return False  # Spark Connect: no driver JVM to probe
    if key not in _FORMATS:
        try:
            jvm = spark._jvm  # noqa: SLF001 — datasource-registry probe only
            jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
                name, spark._jsparkSession.sessionState().conf())
            _FORMATS[key] = True
        except Exception:
            _FORMATS[key] = False
    return _FORMATS[key]


def encode_envelope(df: DataFrame, produced_at: bool = True) -> DataFrame:
    """Typed rows → broker envelope.

    Mirrors the producer: each row JSON-serialized
    (kafka-eh/produce_to_eventhub.py:73 ``json.dumps(row)``), stamped
    with ``produced_at`` epoch seconds
    (kafka-eh/produce_send_rows.py:76), delivered with broker metadata.
    Partition/offset are synthesized deterministically (hash / row
    order) since there is no real broker locally.
    """
    payload = df
    if produced_at:
        payload = payload.withColumn(
            "produced_at", F.unix_timestamp(F.current_timestamp()))
    return payload.select(
        F.encode(F.to_json(F.struct(*payload.columns)), "UTF-8").alias("body"),
        (F.abs(F.hash(*df.columns)) % 32).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("enqueued_at"),
    )


def decode_envelope(df: DataFrame) -> DataFrame:
    """Envelope → raw JSON string column ``body_str`` (repair applied
    downstream in the silver transform)."""
    from ..functions.core import decode_and_repair_body, find_column_ci
    body_col = find_column_ci(df, "body")
    return df.withColumn("body_str", decode_and_repair_body(F.col(body_col)))


def csv_to_envelope_batch(spark: SparkSession, csv_path: str,
                          delimiter: str = ",") -> DataFrame:
    """CSV → envelope frame: the whole producer path (EP1) as one
    declarative plan. All columns kept as strings — the reference
    parses everything as string first and casts later (SURVEY.md §1
    'semantic quirk')."""
    raw = (spark.read.option("header", True).option("delimiter", delimiter)
           .option("inferSchema", False).csv(csv_path))
    return encode_envelope(raw)


def _ensure_py_avro(spark: SparkSession) -> None:
    """Register the pure-Python OCF datasource (idempotent)."""
    from .avro_ocf import AvroOcfDataSource
    try:
        spark.dataSource.register(AvroOcfDataSource)
    except Exception:
        pass  # already registered in this session


def write_envelope_bronze(df: DataFrame, path: str,
                          fmt: str | None = None) -> None:
    spark = df.sparkSession
    native = format_available(spark, "avro")
    fmt = fmt or ("avro" if native else "parquet")
    if fmt == "avro" and not native:
        _ensure_py_avro(spark)
        (df.write.format("sg_avro").option("path", path)
           .mode("overwrite").save())
        return
    df.write.format(fmt).mode("overwrite").save(path)


def read_envelope_bronze(spark: SparkSession, path: str,
                         fmt: str | None = None) -> DataFrame:
    native = format_available(spark, "avro")
    fmt = fmt or ("avro" if native else "parquet")
    if fmt == "avro" and not native:
        _ensure_py_avro(spark)
        return spark.read.format("sg_avro").option("path", path).load()
    return spark.read.format(fmt).load(path)
