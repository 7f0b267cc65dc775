"""Kafka source adapter: Trino-style table-description mapping + the
timestamp-bound scan rewrite.

The reference maps topics to tables with JSON table-description files
(`trino/kafka/stockdata.json:1-41`, `weatherdata.json:1-55`; wired by
`trino/kafka/kafka.properties:2,5-6`) and enables
`kafka.timestamp-upper-bound-force-push-down-enabled=true`
(`kafka.properties:7`) so a query's timestamp predicate bounds the
unbounded scan. Spark's Kafka batch source takes explicit
`startingTimestamp`/`endingTimestamp` options instead of pushing payload
predicates — `bounded_scan` is the engine-level rewrite that lifts the
bound into scan options (SURVEY.md §4: the one custom plan-building piece).

No broker exists in the test container: `decode_with_mapping` and the
option builders are unit-tested against literal DataFrames; `read_topic`
itself is exercised only when a broker URL is supplied.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Trino table-description field types → Spark types
# (`trino/kafka/stockdata.json:9-40` uses DATE/DOUBLE/BIGINT/VARCHAR).
_TRINO_TYPES = {
    "VARCHAR": T.StringType(),
    "DOUBLE": T.DoubleType(),
    "BIGINT": T.LongType(),
    "INTEGER": T.IntegerType(),
    "BOOLEAN": T.BooleanType(),
    "DATE": T.DateType(),
    "TIMESTAMP": T.TimestampType(),
}


def mapping_to_schema(table_description: dict[str, Any]) -> T.StructType:
    """Build the payload StructType from a Trino-style Kafka
    table-description dict (``message.fields`` with name/mapping/type,
    `trino/kafka/stockdata.json:7-40`). Decode happens against the
    *mapping* (JSON key); the field is exposed under *name*."""
    fields = []
    for f in table_description["message"]["fields"]:
        base = f["type"].upper().split("(")[0]
        fields.append(T.StructField(f["mapping"], _TRINO_TYPES.get(base, T.StringType())))
    return T.StructType(fields)


def decode_with_mapping(
    raw: DataFrame, table_description: dict[str, Any], value_col: str = "value"
) -> DataFrame:
    """Decode a Kafka-shaped frame (binary/string `value` + broker metadata)
    into typed columns per the table description: JSON decode against the
    mapping keys, rename to declared names, parse iso8601 dates
    (`"dataFormat": "iso8601"`, stockdata.json:11-13). Broker metadata
    columns (timestamp → _timestamp etc.) ride along, mirroring
    `kafka.hide-internal-columns=false` (kafka.properties:4)."""
    schema = mapping_to_schema(table_description)
    decoded = raw.withColumn(
        "__m", F.from_json(F.col(value_col).cast("string"), schema)
    )
    meta_cols = [c for c in ("timestamp", "partition", "offset") if c in raw.columns]
    out_cols: list[Column] = [
        F.col(f"__m.{f['mapping']}").alias(f["name"])
        for f in table_description["message"]["fields"]
    ]
    out_cols += [F.col(c).alias(f"_{c}") for c in meta_cols]
    return decoded.select(*out_cols)


def bounded_scan_options(
    topic: str,
    brokers: str,
    lower: datetime | None = None,
    upper: datetime | None = None,
) -> dict[str, str]:
    """The `stream_ts_upper_bound` rewrite: lift timestamp bounds into
    Kafka batch scan options (startingTimestamp/endingTimestamp take
    epoch-millis). Trino pushes the payload-date predicate into the scan
    when force-push-down is enabled; Spark's equivalent is bounding by
    broker timestamp at the source. Naive datetimes are interpreted as
    UTC (the engine pins spark.sql.session.timeZone=UTC): stdlib
    ``.timestamp()`` would apply the HOST's local zone and silently
    shift the scan bound on any non-UTC machine."""

    def _epoch_ms(dt: datetime) -> str:
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return str(int(dt.timestamp() * 1000))

    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "endingOffsets": "latest",
    }
    if lower is not None:
        opts["startingTimestamp"] = _epoch_ms(lower)
        del opts["startingOffsets"]
    if upper is not None:
        opts["endingTimestamp"] = _epoch_ms(upper)
        del opts["endingOffsets"]
    return opts


def read_topic(
    spark: SparkSession,
    table_description: dict[str, Any],
    brokers: str,
    lower: datetime | None = None,
    upper: datetime | None = None,
) -> DataFrame:
    """Batch-read a topic as a typed table (Trino's "query the topic now"
    semantics, SURVEY.md §1.3) with optional timestamp bounds pushed into
    the scan."""
    topic = table_description.get("topicName", table_description.get("topic"))
    opts = bounded_scan_options(topic, brokers, lower, upper)
    raw = spark.read.format("kafka").options(**opts).load()
    return decode_with_mapping(raw, table_description)
