"""CSV source adapters, including the reference's *typed header* dialect.

The reference loads NOAA CSVs two ways:
- plain header + inference (`fillMongoDB.ipynb:176-185`);
- a typed header for `mongoimport --columnsHaveTypes`
  (`demo_data/weather_ny_2012-2022.csv:1`,
  `vanilla_k8s_trino_demo_installation.txt:248`) where each column is
  declared inline as ``name.type(args)``, e.g.::

      _id.date_ms(yyyy-MM-dd),AWND.double(),PRCP.double(),STATION.string()

This module parses that dialect into an explicit StructType so the scan
is schema-declared (column pruning + no inference pass at scale).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TYPE_MAP = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "bigint": T.LongType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "date_ms": T.DateType(),  # mongoimport's epoch-ms date, declared w/ format
    "timestamp": T.TimestampType(),
}

_FIELD_RE = re.compile(r"^(?P<name>[^.]+)\.(?P<type>\w+)\((?P<args>[^)]*)\)$")


def parse_typed_header(header_line: str) -> tuple[T.StructType, dict[str, str]]:
    """Parse a ``name.type(args)`` typed header into (schema, formats).

    formats maps column name → date/timestamp pattern when one was given.
    Unknown types fall back to string (schema-on-read safety, matching
    mongoimport's lenient behavior).
    """
    fields, formats = [], {}
    for raw in header_line.strip().split(","):
        m = _FIELD_RE.match(raw.strip())
        if not m:
            fields.append(T.StructField(raw.strip(), T.StringType()))
            continue
        name, typ, args = m.group("name"), m.group("type").lower(), m.group("args")
        fields.append(T.StructField(name, _TYPE_MAP.get(typ, T.StringType())))
        if args and typ in ("date", "date_ms", "timestamp"):
            formats[name] = args
    return T.StructType(fields), formats


def read_typed_header_csv(spark: SparkSession, path: str, header_line: str) -> DataFrame:
    """Read a CSV whose logical schema is declared by a typed header line.

    The physical file is read with string columns + skipped header, then
    cast per declaration — identical semantics to mongoimport
    --columnsHaveTypes, but executed as a pruned, codegen'd Spark scan.
    """
    schema, formats = parse_typed_header(header_line)
    raw = spark.read.csv(path, header=True, schema=T.StructType(
        [T.StructField(f.name, T.StringType()) for f in schema.fields]
    ))
    cols = []
    for f in schema.fields:
        c = F.col(f.name)
        # try_* variants: malformed cells become NULL instead of failing
        # the load (mongoimport-lenient semantics).
        if isinstance(f.dataType, T.DateType):
            fmt = formats.get(f.name, "yyyy-MM-dd")
            c = F.try_to_timestamp(c, F.lit(fmt)).cast("date")
        elif isinstance(f.dataType, T.TimestampType):
            c = (
                F.try_to_timestamp(c, F.lit(formats[f.name]))
                if f.name in formats
                else F.try_to_timestamp(c)
            )
        else:
            c = c.try_cast(f.dataType)
        cols.append(c.alias(f.name))
    return raw.select(*cols)
