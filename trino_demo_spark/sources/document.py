"""Document-store (MongoDB-shaped) sidecar schemas.

The reference declares the collection schema in a sidecar collection
(`schemadef`, `trino/catalog/mongodb.properties:3`;
`fillMongoDB.ipynb:510-556` writes it) instead of inferring. The engine
mirrors that: a schema registry entry IS the sidecar. The parity suite
exercises the document semantics via parquet + registry StructTypes
(`scan_document`, `sink_document` shape).
"""

from __future__ import annotations

from pyspark.sql import types as T


def schema_to_sidecar(schema: T.StructType) -> list[dict]:
    """Render a StructType as the reference's schemadef document shape
    (`fillMongoDB.ipynb:510-556`: list of {name, type, hidden}) so a
    registry schema can be published back as a sidecar."""
    out = []
    for f in schema.fields:
        t = f.dataType.simpleString().upper()
        out.append({"name": f.name, "type": t, "hidden": False})
    return out
