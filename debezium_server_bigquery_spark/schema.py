"""Debezium event-schema JSON -> Spark ``StructType``.

Python mirror of the reference's schema converter
(``BaseRecordConverter.schemaFields`` :77-125, ``schemaPrimitiveField``
:336-394, ``getStructField`` :127-134 in
debezium-server-bigquery-sinks/.../BaseRecordConverter.java), re-targeted at
Spark types per SURVEY.md §1.3.

This module produces the **wire** schema — the types as physically encoded
in the Debezium JSON payload — which is what ``from_json`` needs on the
executors.  Semantic coercions (epoch-days -> DATE, trailing-Z strip,
epoch-ms -> TIMESTAMP for ``__ts_ms``/``__source_ts_ms``, geometry wkb ->
hex, ...) are applied afterwards by :mod:`coerce`, whose output schema is
the destination-table schema.  Splitting wire/target keeps JSON parsing
infallible and keeps every coercion a Catalyst expression.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

# Semantic type names (Kafka Connect "name" attribute) the reference
# special-cases — BaseRecordConverter.java:346-371.
SEM_DATE = "io.debezium.time.Date"
SEM_TIMESTAMP = "io.debezium.time.Timestamp"
SEM_MICRO_TIMESTAMP = "io.debezium.time.MicroTimestamp"
SEM_NANO_TIMESTAMP = "io.debezium.time.NanoTimestamp"
SEM_ISO_DATE = "io.debezium.time.IsoDate"
SEM_ISO_TIMESTAMP = "io.debezium.time.IsoTimestamp"
SEM_ISO_TIME = "io.debezium.time.IsoTime"
SEM_ZONED_TIMESTAMP = "io.debezium.time.ZonedTimestamp"
SEM_ZONED_TIME = "io.debezium.time.ZonedTime"
SEM_MICRO_TIME = "io.debezium.time.MicroTime"
SEM_JSON = "io.debezium.data.Json"
SEM_UUID = "io.debezium.data.Uuid"
SEM_GEOMETRY = "io.debezium.data.geometry.Geometry"
# decimal.handling.mode=precise wire form: base64 big-endian two's-complement
# unscaled bytes + {"scale", "connect.decimal.precision"} parameters
# (DebeziumConfig.java:30-32 defaults the mode to double, in which case the
# source emits plain float64 and this name never appears).
SEM_DECIMAL = "org.apache.kafka.connect.data.Decimal"

# Meta-field overrides — TS_MS_FIELDS / BOOLEAN_FIELDS,
# BaseRecordConverter.java:52-53, applied at :342-344 and :362-364.
TS_MS_FIELDS = frozenset({"__ts_ms", "__source_ts_ms"})
BOOLEAN_FIELDS = frozenset({"__deleted"})

_INT_TYPES = frozenset({"int8", "int16", "int32", "int64"})
_FLOAT_TYPES = frozenset({"float8", "float16", "float32", "float64", "float", "double"})


def _wire_type(node: dict[str, Any], *, nested_as_json: bool) -> T.DataType:
    """Physical JSON encoding type for one schema node."""
    phys = node.get("type")
    if phys in _INT_TYPES:
        return T.LongType()
    if phys in _FLOAT_TYPES:
        return T.DoubleType()
    if phys == "boolean":
        return T.BooleanType()
    if phys == "string":
        return T.StringType()
    if phys == "bytes":
        # JSON encodes bytes as base64 text; Spark's JacksonParser decodes
        # base64 for BinaryType fields directly (covers F1).
        return T.BinaryType()
    if phys == "array":
        items = node.get("items")
        if not items:
            # No element schema -> treat as JSON text, mirroring the
            # reference's fallback (BaseRecordConverter.java:381-385).
            return T.StringType()
        return T.ArrayType(_wire_type(items, nested_as_json=nested_as_json))
    if phys == "map":
        keys = node.get("keys")
        values = node.get("values")
        key_t = _wire_type(keys, nested_as_json=nested_as_json) if keys else T.StringType()
        val_t = _wire_type(values, nested_as_json=nested_as_json) if values else T.StringType()
        return T.MapType(key_t, val_t)
    if phys == "struct":
        if nested_as_json and node.get("name") != SEM_GEOMETRY:
            # nested-as-json mode: sub-structs land as JSON text columns
            # (CommonConfig.java:24-26; StreamRecordConverter.java:58-69).
            return T.StringType()
        return debezium_schema_to_struct(node, nested_as_json=nested_as_json)
    # Unknown physical type -> string, same default as reference :389-391.
    return T.StringType()


def debezium_schema_to_struct(
    node: dict[str, Any], *, nested_as_json: bool = False
) -> T.StructType:
    """Translate a Debezium ``{"type":"struct","fields":[...]}`` node."""
    if node.get("type") != "struct":
        raise ValueError(f"expected struct schema node, got {node.get('type')!r}")
    fields = []
    for f in node.get("fields", []):
        name = f.get("field")
        dtype = _wire_type(f, nested_as_json=nested_as_json)
        fields.append(T.StructField(name, dtype, nullable=bool(f.get("optional", True))))
    return T.StructType(fields)
