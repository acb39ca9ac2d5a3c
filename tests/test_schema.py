"""Schema translator tests — fixtures mirror the reference's JSON test
corpus (FIXTURES.md §B; reference .../src/test/resources/json/)."""

from __future__ import annotations

from pyspark.sql import types as T

from debezium_server_bigquery_spark.operators.table import ParquetTable
from debezium_server_bigquery_spark.schema import debezium_schema_to_struct

# B1 — unwrap-with-schema.json shape: flat payload with semantic Date.
B1_SCHEMA = {
    "type": "struct",
    "fields": [
        {"type": "int32", "optional": False, "field": "id"},
        {
            "type": "int32",
            "optional": True,
            "name": "io.debezium.time.Date",
            "field": "order_date",
        },
        {"type": "int32", "optional": True, "field": "purchaser"},
        {"type": "string", "optional": True, "field": "__op"},
        {"type": "int64", "optional": True, "field": "__source_ts_ms"},
        {"type": "string", "optional": True, "field": "__deleted"},
    ],
}

# B3 — geometry struct (serde-with-schema_geom.json).
B3_SCHEMA = {
    "type": "struct",
    "fields": [
        {"type": "int32", "optional": False, "field": "id"},
        {
            "type": "struct",
            "optional": True,
            "name": "io.debezium.data.geometry.Geometry",
            "fields": [
                {"type": "int32", "optional": True, "field": "srid"},
                {"type": "bytes", "optional": False, "field": "wkb"},
            ],
            "field": "g",
        },
    ],
}

# B4 — arrays of semantic types (various-array-data-types.json).
B4_SCHEMA = {
    "type": "struct",
    "fields": [
        {
            "type": "array",
            "items": {"type": "int32"},
            "optional": True,
            "field": "c_integer",
        },
        {
            "type": "array",
            "items": {"type": "string"},
            "optional": True,
            "field": "c_text",
        },
        {
            "type": "array",
            "items": {"type": "int32", "name": "io.debezium.time.Date"},
            "optional": True,
            "field": "c_date",
        },
        {"type": "array", "optional": True, "field": "c_no_items"},
    ],
}


def test_b1_wire_types():
    s = debezium_schema_to_struct(B1_SCHEMA)
    assert s["id"].dataType == T.LongType()
    assert s["order_date"].dataType == T.LongType()  # wire = epoch days int
    assert s["__op"].dataType == T.StringType()
    assert s["__source_ts_ms"].dataType == T.LongType()
    assert not s["id"].nullable and s["purchaser"].nullable


def test_b3_geometry_struct():
    s = debezium_schema_to_struct(B3_SCHEMA)
    g = s["g"].dataType
    assert isinstance(g, T.StructType)
    assert g["srid"].dataType == T.LongType()
    assert g["wkb"].dataType == T.BinaryType()


def test_b3_nested_as_json_keeps_geometry():
    # nested-as-json stringifies ordinary structs but geometry stays typed.
    s = debezium_schema_to_struct(B3_SCHEMA, nested_as_json=True)
    assert isinstance(s["g"].dataType, T.StructType)


def test_b2_nested_as_json_stringifies_plain_structs():
    schema = {
        "type": "struct",
        "fields": [
            {
                "type": "struct",
                "fields": [{"type": "int32", "field": "id"}],
                "optional": True,
                "field": "after",
            },
            {"type": "int64", "optional": True, "field": "ts_ms"},
        ],
    }
    s = debezium_schema_to_struct(schema, nested_as_json=True)
    assert s["after"].dataType == T.StringType()
    assert s["ts_ms"].dataType == T.LongType()
    nested = debezium_schema_to_struct(schema, nested_as_json=False)
    assert isinstance(nested["after"].dataType, T.StructType)


def test_b4_arrays():
    s = debezium_schema_to_struct(B4_SCHEMA)
    assert s["c_integer"].dataType == T.ArrayType(T.LongType())
    assert s["c_text"].dataType == T.ArrayType(T.StringType())
    assert s["c_date"].dataType == T.ArrayType(T.LongType())
    # missing element schema -> JSON string (reference :381-385)
    assert s["c_no_items"].dataType == T.StringType()


KEY_SCHEMA = {
    "type": "struct",
    "fields": [
        {"type": "int32", "field": "c_id"},
        {"type": "int32", "field": "c_id2"},
        {"type": "int32", "field": "c_id3"},
        {"type": "int32", "field": "c_id4"},
    ],
}


def test_key_fields_and_clustering_cap():
    keys = [f["field"] for f in KEY_SCHEMA["fields"]]
    # <= 3 PK cols + clustering field == BigQuery's 4-field cap
    # (BaseRecordConverter.java:218-221); the handle needs no session.
    t = ParquetTable(None, "unused", key_cols=keys)
    assert t.clustering_cols() == ["c_id", "c_id2", "c_id3", "__source_ts_ms"]
    assert ParquetTable(None, "unused").clustering_cols() == ["__source_ts_ms"]
