"""CDC event sources.

Two inputs feed the pipeline:

1. ``read_cdc_ndjson`` — newline-delimited Debezium JSON event files
   (payload + embedded schema), the same wire format the reference consumes
   via DebeziumSerdes (reference BaseChangeConsumer.java:65-66,88-94).
2. ``synthesize_cdc_events`` — a deterministic transform of the driver's
   ``events`` parquet table into flattened CDC change rows, mirroring the
   shape produced by Debezium's ExtractNewRecordState transform
   (reference DebeziumConfig.java:62-80): payload columns plus
   ``__op/__table/__db/__ts_ms/__source_ts_ms/__source_ts_ns/__deleted``
   meta columns (docs/configuration.md:21-25,56-59).

The synthesizer is pure column algebra (no UDFs) and has an exact SQL twin
(``CDC_SYNTH_SQL``) used by the DuckDB oracle, so every downstream CDC
operator is hash-checkable end-to-end.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_server_bigquery_spark.schema import debezium_schema_to_struct

# Deterministic event_type -> CDC op mapping. 'r' is snapshot-read, as in the
# reference's op-priority map {c:1, r:2, u:3, d:4}
# (StreamBigqueryChangeConsumer.java:62).
OP_CASE = (
    "CASE event_type WHEN 'signup' THEN 'c' WHEN 'view' THEN 'r' "
    "WHEN 'click' THEN 'u' WHEN 'purchase' THEN 'u' ELSE 'd' END"
)

HEARTBEAT_PREFIX = "__debezium-heartbeat"

# Column names the readers emit in on_error="route" mode; the pipeline
# splits on REJECT_COL and diverts flagged rows to the rejects table.
REJECT_COL = "__reject_reason"
REJECT_RAW_COL = "__raw"


def unknown_field_paths(payload_text, node: dict) -> "F.Column":
    """Array<string> of JSON paths present in ``payload_text`` but absent
    from the Debezium schema ``node`` — the detection side of
    ``debezium.sink.bigquerystream.ignore-unknown-fields``
    (StreamConsumerConfig.java:30-32).

    The reference's strict mode surfaces unknown payload fields as a failed
    BigQuery append (JsonStreamWriter ``setIgnoreUnknownFields(false)``,
    which validates recursively); ``from_json`` instead drops them
    silently, so strict mode must diff the raw JSON keys against the schema
    BEFORE the parse.  Pure Catalyst: ``json_object_keys`` per level,
    ``array_except`` against the known field names, recursing into
    struct-typed fields AND into array-of-struct elements (elements are
    re-exposed as raw JSON text via ``from_json(array<string>)``, so the
    same walk applies per element; paths read ``name[].sub``).  The
    reference test corpus's unknown properties sit inside
    ``before``/``after`` (serde-unknown-property.json).
    """
    known = [f.get("field") for f in node.get("fields", []) if f.get("field")]
    keys = F.coalesce(
        F.json_object_keys(payload_text), F.array().cast("array<string>")
    )
    unknown = F.array_except(keys, F.array(*[F.lit(k) for k in known]))
    parts = [unknown]
    for f in node.get("fields", []):
        name = f.get("field")
        if not name:
            continue
        if f.get("type") == "struct":
            sub = unknown_field_paths(
                F.get_json_object(payload_text, f"$.{name}"), f
            )
            parts.append(F.transform(sub, lambda p: F.concat(F.lit(f"{name}."), p)))
        elif (
            f.get("type") == "array"
            and isinstance(f.get("items"), dict)
            and f["items"].get("type") == "struct"
        ):
            elems = F.coalesce(
                F.from_json(
                    F.get_json_object(payload_text, f"$.{name}"), "array<string>"
                ),
                F.array().cast("array<string>"),
            )
            per_elem = F.transform(
                elems, lambda e: unknown_field_paths(e, f["items"])
            )
            parts.append(
                F.transform(
                    F.array_distinct(F.flatten(per_elem)),
                    lambda p: F.concat(F.lit(f"{name}[]."), p),
                )
            )
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def reject_reason(value_col, payload_text, schema_hint: dict, strict: bool):
    """NULL for clean rows, else why the event must not reach its table.

    Two reject classes, mirroring the two ways the reference's conversion/
    append path throws (it has no dead-letter concept — any of these stops
    the whole pipeline with a DebeziumException):

    - **malformed wire JSON** — Jackson would throw in DebeziumSerdes
      deserialization (BaseChangeConsumer.java:65-66).  ``from_json`` instead
      yields an all-null struct, indistinguishable from a tombstone, so the
      garbage would otherwise be *silently dropped* by R5.  Detection is
      pure Catalyst: ``json_object_keys`` is NULL for anything that is not a
      JSON object, while blank/NULL values (real tombstones) are excluded.
    - **unknown payload fields** under ignore-unknown-fields=false
      (StreamConsumerConfig.java:30-32) — the failed-append analog.

    At 100 TB one poisoned record must not kill a 1000-executor job; the
    route mode turns both classes into a ``__reject_reason`` column the
    pipeline diverts to a dead-letter table instead of raising.

    Tombstones are NOT rejects: an envelope whose ``payload`` key is
    explicitly null (``{"schema": ..., "payload": null}``) is the
    documented delete marker (dropped later by R5), so it is exempted from
    the strict unknown-field diff — without the exemption ``payload_text``
    falls back to the whole envelope and its ``schema``/``payload`` keys
    would be flagged as unknown payload fields.
    """
    trimmed = F.trim(value_col)
    is_blank = value_col.isNull() | (trimmed == "")
    malformed = (~is_blank) & F.json_object_keys(trimmed).isNull()
    reason = F.when(
        malformed,
        F.concat(F.lit("malformed JSON: "), F.substring(trimmed, 1, 120)),
    )
    if strict:
        is_tombstone = F.coalesce(
            F.array_contains(F.json_object_keys(trimmed), "payload"), F.lit(False)
        ) & F.get_json_object(value_col, "$.payload").isNull()
        unk = unknown_field_paths(payload_text, schema_hint)
        reason = reason.when(
            (~is_tombstone) & (F.size(unk) > 0),
            F.concat(
                F.lit(
                    "unknown payload field(s) not in schema "
                    "(ignore-unknown-fields=false): "
                ),
                F.concat_ws(", ", unk),
            ),
        )
    return reason.otherwise(F.lit(None).cast("string"))


def synthesize_cdc_events(events: DataFrame) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) -> CDC rows.

    Key (primary key) for upsert scenarios is ``user_id``; destination fans
    the stream out over three partition-suffixed tables plus a heartbeat
    topic (exercises R1-R3 of SURVEY §2.2).
    """
    op = (
        F.when(F.col("event_type") == "signup", F.lit("c"))
        .when(F.col("event_type") == "view", F.lit("r"))
        .when(F.col("event_type").isin("click", "purchase"), F.lit("u"))
        .otherwise(F.lit("d"))
    )
    suffix = (F.col("event_id") % 3).cast("string")
    dest = F.when(
        F.col("event_id") % 50 == 0, F.lit(f"{HEARTBEAT_PREFIX}.testc")
    ).otherwise(F.concat(F.lit("testc.inventory.events_p"), suffix))
    if "ts_ns" in events.columns:
        # Nanos from the loader (TIMESTAMP(NANOS) source), truncated to
        # microsecond precision: DuckDB (the correctness oracle) coerces
        # TIMESTAMP_NS to micros on read, so sub-micro digits are not
        # observable cross-engine.  Dedup stays deterministic — ties fall
        # through to op-priority then event_id.
        ts_ns = F.expr("(ts_ns div 1000) * 1000")
        ts_ms = F.expr("ts_ns div 1000000")
    else:
        from debezium_server_bigquery_spark.timeutil import epoch_micros, epoch_millis

        ts_type = events.schema["ts"].dataType
        ts_ms = epoch_millis(F.col("ts"), ts_type)
        ts_ns = epoch_micros(F.col("ts"), ts_type) * 1000
    return events.select(
        dest.alias("destination"),
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        op.alias("__op"),
        F.concat(F.lit("events_p"), suffix).alias("__table"),
        F.lit("testc").alias("__db"),
        ts_ms.alias("__ts_ms"),
        ts_ms.alias("__source_ts_ms"),
        ts_ns.alias("__source_ts_ns"),
        F.when(op == "d", F.lit("true")).otherwise(F.lit("false")).alias("__deleted"),
    )


def cdc_synth_oracle_sql(events_rel: str = "events") -> str:
    """DuckDB SQL producing byte-identical rows to synthesize_cdc_events."""
    return f"""
    SELECT
      CASE WHEN event_id % 50 = 0 THEN '{HEARTBEAT_PREFIX}.testc'
           ELSE 'testc.inventory.events_p' || CAST(event_id % 3 AS VARCHAR) END AS destination,
      event_id, user_id, event_type, value, props,
      {OP_CASE} AS __op,
      'events_p' || CAST(event_id % 3 AS VARCHAR) AS __table,
      'testc' AS __db,
      epoch_ms(ts) AS __ts_ms,
      epoch_ms(ts) AS __source_ts_ms,
      epoch_us(ts) * 1000 AS __source_ts_ns,
      CASE WHEN {OP_CASE} = 'd' THEN 'true' ELSE 'false' END AS __deleted
    FROM {events_rel}
    """


def parse_cdc_kafka(
    raw: DataFrame,
    schema_hint: dict,
    *,
    nested_as_json: bool = False,
    ignore_unknown_fields: bool = True,
    on_error: str = "fail",
) -> DataFrame:
    """Kafka-wire rows -> flattened CDC rows (S1's production path).

    The reference consumes ``ChangeEvent<Object, Object>`` records from the
    embedded Debezium engine, keyed by destination topic
    (BaseChangeConsumer.java:138-167).  On Spark the same records arrive via
    the kafka source as ``(key, value, topic, partition, offset, timestamp)``;
    the Debezium JSON envelope in ``value`` is parsed exactly like the NDJSON
    file path — payload via ``from_json`` against the driver-translated
    schema node — and ``destination`` is the Kafka topic, so the pipeline's
    R1-R6 routing applies unchanged.

    Kafka tombstones (null ``value``) surface as all-null payloads and are
    dropped by the pipeline's R5 stage, matching
    ``debezium.transforms.unwrap.drop.tombstones=true``
    (docs/configuration.md:24).

    ``on_error`` decides what happens to a value that cannot be converted
    (malformed JSON, or unknown payload fields under strict mode):
    ``"fail"`` raises — the reference's DebeziumException parity — while
    ``"route"`` emits ``__reject_reason``/``__raw`` columns so the pipeline
    can divert poisoned records to a dead-letter table and keep running.
    """
    return _parse_wire(
        raw,
        F.col("value").cast("string"),
        schema_hint,
        nested_as_json=nested_as_json,
        ignore_unknown_fields=ignore_unknown_fields,
        on_error=on_error,
        destination=F.col("topic"),
    )


def _parse_wire(
    raw: DataFrame,
    val,
    schema_hint: dict,
    *,
    nested_as_json: bool,
    ignore_unknown_fields: bool,
    on_error: str,
    destination=None,
) -> DataFrame:
    """The one parse of both wire sources: each ``val`` (a Debezium JSON
    envelope, or a bare flattened payload) of ``raw`` -> its payload
    columns, after ``destination`` when given.  Under ``on_error="fail"``
    a value ``reject_reason`` flags raises; under ``"route"`` it yields
    ``__reject_reason``/``__raw`` columns instead.  Tombstones (null
    payload) are kept as null structs, for the pipeline's R5 stage."""
    if on_error not in ("fail", "route"):
        raise ValueError(f"on_error must be 'fail' or 'route', got {on_error!r}")
    struct = debezium_schema_to_struct(schema_hint, nested_as_json=nested_as_json)
    payload_text = F.coalesce(F.get_json_object(val, "$.payload"), val)
    payload = F.from_json(payload_text, struct)
    reason = reject_reason(val, payload_text, schema_hint, strict=not ignore_unknown_fields)
    lead = [] if destination is None else [destination.alias("destination")]
    cols = ["destination"] if lead else []
    if on_error == "route":
        return raw.select(
            *lead,
            payload.alias("payload"),
            reason.alias(REJECT_COL),
            F.when(reason.isNotNull(), val).alias(REJECT_RAW_COL),
        ).select(*cols, "payload.*", REJECT_COL, REJECT_RAW_COL)
    payload = F.when(
        reason.isNotNull(), F.raise_error(F.concat(F.lit("CDC event rejected: "), reason))
    ).otherwise(payload)
    return raw.select(*lead, payload.alias("payload")).select(*cols, "payload.*")


def read_cdc_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    schema_hint: dict,
    *,
    streaming: bool = True,
    starting_offsets: str = "earliest",
    options: dict | None = None,
    nested_as_json: bool = False,
    ignore_unknown_fields: bool = True,
    on_error: str = "fail",
) -> DataFrame:
    """Subscribe to Debezium topics over Kafka and emit flattened CDC rows.

    ``schema_hint`` is required (there is no file to sample the embedded
    schema node from); pass the ``schema`` object of any event of the topic,
    exactly as ``debezium.format.value.schemas.enable=true`` embeds it.
    Feed the result to :meth:`CdcPipeline.run_stream`.
    """
    if schema_hint is None:
        raise ValueError(
            "kafka source requires schema_hint (the Debezium 'schema' node; "
            "debezium.format.value.schemas.enable=true)"
        )
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    reader = (
        reader.option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return parse_cdc_kafka(
        reader.load(),
        schema_hint,
        nested_as_json=nested_as_json,
        ignore_unknown_fields=ignore_unknown_fields,
        on_error=on_error,
    )


def read_cdc_ndjson(
    spark: SparkSession,
    path: str,
    *,
    streaming: bool = False,
    schema_hint: dict | None = None,
    nested_as_json: bool = False,
    ignore_unknown_fields: bool = True,
    on_error: str = "fail",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Read newline-delimited Debezium change events.

    ``on_error="fail"`` (default) raises on a line that cannot be converted
    — malformed JSON (the reference's Jackson/DebeziumSerdes failure,
    BaseChangeConsumer.java:65-66) or, under strict mode, unknown payload
    fields.  ``on_error="route"`` instead emits ``__reject_reason`` and
    ``__raw`` columns; feed the result to a :class:`CdcPipeline` with
    ``rejects_destination`` set and poisoned lines land in a dead-letter
    table while the stream keeps running (the behavior you want when one
    bad record must not kill a 1000-executor job).

    ``ignore_unknown_fields=False`` mirrors
    ``debezium.sink.bigquerystream.ignore-unknown-fields``
    (StreamConsumerConfig.java:30-32): a payload field absent from the
    schema fails the read with a clear error instead of being silently
    dropped by ``from_json``.

    ``nested_as_json=True`` mirrors ``debezium.sink.batch.nested-as-json``
    (reference CommonConfig.java:24-26): sub-structs of the event (the full
    envelope's ``before``/``after``/``source``/``transaction`` when running
    without ExtractNewRecordState) are parsed as raw JSON text columns
    instead of typed structs — the BigQuery JSON-column analog, asserted by
    StreamBigqueryChangeConsumerNestedTest.java:43-62.

    Each line is ``{"schema": {...}, "payload": {...}}`` (or a bare flattened
    payload). The Debezium schema node is translated to a Spark StructType
    driver-side (schema.py); the payload is parsed with ``from_json`` on
    executors — schema inference never runs on the cluster.

    When ``streaming`` is True this returns a Structured Streaming DataFrame
    (file source), the engine's analog of the Debezium engine thread feeding
    handleBatch (reference BaseChangeConsumer.java:138-167).
    """
    if schema_hint is None:
        # Sample one line driver-side to obtain the embedded schema node —
        # the reference likewise re-reads the schema from raw event bytes
        # (BatchBigqueryChangeConsumer.java:180-188).
        sample_file = path
        if os.path.isdir(path):
            names = [n for n in sorted(os.listdir(path)) if not n.startswith(("_", "."))]
            if not names:
                raise ValueError(f"no event files under {path}")
            sample_file = os.path.join(path, names[0])
        with open(sample_file, "r", encoding="utf-8") as fh:
            first = json.loads(fh.readline())
        schema_hint = first.get("schema")
        if schema_hint is None:
            raise ValueError(
                "events carry no embedded schema; pass schema_hint= explicitly "
                "(reference requires schemas.enable=true, DebeziumConfig.java:34-40)"
            )
    reader = spark.readStream if streaming else spark.read
    if streaming and max_files_per_trigger:
        # bound each micro-batch by source files — the file-source analog
        # of MaxBatchSizeWait's batch-size cap (SURVEY §2.7 T3)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _parse_wire(
        reader.text(path),
        F.col("value"),
        schema_hint,
        nested_as_json=nested_as_json,
        ignore_unknown_fields=ignore_unknown_fields,
        on_error=on_error,
    )
