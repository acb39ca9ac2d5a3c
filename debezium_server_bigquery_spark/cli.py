"""S10 — properties-file launcher: ``engine run --conf application.properties``.

The reference is driven by an ``application.properties`` file of
``debezium.sink.*`` keys (docs/configuration.md) through a thin Python
launcher (debezium-server-bigquery-dist/.../debezium.py:21-106).  This module
is the Spark-native twin: it parses the same key names and maps them onto
:class:`CdcPipeline` fields, plus a small ``engine.*`` namespace for the
things BigQuery config implied (where data lands, where events come from)
that a filesystem/Spark deployment must name explicitly.

Recognized keys (reference key -> pipeline field):

- ``debezium.format.value`` / ``debezium.format.key``  json only (the
                                              default); any other serde
                                              is refused, as the reference
                                              does
- ``debezium.sink.type``                      bigquerybatch -> append mode,
                                              bigquerystream -> stream mode
- ``debezium.sink.bigquerystream.upsert``     true -> upsert MERGE mode;
                                              every MERGE maintains its
                                              own table (the BigQuery
                                              ``max_staleness`` analog)
- ``debezium.sink.bigquerystream.upsert-keep-deletes``  keep_deletes
- ``debezium.sink.bigquerystream.upsert-dedup-column``  dedup_order_col
- ``debezium.sink.batch.destination-regexp``            destination_regexp
- ``debezium.sink.batch.destination-regexp-replace``    destination_regexp_replace
- ``debezium.sink.batch.nested-as-json``      full-envelope sub-structs land
                                              as JSON text columns
- ``debezium.sink.bigquerystream.ignore-unknown-fields``  default true;
                                              false fails the read when a
                                              payload field is absent from
                                              the schema
- ``debezium.sink.<type>.allow-field-addition``  schema evolution on new
                                              batch columns (batch default
                                              true, stream default false)
- ``debezium.sink.bigquerystream.create-if-needed``  default true; false
                                              fails writes to missing tables
- ``debezium.source.topic.heartbeat.prefix``  heartbeat_prefix
- ``debezium.source.topic.heartbeat.skip-consuming``  heartbeat_skip
                                              (default true)
- ``debezium.sink.<type>.cast-deleted-field``  cast_deleted_field
                                              (default true)
- ``debezium.sink.batch.concurrent-uploads``            concurrent_uploads:
                                              upload threads of the
                                              per-destination path (keyed
                                              MERGE/SCD2, transforms,
                                              allow-field-addition=false);
                                              an append batch writes every
                                              destination in one job
- ``debezium.sink.batch.concurrent-uploads.timeout-minutes``
                                              concurrent_uploads_timeout_minutes
                                              (default 60): bounds every
                                              batch's writes, the one
                                              append job or the
                                              per-destination uploads, at
                                              any concurrent-uploads; on
                                              expiry no later write or
                                              retry of the batch starts
- ``debezium.sink.batch.batch-size-wait``     No|Max|DynamicBatchSizeWait
- ``debezium.sink.batch.batch-size-wait.wait-interval-ms``  trigger interval
                                              of a continuous run (default
                                              1000)
- ``debezium.sink.<type>.partition-type``     YEAR|MONTH|DAY|HOUR
- ``debezium.sink.<type>.partition-field``    partition_field
- ``debezium.sink.<type>.clustering-field``   clustering_field
- ``debezium.sink.<type>.dataset``            subdirectory under target root

Engine namespace:

- ``engine.target-root``       destination directory (required)
- ``engine.key-columns``       comma-separated PK for upsert tables
- ``engine.scd2``              true -> history-preserving SCD Type 2 sink
                               instead of destructive upsert (requires
                               key-columns; operators/scd.py)
- ``engine.n-buckets``         key-hash buckets for upsert tables (default 32)
- ``engine.dedup-tiebreak``    comma-separated extra deterministic order cols
- ``engine.run-once``          default true: drain available data then stop;
                               false + Max/DynamicBatchSizeWait -> continuous
                               processing-time trigger at wait-interval-ms
- ``engine.checkpoint-dir``    streaming checkpoint location
- ``engine.source``            synthetic | ndjson | kafka
- ``engine.source.sf-dir``     synthetic: testdata dir holding events.parquet
- ``engine.source.path``       ndjson: file or directory of event lines
- ``engine.source.kafka.bootstrap-servers`` / ``engine.source.kafka.topics``
- ``engine.source.kafka.schema-json``  kafka: the Debezium ``schema`` node
                               of the topic's events, as JSON (required)
- ``engine.streaming``         true -> run_stream (availableNow), else run_batch
- ``engine.on-error``          fail (default; reference DebeziumException
  parity on malformed/unknown-field events) | route (flag rows instead)
- ``engine.rejects-destination``  dead-letter table name for routed rows
- ``engine.auto-compact-every``   append tables: bin-pack fragmented
  partitions every N epochs (0 = off); ``engine.auto-compact-max-files``
  sets the per-partition file-count threshold (default 8)
"""

from __future__ import annotations

import argparse
import sys


def parse_properties(path: str) -> dict[str, str]:
    """Java-style .properties: ``k=v`` lines, ``#``/``!`` comments,
    trailing-backslash continuations."""
    props: dict[str, str] = {}
    pending = ""
    with open(path, "r", encoding="utf-8") as fh:
        for raw in fh:
            line = pending + raw.strip()
            pending = ""
            if not line or line.startswith(("#", "!")):
                continue
            if line.endswith("\\"):
                pending = line[:-1]
                continue
            for sep in ("=", ":"):
                if sep in line:
                    k, _, v = line.partition(sep)
                    props[k.strip()] = v.strip()
                    break
    return props


def _bool(v: str | None, default: bool = False) -> bool:
    if v is None:
        return default
    return v.strip().lower() in ("true", "1", "yes")


def build_pipeline(spark, props: dict[str, str]):
    """Map reference config keys onto a CdcPipeline (no side effects)."""
    import os

    from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline

    # Only JSON serde is supported, same as the reference
    # (BaseChangeConsumer.java:96-102 throws for any other
    # debezium.format.value/key).
    for side in ("value", "key"):
        fmt = props.get(f"debezium.format.{side}", "json")
        if fmt.lower() != "json":
            raise ValueError(
                f"debezium.format.{side}={fmt} not supported; only json "
                "(reference BaseChangeConsumer.java:96-102)"
            )
    sink_type = props.get("debezium.sink.type", "bigquerybatch")
    if sink_type not in ("bigquerybatch", "bigquerystream"):
        raise ValueError(f"unsupported debezium.sink.type: {sink_type}")
    upsert = sink_type == "bigquerystream" and _bool(
        props.get("debezium.sink.bigquerystream.upsert")
    )
    target_root = props.get("engine.target-root")
    if not target_root:
        raise ValueError("engine.target-root is required")
    dataset = props.get(f"debezium.sink.{sink_type}.dataset")
    if dataset:
        target_root = os.path.join(target_root, dataset)
    key_cols = tuple(
        c.strip() for c in props.get("engine.key-columns", "").split(",") if c.strip()
    )
    sink = f"debezium.sink.{sink_type}"
    mode = "upsert" if upsert else "append"
    # engine.scd2 (beyond-reference): keep every version with validity
    # intervals instead of destructive upsert (operators/scd.py).
    if _bool(props.get("engine.scd2")):
        if not key_cols:
            raise ValueError("engine.scd2=true requires engine.key-columns")
        mode = "scd2"
    return CdcPipeline(
        spark,
        target_root,
        mode=mode,
        key_cols=key_cols,
        keep_deletes=_bool(
            props.get("debezium.sink.bigquerystream.upsert-keep-deletes"), True
        ),
        destination_regexp=props.get("debezium.sink.batch.destination-regexp", ""),
        destination_regexp_replace=props.get(
            "debezium.sink.batch.destination-regexp-replace", ""
        ),
        heartbeat_prefix=props.get(
            "debezium.source.topic.heartbeat.prefix", "__debezium-heartbeat"
        ),
        heartbeat_skip=_bool(
            props.get("debezium.source.topic.heartbeat.skip-consuming"), True
        ),
        allow_field_addition=_bool(
            props.get(f"{sink}.allow-field-addition"),
            sink_type == "bigquerybatch",  # per-sink reference defaults
        ),
        create_if_needed=_bool(
            props.get("debezium.sink.bigquerystream.create-if-needed"), True
        ),
        cast_deleted_field=_bool(props.get(f"{sink}.cast-deleted-field"), True),
        concurrent_uploads=int(
            props.get("debezium.sink.batch.concurrent-uploads", "1")
        ),
        concurrent_uploads_timeout_minutes=float(
            props.get("debezium.sink.batch.concurrent-uploads.timeout-minutes", "60")
        ),
        dedup_order_col=props.get(
            "debezium.sink.bigquerystream.upsert-dedup-column", "__source_ts_ns"
        ),
        partition_type=props.get(f"{sink}.partition-type", "MONTH"),
        partition_field=props.get(f"{sink}.partition-field", "__ts_ms"),
        clustering_field=props.get(f"{sink}.clustering-field", "__source_ts_ms"),
        n_buckets=int(props.get("engine.n-buckets", "32")),
        dedup_tiebreak=tuple(
            c.strip()
            for c in props.get("engine.dedup-tiebreak", "").split(",")
            if c.strip()
        ),
        rejects_destination=props.get("engine.rejects-destination") or None,
        auto_compact_every=int(props.get("engine.auto-compact-every", "0")),
        auto_compact_max_files=int(props.get("engine.auto-compact-max-files", "8")),
    )


def build_source(spark, props: dict[str, str]):
    """Materialize the configured event source as a DataFrame."""
    kind = props.get("engine.source", "synthetic")
    streaming = _bool(props.get("engine.streaming"))
    ignore_unknown = _bool(
        props.get("debezium.sink.bigquerystream.ignore-unknown-fields"), True
    )
    nested = _bool(props.get("debezium.sink.batch.nested-as-json"))
    # engine.on-error: fail (reference DebeziumException parity) | route
    # (emit __reject_reason; pair with engine.rejects-destination).
    on_error = props.get("engine.on-error", "fail")
    if kind == "synthetic":
        from debezium_server_bigquery_spark.sources.cdc import synthesize_cdc_events
        from debezium_server_bigquery_spark.sources.tables import load_table

        sf_dir = props.get("engine.source.sf-dir", "/root/testdata/sf0.001")
        return synthesize_cdc_events(load_table(spark, sf_dir, "events"))
    if kind == "ndjson":
        from debezium_server_bigquery_spark.sources.cdc import read_cdc_ndjson

        return read_cdc_ndjson(
            spark,
            props["engine.source.path"],
            streaming=streaming,
            nested_as_json=nested,
            ignore_unknown_fields=ignore_unknown,
            on_error=on_error,
        )
    if kind == "kafka":
        import json

        from debezium_server_bigquery_spark.sources.cdc import read_cdc_kafka

        hint = props.get("engine.source.kafka.schema-json")
        return read_cdc_kafka(
            spark,
            props["engine.source.kafka.bootstrap-servers"],
            props["engine.source.kafka.topics"],
            json.loads(hint) if hint else None,
            streaming=streaming,
            nested_as_json=nested,
            ignore_unknown_fields=ignore_unknown,
            on_error=on_error,
        )
    raise ValueError(f"unsupported engine.source: {kind}")


def run(conf_path: str, spark=None) -> dict:
    """Launch the configured pipeline once; returns a summary dict."""
    props = parse_properties(conf_path)
    if spark is None:
        from debezium_server_bigquery_spark.session import get_spark

        spark = get_spark("engine-run")
    pipeline = build_pipeline(spark, props)
    source = build_source(spark, props)
    if _bool(props.get("engine.streaming")):
        ckpt = props.get("engine.checkpoint-dir")
        if not ckpt:
            raise ValueError("engine.checkpoint-dir is required when streaming")
        # batch-size-wait -> trigger policy (reference T2-T4): NoBatchSizeWait
        # or run-once (default) drains available data; Max/Dynamic map to a
        # processing-time trigger at wait-interval-ms — Spark's source-side
        # batching replaces the reference's queue polling (SURVEY §2.7).
        wait = props.get("debezium.sink.batch.batch-size-wait", "NoBatchSizeWait")
        run_once = _bool(props.get("engine.run-once"), True)
        if run_once or wait == "NoBatchSizeWait":
            q = pipeline.run_stream(source, ckpt, available_now=True)
        else:
            interval_ms = int(
                props.get(
                    "debezium.sink.batch.batch-size-wait.wait-interval-ms", "1000"
                )
            )
            q = pipeline.run_stream(
                source,
                ckpt,
                available_now=False,
                processing_time=f"{interval_ms} milliseconds",
            )
        q.awaitTermination()
    else:
        pipeline.run_batch(source)
    from debezium_server_bigquery_spark.operators.table import table_names

    # every table under the root, including those this run wrote nothing to
    tables = table_names(pipeline.target_root)
    return {
        "mode": pipeline.mode,
        "tables": tables,
        "rows": {t: pipeline.read_table(t).count() for t in tables},
    }


def optimize(
    table_path: str,
    max_files: int = 8,
    files_per_partition: int = 1,
    zorder: str | None = None,
    expire_before: str | None = None,
    spark=None,
) -> dict:
    """On-demand table maintenance (the Delta ``OPTIMIZE`` analog):
    compact fragmented partitions — optionally re-laying rows out by a
    z-order override — and expire old time partitions.  ``max_files=0``
    forces a rewrite of every non-empty partition (the full OPTIMIZE
    ZORDER pass); the default only touches partitions fragmented past the
    threshold, the incremental maintenance mode.  The compaction logs a
    z-order override, and every later compaction of the table keeps it."""
    from debezium_server_bigquery_spark.operators.table import ParquetTable

    if spark is None:
        from debezium_server_bigquery_spark.session import get_spark

        spark = get_spark("engine-optimize")
    table = ParquetTable(spark, table_path)
    if not table.exists():
        raise FileNotFoundError(f"no table log under {table_path}")
    if zorder is not None:
        cols = [c.strip() for c in zorder.split(",") if c.strip()]
        from debezium_server_bigquery_spark.operators.zorder import validate_zorder

        validate_zorder(cols)
        table.zorder_cols = cols
        # A layout override must actually rewrite: with the default
        # fragmentation threshold a tidy table compacts nothing and the
        # requested z-order would silently never land.  Force the full
        # OPTIMIZE ZORDER pass; its commit logs the override.
        max_files = 0
    expired = table.expire_partitions(expire_before) if expire_before else []
    compacted = table.compact(
        max_files_per_partition=max_files, files_per_partition=files_per_partition
    )
    return {"compacted_partitions": compacted, "expired_partitions": expired}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="engine")
    sub = ap.add_subparsers(dest="cmd", required=True)
    runp = sub.add_parser("run", help="run a pipeline from application.properties")
    runp.add_argument("--conf", required=True, help="path to application.properties")
    optp = sub.add_parser(
        "optimize", help="compact/re-layout a destination table (OPTIMIZE analog)"
    )
    optp.add_argument("--table", required=True, help="table directory")
    optp.add_argument("--max-files", type=int, default=8)
    optp.add_argument("--files-per-partition", type=int, default=1)
    optp.add_argument("--zorder", default=None, help="comma-separated layout override")
    optp.add_argument(
        "--expire-before", default=None, help="drop time partitions older than this"
    )
    args = ap.parse_args(argv)
    if args.cmd == "run":
        summary = run(args.conf)
        for t in summary["tables"]:
            print(f"{t}\t{summary['rows'][t]}")
        return 0
    if args.cmd == "optimize":
        summary = optimize(
            args.table,
            max_files=args.max_files,
            files_per_partition=args.files_per_partition,
            zorder=args.zorder,
            expire_before=args.expire_before,
        )
        print(
            f"compacted {summary['compacted_partitions']} partitions; "
            f"expired {len(summary['expired_partitions'])}"
        )
        return 0
    return 2


if __name__ == "__main__":
    sys.exit(main())
