from debezium_server_bigquery_spark.streaming.pipeline import CdcPipeline  # noqa: F401
