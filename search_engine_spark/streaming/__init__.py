from search_engine_spark.streaming.ingest import stream_ingest  # noqa: F401
