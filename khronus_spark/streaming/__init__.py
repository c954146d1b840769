from khronus_spark.streaming.ingest import (  # noqa: F401
    run_streaming_rollup_upsert,
    streaming_summary,
)
