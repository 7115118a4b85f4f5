"""Structured Streaming surface (SURVEY.md §2B streaming + M4): streaming
ingest (the reference's Kafka→StateFun path), event-time windowed
aggregation with watermarks, streaming dedup, and custom stateful
processing."""

from rtdl_spark.streaming.jobs import (  # noqa: F401
    stream_dedup_clusters,
    stream_dedup_within_watermark,
    stream_enrich_static,
    stream_image_ahash,
    stream_ingest_json,
    stream_interval_join,
    stream_session_counts,
    stream_sliding_counts,
    stream_stateful_user_totals,
    stream_to_delta_table,
    stream_upsert_to_delta,
    stream_tumbling_counts,
    stream_tumbling_distinct_users,
)
