from rtdl_spark.sources.delta_reader import (
    delta_history,
    last_txn_version,
    read_delta_native,
)
from rtdl_spark.sources.delta_stream_source import DeltaStreamDataSource
from rtdl_spark.sources.delta_writer import (
    delete_where_delta_native,
    merge_into_delta_native,
    optimize_delta_native,
    update_where_delta_native,
    vacuum_delta_native,
    write_checkpoint_native,
    write_delta_native,
)
from rtdl_spark.sources.readers import (
    kafka_stream_reader,
    read_csv,
    read_json_envelopes,
    read_parquet,
)

__all__ = [
    "DeltaStreamDataSource",
    "delta_history",
    "last_txn_version",
    "read_delta_native",
    "kafka_stream_reader",
    "read_csv",
    "delete_where_delta_native",
    "merge_into_delta_native",
    "optimize_delta_native",
    "update_where_delta_native",
    "vacuum_delta_native",
    "write_checkpoint_native",
    "write_delta_native",
    "read_json_envelopes",
    "read_parquet",
]
