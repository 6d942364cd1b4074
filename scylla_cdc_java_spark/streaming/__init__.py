"""Structured Streaming surface — the reference's consumer pipeline (§2.9).

The reference is a streaming CDC consumer; this package is its idiomatic
Spark expression: file-stream source over CDC-shaped parquet, watermark as
the confidence window, ``dropDuplicatesWithinWatermark`` as the resume
filter (always on), ``foreachBatch`` + the apply kernel as the replicator
sink, and the checkpointLocation's offset/commit logs as the one
CDCStateStore (K4). The K2 printer is Spark's own console sink over
``CDCStreamConsumer.changes()``.
"""

from .consumer import (  # noqa: F401
    CDCStreamConsumer,
    dedup_within_watermark,
    read_changes_stream,
    run_with_retries,
    tumbling_window_counts,
    with_confidence_window,
)
from .replicator import ReplicatorSink, replicate_available_now  # noqa: F401
from .evolution import (  # noqa: F401
    conform_changes,
    descriptor_from_log_schema,
    replicate_with_schema_evolution,
)
from .multi import MultiTableConsumer  # noqa: F401
