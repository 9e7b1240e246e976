"""Structured Streaming surface (SURVEY.md §2.11).

The reference's incremental layer is watermark-filtered micro-batch
(update_log watermarks + since-date skip + chunked upsert,
``scripts/update_donations.py:52-65,184-186,233-307``).  This package
re-expresses that shape natively: file-source micro-batches
(``Trigger.AvailableNow`` ≡ the reference's "process everything new then
stop" run mode), event-time watermarks for late-data handling, windowed
aggregation, stateful dedup, custom per-key state, and ``foreachBatch``
MERGE into managed tables.
"""

from politician_etl_project_spark.streaming.sources import events_stream, run_to_memory
from politician_etl_project_spark.streaming.pipelines import (
    dedup_stream,
    enrich_stream,
    incremental_upsert_stream,
    interval_join_stream,
    session_counts,
    user_running_totals_exact,
    windowed_totals,
)

__all__ = [
    "events_stream",
    "enrich_stream",
    "run_to_memory",
    "windowed_totals",
    "session_counts",
    "dedup_stream",
    "interval_join_stream",
    "user_running_totals_exact",
    "incremental_upsert_stream",
]
