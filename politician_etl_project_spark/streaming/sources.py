"""Streaming sources and sinks (SURVEY S1/T3: file-source micro-batches).

The reference consumes "whatever landed since the watermark" from staging
directories (FEC zip extracts, scraper output dirs —
``scripts/update_donations.py:68-125``, ``scripts/update_bills.py:94-152``).
The Spark-native equivalent is a file-source ``readStream`` over the
staging dir: each newly-landed file becomes part of a micro-batch, and
``Trigger.AvailableNow`` reproduces the reference's run-to-completion
batch jobs while keeping checkpointed exactly-once file tracking.

Scale: the file source lists incrementally and checkpoints consumed
files; ``maxFilesPerTrigger`` bounds per-batch work so one giant backlog
drop does not produce one giant batch (the reference's 500k-row chunking,
``scripts/ingest_bulk_donations.py:197``, is the same idea).
"""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# a throwaway checkpoint holds offset/commit logs and state-store
# snapshots: MBs per stateful stream, so a tmpfs with less room than this
# is treated as full
TMPFS_FLOOR_BYTES = 256 << 20


def ephemeral_ckpt_base() -> str | None:
    """Base directory for THROWAWAY stream checkpoints (r12, guide §6):
    a checkpoint that is deleted when the run ends buys nothing from
    durable storage, but its offset-log/commit-log/state-snapshot
    renames fsync on every micro-batch — measured 4.09 s -> 3.57 s for
    the 3-batch stateful-totals run moving the checkpoint from disk
    /tmp to tmpfs.  Durable checkpoints (caller-passed paths) are
    untouched.  Override with $SPARK_GRAFT_EPHEMERAL_CKPT_DIR (point it
    at reliable storage to make even throwaway runs resumable); returns
    None (tempfile's default) when no tmpfs is available, or when
    ``/dev/shm`` has less than ``TMPFS_FLOOR_BYTES`` free — a full tmpfs
    would fail the stream's first checkpoint write, while disk only
    costs the fsyncs."""
    import os

    base = os.environ.get("SPARK_GRAFT_EPHEMERAL_CKPT_DIR")
    if base:
        return base
    if os.access("/dev/shm", os.W_OK) and shutil.disk_usage("/dev/shm").free >= TMPFS_FLOOR_BYTES:
        return "/dev/shm"
    return None


def _ephemeral_ckpt(prefix: str = "ckpt-") -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=ephemeral_ckpt_base())


@contextmanager
def owned_checkpoint(checkpoint_dir: str | None):
    """Yield a usable checkpoint path; a caller passing None gets a
    throwaway one removed on exit.  For pipelines that must derive a
    per-sink lineage id from the checkpoint path BEFORE starting the
    stream (rollup/sketch/snapshot maintenance), which therefore cannot
    rely on run_foreach_batch's internal fallback — without this, each
    anonymous run leaked one /tmp/ckpt-* directory."""
    own = checkpoint_dir is None
    ckpt = checkpoint_dir or _ephemeral_ckpt()
    try:
        yield ckpt
    finally:
        if own:
            shutil.rmtree(ckpt, ignore_errors=True)


EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of event rows from a staging directory of
    parquet files (the streaming twin of catalog.load_table('events'))."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink and return the result as a batch DataFrame.

    AvailableNow processes the entire backlog in watermark-respecting
    micro-batches then stops — the reference's "run_all_updates" batch
    semantics (scripts/run_all_updates.py:14-19) with streaming state.

    Without ``checkpoint_dir`` each call gets a throwaway checkpoint
    (removed after the run): exactly-once file tracking then holds only
    WITHIN the run — a later call reprocesses the whole backlog.  Pass
    a durable checkpoint_dir for resume-where-left-off semantics.
    """
    spark = sdf.sparkSession
    own_ckpt = checkpoint_dir is None
    ckpt = checkpoint_dir or _ephemeral_ckpt()
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        if own_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)


def run_foreach_batch(
    sdf: DataFrame,
    fn,
    checkpoint_dir: str | None = None,
) -> None:
    """Run a stream to completion through a foreachBatch sink (T5 stateful
    upsert per micro-batch, scripts/update_donations.py:258-307).

    Same checkpoint contract as :func:`run_to_memory`: no
    ``checkpoint_dir`` means a throwaway checkpoint (cleaned up after
    the run) and exactly-once tracking only WITHIN the run — callers
    whose ``fn`` is not replay-idempotent must pass a durable one."""
    own_ckpt = checkpoint_dir is None
    ckpt = checkpoint_dir or _ephemeral_ckpt()
    try:
        q = (
            sdf.writeStream.foreachBatch(fn)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if own_ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
