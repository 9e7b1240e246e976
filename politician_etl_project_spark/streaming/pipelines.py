"""Streaming pipelines: watermarked windows, stateful dedup, custom
per-key state, and incremental MERGE (SURVEY §2.11 T1-T6).

Each pipeline is the streaming twin of a batch declared query in
``queries/events.py`` — the tests assert batch/stream equivalence under
``Trigger.AvailableNow``, which is this engine's analog of the
reference's watermark-batch update scripts.

Scale notes (100 TB / real cluster):
- Watermarks bound state: windowed aggregation state is evicted once the
  watermark passes the window end, dedup state once it passes the event
  time + gap.  Without them state grows with the keyspace forever.
- Windowed aggregation shuffles on (window, key) — partial aggregation
  runs map-side in each micro-batch, same as batch.
- ``applyInPandasWithState`` keeps per-key state in the state store
  (RocksDB on a real cluster); the Python worker sees Arrow batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def windowed_totals(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (slide=None) or sliding windowed count+sum per event_type
    with an event-time watermark (T2/T3; batch twin q_tumbling_window /
    q_sliding_window).  In append mode a window emits exactly once, when
    the watermark passes its end — late rows beyond the watermark are
    dropped, the reference's since-date skip
    (scripts/update_donations.py:184-186)."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(18,2)").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: sessions close after `gap` of inactivity
    (batch twin q_session_windows).  Streaming session windows merge
    state across micro-batches until the watermark seals the session."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT).alias("session_start"),
            F.date_format(F.col("w.end"), _TS_FMT).alias("session_end"),
            "n_events",
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: each micro-batch
    joins the (unbounded) event stream against a bounded dimension and
    aggregates value by the dimension attribute per hour.

    This is the streaming twin of the reference's every-metric shape —
    fact ⋈ dim → group → sum (app/app.py:127-188) — and the canonical
    Spark pattern for it: the static side is broadcast into every
    micro-batch, so the stream side never shuffles for the join; only
    the windowed aggregation keeps (bounded, watermarked) state.  The
    dim DataFrame is re-read per batch, so slowly-changing dimensions
    pick up updates without restarting the query."""
    joined = events.withWatermark("ts", watermark).join(F.broadcast(dim), key)
    dim_cols = [c for c in dim.columns if c != key]
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), *dim_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(18,2)").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            *dim_cols,
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once events by event_id across micro-batches (T6 — the
    reference retains a donors dict across batches to avoid re-inserting,
    scripts/update_donations.py:237).  dropDuplicatesWithinWatermark keeps
    the first arrival and evicts key state once the watermark passes, so
    state is bounded by the watermark horizon rather than the full key
    history."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def interval_join_stream(
    views: DataFrame,
    purchases: DataFrame,
    window_seconds: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: purchases matched to same-user views
    they follow within `window_seconds` (batch twin: q_range_join /
    operators.temporal.range_join_binned).

    Both sides carry watermarks and the join condition bounds event time
    on both sides, so the state store evicts a view row once the
    watermark passes v_ts + window — without the bound, stream-stream
    join state grows forever.  At scale both streams shuffle once on
    user_id and co-partition."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    return v.join(
        p,
        F.expr(
            f"v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval {window_seconds} seconds"
        ),
    ).select(F.col("v_user").alias("user_id"), "v_id", "p_id", "v_ts", "p_ts")


def incremental_upsert_stream(
    events: DataFrame,
    table,
    update_log=None,
    checkpoint_dir: str | None = None,
) -> None:
    """T5: per-micro-batch MERGE into a managed table + watermark-log
    append — the reference's update_donations batch loop
    (scripts/update_donations.py:258-307) as foreachBatch.  `table` is a
    ``storage.SnapshotTable`` keyed on event_id (first-wins replays ON
    CONFLICT DO NOTHING); `update_log`, if given, is a SnapshotTable the
    per-batch log rows append to."""
    from politician_etl_project_spark.operators.upsert import log_update
    from politician_etl_project_spark.streaming.sources import run_foreach_batch

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        # logged n = rows ACTUALLY INSERTED: the merged version's row
        # count minus the prior one, both recorded in the manifests by
        # the writes that produced them, so metering costs no job.  Not the
        # batch size: a replayed batch whose first-wins upsert inserts
        # nothing then logs 0, so consumers summing the log never
        # double-count (the log row itself may duplicate across a
        # replay; its counts stay honest).  Under update_wins=False
        # replacements never happen, so the metric is named
        # records_inserted.
        before = table.row_count()
        version = table.upsert(batch_df, update_wins=False)
        if update_log is not None:
            log_update(
                batch_df.sparkSession,
                update_log,
                "events",
                table.row_count(version) - before,
                notes=f"batch={batch_id} records_inserted",
            )

    run_foreach_batch(events, _apply, checkpoint_dir=checkpoint_dir)


def dedup_ingest_stream(
    docs: DataFrame,
    index,
    checkpoint_dir: str | None = None,
    reports: list | None = None,
) -> None:
    """Streaming corpus ingestion with cross-batch dedup: each micro-batch
    of documents is deduplicated against the STORED corpus index (exact
    fingerprints + LSH near-dup, partition-pruned probes) and survivors
    append — operators/ingest.DedupIngestTable under foreachBatch.  This
    is the always-on form of the batch curation funnel: state lives in
    the index tables, not in streaming state, so the stream restarts
    cheaply and the index is queryable mid-flight.  Replay-convergent
    over foreachBatch's at-least-once delivery: the ingest probes
    exclude self-id matches and the index writes are insert-if-absent
    (see DedupIngestTable._append), so a batch replayed after a crash —
    even one that left a doc half-indexed between the two table writes —
    completes the missing state instead of double-appending or dropping
    the doc as a dup of itself.  ``reports`` (if given) collects one
    IngestReport per batch for observability (report COUNTS may differ
    across a replay; the index state does not)."""
    from politician_etl_project_spark.streaming.sources import run_foreach_batch

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        rep = index.ingest(batch_df)
        if reports is not None:
            reports.append((batch_id, rep))

    run_foreach_batch(docs, _apply, checkpoint_dir=checkpoint_dir)


def rollup_maintenance_stream(
    events: DataFrame,
    store,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming materialized-view maintenance: each micro-batch folds
    into a :class:`~politician_etl_project_spark.operators.rollup.RollupStore`
    of additive partials — the dashboard aggregate stays fresh at
    O(batch) cost instead of the reference's per-page-load full rescan
    (app/app.py metric queries).  Exactly-once over at-least-once
    delivery via the store's own two-phase batch commit (RollupStore.
    merge — staged data + pending/done markers close the crash window
    BETWEEN the overwrite and the marker, which a marker-after-write
    scheme leaves open), with batch ids scoped by delivery lineage
    (md5 of the checkpoint realpath, same scheme as
    snapshot_append_stream): a rerun with a FRESH checkpoint restarts
    batch ids at 0, and an unscoped ``b0`` marker from the old run
    would silently swallow the new run's first batches.  The store also
    absorbs the first batch through the same guarded merge (no separate
    build branch, no unguarded first-batch window).  Rows are mapped to
    (group cols…, measure) before the merge; the merge itself reads
    only the store buckets the batch touches."""
    from pyspark.sql import functions as F

    from politician_etl_project_spark.streaming.sources import (
        owned_checkpoint,
        run_foreach_batch,
    )

    # the checkpoint is resolved HERE (not left to run_foreach_batch)
    # because the lineage id must be derived from it; owned_checkpoint
    # also owns the cleanup of an anonymous run's throwaway dir
    with owned_checkpoint(checkpoint_dir) as ckpt:
        lineage = _sink_lineage_id(ckpt)

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            rows = batch_df.select(
                "event_type",
                F.date_format("ts", "yyyy-MM-dd").alias("day"),
                F.col("value").cast("decimal(12,2)").alias("measure"),
            )
            store.merge(rows, batch_id=f"{lineage}-b{batch_id}")

        run_foreach_batch(events, _apply, checkpoint_dir=ckpt)


def _event_cms(events: DataFrame, depth: int = 3, width: int = 64) -> DataFrame:
    """3 x 64 count-min sketch of the event_type stream: exact BIGINT
    counters keyed by md5-derived row hashes (same family as
    queries/textops.q_countmin_sketch)."""
    from politician_etl_project_spark.queries.textops import CMS_SPARK_BUCKET_FMT

    rows = None
    for d in range(depth):
        # the ONE count-min bucket formula (queries/textops) — the
        # incrementally maintained sketch must never drift from the
        # batch/oracle formula it is proven equal to
        r = events.select(
            F.lit(d).alias("d"),
            F.expr(
                CMS_SPARK_BUCKET_FMT.format(d=f"'{d}'", col="event_type", width=width)
            ).alias("bucket"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.groupBy("d", "bucket").agg(F.count("*").cast("bigint").alias("c"))


def _sketch_current_version(store_path: str) -> str | None:
    """Name of the committed sketch version, or None if never committed."""
    import os

    ptr = os.path.join(store_path, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip()


def read_sketch_store(spark, store_path: str) -> DataFrame:
    """Read the committed count-min sketch (the version `_CURRENT` points
    at).  Raises if the store was never committed."""
    import os

    version = _sketch_current_version(store_path)
    if version is None:
        raise FileNotFoundError(f"no committed sketch at {store_path}")
    return spark.read.parquet(os.path.join(store_path, "versions", version))


def sketch_maintenance_stream(
    events: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Incrementally maintain a count-min sketch over a stream: each
    micro-batch's 3x64 sketch ADDS into the stored one — sketches form a
    commutative monoid, so maintenance is a 192-row keyed sum per batch
    and NEVER a rescan of history.  The streaming twin of
    q_countmin_sketch; at any moment :func:`read_sketch_store` answers
    heavy-hitter estimates over everything ingested so far.

    Replay-idempotent over foreachBatch's at-least-once delivery via a
    versioned store with an atomic pointer (stronger than the marker-dir
    scheme in rollup_maintenance_stream, closing the round-3 advice):
    batch N's merged sketch is written to ``versions/{lineage}-b{N}``
    and only then does an atomic rename flip ``_CURRENT`` to it.  A
    crash BEFORE the flip leaves ``_CURRENT`` on the previous version,
    so the replayed batch merges against the OLD sketch (no double
    count); a crash AFTER the flip makes the replay hit the
    ``_CURRENT == {lineage}-b{N}`` guard and skip.  Only a missing
    pointer means "first batch" — a genuine store read error propagates
    instead of silently resetting history.

    Versions are scoped by delivery lineage (md5 of the checkpoint's
    realpath, same scheme as ``snapshot_append_stream``), NOT by batch
    id alone: a rerun with a FRESH checkpoint restarts batch ids at 0,
    and an unscoped ``b0`` guard would mistake that run's first batch
    for a replay of the old run's ``b0`` and silently drop its counts.
    Under a new lineage the first batch MERGES into the existing sketch
    instead."""
    from politician_etl_project_spark.streaming.sources import owned_checkpoint

    with owned_checkpoint(checkpoint_dir) as ckpt:
        _sketch_maintenance_run(events, store_path, ckpt)


def _sketch_maintenance_run(events: DataFrame, store_path: str, ckpt: str) -> None:
    import os

    from politician_etl_project_spark.streaming.sources import run_foreach_batch

    lineage = _sink_lineage_id(ckpt)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        version = f"{lineage}-b{batch_id}"
        current_version = _sketch_current_version(store_path)
        if current_version == version:  # crash-after-commit replay
            return
        delta = _event_cms(batch_df)
        if current_version is None:
            # no committed pointer: EITHER a genuinely fresh store OR a
            # legacy flat-layout store written before versioning — the
            # latter must migrate, not silently reset accumulated history
            legacy = (
                os.path.isdir(store_path)
                and any(f.endswith(".parquet") for f in os.listdir(store_path))
            )
            if legacy:
                current = spark.read.parquet(store_path)
                merged = (
                    current.unionByName(delta)
                    .groupBy("d", "bucket")
                    .agg(F.sum("c").cast("bigint").alias("c"))
                )
            else:
                merged = delta
        else:
            current = spark.read.parquet(
                os.path.join(store_path, "versions", current_version)
            )
            merged = (
                current.unionByName(delta)
                .groupBy("d", "bucket")
                .agg(F.sum("c").cast("bigint").alias("c"))
            )
        # the sketch is O(depth*width) rows — rewrite is trivially cheap;
        # overwrite mode also absorbs a crash-mid-write replay of the
        # same version dir
        merged.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(store_path, "versions", version)
        )
        tmp = os.path.join(store_path, "_CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(version)
        os.rename(tmp, os.path.join(store_path, "_CURRENT"))  # atomic commit
        # GC: keep the current AND the immediately superseded version (a
        # reader that resolved _CURRENT just before the flip may still be
        # running against it), sweep everything older — which also
        # collects any orphan a crash-between-flip-and-GC left behind
        import shutil

        keep = {version, current_version}
        vdir = os.path.join(store_path, "versions")
        for old in os.listdir(vdir):
            if old not in keep:
                shutil.rmtree(os.path.join(vdir, old), ignore_errors=True)

    run_foreach_batch(events, _apply, checkpoint_dir=ckpt)


def snapshot_append_stream(
    events: DataFrame,
    store_path: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Versioned streaming ingestion: each micro-batch lands as ONE
    immutable append version of a :class:`~politician_etl_project_spark.
    storage.SnapshotTable` — the stream's whole history stays
    time-travelable (read the table exactly as of batch N), which is the
    auditability the reference's destructive re-ingest loop
    (scripts/update_donations.py:258-307) cannot offer.

    Replay-idempotent over foreachBatch's at-least-once delivery, with
    markers scoped the way Spark's idempotent-foreachBatch recipe
    prescribes — per (sink lineage, batch id), NOT per batch id alone:
    batch N commits with op ``append-{sink}-b{N}`` where ``sink`` is
    derived from the realpath of the checkpoint location (the checkpoint
    IS the identity of a delivery lineage; realpath so a respelled path
    to the same checkpoint stays the same lineage).  The guard is
    two-tier and exact even when OTHER writers (a second sink, a manual
    upsert, compaction) interleave commits on the same table:

    1. a per-sink sidecar marker (``SnapshotTable.sink_marker`` — O(1),
       vacuum never touches it) records the last batch this sink both
       committed AND marked; redelivery at or below it skips instantly;
    2. for the crash window (append committed, marker/checkpoint not
       yet) the guard scans manifest ops DESCENDING only above the
       marker's version (``has_op_since``) — bounded by the
       interleaving window, not the table's history.

    A restart with a FRESH checkpoint is a NEW lineage (batch ids
    restart and regroup), so its batches append rather than being
    mistaken for replays — duplicates are possible then, data loss is
    not; dedup downstream or keep the checkpoint."""
    from politician_etl_project_spark.storage import SnapshotTable
    from politician_etl_project_spark.streaming.sources import (
        owned_checkpoint,
        run_foreach_batch,
    )

    # an anonymous run gets a throwaway checkpoint HERE so the sink id
    # still tracks the delivery lineage (deriving it from store_path
    # would collide a later fresh run's restarted batch ids with the
    # committed markers — exactly the loss mode the scoping prevents);
    # owned_checkpoint also owns its cleanup
    with owned_checkpoint(checkpoint_dir) as ckpt:

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            table = SnapshotTable(batch_df.sparkSession, store_path)
            snapshot_guarded_append(table, _sink_lineage_id(ckpt), batch_df, batch_id)

        run_foreach_batch(events, _apply, checkpoint_dir=ckpt)


def _sink_lineage_id(checkpoint_dir: str) -> str:
    """Stable id of a delivery lineage: md5 of the checkpoint's realpath
    (trailing-slash or relative respellings of the same location must
    not look like a new lineage — that would duplicate the crash-window
    redelivery)."""
    import hashlib
    import os

    return hashlib.md5(os.path.realpath(checkpoint_dir).encode()).hexdigest()[:8]


def snapshot_guarded_append(table, sink: str, batch_df: DataFrame, batch_id: int) -> bool:
    """The sink's idempotent append, factored out so tests can drive the
    guard directly: returns True if the batch was appended, False if it
    was recognized as a replay.  See ``snapshot_append_stream`` for the
    two-tier guard contract."""
    marker = table.sink_marker(sink)
    if marker is not None and batch_id <= marker[0]:
        return False  # committed AND marked — the common fast path
    op = f"append-{sink}-b{batch_id}"
    after = marker[1] if marker is not None else None
    if table.has_op_since(op, after):
        # crash window: append committed but marker/checkpoint didn't —
        # record the marker now so the next probe is O(1) again
        table.set_sink_marker(sink, batch_id, table.current_version())
        return False
    version = table.append(batch_df, op=op)
    table.set_sink_marker(sink, batch_id, version)
    return True


_USER_TOTALS_EXACT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)
_USER_STATE_EXACT_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _accumulate_user_exact(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running totals carried in the state store across
    micro-batches, emitted every batch the user appears in (update-mode
    semantics).  The value sum is accumulated as ``floor(value*100 +
    0.5)`` per row in int64, so the lifetime total is EXACT and
    independent of both batch split and accumulation order — the
    property that lets the driver hash-compare the stream's final state
    against a plain SQL aggregate (float accumulation order would differ
    between pandas and the engines)."""
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


def user_running_totals_exact(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    lifetime event count + exact integer-cents value sum (the D5/T5-style
    accumulator the reference keeps in driver dicts, app/metrics.py:571-576
    — here distributed, Arrow-batched and checkpointed; see
    :func:`_accumulate_user_exact`).  The oracle-checkable D5 witness:
    per-user state carried across micro-batches, emitted in update mode
    each batch the user appears in; the last emission per user equals
    the batch GROUP BY exactly."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _accumulate_user_exact,
            outputStructType=_USER_TOTALS_EXACT_SCHEMA,
            stateStructType=_USER_STATE_EXACT_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    """The SAME exact integer-cents accumulator on Spark 4's
    ``transformWithStateInPandas`` — the arbitrary-state API that
    succeeds applyInPandasWithState (SPARK-49411): a StatefulProcessor
    with TYPED state variables (one ValueState here; ListState /
    MapState / timers / TTL are the same handle) instead of one opaque
    GroupState blob.  Two operational differences matter at scale:
    the API requires the RocksDB state-store provider (changelog
    checkpointing, state too big for executor memory), and state is
    per-VARIABLE, so schema evolution adds a variable instead of
    versioning a blob.  Kept as a twin of
    :func:`user_running_totals_exact` with identical emissions — the
    declared query q_stateful_totals_tws hash-matches it against the
    same SQL aggregate, pinning the two APIs to each other."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _ExactTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _USER_STATE_EXACT_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np

            prior = self._totals.get() if self._totals.exists() else None
            n, cents = prior if prior is not None else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum()
                )
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_ExactTotals(),
        outputStructType=_USER_TOTALS_EXACT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
