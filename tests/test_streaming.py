"""Structured Streaming tests (SURVEY §2.11): batch/stream equivalence
under Trigger.AvailableNow on the events fixture.

Strategy: stage events as multiple parquet files in a tmp dir so
maxFilesPerTrigger forces multi-micro-batch execution, then assert the
streaming result equals the corresponding batch computation (modulo
watermark finalization for append-mode windows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark.catalog import load_table
from politician_etl_project_spark.storage import SnapshotTable
from politician_etl_project_spark.streaming import (
    dedup_stream,
    events_stream,
    incremental_upsert_stream,
    run_to_memory,
    session_counts,
    user_running_totals_exact,
    windowed_totals,
)

from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def staged_events(spark, tmp_path_factory):
    """Events split into 4 files by event_id ranges *in time order* (the
    fixture's event_id increases with ts), so micro-batches arrive like a
    real stream and the watermark advances between batches."""
    src = str(tmp_path_factory.mktemp("events_src"))
    events = load_table(spark, SF_SMALL, "events")
    events.withColumn("bucket", (F.col("event_id") / 250).cast("int")).repartitionByRange(
        4, "bucket"
    ).drop("bucket").write.mode("overwrite").parquet(src)
    return src


def _batch_events(spark):
    return load_table(spark, SF_SMALL, "events")


def test_tumbling_stream_matches_batch(spark, staged_events, tmp_path):
    stream = events_stream(spark, staged_events)
    got = run_to_memory(
        windowed_totals(stream, "1 hour"),
        "tumbling_sink",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = windowed_totals(_batch_events(spark), "1 hour")
    # Append mode emits only windows finalized by the terminal watermark:
    # max(ts) - 2h.  Compare on that finalized subset.
    max_ts = _batch_events(spark).agg(F.max("ts")).collect()[0][0]
    cutoff = (
        spark.range(1)
        .select(
            F.date_format(
                F.date_trunc("hour", F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")),
                "yyyy-MM-dd HH:mm:ss",
            )
        )
        .collect()[0][0]
    )
    expected = {
        tuple(map(str, r)) for r in batch.collect() if str(r["window_start"]) < cutoff
    }
    actual = {tuple(map(str, r)) for r in got.collect()}
    assert expected  # watermark must have finalized a non-trivial prefix
    assert expected.issubset(actual)
    # nothing emitted disagrees with batch on the finalized prefix
    batch_all = {tuple(map(str, r)) for r in batch.collect()}
    assert actual.issubset(batch_all)


def test_sliding_stream_matches_batch(spark, staged_events, tmp_path):
    stream = events_stream(spark, staged_events)
    got = run_to_memory(
        windowed_totals(stream, "1 hour", slide="30 minutes"),
        "sliding_sink",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch_all = {
        tuple(map(str, r))
        for r in windowed_totals(_batch_events(spark), "1 hour", slide="30 minutes").collect()
    }
    actual = {tuple(map(str, r)) for r in got.collect()}
    assert actual  # stream produced finalized windows
    assert actual.issubset(batch_all)


def _user_tiers(spark):
    """Deterministic bounded dimension: every event user mapped to a
    tier — the static side of the stream-static join."""
    users = _batch_events(spark).select("user_id").distinct()
    return users.withColumn(
        "tier",
        F.when(F.col("user_id") % 3 == 0, "gold")
        .when(F.col("user_id") % 3 == 1, "silver")
        .otherwise("bronze"),
    )


def test_enrich_stream_matches_batch(spark, staged_events, tmp_path):
    from politician_etl_project_spark.streaming import enrich_stream

    dim = _user_tiers(spark)
    stream = events_stream(spark, staged_events)
    got = run_to_memory(
        enrich_stream(stream, dim),
        "enrich_sink",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch_all = {
        tuple(map(str, r)) for r in enrich_stream(_batch_events(spark), dim).collect()
    }
    actual = {tuple(map(str, r)) for r in got.collect()}
    assert actual  # stream produced finalized enriched windows
    assert actual.issubset(batch_all)
    # every emitted row carries a tier from the dim (join actually enriched)
    assert {r["tier"] for r in got.collect()} <= {"gold", "silver", "bronze"}


def test_session_stream_subset_of_batch(spark, staged_events, tmp_path):
    stream = events_stream(spark, staged_events)
    got = run_to_memory(
        session_counts(stream, gap="30 minutes"),
        "session_sink",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch_all = {
        tuple(map(str, r))
        for r in session_counts(_batch_events(spark), gap="30 minutes").collect()
    }
    actual = {tuple(map(str, r)) for r in got.collect()}
    assert actual
    assert actual.issubset(batch_all)


def test_dedup_stream_exactly_once(spark, staged_events, tmp_path):
    """Duplicate the whole source dir: every event arrives twice; the
    stateful dedup must emit each event_id exactly once."""
    dup_src = str(tmp_path / "dup_src")
    spark.read.parquet(staged_events).write.mode("overwrite").parquet(dup_src)
    spark.read.parquet(staged_events).write.mode("append").parquet(dup_src)

    stream = events_stream(spark, dup_src)
    got = run_to_memory(
        dedup_stream(stream), "dedup_sink", checkpoint_dir=str(tmp_path / "ckpt")
    )
    n_unique = _batch_events(spark).select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_user_running_totals_state(spark, staged_events, tmp_path):
    """applyInPandasWithState accumulator: with maxFilesPerTrigger=1 each
    user's totals are emitted once per micro-batch they appear in; the
    *last* emission per user must equal the batch groupBy, with the
    value sum in exact integer cents."""
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    got = run_to_memory(
        user_running_totals_exact(stream),
        "state_sink",
        output_mode="update",
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).collect()
    # memory sink in update mode appends each emission; last row per user wins
    last: dict[int, tuple] = {}
    for r in got:
        last[r["user_id"]] = (r["n_events"], r["total_cents"])
    expected = {
        r["user_id"]: (r["n"], r["cents"])
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    assert last == expected


def test_incremental_upsert_foreachbatch(spark, staged_events, tmp_path):
    """T5: stream MERGEs into a managed table per micro-batch; the final
    table holds exactly the distinct events, and update_log gained one
    row per batch with a usable watermark."""
    table = SnapshotTable(spark, str(tmp_path / "events_tbl"), keys=["event_id"])
    wm_log = SnapshotTable(spark, str(tmp_path / "update_log"))

    stream = events_stream(spark, staged_events, max_files_per_trigger=2)
    incremental_upsert_stream(
        stream, table, update_log=wm_log, checkpoint_dir=str(tmp_path / "ckpt")
    )

    n_unique = _batch_events(spark).select("event_id").distinct().count()
    assert table.read().count() == n_unique
    log = wm_log.read()
    assert log.count() >= 2  # multiple micro-batches each logged
    # records_updated = rows ACTUALLY inserted (replay logs 0), so the
    # log total equals the table's distinct rows, not raw batch sizes
    assert log.agg(F.sum("records_updated")).collect()[0][0] == n_unique


def test_metered_upsert_batch_costs_one_log_job(spark, tmp_path, monkeypatch):
    """A metered micro-batch starts the jobs of an unmetered one plus
    the update_log append: the inserted count comes from the row counts
    the upsert records per version, not from counting the table."""
    from politician_etl_project_spark.streaming import sources
    from tests.test_etl import _jobs_started

    batches = []
    monkeypatch.setattr(sources, "run_foreach_batch", lambda _e, apply, **_kw: batches.append(apply))
    batch = _batch_events(spark).filter(F.col("event_id") < 200)
    jobs = {}
    for name, log in (("plain", None), ("metered", SnapshotTable(spark, str(tmp_path / "log")))):
        table = SnapshotTable(spark, str(tmp_path / name), keys=["event_id"])
        table.upsert(batch.filter(F.col("event_id") < 100), update_wins=False)
        incremental_upsert_stream(None, table, update_log=log)
        jobs[name] = _jobs_started(spark, lambda: batches[-1](batch, 1))
    assert jobs["metered"] == jobs["plain"] + 1, jobs
    fresh = batch.filter(F.col("event_id") >= 100).select("event_id").distinct().count()
    assert [r.records_updated for r in log.read().collect()] == [fresh]


def test_interval_join_stream_matches_batch(spark, staged_events, tmp_path):
    """Stream-stream interval join == the batch binned range join on the
    same (view, purchase) pairs."""
    from politician_etl_project_spark.operators.temporal import range_join_binned
    from politician_etl_project_spark.streaming.pipelines import interval_join_stream

    stream = events_stream(spark, staged_events)
    views_s = stream.filter(F.col("event_type") == "view")
    purch_s = stream.filter(F.col("event_type") == "purchase")
    got = run_to_memory(
        interval_join_stream(views_s, purch_s, 600),
        "sj_sink",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = _batch_events(spark)
    views = batch.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    purch = batch.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    expected = {
        (r["a_event_id"], r["b_event_id"])
        for r in range_join_binned(views, purch, "user_id", "ts", 600).collect()
    }
    actual = {(r["v_id"], r["p_id"]) for r in got.collect()}
    assert expected  # fixture must produce at least one pair
    assert actual == expected


def test_dedup_ingest_stream(spark, tmp_path):
    """Streaming corpus ingestion dedups each micro-batch against the
    stored index: batch 2's exact/near dup of batch 1 content drops even
    though they never coexist in one micro-batch."""
    import json

    from politician_etl_project_spark.operators.ingest import DedupIngestTable
    from politician_etl_project_spark.streaming.pipelines import dedup_ingest_stream

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    src = tmp_path / "docs_in"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    (src / "b1.json").write_text("\n".join([
        json.dumps({"doc_id": 1, "text": base}),
        json.dumps({"doc_id": 2, "text": "unrelated first-batch content with its own tokens"}),
    ]))
    (src / "b2.json").write_text("\n".join([
        json.dumps({"doc_id": 10, "text": base}),                                # exact dup of 1
        json.dumps({"doc_id": 11, "text": base.replace("today", "tonight")}),    # near dup of 1
        json.dumps({"doc_id": 12, "text": "genuinely new second-batch material never seen before"}),
    ]))

    idx = DedupIngestTable(spark, str(tmp_path / "idx"))
    idx.initialize(spark.createDataFrame([], "doc_id bigint, text string"))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    reports: list = []
    dedup_ingest_stream(stream, idx, checkpoint_dir=str(tmp_path / "ckpt"), reports=reports)

    stored = {r.doc_id for r in spark.read.parquet(str(tmp_path / "idx" / "fps")).collect()}
    assert 1 in stored and 2 in stored and 12 in stored
    assert 10 not in stored and 11 not in stored
    total = {
        "in": sum(r.n_in for _, r in reports),
        "ingested": sum(r.n_ingested for _, r in reports),
        "dropped": sum(
            r.n_exact_dup + r.n_near_dup + r.n_batch_dup + r.n_batch_near_dup
            for _, r in reports
        ),
    }
    assert total == {"in": 5, "ingested": 3, "dropped": 2}


def test_rollup_maintenance_stream_matches_batch(spark, staged_events, tmp_path):
    """Streaming materialized-view maintenance: after the stream drains,
    the partial store serves exactly the batch aggregate of all events."""
    from politician_etl_project_spark.operators.rollup import RollupStore
    from politician_etl_project_spark.streaming.pipelines import rollup_maintenance_stream

    store = RollupStore(spark, str(tmp_path / "rollup"), ["event_type", "day"])
    stream = events_stream(spark, staged_events, max_files_per_trigger=2)
    rollup_maintenance_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))

    served = {
        (r["event_type"], r["day"]): (r["n"], r["s"])
        for r in store.serve().collect()
    }
    expected = {
        (r["event_type"], r["day"]): (r["n"], r["s"])
        for r in _batch_events(spark)
        .select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("value").cast("decimal(12,2)").alias("measure"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"), F.sum("measure").cast("decimal(18,2)").alias("s"))
        .collect()
    }
    assert served == expected


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart semantics: a stream stopped after an initial backlog and
    RESTARTED against the same checkpoint must process only the files
    that arrived while it was down — no reprocessing, no duplicate
    MERGE effects, final table identical to one uninterrupted batch.
    This is the engine credential the reference's run-log loop
    (scripts/run_all_updates.py) approximates with manual watermarks."""
    src = str(tmp_path / "src")
    events = _batch_events(spark)
    events.filter(F.col("event_id") < 500).coalesce(1).write.mode("overwrite").parquet(src)

    table = SnapshotTable(spark, str(tmp_path / "tbl"), keys=["event_id"])
    seen_batches: list[int] = []

    def make_runner():
        from politician_etl_project_spark.streaming.sources import run_foreach_batch

        def _apply(batch_df, batch_id):
            seen_batches.append(batch_df.count())
            table.upsert(batch_df, update_wins=False)

        return lambda: run_foreach_batch(
            events_stream(spark, src), _apply, checkpoint_dir=str(tmp_path / "ckpt")
        )

    run = make_runner()
    run()  # first run: only the initial backlog
    assert sum(seen_batches) == 500
    assert table.read().count() == 500

    # stream is down; late files land
    events.filter(F.col("event_id") >= 500).coalesce(1).write.mode("append").parquet(src)

    run()  # restart from the SAME checkpoint
    total = events.select("event_id").distinct().count()
    # second run read ONLY the new arrivals (checkpoint skipped old files)
    assert sum(seen_batches) == total
    got = table.read()
    assert got.count() == total
    assert got.select("event_id").distinct().count() == total


def test_sketch_maintenance_stream_matches_batch(spark, staged_events, tmp_path):
    """The incrementally maintained count-min sketch must equal the
    batch sketch of the full corpus — the mergeable-monoid contract."""
    from politician_etl_project_spark.streaming.pipelines import (
        _event_cms,
        read_sketch_store,
        sketch_maintenance_stream,
    )

    store = str(tmp_path / "cms_store")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    sketch_maintenance_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))

    got = {
        (r["d"], r["bucket"]): r["c"]
        for r in read_sketch_store(spark, store).collect()
    }
    want = {
        (r["d"], r["bucket"]): r["c"] for r in _event_cms(_batch_events(spark)).collect()
    }
    assert got == want
    assert sum(v for (d, _), v in got.items() if d == 0) == _batch_events(spark).count()


def test_sketch_maintenance_replay_idempotent(spark, staged_events, tmp_path):
    """Crash-replay semantics of the versioned sketch store: re-applying
    the last batch after commit is a no-op (pointer guard), and a replay
    whose commit never landed re-merges against the OLD version — either
    way the sketch equals the batch sketch, never a double count."""
    import os

    from politician_etl_project_spark.streaming.pipelines import (
        _event_cms,
        _sketch_current_version,
        read_sketch_store,
        sketch_maintenance_stream,
    )

    store = str(tmp_path / "cms_store")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    sketch_maintenance_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))

    want = {
        (r["d"], r["bucket"]): r["c"] for r in _event_cms(_batch_events(spark)).collect()
    }

    def snapshot():
        return {
            (r["d"], r["bucket"]): r["c"]
            for r in read_sketch_store(spark, store).collect()
        }

    assert snapshot() == want
    version = _sketch_current_version(store)

    # restart from the same checkpoint: no new data -> no new version,
    # sketch unchanged (foreachBatch may or may not re-deliver; either
    # path must leave the committed sketch identical)
    stream2 = events_stream(spark, staged_events, max_files_per_trigger=1)
    sketch_maintenance_stream(stream2, store, checkpoint_dir=str(tmp_path / "ckpt"))
    assert snapshot() == want

    # GC keeps at most the committed version plus its immediate
    # predecessor (for in-flight readers); everything older is swept
    versions = os.listdir(os.path.join(store, "versions"))
    assert version in versions and len(versions) <= 2, versions


def test_sketch_maintenance_migrates_legacy_store(spark, staged_events, tmp_path):
    """A store written by the pre-versioning code (flat parquet at
    store_path, no _CURRENT pointer) must MERGE into the versioned
    layout, not silently reset to the first batch's delta (round-4
    review finding).  Final sketch == legacy counts + full stream
    counts."""
    import os

    from politician_etl_project_spark.streaming.pipelines import (
        _event_cms,
        read_sketch_store,
        sketch_maintenance_stream,
    )

    store = str(tmp_path / "cms_store")
    # legacy flat-layout store: the sketch of a disjoint synthetic slice
    legacy_events = spark.createDataFrame(
        [(i, f"legacy_type_{i % 3}") for i in range(300)], "event_id long, event_type string"
    )
    _event_cms(legacy_events).coalesce(1).write.mode("overwrite").parquet(store)
    assert not os.path.exists(os.path.join(store, "_CURRENT"))

    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    sketch_maintenance_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))

    got = {
        (r["d"], r["bucket"]): r["c"]
        for r in read_sketch_store(spark, store).collect()
    }
    want_stream = {
        (r["d"], r["bucket"]): r["c"] for r in _event_cms(_batch_events(spark)).collect()
    }
    want_legacy = {
        (r["d"], r["bucket"]): r["c"] for r in _event_cms(legacy_events).collect()
    }
    want = dict(want_stream)
    for k, v in want_legacy.items():
        want[k] = want.get(k, 0) + v
    assert got == want


def test_snapshot_append_stream_versions_per_batch(spark, staged_events, tmp_path):
    """Versioned streaming ingestion: one append version per micro-batch,
    final version equal to the batch union, and intermediate versions
    time-travelable to each batch prefix."""
    from politician_etl_project_spark.streaming.pipelines import snapshot_append_stream

    store = str(tmp_path / "snap_store")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    snapshot_append_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))

    t = SnapshotTable(spark, store)
    vs = t.versions()
    assert len(vs) == 4  # 4 staged files, 1 per trigger
    # ops are (sink, batch)-scoped markers in delivery order
    assert [h["op"].split("-b")[-1] for h in t.history()] == ["0", "1", "2", "3"]
    assert t.read().count() == _batch_events(spark).count()
    # version row counts are strictly increasing batch prefixes
    counts = [t.read(v).count() for v in vs]
    assert counts == sorted(counts) and counts[-1] == _batch_events(spark).count()


def test_snapshot_append_stream_replay_idempotent(spark, staged_events, tmp_path):
    """At-least-once semantics, driving the REAL guard
    (snapshot_guarded_append): (a) same-checkpoint restart appends
    nothing; (b) redelivery of a committed batch is skipped — even with
    a marker wiped (crash before marker write) and even after OTHER
    writers interleaved commits on the same table."""
    import shutil

    from politician_etl_project_spark.streaming.pipelines import (
        _sink_lineage_id,
        snapshot_append_stream,
        snapshot_guarded_append,
    )

    store = str(tmp_path / "snap_store")
    ckpt = str(tmp_path / "ckpt")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    snapshot_append_stream(stream, store, checkpoint_dir=ckpt)

    t = SnapshotTable(spark, store)
    before = (t.versions(), t.read().count())
    sink = _sink_lineage_id(ckpt)
    # schema-identical to the snapshot (the append guard rejects even a
    # timestamp vs timestamp_ntz drift, so derive from the table itself)
    redelivered = t.read().limit(50).localCheckpoint()

    # (a) same-checkpoint restart: availableNow finds nothing new
    stream2 = events_stream(spark, staged_events, max_files_per_trigger=1)
    snapshot_append_stream(stream2, store, checkpoint_dir=ckpt)
    assert (t.versions(), t.read().count()) == before

    # (b1) marked redelivery: fast-path marker skip
    assert snapshot_guarded_append(t, sink, redelivered, 3) is False
    assert (t.versions(), t.read().count()) == before

    # (b2) crash window: marker never landed; another writer's commit
    # moved current past our batch — the bounded history scan must still
    # recognize the committed op, skip, and heal the marker
    shutil.rmtree(f"{store}/markers", ignore_errors=True)
    SnapshotTable(spark, store, keys=["event_id"]).upsert(redelivered)
    interleaved = (t.versions(), t.read().count())
    assert snapshot_guarded_append(t, sink, redelivered, 3) is False
    assert (t.versions(), t.read().count()) == interleaved
    assert t.sink_marker(sink) is not None  # healed for O(1) next time

    # a genuinely NEW batch id on the same lineage still appends
    assert snapshot_guarded_append(t, sink, redelivered, 4) is True
    assert t.read().count() == interleaved[1] + 50
    assert len(t.versions()) == len(interleaved[0]) + 1


def test_snapshot_append_stream_fresh_checkpoint_is_new_lineage(
    spark, staged_events, tmp_path
):
    """A fresh checkpoint restarts batch ids over regrouped input — the
    sink-scoped markers must treat that as a NEW delivery lineage and
    append (conservative: duplicates possible, silent loss never)."""
    from politician_etl_project_spark.streaming.pipelines import snapshot_append_stream

    store = str(tmp_path / "snap_store")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    snapshot_append_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))
    n = _batch_events(spark).count()
    t = SnapshotTable(spark, store)
    assert t.read().count() == n

    stream2 = events_stream(spark, staged_events, max_files_per_trigger=1)
    snapshot_append_stream(stream2, store, checkpoint_dir=str(tmp_path / "ckpt2"))
    assert len(t.versions()) == 8
    assert t.read().count() == 2 * n  # re-ingested, never silently dropped


def test_snapshot_append_rejects_schema_drift(spark, tmp_path):
    """Shared-file reads require one schema per lineage: an append whose
    columns differ from the snapshot's must be rejected, not silently
    nulled by footer sampling."""
    import pytest as _pytest

    t = SnapshotTable(spark, str(tmp_path / "snap"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
    with _pytest.raises(ValueError, match="does not match snapshot schema"):
        t.append(spark.createDataFrame([(2, 5)], "k long, w long"))


def test_sketch_maintenance_fresh_checkpoint_merges_not_skips(spark, staged_events, tmp_path):
    """Round-4 review finding: versions are scoped by delivery lineage,
    so a rerun with a FRESH checkpoint (batch ids restart at 0) MERGES
    its first batch into the existing sketch instead of mistaking it
    for a replay of the old lineage's batch 0 and dropping it."""
    from politician_etl_project_spark.streaming.pipelines import (
        _event_cms,
        read_sketch_store,
        sketch_maintenance_stream,
    )

    store = str(tmp_path / "cms_store")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    sketch_maintenance_stream(stream, store, checkpoint_dir=str(tmp_path / "ckptA"))

    # second run: NEW data, FRESH checkpoint -> lineage B, batch ids from 0
    src2 = str(tmp_path / "events_src2")
    extra = spark.createDataFrame(
        [(10_000 + i, f"extra_type_{i % 2}") for i in range(200)],
        "event_id long, event_type string",
    )
    extra.coalesce(1).write.mode("overwrite").parquet(src2)
    schema = spark.read.parquet(src2).schema
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src2)
    )
    sketch_maintenance_stream(stream2, store, checkpoint_dir=str(tmp_path / "ckptB"))

    got = {
        (r["d"], r["bucket"]): r["c"]
        for r in read_sketch_store(spark, store).collect()
    }
    want = {
        (r["d"], r["bucket"]): r["c"]
        for r in _event_cms(
            _batch_events(spark).select("event_id", "event_type").unionByName(extra)
        ).collect()
    }
    assert got == want


def test_rollup_maintenance_fresh_checkpoint_merges_not_skips(spark, staged_events, tmp_path):
    """Lineage-scoped batch markers: a rerun with a FRESH checkpoint
    (batch ids restart at 0) must MERGE its batches into the existing
    store — an unscoped b0 marker from the old run would silently
    swallow the new run's first batch (data loss)."""
    from politician_etl_project_spark.operators.rollup import RollupStore
    from politician_etl_project_spark.streaming.pipelines import rollup_maintenance_stream

    store = RollupStore(spark, str(tmp_path / "rollup"), ["event_type", "day"])
    stream = events_stream(spark, staged_events, max_files_per_trigger=2)
    rollup_maintenance_stream(stream, store, checkpoint_dir=str(tmp_path / "ckptA"))

    src2 = str(tmp_path / "events2")
    extra = spark.createDataFrame(
        [(90_000 + i, i % 5, f"etype_extra_{i % 2}", float(i), "2031-01-0%d 00:00:00" % (1 + i % 3))
         for i in range(60)],
        "event_id long, user_id long, event_type string, value double, ts_s string",
    ).select("event_id", "user_id", "event_type", "value", F.to_timestamp("ts_s").alias("ts"))
    extra.coalesce(1).write.mode("overwrite").parquet(src2)
    stream2 = (
        spark.readStream.schema(spark.read.parquet(src2).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src2)
    )
    rollup_maintenance_stream(stream2, store, checkpoint_dir=str(tmp_path / "ckptB"))

    all_events = _batch_events(spark).select("event_type", "ts", "value").unionByName(
        extra.select("event_type", "ts", "value")
    )
    want = {
        (r["event_type"], r["day"]): (r["n"], r["s"])
        for r in all_events.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("value").cast("decimal(12,2)").alias("measure"),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"), F.sum("measure").cast("decimal(18,2)").alias("s"))
        .collect()
    }
    got = {
        (r["event_type"], r["day"]): (r["n"], r["s"]) for r in store.serve().collect()
    }
    assert got == want


def test_snapshot_append_stream_cdf_per_batch(spark, staged_events, tmp_path):
    """The change feed between consecutive STREAMED versions is exactly
    that micro-batch's rows, all typed 'insert' — CDF composes with
    versioned streaming ingestion, giving consumers an incremental read
    of any append-only stream without their own bookkeeping."""
    from politician_etl_project_spark.streaming.pipelines import snapshot_append_stream

    store = str(tmp_path / "snap_store")
    stream = events_stream(spark, staged_events, max_files_per_trigger=1)
    snapshot_append_stream(stream, store, checkpoint_dir=str(tmp_path / "ckpt"))

    t = SnapshotTable(spark, store)
    vs = t.versions()
    assert len(vs) >= 2
    for v_prev, v_next in zip(vs, vs[1:]):
        feed = t.changes(["event_id"], v_prev, v_next)
        types = {r._change_type for r in feed.select("_change_type").distinct().collect()}
        assert types == {"insert"}
        batch_rows = t.read(v_next).count() - t.read(v_prev).count()
        assert feed.count() == batch_rows


def test_latedrop_stream_genuinely_drops_by_watermark(spark):
    """q_watermark_latedrop's staging must make the watermark filter do
    REAL work: re-run the same 3-file stream it stages and assert the
    final micro-batch reports numRowsDroppedByWatermark > 0 (the held-
    back late rows), and that the declared query's output equals the
    batch replay of its append-mode semantics (on-time rows, closed
    windows only)."""
    import uuid

    from pyspark.sql import functions as F

    from politician_etl_project_spark.queries.events import (
        _latedrop_staging,
        q_watermark_latedrop,
    )
    from politician_etl_project_spark.streaming.pipelines import windowed_totals
    from politician_etl_project_spark.streaming.sources import EVENTS_SCHEMA, owned_checkpoint

    sf_dir = "/root/testdata/sf0.001"
    inp = _latedrop_staging(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(inp)
    )
    out = windowed_totals(stream, window="1 hour", slide=None, watermark="1 hour")
    qn = f"latedrop_test_{uuid.uuid4().hex[:6]}"
    with owned_checkpoint(None) as ckpt:
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(qn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
    assert len(progress) == 3, "one micro-batch per staged file"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert dropped > 0, "late chunk must be dropped by the watermark, not absorbed"

    # batch replay of the append-mode contract == the declared query
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cut = events.agg((F.max("ts") - F.expr("INTERVAL 2 DAYS")).alias("c")).first()["c"]
    wm = events.agg((F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")).first()["w"]
    on_time = events.filter(
        ~((F.col("ts") < F.lit(cut)) & (F.col("user_id") % 17 == 3))
    )
    expected = (
        on_time.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("w.end") <= F.lit(wm))
        .count()
    )
    got = q_watermark_latedrop(spark, sf_dir)
    assert got.count() == expected
    assert [r["n_events"] for r in spark.table(qn).collect()] == [
        r["n_events"] for r in spark.table(qn).collect()
    ]


def test_stateful_totals_live_state_spans_batches(spark):
    """The q_stateful_totals_live staging must actually exercise
    cross-batch state: with 3 time-tercile files at one file per
    trigger, most users appear in multiple micro-batches, so the update
    sink holds MULTIPLE emissions per such user with strictly
    increasing n_events — and the final emission equals the global
    GROUP BY exactly (integer cents)."""
    import uuid

    import pyspark.sql.functions as F

    from politician_etl_project_spark.catalog import load_table
    from politician_etl_project_spark.queries.events import _stateful_staging
    from politician_etl_project_spark.streaming.pipelines import user_running_totals_exact
    from politician_etl_project_spark.streaming.sources import EVENTS_SCHEMA, run_to_memory

    sf = "/root/testdata/sf0.001"
    inp = _stateful_staging(spark, sf)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(inp)
    )
    emissions = run_to_memory(
        user_running_totals_exact(stream),
        f"stateful_span_{uuid.uuid4().hex[:8]}",
        output_mode="update",
    ).collect()
    per_user: dict[int, list[tuple[int, int]]] = {}
    for r in emissions:
        per_user.setdefault(r["user_id"], []).append((r["n_events"], r["total_cents"]))
    multi = [u for u, e in per_user.items() if len(e) > 1]
    assert multi, "no user spanned more than one micro-batch — staging degenerated"
    for u in multi:
        ns = [n for n, _ in sorted(per_user[u])]
        assert ns == sorted(set(ns)), f"user {u}: n_events must strictly increase"
    expected = {
        r["user_id"]: (r["n"], r["cents"])
        for r in load_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"),
        )
        .collect()
    }
    final = {u: max(e)[0:2] for u, e in per_user.items()}
    assert set(final) == set(expected)
    for u, (n, cents) in expected.items():
        assert final[u] == (n, cents), f"user {u}: final state diverged from GROUP BY"


def _protobuf_missing() -> bool:
    try:  # find_spec raises when even the 'google' namespace is absent
        import importlib.util

        return importlib.util.find_spec("google.protobuf") is None
    except ModuleNotFoundError:
        return True


_PROTOBUF_MISSING = _protobuf_missing()


@pytest.mark.skipif(
    _PROTOBUF_MISSING,
    reason="transformWithState's Python state client needs google.protobuf "
    "(pyspark/sql/streaming/proto); not installed in this container",
)
def test_transform_with_state_matches_apply_in_pandas(spark, staged_events):
    """Spark 4's transformWithStateInPandas twin
    (pipelines.user_running_totals_tws, typed ValueState on RocksDB)
    must emit exactly what the applyInPandasWithState accumulator
    emits: same final per-user (n_events, total_cents) as the batch
    GROUP BY.  Wherever protobuf exists this pins the two state APIs
    to each other; in this container the declared query stays
    applyInPandasWithState-only (see queries/events.py note)."""
    from politician_etl_project_spark.queries.events import (
        _live_stream_conf,
        _rocksdb_state_store,
    )
    from politician_etl_project_spark.streaming.pipelines import user_running_totals_tws
    from politician_etl_project_spark.streaming.sources import EVENTS_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).option("maxFilesPerTrigger", 1).parquet(staged_events)
    )
    with _rocksdb_state_store(spark), _live_stream_conf(spark, n=8):
        emissions = run_to_memory(
            user_running_totals_tws(stream), "tws_totals_test", output_mode="update"
        )
    final = (
        emissions.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.expr("max_by(total_cents, n_events)").alias("total_cents"),
        )
    )
    expected = (
        spark.read.parquet(staged_events)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("total_cents"),
        )
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, expected.collect()))


def test_ephemeral_checkpoints_leave_a_full_tmpfs(monkeypatch):
    """Throwaway checkpoints go to /dev/shm only while it has room: a
    nearly full tmpfs would fail the first checkpoint write, so the base
    falls back to tempfile's default directory (None)."""
    import collections
    import os

    from politician_etl_project_spark.streaming import sources

    monkeypatch.delenv("SPARK_GRAFT_EPHEMERAL_CKPT_DIR", raising=False)
    monkeypatch.setattr(os, "access", lambda path, mode: path == "/dev/shm")
    usage = collections.namedtuple("usage", "total used free")
    gib = 1 << 30

    def disk_usage(free):
        def fake(path):
            assert path == "/dev/shm"
            return usage(16 * gib, 16 * gib - free, free)

        return fake

    monkeypatch.setattr(sources.shutil, "disk_usage", disk_usage(4096))
    assert sources.ephemeral_ckpt_base() is None
    monkeypatch.setattr(sources.shutil, "disk_usage", disk_usage(8 * gib))
    assert sources.ephemeral_ckpt_base() == "/dev/shm"
    monkeypatch.setenv("SPARK_GRAFT_EPHEMERAL_CKPT_DIR", "/elsewhere")
    assert sources.ephemeral_ckpt_base() == "/elsewhere"
