"""Physical-layout tests: partition pruning must be visible in the plan
(SURVEY §4 — it replaces the reference's DB indexes at scale), and the
snapshot/upsert tables and build-once stores keep their contracts."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark import storage
from politician_etl_project_spark.catalog import load_table
from tests.conftest import SF_SMALL


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partition_pruning(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    storage.write_partitioned(orders, path, ["order_year"])

    df = spark.read.parquet(path).filter(F.col("order_year") == 1996)
    plan = _explain(df)
    # the year predicate must prune directories at planning time …
    assert "PartitionFilters" in plan
    assert any(
        "order_year" in ln for ln in plan.splitlines() if "PartitionFilters" in ln
    )
    # … and results match the unpartitioned filter
    expected = orders.filter(F.col("order_year") == 1996).count()
    assert df.count() == expected
    assert expected > 0


def test_partitioned_scan_reads_fewer_files(spark, tmp_path):
    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year2")
    storage.write_partitioned(orders, path, ["order_year"])
    # inputFiles() reports the unfiltered relation; the files actually
    # read by the pruned scan come from input_file_name() at execution
    all_files = set(spark.read.parquet(path).inputFiles())
    pruned = {
        r[0]
        for r in spark.read.parquet(path)
        .filter(F.col("order_year") == 1996)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert len(pruned) < len(all_files)
    assert all("order_year=1996" in f for f in pruned)


# ---------------------------------------------------------------------------
# SnapshotTable: versioned snapshots + time travel
# ---------------------------------------------------------------------------


def _snap(spark, tmp_path, name="snap"):
    return storage.SnapshotTable(spark, str(tmp_path / name), keys=["k"])


def test_snapshot_versions_and_time_travel(spark, tmp_path):
    t = _snap(spark, tmp_path)
    assert t.current_version() is None
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.upsert(spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"))
    assert t.versions() == [1, 2, 3]
    assert {(r.k, r.v) for r in t.read(1).collect()} == {(1, "a"), (2, "b")}
    assert {(r.k, r.v) for r in t.read(2).collect()} == {(1, "a"), (2, "b"), (3, "c")}
    assert {(r.k, r.v) for r in t.read().collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d"),
    }
    ops = [h["op"] for h in t.history()]
    assert ops == ["overwrite", "append", "upsert"]


def test_snapshot_append_shares_parent_files(spark, tmp_path):
    """append must reference the parent's files, not copy them — the
    O(new data) property that makes versioning viable at scale."""
    t = _snap(spark, tmp_path)
    t.overwrite(spark.range(100).coalesce(1))
    t.append(spark.range(100, 110).coalesce(1))
    m1, m2 = t._manifest(1), t._manifest(2)
    assert set(m1["files"]) < set(m2["files"])  # strict superset: shared, not copied
    assert len(m2["files"]) == len(m1["files"]) + 1


def test_snapshot_torn_write_invisible_until_pointer_flip(spark, tmp_path):
    """A manifest (or data files) without the pointer flip is a torn
    write: readers must keep serving the previous version, and vacuum
    must clean the orphans."""
    import json
    import os

    t = _snap(spark, tmp_path)
    t.overwrite(spark.range(5).coalesce(1))
    # simulate a crash after manifest write, before pointer flip
    orphan = {"version": 2, "parent": 1, "op": "append",
              "files": ["v000002-ghost.parquet"], "schema": t._manifest(1)["schema"]}
    with open(os.path.join(t.path, "versions", "v000002.json"), "w") as fh:
        json.dump(orphan, fh)
    assert t.versions() == [1]
    assert t.current_version() == 1
    assert len(t.read().collect()) == 5
    # the NEXT write allocates version 2 again and atomically replaces
    # the orphan manifest
    t.append(spark.range(5, 8).coalesce(1))
    assert t.versions() == [1, 2]
    assert len(t.read().collect()) == 8


def test_snapshot_vacuum_retires_history_keeps_current(spark, tmp_path):
    import os

    t = _snap(spark, tmp_path)
    t.overwrite(spark.range(10).coalesce(1))
    t.overwrite(spark.range(20).coalesce(1))  # v2 shares nothing with v1
    t.append(spark.range(20, 25).coalesce(1))
    removed = t.vacuum(keep_last=2)
    assert removed == 1  # v1's lone file retired; v2's file lives on in v3
    assert t.versions() == [2, 3]
    assert len(t.read(2).collect()) == 20
    assert len(t.read().collect()) == 25
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown version"):
        t.read(1)
    # all remaining files are referenced
    live = set(t._manifest(2)["files"]) | set(t._manifest(3)["files"])
    on_disk = {f for f in os.listdir(os.path.join(t.path, "data")) if f.endswith(".parquet")}
    assert on_disk == live


def test_snapshot_empty_dataframe_roundtrip(spark, tmp_path):
    t = _snap(spark, tmp_path)
    df = spark.createDataFrame([], "k long, v string")
    t.overwrite(df)
    out = t.read()
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]


def test_snapshot_compact_publishes_version_and_vacuum_reclaims(spark, tmp_path):
    import os

    t = _snap(spark, tmp_path)
    for i in range(4):
        if t.current_version() is None:
            t.overwrite(spark.range(i * 10, (i + 1) * 10).repartition(3), op="append")
        else:
            t.append(spark.range(i * 10, (i + 1) * 10).repartition(3))
    files_before = len(t._manifest(t.current_version())["files"])
    assert files_before >= 4
    v = t.compact(target_files=1)
    assert t._manifest(v)["op"] == "compact"
    assert len(t._manifest(v)["files"]) == 1
    assert t.read().count() == 40
    # pre-compaction versions still time-travel until vacuumed
    assert t.read(v - 1).count() == 40
    removed = t.vacuum(keep_last=1)
    assert removed == files_before
    on_disk = [f for f in os.listdir(os.path.join(t.path, "data")) if f.endswith(".parquet")]
    assert len(on_disk) == 1


def test_snapshot_vacuum_retains_replay_guard_window(spark, tmp_path):
    """The round-4 review's duplication scenario: sink commits batch N's
    append then crashes BEFORE writing its marker; an interleaved
    compact advances the table; vacuum(keep_last=1) runs.  The vacuum
    must retain every version above the sink's last marker so the
    replayed batch still finds its op and is NOT re-appended."""
    from politician_etl_project_spark.streaming.pipelines import snapshot_guarded_append

    t = _snap(spark, tmp_path)
    b0 = spark.createDataFrame([(1, "a")], "k long, v string")
    b1 = spark.createDataFrame([(2, "b")], "k long, v string")
    assert snapshot_guarded_append(t, "sinkA", b0, 0) is True  # marker at v1
    # crash window: batch 1's append commits but the marker never lands
    t.append(b1, op="append-sinkA-b1")
    t.compact(target_files=1)  # interleaved writer advances the table
    t.vacuum(keep_last=1)
    # versions above the marker floor (v1) survive for the guard
    assert 2 in t.versions()
    # replay of batch 1 must be recognized, not duplicated
    assert snapshot_guarded_append(t, "sinkA", b1, 1) is False
    assert t.read().count() == 2
    # and the guard healed the marker, so the window closes: after one
    # more committed+marked batch, vacuum reclaims everything old
    assert snapshot_guarded_append(t, "sinkA", spark.createDataFrame(
        [(3, "c")], "k long, v string"), 2) is True
    t.vacuum(keep_last=1)
    assert t.versions() == [t.current_version()]


def test_snapshot_interleaved_writers_two_handles(spark, tmp_path):
    """Two independent handles on the same table path interleaving
    appends: every committed row survives and versions are allocated
    without collision (parent resolved under the commit lock)."""
    a = _snap(spark, tmp_path, "shared")
    b = _snap(spark, tmp_path, "shared")
    a.overwrite(spark.createDataFrame([(1,)], "k long"))
    b.append(spark.createDataFrame([(2,)], "k long"))
    a.append(spark.createDataFrame([(3,)], "k long"))
    b.upsert(spark.createDataFrame([(4,)], "k long"))
    assert a.versions() == [1, 2, 3, 4]
    assert {r.k for r in a.read().collect()} == {1, 2, 3, 4}


def test_snapshot_upsert_retries_when_table_advances(spark, tmp_path, monkeypatch):
    """Optimistic upsert: if another writer commits between the base
    read and the publish, the stale merge is discarded and re-run
    against the new version — the interleaved append's rows survive."""
    t = _snap(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))

    real_stage = storage.SnapshotTable._stage_files
    raced = {"done": False}

    def stage_and_race(self, df):
        files = real_stage(self, df)
        if not raced["done"]:
            raced["done"] = True
            # interleaved writer lands AFTER the upsert staged its merge
            other = storage.SnapshotTable(spark, self.path)
            monkeypatch.setattr(storage.SnapshotTable, "_stage_files", real_stage)
            other.append(spark.createDataFrame([(9, "z")], "k long, v string"))
            monkeypatch.setattr(storage.SnapshotTable, "_stage_files", stage_and_race)
        return files

    monkeypatch.setattr(storage.SnapshotTable, "_stage_files", stage_and_race)
    t.upsert(spark.createDataFrame([(2, "b")], "k long, v string"))
    monkeypatch.setattr(storage.SnapshotTable, "_stage_files", real_stage)
    assert {(r.k, r.v) for r in t.read().collect()} == {(1, "a"), (9, "z"), (2, "b")}


def test_snapshot_vacuum_retains_first_batch_crash_window(spark, tmp_path):
    """A sink that crashes between its very FIRST append commit and its
    first marker write has no marker file at all; vacuum must still
    retain that append version for the replay guard."""
    from politician_etl_project_spark.streaming.pipelines import snapshot_guarded_append

    t = _snap(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(0, "seed")], "k long, v string"))
    b0 = spark.createDataFrame([(1, "a")], "k long, v string")
    t.append(b0, op="append-sinkB-b0")  # crash before set_sink_marker
    t.compact(target_files=1)
    t.vacuum(keep_last=1)
    assert snapshot_guarded_append(t, "sinkB", b0, 0) is False
    assert t.read().count() == 2


def test_snapshot_dead_sink_marker_pins_nothing(spark, tmp_path):
    """A decommissioned sink's stale marker must not pin later history:
    only a sink's OWN unmarked append versions are retained, so a table
    advanced by other ops vacuums down to keep_last."""
    from politician_etl_project_spark.streaming.pipelines import snapshot_guarded_append

    t = _snap(spark, tmp_path)
    snapshot_guarded_append(
        t, "dead_sink", spark.createDataFrame([(1,)], "k long"), 0
    )  # marker at v1, sink never returns
    for i in range(2, 5):
        t.append(spark.createDataFrame([(i,)], "k long"), op="manual")
    t.compact(target_files=1)
    t.vacuum(keep_last=1)
    assert t.versions() == [t.current_version()]


def test_snapshot_publish_refuses_committed_slot(spark, tmp_path):
    """Cross-host defense: a manifest slot that the live pointer already
    covers is a COMMITTED version — publishing over it must raise, not
    silently clobber (only a torn manifest above the pointer is
    reclaimable)."""
    t = _snap(spark, tmp_path)
    t.overwrite(spark.createDataFrame([(1,)], "k long"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    with pytest.raises(storage.SnapshotConflictError, match="already committed"):
        with t._commit_lock():
            t._publish_locked(1, [], "append", t._manifest(1)["schema"])
    assert t.read().count() == 2  # v2 intact


# -- manifest min/max stats + data skipping ----------------------------------


def test_snapshot_stats_prune_files(spark, tmp_path):
    """A range-laid-out table with stats_cols records per-file min/max in
    the manifest, and a narrow range probe opens only the intersecting
    files — with results identical to the full-scan filter."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"), stats_cols=["k"])
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.overwrite(df.repartitionByRange(8, "k"))

    man = t._manifest(t.current_version())
    assert man["stats"], "stats must be recorded"
    assert set(man["stats"]) == set(man["files"])

    keep, total = t.files_in_range("k", 100, 140)
    assert total == len(man["files"])
    assert 0 < len(keep) < total, f"expected real pruning, got {len(keep)}/{total}"

    got = sorted(tuple(r) for r in t.read_range("k", 100, 140).collect())
    want = sorted(
        tuple(r) for r in t.read().filter((F.col("k") >= 100) & (F.col("k") <= 140)).collect()
    )
    assert got == want and len(got) == 41


def test_snapshot_stats_append_merges_and_unstatted_files_scan(spark, tmp_path):
    """Append merges parent stats with the new files' own; files written
    WITHOUT stats (older writer / no stats_cols) are always scanned."""
    path = str(tmp_path / "snap")
    plain = storage.SnapshotTable(spark, path)  # no stats_cols
    plain.overwrite(spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1))

    statted = storage.SnapshotTable(spark, path, stats_cols=["k"])
    statted.append(
        spark.range(1000, 2000)
        .select(F.col("id").alias("k"))
        .repartitionByRange(4, "k")
    )

    man = statted._manifest(statted.current_version())
    # 1 unstatted parent file + 4 statted appended files
    assert len(man["files"]) == 5 and len(man["stats"]) == 4

    # probe far outside the unstatted file's actual range: it must STILL
    # be scanned (no stats ⇒ conservative), while statted files prune
    keep, total = statted.files_in_range("k", 1100, 1200)
    assert total == 5
    unstatted = [f for f in man["files"] if f not in man["stats"]]
    assert unstatted[0] in keep
    assert len(keep) < total
    assert statted.read_range("k", 1100, 1200).count() == 101

    # a probe hitting only the unstatted region still answers correctly
    assert statted.read_range("k", 10, 20).count() == 11


def test_snapshot_stats_string_column_lexicographic(spark, tmp_path):
    """ISO-rendered date/string stats prune lexicographically."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"), stats_cols=["day"])
    df = spark.createDataFrame(
        [(f"2024-{m:02d}-{d:02d}",) for m in range(1, 13) for d in (1, 15)],
        "day string",
    )
    t.overwrite(df.repartitionByRange(6, "day"))
    keep, total = t.files_in_range("day", "2024-03-01", "2024-03-31")
    assert 0 < len(keep) < total
    assert t.read_range("day", "2024-03-01", "2024-03-31").count() == 2


# -- change data feed (SnapshotTable.changes) --------------------------------


def test_snapshot_changes_typed_rows(spark, tmp_path):
    """CDF between two versions: insert / delete / both update images;
    unchanged rows absent; NULL-safe value comparison (NULL->value is an
    update, NULL->NULL is not)."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"))
    v1 = t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40)],
            "k int, s string, v int",
        )
    )
    v2 = t.overwrite(
        spark.createDataFrame(
            # k=1 unchanged; k=2 NULL->25 update; k=3 deleted; k=4 s stays
            # NULL (no change); k=5 inserted
            [(1, "a", 10), (2, "b", 25), (4, None, 40), (5, "e", 50)],
            "k int, s string, v int",
        )
    )
    rows = {
        (r.k, r._change_type): (r.s, r.v)
        for r in t.changes(["k"], v1, v2).collect()
    }
    assert rows == {
        (2, "update_preimage"): ("b", None),
        (2, "update_postimage"): ("b", 25),
        (3, "delete"): ("c", 30),
        (5, "insert"): ("e", 50),
    }


def test_snapshot_changes_guards(spark, tmp_path):
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"))
    v1 = t.overwrite(spark.createDataFrame([(1, 10)], "k int, v int"))
    v2 = t.overwrite(spark.createDataFrame([(1, "x")], "k int, v string"))
    with pytest.raises(ValueError, match="matching schemas"):
        t.changes(["k"], v1, v2)
    with pytest.raises(ValueError, match="key columns"):
        t.changes(["nope"], v1, v1)
    with pytest.raises(ValueError, match="non-key column"):
        t.changes(["k", "v"], v1, v1)


def test_snapshot_changes_roundtrip_applies(spark, tmp_path):
    """Applying the feed to the FROM version reproduces the TO version —
    the property CDF consumers (downstream MERGE) rely on."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"))
    v1 = t.overwrite(
        spark.createDataFrame(
            [(k, k % 7, f"s{k % 5}") for k in range(200)], "k int, v int, s string"
        )
    )
    v2 = t.overwrite(
        spark.createDataFrame(
            [(k, (k * 3) % 7, f"s{k % 5}") for k in range(50, 230)],
            "k int, v int, s string",
        )
    )
    feed = t.changes(["k"], v1, v2)
    base = t.read(v1)
    dropped = base.join(
        feed.filter(F.col("_change_type").isin("delete", "update_preimage")).select("k"),
        "k",
        "left_anti",
    )
    applied = dropped.unionByName(
        feed.filter(F.col("_change_type").isin("insert", "update_postimage")).drop(
            "_change_type"
        )
    )
    got = sorted(tuple(r) for r in applied.collect())
    want = sorted(tuple(r) for r in t.read(v2).collect())
    assert got == want


def test_snapshot_changes_null_keys_null_safe(spark, tmp_path):
    """A NULL-keyed row unchanged in both versions must NOT surface as a
    delete + insert pair — the key join is eqNullSafe, like the value
    comparison."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"))
    v1 = t.overwrite(
        spark.createDataFrame([(None, 10), (1, 11)], "k int, v int")
    )
    v2 = t.overwrite(
        spark.createDataFrame([(None, 10), (1, 99)], "k int, v int")
    )
    rows = {(r.k, r._change_type): r.v for r in t.changes(["k"], v1, v2).collect()}
    assert rows == {
        (1, "update_preimage"): 11,
        (1, "update_postimage"): 99,
    }
    # and a CHANGED null-keyed row is a normal update
    v3 = t.overwrite(spark.createDataFrame([(None, 77), (1, 99)], "k int, v int"))
    rows = {(r.k, r._change_type): r.v for r in t.changes(["k"], v2, v3).collect()}
    assert rows == {
        (None, "update_preimage"): 10,
        (None, "update_postimage"): 77,
    }


# -- catalog.ensure_built_dir (shared build-once cache protocol) -------------


def test_ensure_built_dir_basic_and_empty_build(tmp_path):
    from politician_etl_project_spark.catalog import ensure_built_dir

    target = str(tmp_path / "artifact")

    def build(staging):
        with open(f"{staging}/data.txt", "w") as fh:
            fh.write("x")

    assert ensure_built_dir(target, build) == target
    assert (tmp_path / "artifact" / "data.txt").exists()

    # second call serves the cache without rebuilding
    def explode(_):
        raise AssertionError("must not rebuild an existing artifact")

    assert ensure_built_dir(target, explode) == target

    # a builder that writes NOTHING still publishes a valid empty dir
    empty = str(tmp_path / "empty")
    assert ensure_built_dir(empty, lambda s: None) == empty
    assert (tmp_path / "empty").is_dir()


def test_ensure_built_dir_failed_build_cleans_staging(tmp_path):
    from politician_etl_project_spark.catalog import ensure_built_dir

    target = str(tmp_path / "artifact")

    def boom(staging):
        raise RuntimeError("build failed")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="build failed"):
        ensure_built_dir(target, boom)
    leftovers = [p for p in tmp_path.iterdir()]
    assert leftovers == [], f"staging leaked: {leftovers}"


def test_ensure_built_dir_lost_race_is_benign(tmp_path):
    """A builder that finds the destination ALREADY published when it
    tries to rename (another process won) must succeed quietly and
    leave no staging litter."""
    from politician_etl_project_spark.catalog import ensure_built_dir

    target = str(tmp_path / "artifact")

    def build_and_lose(staging):
        with open(f"{staging}/mine.txt", "w") as fh:
            fh.write("loser")
        # the winner publishes first
        import os

        os.makedirs(target)
        with open(f"{target}/theirs.txt", "w") as fh:
            fh.write("winner")

    assert ensure_built_dir(target, build_and_lose) == target
    assert (tmp_path / "artifact" / "theirs.txt").exists()
    leftovers = [p.name for p in tmp_path.iterdir() if p.name != "artifact"]
    assert leftovers == [], f"staging leaked: {leftovers}"


def test_store_path_follows_engine_source(tmp_path):
    """Every build-once store is keyed on the engine source: a copy of
    the package at another location keys the same, and one appended byte
    in a build module gives the BM25 index store a new path."""
    from politician_etl_project_spark import catalog
    from tests.conftest import run_in_package_copy

    code = (
        "from politician_etl_project_spark import catalog; "
        f"print(catalog.engine_digest(), catalog.stored_path('bm25', {SF_SMALL!r}, 'documents.parquet'))"
    )
    here = [catalog.engine_digest(), catalog.stored_path("bm25", SF_SMALL, "documents.parquet")]
    assert run_in_package_copy(tmp_path / "same", code).split() == here

    def touch_build_module(pkg):
        with open(pkg / "operators" / "textindex.py", "a") as fh:
            fh.write("\n")

    digest, path = run_in_package_copy(tmp_path / "edited", code, touch_build_module).split()
    assert digest != here[0] and path != here[1]
    assert path.startswith(here[1].rsplit("_", 1)[0] + "_")  # same spark_graft_bm25_ prefix


def test_schema_evolution_torn_build_publishes_nothing(spark, tmp_path, monkeypatch):
    """The evolve store is written by two jobs; a build that dies between
    them must publish nothing (the first write alone is a half store of
    even doc_ids), and the next call builds the whole store."""
    import glob
    import os
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from politician_etl_project_spark.catalog import stored_path
    from politician_etl_project_spark.queries.analytics_ext import q_schema_evolution

    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(SF_SMALL, "documents.parquet"), sf / "documents.parquet")
    path = stored_path("evolve", str(sf), "documents.parquet")
    real = DataFrameWriter.parquet
    writes = []

    def die_after_first_write(self, target, *args, **kwargs):
        if writes:
            raise RuntimeError("killed between the two writes")
        writes.append(target)
        return real(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", die_after_first_write)
    try:
        with pytest.raises(RuntimeError, match="between the two writes"):
            q_schema_evolution(spark, str(sf))
        assert writes and glob.glob(path + "*") == []
        monkeypatch.undo()
        rows = q_schema_evolution(spark, str(sf)).collect()
        assert sum(r.n_docs for r in rows) == load_table(spark, str(sf), "documents").count()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_snapshot_stats_survive_compact(spark, tmp_path):
    """compact() on a stats_cols instance re-collects stats for the
    rewritten files; on a plain instance the compacted files carry no
    stats and are conservatively scanned (correct, never wrong)."""
    path = str(tmp_path / "snap")
    t = storage.SnapshotTable(spark, path, stats_cols=["k"])
    t.overwrite(
        spark.range(0, 1000).select(F.col("id").alias("k")).repartitionByRange(8, "k")
    )
    t.compact(target_files=2)
    man = t._manifest(t.current_version())
    assert len(man["files"]) == 2 and set(man["stats"]) == set(man["files"])
    assert t.read_range("k", 10, 20).count() == 11

    plain = storage.SnapshotTable(spark, path)  # no stats_cols
    plain.compact(target_files=1)
    man = plain._manifest(plain.current_version())
    assert len(man["files"]) == 1 and not man.get("stats")
    keep, total = plain.files_in_range("k", 10, 20)
    assert keep == man["files"]  # no stats => scan everything (never skip wrongly)
    assert plain.read_range("k", 10, 20).count() == 11


def test_snapshot_stats_timestamp_iso_normalized(spark, tmp_path):
    """Timestamp stats are stored in ISO-8601 'T' form, and probes in
    EITHER rendering ('T' or space) — or as datetime objects — prune
    identically.  Guards the lexicographic trap where 'T' > ' ' made an
    ISO probe silently skip files holding matching rows."""
    import datetime

    t = storage.SnapshotTable(spark, str(tmp_path / "snap"), stats_cols=["ts"])
    df = spark.createDataFrame(
        [(datetime.datetime(2024, m, 1, 12, 0, 0),) for m in range(1, 13)],
        "ts timestamp",
    )
    t.overwrite(df.repartitionByRange(4, "ts"))

    man = t._manifest(t.current_version())
    for s in man["stats"].values():
        mn, mx = s["ts"]
        assert "T" in mn and "T" in mx, f"stats must be ISO-'T' rendered: {s}"

    probes = [
        ("2024-03-01T00:00:00", "2024-04-30T23:59:59"),  # ISO 'T'
        ("2024-03-01 00:00:00", "2024-04-30 23:59:59"),  # legacy space
        (datetime.datetime(2024, 3, 1), datetime.datetime(2024, 4, 30, 23, 59, 59)),
    ]
    results = []
    for lo, hi in probes:
        keep, total = t.files_in_range("ts", lo, hi)
        assert 0 < len(keep) < total, f"probe {lo!r}..{hi!r} kept {len(keep)}/{total}"
        results.append(sorted(keep))
    assert results[0] == results[1] == results[2]
    assert (
        t.read_range("ts", "2024-03-01T00:00:00", "2024-04-30T23:59:59").count() == 2
    )


def test_snapshot_stats_probe_type_mismatch_refused(spark, tmp_path):
    """A string probe over numeric stats (or vice versa) can never
    range-compare correctly — it must raise, not silently prune."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"), stats_cols=["k"])
    t.overwrite(spark.range(0, 100).select(F.col("id").alias("k")).coalesce(2))
    with pytest.raises(TypeError, match="does not match"):
        t.files_in_range("k", "10", "20")


def test_snapshot_read_range_pins_version_once(spark, tmp_path, monkeypatch):
    """read_range resolves current_version() EXACTLY once and pins it
    for both the file list and the schema manifest — a concurrent
    commit between two resolutions must not mix version N's files with
    version N+1's schema (the TOCTOU the round-6 fix closes).  Simulated
    by advancing the table after the first current_version() call."""
    path = str(tmp_path / "snap")
    t = storage.SnapshotTable(spark, path, stats_cols=["k"])
    t.overwrite(
        spark.range(0, 100).select(F.col("id").alias("k"), F.lit("old").alias("tag"))
    )
    v0 = t.current_version()

    real_current = storage.SnapshotTable.current_version
    calls = {"n": 0}

    def racing_current(self):
        v = real_current(self)
        calls["n"] += 1
        if calls["n"] == 1:
            # concurrent writer lands a new schema right after the
            # first resolution — the old second resolution would now
            # pick v+1's manifest for the schema
            writer = storage.SnapshotTable(spark, path, stats_cols=["k"])
            writer.overwrite(
                spark.range(0, 50).select(
                    F.col("id").alias("k"), F.lit(1).alias("renamed")
                )
            )
        return v

    monkeypatch.setattr(storage.SnapshotTable, "current_version", racing_current)
    out = t.read_range("k", 10, 20)
    monkeypatch.setattr(storage.SnapshotTable, "current_version", real_current)
    # before the fix the file list came from v0 but the schema from the
    # concurrent writer's v1 ({k, renamed}) — old files read under a new
    # schema; the pinned resolution keeps both on v0
    assert set(out.columns) == {"k", "tag"}, "schema must come from the pinned version"
    assert out.count() == 11
    assert t.read_range("k", 10, 20, version=v0).count() == 11


def test_snapshot_changes_check_keys_guard(spark, tmp_path):
    """changes(check_keys=True) refuses duplicate-key versions instead
    of emitting the cross-product update pairs a downstream MERGE would
    happily apply; unique-key versions pass the guard unchanged."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    t.append(spark.createDataFrame([(2, "dup")], "k int, v string"))
    with pytest.raises(ValueError, match="unique keys"):
        t.changes(["k"], 1, 2, check_keys=True)

    u = storage.SnapshotTable(spark, str(tmp_path / "snap2"))
    u.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    u.overwrite(spark.createDataFrame([(1, "a"), (2, "c")], "k int, v string"))
    rows = u.changes(["k"], 1, 2, check_keys=True).collect()
    assert sorted(r["_change_type"] for r in rows) == [
        "update_postimage",
        "update_preimage",
    ]


def test_snapshot_stats_string_prefix_not_rewritten(spark, tmp_path):
    """_range_key must only normalize COMPLETE timestamp renderings: a
    genuine string column whose values merely start with a date must
    keep its stats verbatim, or the stored bounds would not exist in
    the data and could flip range order against probes (round-6
    review finding)."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"), stats_cols=["msg"])
    df = spark.createDataFrame(
        [("2024-03-01 23:00 started",), ("2024-03-01 09:15 stopped",), ("aaa",)],
        "msg string",
    )
    t.overwrite(df.coalesce(1))
    man = t._manifest(t.current_version())
    (stats,) = man["stats"].values()
    assert stats["msg"][0] == "2024-03-01 09:15 stopped"  # no 'T' injected
    # probe covering the real min must keep the file
    keep, total = t.files_in_range("msg", "2024-03-01", "2024-03-01B")
    assert keep and total == 1
    assert t.read_range("msg", "2024-03-01", "2024-03-01B").count() == 2


def test_snapshot_stats_string_column_full_match_probe_not_rewritten(spark, tmp_path):
    """Normalization is driven by the manifest schema's column TYPE, not
    by value sniffing (round-7 advice): on a genuine STRING column, a
    probe that happens to be a complete 'YYYY-MM-DD HH:MM:SS' rendering
    must stay verbatim.  The old regex-sniffing rewrote such a probe to
    'T' form while non-matching stored stats (e.g. '2024-03-01 23:00
    started') stayed raw — 'T' > ' ' put the two sides in different
    comparison spaces and files_in_range pruned files whose rows pass
    read_range's raw-bound row filter."""
    t = storage.SnapshotTable(spark, str(tmp_path / "snap"), stats_cols=["msg"])
    df = spark.createDataFrame(
        [("2024-03-01 05:00 x",), ("2024-03-01 23:00 started",)],
        "msg string",
    )
    t.overwrite(df.coalesce(1))
    man = t._manifest(t.current_version())
    (stats,) = man["stats"].values()
    assert stats["msg"] == ["2024-03-01 05:00 x", "2024-03-01 23:00 started"]
    # full-match timestamp-looking probe on the STRING column: verbatim
    keep, total = t.files_in_range("msg", "2024-03-01 00:00:00", "2024-03-02 00:00:00")
    assert keep and total == 1, "string probe must not be rewritten into ISO space"
    assert (
        t.read_range("msg", "2024-03-01 00:00:00", "2024-03-02 00:00:00").count() == 2
    )


def test_range_key_temporal_flag_controls_string_rewrite():
    """Unit pin for the type-driven rule: the space->T rewrite applies
    ONLY under temporal=True; datetime objects normalize regardless."""
    import datetime

    full = "2024-03-01 00:00:00"
    assert storage._range_key(full, temporal=True) == "2024-03-01T00:00:00"
    assert storage._range_key(full, temporal=False) == full
    assert storage._range_key("2024-03-01 23:00 started", temporal=True) == (
        "2024-03-01 23:00 started"
    )  # prefix never rewritten even on temporal columns
    dt = datetime.datetime(2024, 3, 1, 12, 30)
    assert storage._range_key(dt, temporal=False) == "2024-03-01T12:30:00"
    assert storage._col_is_temporal(
        {"fields": [{"name": "ts", "type": "timestamp"}]}, "ts"
    )
    assert not storage._col_is_temporal(
        {"fields": [{"name": "msg", "type": "string"}]}, "msg"
    )


def test_compaction_maintenance_store_physics(spark):
    """The q_compaction_maintenance store must prove its claims on disk,
    not just in the manifest the query echoes: exactly one version
    survives the vacuum, its op is 'compact', the manifest references
    exactly _COMPACT_TARGET files, and the data directory holds exactly
    those files (every pre-compaction small file reclaimed)."""
    import os

    from politician_etl_project_spark.queries.analytics_ext import (
        _COMPACT_TARGET,
        _compaction_path,
    )
    from politician_etl_project_spark.storage import SnapshotTable
    from tests.conftest import SF_SMALL

    path = _compaction_path(spark, SF_SMALL)
    t = SnapshotTable(spark, path)
    vs = t.versions()
    assert len(vs) == 1, f"vacuum(keep_last=1) left versions {vs}"
    man = t._manifest(vs[-1])
    assert man["op"] == "compact"
    assert len(man["files"]) == _COMPACT_TARGET
    on_disk = sorted(
        f for f in os.listdir(os.path.join(path, "data")) if f.endswith(".parquet")
    )
    assert on_disk == sorted(man["files"])


def test_upsert_table_refuses_rows_of_another_shape(spark, tmp_path):
    """Rows appended beside the published files must carry the
    snapshot's columns — a read pinned to the manifest schema would
    silently null the divergent columns.  A different column order fits
    (parquet resolves columns by name); an extra column, a changed type
    or a missing column is refused and leaves no staged file behind, and
    ``overwrite`` changes the shape."""
    import os

    t = _snap(spark, tmp_path)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.append(spark.createDataFrame([("b", 2)], "v string, k int"))
    for row, bad in (((3, "c", 1.5), "k int, v string, x double"), ((3, 4), "k int, v bigint"), ((3,), "k int")):
        with pytest.raises(ValueError, match="does not match snapshot schema"):
            t.append(spark.createDataFrame([row], bad))
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "b")]
    assert t.read().schema.simpleString() == "struct<k:int,v:string>"
    assert t.row_count() == 2
    data = os.path.join(t.path, "data")
    on_disk = [os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")]
    assert sorted(on_disk) == sorted(t.files())

    t.overwrite(spark.createDataFrame([(9, 1.5)], "k int, x double"))
    assert [tuple(r) for r in t.read().collect()] == [(9, 1.5)]
