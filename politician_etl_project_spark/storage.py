"""Physical-layout storage layer: partitioned parquet and versioned
snapshot tables (SURVEY §4 "DB indexes → partitioning/bucketing
instead"; §7 scale levers: "partition by date/congress").

- **Partition pruning** (`write_partitioned`): directory-partitioned
  parquet; equality/range predicates on the partition column skip whole
  directories at planning time (shows as ``PartitionFilters`` in
  explain).  The reference's file layout by year
  (``data/2024/``, scripts/ingest_bulk_donations.py:18-21) and congress
  filters are exactly this, and the served politician-detail report is
  laid out the same way on ``politician_id`` (queries/serving.py).
  Assert-tested in tests/test_storage.py by inspecting the physical
  plan, not just the results.
- **Snapshot versioning** (`SnapshotTable`): the one managed-table
  format — manifest-based versions with time travel, per-file column
  stats, keyed upserts with stable surrogate ids, and compaction.  The
  ETL warehouse, the streaming MERGE sink and every build-once snapshot
  store are written through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


#: Manifest-schema type names whose stats/probes live in ISO-8601 space.
_TEMPORAL_TYPES = {"date", "timestamp", "timestamp_ntz", "timestamp_ltz"}


def _col_is_temporal(man_schema: dict, col: str) -> bool:
    """True when the MANIFEST SCHEMA types ``col`` as date/timestamp —
    the authority for whether string-rendered stats/probes should be
    normalized to ISO form.  Driving this off the declared type (not
    value sniffing) is what keeps genuine STRING columns' stats and
    probes verbatim (round-6 advice: a string column can legitimately
    hold values like '2024-03-01 23:00 started'; rewriting a probe that
    happens to LOOK like a timestamp while its stats stay raw would put
    the two sides in different comparison spaces — 'T' > ' ' — and
    silently prune files that hold matching rows)."""
    for f in man_schema.get("fields", []):
        if f.get("name") == col:
            return isinstance(f.get("type"), str) and f["type"] in _TEMPORAL_TYPES
    return False


def _range_key(v, temporal: bool):
    """Canonical comparison rendering for file-stat range arithmetic.

    Stats are stored JSON-native, so dates/timestamps become strings —
    and string bounds only prune correctly when BOTH sides use one
    rendering.  ISO-8601 with 'T' is that rendering: datetime/date
    probes are converted via .isoformat() unconditionally (the caller
    handed us a typed object), and — ONLY when the manifest schema says
    the column is temporal (``temporal=True``) — a string that IS a
    complete space-separated timestamp rendering ('YYYY-MM-DD
    HH:MM:SS[.ffffff]', the str() form older manifests stored) is
    normalized to the 'T' form.  Without that, an ISO probe
    ('2024-03-01T00:00:00', 'T' > ' ') compares after every
    space-rendered legacy stat and silently prunes files that hold
    matching rows.

    On a STRING-typed column nothing is ever rewritten: stats and
    probes stay verbatim, so both sides share one comparison space by
    construction (round-6 advice item — value sniffing could rewrite a
    full-match probe while non-matching stored stats stayed raw)."""
    import datetime
    import re

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if (
        temporal
        and isinstance(v, str)
        and re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}(\.\d+)?", v)
    ):
        return v.replace(" ", "T", 1)
    return v


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Directory-partitioned parquet; readers get partition pruning for
    free on `partition_cols` predicates."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


# ---------------------------------------------------------------------------
# Snapshot versioning / time travel (manifest-based, Delta-style)
# ---------------------------------------------------------------------------


class SnapshotConflictError(RuntimeError):
    """A concurrent writer claimed the version slot (cross-host race) or
    won too many optimistic retries in a row."""


class SnapshotTable:
    """Versioned managed table with time travel, and the reference's
    three write modes: append (S11), upsert (S12/S13 via ``merge_keep``)
    and overwrite (S14 TRUNCATE+reload).  Every write publishes an
    IMMUTABLE snapshot and readers pin any historical version.

    Layout (the essential core of a lakehouse table format, expressed
    with nothing but parquet + atomic renames):

    - ``data/c{token}-*.parquet`` — immutable data files, never
      rewritten; named by a commit-unique token (NOT the version — the
      version number isn't known until the commit lock is held, after
      staging); a version's files are listed only in its manifest
    - ``versions/v{N}.json``    — manifest: the FILE LIST composing
      snapshot N (plus op, parent, schema and row count)
    - ``_CURRENT``              — atomic pointer to the live version

    Snapshots share files: ``append`` writes only the new rows' files
    and its manifest references the parent's files plus the new ones —
    O(new data) regardless of table size, which is what makes the
    scheme viable at 100 TB (an overwrite-per-version copy would not
    be).  ``upsert`` is copy-on-write over the merged result.  Time
    travel is free: old manifests keep old files alive until ``vacuum``
    retires them (a table that wants one copy, like the ETL warehouse,
    vacuums after each write).

    Every write counts the rows it stages (``DataFrame.observe`` on the
    write job itself) and records the table's row count in the manifest,
    so ``row_count`` answers from the manifest and starts no job.  A
    ``read`` pins the manifest's schema and file list: no footer job,
    and never a superseded file, which a raw read of the directory would
    pick up.

    Crash safety mirrors the streaming sketch store's versioned-pointer
    protocol: data files land first, then the manifest, then one atomic
    ``os.replace`` flips ``_CURRENT``.  A crash at any point leaves
    either the previous version live (orphan files/manifests are
    harmless and vacuumable) or the new version fully published — never
    a torn table.

    Concurrency: commits serialize on an ``fcntl`` file lock held only
    for the version-allocation + manifest + pointer-flip window (staging
    — the expensive Spark write — happens OUTSIDE the lock under a
    commit-unique file prefix, so two writers never block each other's
    I/O and never collide on file names).  Version slots are claimed
    with ``O_CREAT|O_EXCL`` as a second line of defense: a writer that
    bypasses the lock (e.g. a second host on a network mount where
    ``flock`` doesn't travel) gets :class:`SnapshotConflictError`
    instead of silently clobbering a committed manifest.  Multi-HOST
    writers should front commits with a shared lock service, the same
    boundary Delta draws with its commit coordinators on S3.
    Read-modify-write ops (``upsert``, ``compact``) run optimistically:
    merge + stage against a read version, then publish only if the
    table hasn't advanced, else re-merge and retry.

    Reference analog: the reference re-ingests whole FEC files
    destructively (scripts/ingest_bulk_donations.py); this keeps every
    load auditable and revertible.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str] | None = None,
        id_col: str | None = None,
        stats_cols: list[str] | None = None,
    ):
        """``keys``: the natural key ``upsert`` merges on — one row per
        key from the first write on (the reference's UNIQUE constraints).

        ``id_col``: a surrogate id the table owns beside its ``keys``
        (S18): ``upsert`` assigns dense ids on the first write and keeps
        every published id on later ones (``stable_ids``); an id column
        in the incoming batch is ignored.

        ``stats_cols``: columns whose per-FILE min/max are recorded in
        each manifest at write time — the data-skipping half of the
        format (Delta/Iceberg file statistics).  ``read_range`` then
        plans from the manifest alone and opens only the files whose
        [min, max] intersect the predicate: on a table laid out with
        ``repartitionByRange`` over the stats column, a narrow range
        probe reads O(matching files), not O(table).  Costs one extra
        Spark aggregate over the NEWLY staged files per write (O(new
        data), never a table rescan).  Readers of manifests written
        without stats (or by writers with different stats_cols) stay
        correct: a file with no recorded stats is always scanned."""
        import os

        self.spark = spark
        self.path = path
        self.keys = list(keys or [])
        self.id_col = id_col
        self.stats_cols = list(stats_cols or [])
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "versions"), exist_ok=True)

    # -- pointers & manifests ------------------------------------------------

    def _pointer_path(self) -> str:
        import os

        return os.path.join(self.path, "_CURRENT")

    def current_version(self):
        import os

        ptr = self._pointer_path()
        if not os.path.exists(ptr):
            return None
        with open(ptr) as fh:
            return int(fh.read().strip().lstrip("v"))

    def versions(self) -> list[int]:
        """Published (pointer-reachable or historical) versions, ascending.
        Only manifests at or below the current pointer count — a manifest
        above it is a torn write awaiting vacuum."""
        import os

        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for fn in os.listdir(os.path.join(self.path, "versions")):
            if fn.startswith("v") and fn.endswith(".json"):
                n = int(fn[1:-5])
                if n <= cur:
                    out.append(n)
        return sorted(out)

    def row_count(self, version: int | None = None) -> int | None:
        """Rows of ``version`` (default: current; 0 before the first
        write) as its write counted them — a manifest read, no job.
        None for a manifest written without a count."""
        v = self.current_version() if version is None else version
        return 0 if v is None else self._manifest(v).get("rows")

    def _manifest(self, version: int) -> dict:
        import json
        import os

        with open(os.path.join(self.path, "versions", f"v{version:06d}.json")) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """Audit trail: one row per published version (op, parent,
        file count) — the queryable equivalent of DESCRIBE HISTORY."""
        out = []
        for v in self.versions():
            man = self._manifest(v)
            out.append(
                {
                    "version": v,
                    "op": man["op"],
                    "parent": man["parent"],
                    "n_files": len(man["files"]),
                }
            )
        return out

    # -- per-sink replay markers --------------------------------------------

    def sink_marker(self, sink: str):
        """Last (batch_id, version) a streaming sink recorded, or None.
        Markers live beside the manifests in ``markers/{sink}`` and are
        NOT touched by ``vacuum`` — they are the durable half of the
        streaming replay guard (see ``snapshot_append_stream``)."""
        import json
        import os

        p = os.path.join(self.path, "markers", sink)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            d = json.load(fh)
        return d["batch_id"], d["version"]

    def set_sink_marker(self, sink: str, batch_id: int, version: int) -> None:
        import json
        import os

        os.makedirs(os.path.join(self.path, "markers"), exist_ok=True)
        p = os.path.join(self.path, "markers", sink)
        tmp = f"{p}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch_id": batch_id, "version": version}, fh)
        os.replace(tmp, p)

    def has_op_since(self, op: str, after_version: int | None) -> bool:
        """Was ``op`` committed by any version newer than
        ``after_version``?  Scans descending and only the (small) window
        above the caller's marker — the replay guard stays O(window),
        not O(history), and survives interleaved writers that advance
        the current version past the sink's own last commit."""
        for v in reversed(self.versions()):
            if after_version is not None and v <= after_version:
                break
            if self._manifest(v)["op"] == op:
                return True
        return False

    # -- reads ---------------------------------------------------------------

    def _published_manifest(self, version: int | None) -> dict:
        """The manifest of ``version`` (default: current), refusing a
        version that was never published: a manifest above the pointer
        is a torn write, and reading or planning from it would expose
        uncommitted data."""
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        v = cur if version is None else version
        if v not in self.versions():
            raise ValueError(f"unknown version {v}; have {self.versions()}")
        return self._manifest(v)

    def files(self, version: int | None = None) -> list[str]:
        """Paths of the data files composing ``version`` (default:
        current) — what any reader outside Spark must scan instead of
        the data directory, which also holds superseded files."""
        import os

        man = self._published_manifest(version)
        return [os.path.join(self.path, "data", f) for f in man["files"]]

    def read(self, version: int | None = None) -> DataFrame:
        """The table as of ``version`` (default: current)."""
        import os

        from pyspark.sql.types import StructType

        man = self._published_manifest(version)
        files = [os.path.join(self.path, "data", f) for f in man["files"]]
        schema = StructType.fromJson(man["schema"])
        if not files:
            return self.spark.createDataFrame([], schema)
        # pin the manifest's schema instead of letting Spark sample one
        # file's footer — version reads stay deterministic even if other
        # table generations carry different schemas
        return self.spark.read.schema(schema).parquet(*files)

    def files_in_range(self, col: str, lo, hi, version: int | None = None) -> tuple[list[str], int]:
        """Data skipping: (files whose manifest [min, max] for ``col``
        intersects [lo, hi] — inclusive — plus every file with no
        recorded stats, total file count).  Pure manifest arithmetic on
        the driver: no file is opened, which is the point — at 100 TB
        the planning cost is O(n_files) JSON, not I/O.  A file whose
        min or max is null (all-null column chunk) is kept: NULL rows
        don't match a range predicate, but the file may hold non-null
        rows in OTHER row groups only stats of finer grain could
        exclude."""
        man = self._published_manifest(version)
        stats = man.get("stats", {})
        # normalization authority is the manifest schema's declared type,
        # never the value's shape (round-6 advice: value sniffing can put
        # probe and stored stats in different comparison spaces)
        temporal = _col_is_temporal(man.get("schema", {}), col)
        lo, hi = _range_key(lo, temporal), _range_key(hi, temporal)
        keep = []
        for f in man["files"]:
            s = stats.get(f, {}).get(col)
            if s is None or s[0] is None or s[1] is None:
                keep.append(f)  # no stats ⇒ must scan (correctness first)
                continue
            mn, mx = _range_key(s[0], temporal), _range_key(s[1], temporal)
            if isinstance(mn, str) != isinstance(lo, str):
                # a str probe against numeric stats (or vice versa) can
                # never compare in range order — refuse loudly, the same
                # failure class DECIMAL stats already refuse at write time
                raise TypeError(
                    f"range probe type {type(lo).__name__} does not match "
                    f"stored stat type {type(mn).__name__} for column {col!r}"
                )
            if not (mx < lo or mn > hi):
                keep.append(f)
        return keep, len(man["files"])

    def read_range(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """The rows with ``lo <= col <= hi``, reading ONLY the files
        whose stats admit a match (``files_in_range``).  The residual
        filter is still applied — file stats are a superset bound, and
        Spark additionally gets its own parquet row-group skipping
        inside each admitted file."""
        import os

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        # Resolve the version EXACTLY ONCE and pin it for both the file
        # list and the schema manifest: resolving current_version()
        # twice opens a TOCTOU window where a concurrent commit lands
        # between the two reads and the files come from version N while
        # the schema comes from N+1 — old files read under a new schema
        # silently yield wrong/null columns, inside the very
        # multi-writer model the commit lock defends against.
        if version is None:
            cur = self.current_version()
            if cur is None:
                raise FileNotFoundError(f"no committed snapshot at {self.path}")
            v = cur
        else:
            v = version
        # files_in_range with the pinned v still owns the torn-version
        # guard (v must be a published version), so this path inherits it
        keep, _total = self.files_in_range(col, lo, hi, version=v)
        man = self._manifest(v)
        schema = StructType.fromJson(man["schema"])
        if not keep:
            empty = self.spark.createDataFrame([], schema)
            return empty.filter((F.col(col) >= lo) & (F.col(col) <= hi))
        paths = [os.path.join(self.path, "data", f) for f in keep]
        return (
            self.spark.read.schema(schema)
            .parquet(*paths)
            .filter((F.col(col) >= lo) & (F.col(col) <= hi))
        )

    def changes(
        self,
        keys: list[str],
        from_version: int,
        to_version: int,
        check_keys: bool = False,
    ) -> DataFrame:
        """Row-level change feed between two published versions — the
        Delta CDF read surface: one typed row per change, ``_change_type``
        ∈ insert / delete / update_preimage / update_postimage (updates
        emit BOTH images, the contract downstream MERGE/audit consumers
        expect).  Unchanged rows are dropped; value comparison is
        NULL-safe (a NULL→value or value→NULL transition is an update,
        NULL→NULL is not a change).

        PRECONDITION: ``keys`` must uniquely identify rows in BOTH
        versions — the contract every upsert-maintained table satisfies
        by construction.  On an append-produced table with duplicate
        keys the full-outer join emits a per-key cross product, and the
        spurious update_preimage/postimage pairs would be applied by a
        downstream MERGE without complaint.  Pass ``check_keys=True``
        to verify the precondition eagerly (one count-vs-distinct
        aggregate per side — a second scan, so off by default for the
        common upsert-maintained case).

        Plan shape: ONE full-outer shuffle join on the keys; the four
        change classes come from a per-row CASE building an array of
        0-2 typed structs that a single explode flattens — no
        four-branch union re-reading the join, no second exchange.  At
        100 TB this is the same cost as the upsert that produced the
        target version.

        Both versions must carry the same (name, type) schema — a
        changed schema needs column-mapping rules this API does not
        guess at."""
        from pyspark.sql import functions as F

        published = self.versions()
        for v in (from_version, to_version):
            if v not in published:
                # a manifest ABOVE the pointer is a torn write awaiting
                # vacuum — diffing against it would expose uncommitted data
                raise ValueError(f"unknown version {v}; have {published}")
        a_man = self._manifest(from_version)
        b_man = self._manifest(to_version)
        a_fields = [(f["name"], f["type"]) for f in a_man["schema"]["fields"]]
        b_fields = [(f["name"], f["type"]) for f in b_man["schema"]["fields"]]
        if a_fields != b_fields:
            raise ValueError(
                f"changes() needs matching schemas; v{from_version} has "
                f"{a_fields}, v{to_version} has {b_fields}"
            )
        cols = [n for n, _ in a_fields]
        vals = [c for c in cols if c not in keys]
        missing = [k for k in keys if k not in cols]
        if missing:
            raise ValueError(f"key columns {missing} not in schema {cols}")
        if not vals:
            raise ValueError(
                "changes() needs at least one non-key column (a key-only "
                "table has no update semantics; diff key sets directly)"
            )
        if check_keys:
            # count vs NULL-safe distinct-key count per side; any gap
            # means duplicate keys and the full-outer diff below would
            # cross-product them into spurious update pairs
            # a struct over the keys is never NULL itself, so
            # countDistinct counts NULL-keyed rows distinctly too —
            # consistent with the eqNullSafe join semantics below
            key_struct = F.struct(*[F.col(k) for k in keys])
            for v, label in ((from_version, "from"), (to_version, "to")):
                r = self.read(v).agg(
                    F.count("*").alias("n"),
                    F.countDistinct(key_struct).alias("d"),
                ).first()
                if r["n"] != r["d"]:
                    raise ValueError(
                        f"changes() requires unique keys {keys}; "
                        f"{label}-version v{v} has {r['n']} rows but only "
                        f"{r['d']} distinct keys"
                    )

        # BOTH sides fully renamed, and the join condition is eqNullSafe
        # per key: a plain `on=keys` equality join never matches NULL
        # keys, so a NULL-keyed row present and unchanged in both
        # versions would surface as a spurious delete + insert pair
        before = self.read(from_version).select(
            *[F.col(k).alias(f"_cdf_a_{k}") for k in keys],
            F.lit(True).alias("_cdf_a"),
            *[F.col(c).alias(f"_cdf_a_{c}") for c in vals],
        )
        after = self.read(to_version).select(
            *[F.col(k).alias(f"_cdf_b_{k}") for k in keys],
            F.lit(True).alias("_cdf_b"),
            *[F.col(c).alias(f"_cdf_b_{c}") for c in vals],
        )
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(f"_cdf_a_{k}").eqNullSafe(F.col(f"_cdf_b_{k}"))
        changed = F.lit(False)
        for c in vals:
            changed = changed | ~F.col(f"_cdf_a_{c}").eqNullSafe(F.col(f"_cdf_b_{c}"))
        # unchanged rows leave the plan right after the join — the CASE
        # below then needs no empty-array branch (and no hand-written
        # struct DDL for its type)
        j = (
            before.join(after, cond, "full_outer")
            .filter(F.col("_cdf_a").isNull() | F.col("_cdf_b").isNull() | changed)
            .select(
                *[
                    F.coalesce(F.col(f"_cdf_a_{k}"), F.col(f"_cdf_b_{k}")).alias(k)
                    for k in keys
                ],
                "_cdf_a",
                "_cdf_b",
                *[F.col(f"_cdf_a_{c}") for c in vals],
                *[F.col(f"_cdf_b_{c}") for c in vals],
            )
        )

        def img(side: str) -> F.Column:
            return F.struct(*[F.col(f"_cdf_{side}_{c}").alias(c) for c in vals])

        arr = (
            F.when(
                F.col("_cdf_a").isNull(),
                F.array(F.struct(F.lit("insert").alias("_change_type"), img("b").alias("v"))),
            )
            .when(
                F.col("_cdf_b").isNull(),
                F.array(F.struct(F.lit("delete").alias("_change_type"), img("a").alias("v"))),
            )
            .otherwise(
                F.array(
                    F.struct(F.lit("update_preimage").alias("_change_type"), img("a").alias("v")),
                    F.struct(F.lit("update_postimage").alias("_change_type"), img("b").alias("v")),
                )
            )
        )
        return j.select(*keys, F.explode(arr).alias("_chg")).select(
            *keys, F.col("_chg._change_type").alias("_change_type"), "_chg.v.*"
        )

    # -- writes --------------------------------------------------------------

    def _stage_files(self, df: DataFrame) -> tuple[list[str], dict, int]:
        """Write df's parquet files and move them into data/ under a
        commit-unique token prefix — collision-free even when several
        writers stage concurrently (the version number isn't known
        until the commit lock is held, which is AFTER staging).
        Returns (file names, per-file min/max stats for stats_cols —
        computed by ONE aggregate over the staged files before the
        move, so the cost is O(new data) — and the rows written, counted
        by the write job itself)."""
        import os
        import shutil
        import tempfile
        import uuid

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        token = uuid.uuid4().hex[:12]
        staging = tempfile.mkdtemp(prefix="snap-", dir=self.path)
        written = Observation()
        try:
            df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(staging)
            staged_stats = self._collect_stats(staging, df) if self.stats_cols else {}
            names = []
            stats: dict[str, dict] = {}
            for fn in sorted(os.listdir(staging)):
                if fn.endswith(".parquet"):
                    dst = f"c{token}-{fn}"
                    os.replace(os.path.join(staging, fn), os.path.join(self.path, "data", dst))
                    names.append(dst)
                    if fn in staged_stats:
                        stats[dst] = staged_stats[fn]
            return names, stats, written.get["rows"]
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _collect_stats(self, staging: str, df: DataFrame) -> dict[str, dict]:
        """Per-file [min, max] of each stats column, keyed by staged file
        name.  Values are stored JSON-native: numbers and booleans as-is,
        everything else (dates, timestamps, strings) via str() — ISO
        renderings compare lexicographically in range order, so pruning
        stays exact for them too."""
        import os
        from urllib.parse import urlparse

        from pyspark.sql import functions as F

        cols = [c for c in self.stats_cols if c in df.columns]
        if not cols:
            return {}

        def _js(v):
            import decimal

            if isinstance(v, decimal.Decimal):
                # str(Decimal) would range-compare LEXICOGRAPHICALLY in
                # files_in_range ('900.00' > '1050.00'), silently pruning
                # files that hold matching rows; float() would need
                # ulp-widening to stay a conservative bound.  Refuse
                # loudly — the caller should range-cluster on a DOUBLE
                # or a scaled integer column instead.
                raise ValueError(
                    "stats_cols does not support DECIMAL columns: store a "
                    "DOUBLE or scaled-integer twin for range clustering"
                )
            if v is None or isinstance(v, (int, float, bool)):
                return v
            # dates/timestamps arrive from collect() as typed
            # datetime/date objects — store the canonical ISO-8601 'T'
            # rendering so files_in_range compares apples to apples
            # against ISO probes.  Genuine STRING column values are
            # stored VERBATIM (type-driven, round-6 advice): rewriting a
            # value that merely looks like a timestamp would store
            # bounds that don't exist in the data.
            import datetime

            if isinstance(v, (datetime.datetime, datetime.date)):
                return v.isoformat()
            if isinstance(v, str):
                return v
            return str(v)

        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        rows = (
            self.spark.read.parquet(staging)
            .groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()  # O(n_new_files) rows — bounded by the write's task count
        )
        out: dict[str, dict] = {}
        for r in rows:
            fn = os.path.basename(urlparse(r["__f"]).path)
            out[fn] = {c: [_js(r[f"__mn_{c}"]), _js(r[f"__mx_{c}"])] for c in cols}
        return out

    def _unstage_files(self, files: list[str]) -> None:
        """Drop files staged by an abandoned optimistic attempt (they are
        referenced by no manifest, so removal is always safe)."""
        import os

        for fn in files:
            try:
                os.remove(os.path.join(self.path, "data", fn))
            except FileNotFoundError:
                pass

    def _commit_lock(self):
        """Exclusive advisory lock serializing the allocate-publish
        window across processes ON THIS HOST (see class docstring for
        the multi-host boundary)."""
        import contextlib
        import fcntl
        import os

        @contextlib.contextmanager
        def _lock():
            fd = os.open(os.path.join(self.path, "_commit.lock"), os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return _lock()

    def _publish_locked(
        self,
        parent,
        files: list[str],
        op: str,
        schema_json: dict,
        stats: dict | None = None,
        rows: int | None = None,
    ) -> int:
        """Allocate the next version and commit it: exclusive manifest
        create + atomic pointer flip.  MUST be called with the commit
        lock held; ``parent`` must equal ``current_version()`` (the
        caller re-reads it under the lock)."""
        import json
        import os

        version = 1 if parent is None else parent + 1
        man = {
            "version": version,
            "parent": parent,
            "op": op,
            "files": files,
            "schema": schema_json,
            "rows": rows,
        }
        if stats:
            # only files in THIS manifest — an append caller passes the
            # parent's surviving stats merged with the new files' own
            man["stats"] = {f: s for f, s in stats.items() if f in set(files)}
        man_path = os.path.join(self.path, "versions", f"v{version:06d}.json")
        # A manifest already at this slot is EITHER a torn write
        # (manifest landed, pointer flip didn't — its writer died, or
        # it would hold the lock we hold) or a commit by a writer whose
        # lock we cannot see (other host).  The live pointer tells them
        # apart: at or above the slot ⇒ committed ⇒ conflict; below ⇒
        # torn ⇒ reclaim the slot (renumbering around it instead would
        # resurrect the torn manifest into visible history once the
        # pointer passed it).
        if os.path.exists(man_path):
            cur = self.current_version()
            if cur is not None and cur >= version:
                raise SnapshotConflictError(
                    f"version {version} already committed at {self.path}; "
                    "multi-host writers need a shared lock service"
                )
            os.remove(man_path)
        try:
            fd = os.open(man_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as exc:  # un-locked writer raced us (other host)
            raise SnapshotConflictError(
                f"version {version} claimed concurrently at {self.path}; "
                "multi-host writers need a shared lock service"
            ) from exc
        with os.fdopen(fd, "w") as fh:
            json.dump(man, fh)
        ptr_tmp = self._pointer_path() + ".tmp"
        with open(ptr_tmp, "w") as fh:
            fh.write(f"v{version:06d}")
        os.replace(ptr_tmp, self._pointer_path())  # the commit point
        return version

    def overwrite(self, df: DataFrame, op: str = "overwrite") -> int:
        files, stats, rows = self._stage_files(df)
        with self._commit_lock():
            return self._publish_locked(
                self.current_version(), files, op, df.schema.jsonValue(), stats, rows
            )

    def append(self, df: DataFrame, op: str = "append") -> int:
        """O(new data): parent files are REFERENCED, not copied.  ``op``
        labels the manifest (streaming sinks tag their sink + batch id,
        making the audit trail double as a replay-marker store).
        Rejects columns whose names or types differ from the parent
        snapshot's — shared-file reads would silently null the divergent
        columns; another column ORDER fits (parquet resolves columns by
        name) and the parent's schema stays published.  The parent's
        file list is resolved UNDER the commit lock, so an append never
        loses rows committed by an interleaved writer."""
        got = {f["name"]: f["type"] for f in df.schema.jsonValue()["fields"]}
        new_files, new_stats, new_rows = self._stage_files(df)
        with self._commit_lock():
            parent = self.current_version()
            if parent is None:
                return self._publish_locked(
                    None, new_files, op, df.schema.jsonValue(), new_stats, new_rows
                )
            pman = self._manifest(parent)
            want = {f["name"]: f["type"] for f in pman["schema"]["fields"]}
            if want != got:
                self._unstage_files(new_files)
                raise ValueError(
                    f"append schema {got} does not match snapshot schema {want}; "
                    "use overwrite() for schema changes"
                )
            rows = pman.get("rows")
            # inherited files keep the parent's stats; file names are
            # commit-unique so the dict merge cannot collide
            return self._publish_locked(
                parent,
                pman["files"] + new_files,
                op,
                pman["schema"],
                {**pman.get("stats", {}), **new_stats},
                None if rows is None else rows + new_rows,
            )

    def upsert(self, df: DataFrame, update_wins: bool = True) -> int:
        """Copy-on-write MERGE on the table's ``keys``: the merged result
        becomes the new snapshot's file set; the parent snapshot stays
        readable.  The first write keeps one row per key (in-batch
        duplicates included); with ``id_col`` new keys get ids above
        every published one and published ids never move.  Optimistic:
        if another writer commits between the base read and the
        publish, the stale merge is discarded and re-run against the new
        current version (bounded retries)."""
        from politician_etl_project_spark.operators.upsert import (
            dedup_keys,
            merge_keep,
            stable_ids,
        )

        if not self.keys:
            raise ValueError(f"upsert needs the table's keys ({self.path})")
        if self.id_col is not None:
            df = df.drop(self.id_col)
        for _ in range(5):
            base_version = self.current_version()
            old_ids = None
            if base_version is None:
                merged = dedup_keys(df, self.keys)
            else:
                prior = self.read(base_version)
                if self.id_col is not None:
                    old_ids = prior.select(*self.keys, self.id_col)
                    prior = prior.drop(self.id_col)
                merged = merge_keep(prior, df, self.keys, update_wins=update_wins)
            if self.id_col is not None:
                merged = stable_ids(merged, old_ids, self.keys, self.id_col)
            files, stats, rows = self._stage_files(merged)
            schema_json = merged.schema.jsonValue()
            with self._commit_lock():
                if self.current_version() == base_version:
                    return self._publish_locked(
                        base_version, files, "upsert", schema_json, stats, rows
                    )
            self._unstage_files(files)  # lost the race: re-merge on new base
        raise SnapshotConflictError(f"upsert lost 5 commit races at {self.path}")

    # -- maintenance ---------------------------------------------------------

    def compact(self, target_files: int = 1) -> int:
        """Small-files maintenance as a PUBLISHED version: rewrite the
        current snapshot into ``target_files`` files and commit the
        result with op='compact'.  A long append-per-batch stream leaves
        one file per batch; scan planning degrades with file count, and
        because compaction is just another snapshot, readers pinned to
        older versions (and the streaming replay guard, which keys on
        sink markers, not file layout) are untouched — run ``vacuum``
        afterwards to actually reclaim the pre-compaction files.
        Optimistic like ``upsert``: a batch appended mid-compaction is
        never dropped — the stale rewrite is discarded and redone."""
        for _ in range(5):
            base_version = self.current_version()
            base = self.read(base_version)
            # coalesce can only REDUCE partition count: under a large
            # maxPartitionBytes (cluster configs bin-pack many small files
            # into few scan partitions) the scan may already yield fewer
            # than target_files, and coalesce would silently publish fewer
            # files than asked.  Shuffle-free coalesce stays the common
            # shrink path; repartition only when the scan under-shoots.
            scan_parts = base.rdd.getNumPartitions()
            rewritten = (
                base.repartition(target_files)
                if scan_parts < target_files
                else base.coalesce(target_files)
            )
            files, stats, rows = self._stage_files(rewritten)
            schema_json = rewritten.schema.jsonValue()
            with self._commit_lock():
                if self.current_version() == base_version:
                    return self._publish_locked(
                        base_version, files, "compact", schema_json, stats, rows
                    )
            self._unstage_files(files)
        raise SnapshotConflictError(f"compact lost 5 commit races at {self.path}")

    def _replay_guard_versions(self, vs: list[int]) -> set[int]:
        """Versions whose manifest op is a sink append NOT yet covered by
        that sink's marker — exactly the set ``has_op_since`` may need on
        a crash-window replay (append committed, marker/checkpoint
        didn't).  A sink with NO marker file retains all its append
        versions (a sink that crashed before its very FIRST marker is
        the same window); an unreadable marker pins that sink's appends
        (losing space temporarily beats reopening a replay window).
        Versions with non-sink ops (compact/overwrite/upsert) are never
        pinned, so a retired sink's stale marker holds no history beyond
        its own last unmarked appends — i.e. nothing."""
        import re

        out: set[int] = set()
        marker_cache: dict[str, int | None] = {}
        for v in vs:
            m = re.fullmatch(r"append-(.+)-b\d+", self._manifest(v)["op"])
            if not m:
                continue
            sink = m.group(1)
            if sink not in marker_cache:
                try:
                    mk = self.sink_marker(sink)
                    marker_cache[sink] = None if mk is None else int(mk[1])
                except Exception:
                    marker_cache[sink] = None  # unreadable: pin this sink's appends
            mv = marker_cache[sink]
            if mv is None or v > mv:
                out.add(v)
        return out

    def vacuum(self, keep_last: int = 1) -> int:
        """Retire history: keep the newest ``keep_last`` versions, delete
        manifests and data files no retained version references, plus any
        torn-write orphans (files/manifests above the pointer).  Returns
        the number of data files deleted.

        MAINTENANCE op — run it only while no writer is mid-commit, like
        Delta's VACUUM (whose retention window exists for exactly this):
        an in-flight writer's staged-but-unpublished files look like
        orphans here.

        Streaming replay guard: a sink that crashed between an append
        commit and its marker/checkpoint write is detected on replay by
        scanning manifest OPS above its last marker (``has_op_since``).
        Vacuum therefore retains every version whose op is a sink append
        not yet covered by that sink's marker (including a sink's FIRST
        batch, before any marker exists) — deleting one would let the
        replayed batch re-append, silently duplicating rows.  The
        retention is precise and self-healing: only the sink's own
        unmarked append versions are pinned (interleaved compactions
        and other writers' history stay reclaimable, and a
        decommissioned sink's stale marker pins nothing), and the
        window closes as soon as the sink commits-and-marks or its
        replay heals the marker."""
        import os

        vs = self.versions()
        if not vs:
            return 0
        keep = set(vs[-max(keep_last, 1):])
        keep |= self._replay_guard_versions(vs)
        live = set()
        for v in keep:
            live.update(self._manifest(v)["files"])
        removed = 0
        data_dir = os.path.join(self.path, "data")
        for fn in list(os.listdir(data_dir)):
            if fn.endswith(".parquet") and fn not in live:
                os.remove(os.path.join(data_dir, fn))
                removed += 1
        vdir = os.path.join(self.path, "versions")
        for fn in list(os.listdir(vdir)):
            if fn.startswith("v") and fn.endswith(".json"):
                if int(fn[1:-5]) not in keep:
                    os.remove(os.path.join(vdir, fn))
        # staging dirs abandoned by a crashed writer ("snap-*"): their
        # files were never referenced by any manifest
        import shutil

        for fn in list(os.listdir(self.path)):
            if fn.startswith("snap-"):
                shutil.rmtree(os.path.join(self.path, fn), ignore_errors=True)
        return removed
