"""Incremental materialized-rollup maintenance.

The reference recomputes its dashboard aggregates from scratch on every
page load (app/app.py metric queries re-scan donations per request); at
100 TB a full rescan per refresh is the first thing that dies.  This
operator keeps a materialized aggregate as ADDITIVE PARTIALS (count +
exact-decimal sum per group) in a bucket-partitioned parquet store, so a
delta batch folds in by:

1. aggregating the delta alone (one shuffle over O(delta) rows),
2. reading ONLY the store buckets the delta touches (partition-pruned
   scan — the touched-bucket list is O(buckets), collected to the
   driver),
3. re-aggregating store-partials ∪ delta-partials for those buckets and
   dynamic-partition-overwriting just those directories.

Because (n, Σ) partials form a commutative monoid (the same contract as
q_moments_mergeable / q_hll_mergeable), merge order never matters and
the maintained store is bit-equal to a full recompute — which is exactly
what the q_incremental_rollup oracle asserts.

Idempotency (WAL-style two-phase commit per batch): the merged hot
buckets are STAGED first, then a ``<batch>.pending`` marker lands, then
the dynamic partition overwrite applies the staged data, then one
atomic rename flips the marker to done and the staging is GC'd.  A
crash before the pending marker leaves the store untouched (replay
recomputes); a crash after it — including MID-overwrite — is recovered
by re-applying the retained staged data (idempotent: same content into
the same partitions) and completing the marker; a crash after the done
rename makes the replay a pure no-op.  So replaying a batch
(crash-retry, at-least-once upstream) never double-counts, even across
the overwrite window itself.  Derived measures (averages, ratios) are
computed at SERVE time from the partials, never stored — storing a
mean would make the store non-mergeable.
"""

from __future__ import annotations

import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class RollupStore:
    """Bucket-partitioned store of additive aggregate partials."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        group_cols: Sequence[str],
        n_buckets: int = 8,
    ) -> None:
        self.spark = spark
        self.path = path
        self.group_cols = list(group_cols)
        self.n_buckets = n_buckets

    # -- partial computation ------------------------------------------------

    def _partials(self, df: DataFrame) -> DataFrame:
        """Aggregate rows to (group, n, s) partials.  Input must carry the
        group columns plus a DECIMAL `measure` column (exact — sums are
        order-independent, so partials merge associatively)."""
        return df.groupBy(*self.group_cols).agg(
            F.count("*").alias("n"),
            F.sum("measure").cast("decimal(18,2)").alias("s"),
        )

    def _with_bucket(self, partials: DataFrame) -> DataFrame:
        # internal routing only — never reaches a query output, so Spark's
        # native hash is fine here (md5 discipline is for oracle-visible
        # values)
        return partials.withColumn(
            "bucket", F.pmod(F.hash(*self.group_cols), F.lit(self.n_buckets))
        )

    # -- lifecycle ----------------------------------------------------------

    def exists(self) -> bool:
        """A root ``_SUCCESS`` only appears on static-overwrite builds;
        DYNAMIC partition overwrite (every merge commit) writes its
        markers inside the partition dirs — so presence is 'any bucket
        partition OR a legacy static _SUCCESS'.  Checking _SUCCESS alone
        made a bootstrap-by-merge store look absent to the NEXT merge,
        which then silently dropped the existing partials."""
        if os.path.exists(os.path.join(self.path, "_SUCCESS")):
            return True
        if not os.path.isdir(self.path):
            return False
        return any(fn.startswith("bucket=") for fn in os.listdir(self.path))

    def _schema_file(self) -> str:
        return os.path.join(self.path, "_partials_schema.json")

    def _read_store(self) -> DataFrame:
        """Schema-pinned read: an EMPTY store (built from an empty base —
        day-one pipelines) has no parquet footer to infer from, so the
        schema written at build time is always applied."""
        reader = self.spark.read
        if os.path.exists(self._schema_file()):
            from pyspark.sql.types import StructType

            with open(self._schema_file()) as fh:
                reader = reader.schema(StructType.fromJson(__import__("json").load(fh)))
        return reader.parquet(self.path)

    def build(self, df: DataFrame) -> None:
        """Full (re)build from a base dataset."""
        partials = self._with_bucket(self._partials(df))
        partials.write.partitionBy("bucket").mode("overwrite").parquet(self.path)
        import json

        with open(self._schema_file(), "w") as fh:
            json.dump(partials.schema.jsonValue(), fh)

    def _marker(self, batch_id: str) -> str:
        return os.path.join(self.path, "_merged_batches", batch_id)

    def merged_already(self, batch_id: str) -> bool:
        return os.path.exists(self._marker(batch_id))

    def _staging(self, batch_id: str) -> str:
        """Staging dir for a KEYED batch — stable across crash recovery
        (the pending-replay path must find the same staged data again).
        Adhoc (batch_id-less) merges get a uuid-suffixed path minted per
        call in :meth:`merge` instead: a fixed '.staging-adhoc' path let
        two concurrent adhoc merges on the same store overwrite each
        other's staged data mid-commit and apply each other's partials
        (same discipline as SnapshotTable._stage_files)."""
        return f"{self.path}.staging-{batch_id}"

    def _apply_staged(self, batch_id: Optional[str], staging: str) -> None:
        """Phase 2 of the commit: dynamic-overwrite the touched buckets
        from the staged merged data (per-write option — never the
        session-global conf, which would flip concurrent writers'
        overwrite semantics), flip the pending marker to done, GC the
        staging.  Idempotent: re-applying the same staged content to the
        same partitions converges, which is what makes crash recovery
        MID-overwrite safe."""
        import shutil

        staged = self.spark.read.parquet(staging)
        (
            staged.write.partitionBy("bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(self.path)
        )
        if batch_id is not None:
            os.rename(self._pending(batch_id), self._marker(batch_id))  # commit point
        shutil.rmtree(staging, ignore_errors=True)
        self.spark.catalog.refreshByPath(self.path)

    def _pending(self, batch_id: str) -> str:
        return self._marker(batch_id) + ".pending"

    def merge(
        self,
        delta: DataFrame,
        batch_id: Optional[str] = None,
        dry_run: bool = False,
    ) -> DataFrame:
        """Fold a delta batch into the store; returns the post-merge rollup
        (all groups).  Reads only the buckets the delta touches.  With
        ``dry_run`` the merged frame is returned without mutating the
        store (pure — the driver-verified query path).  With a
        ``batch_id`` replay is exactly-once via the two-phase commit in
        the module docstring.  A store that does not exist yet is an
        empty current state — streaming callers need no separate build
        branch (and so no unguarded first-batch window)."""
        import shutil

        if batch_id is not None and self.merged_already(batch_id):
            # done — GC a staging dir a crash-after-commit left behind
            shutil.rmtree(self._staging(batch_id), ignore_errors=True)
            return self._read_store().drop("bucket")
        if batch_id is not None and os.path.exists(self._pending(batch_id)):
            # crash between pending and done: the staged merge is the
            # truth (the overwrite may have partially applied — a
            # recompute from store+delta would double-count those
            # buckets); re-apply it and complete the commit
            if not os.path.exists(os.path.join(self._staging(batch_id), "_SUCCESS")):
                raise RuntimeError(
                    f"pending marker without staged data for {batch_id} at "
                    f"{self.path} — staging was tampered with; rebuild the store"
                )
            self._apply_staged(batch_id, self._staging(batch_id))
            return self._read_store().drop("bucket")

        d = self._with_bucket(self._partials(delta))
        if self.exists():
            store = self._read_store()
        else:  # first batch: empty current state, schema from the delta
            store = self.spark.createDataFrame([], d.schema)
        # O(n_buckets) driver list — same discipline as the
        # touched-partition MERGE in operators/upsert.py
        touched = [r["bucket"] for r in d.select("bucket").distinct().collect()]
        hot = store.filter(F.col("bucket").isin(touched))  # partition-pruned
        cold = store.filter(~F.col("bucket").isin(touched))
        merged_hot = (
            hot.unionByName(d)
            .groupBy(*self.group_cols, "bucket")
            .agg(F.sum("n").cast("bigint").alias("n"), F.sum("s").cast("decimal(18,2)").alias("s"))
        )
        if not dry_run:
            first_build = not self.exists()
            if batch_id is not None:
                staging = self._staging(batch_id)
            else:
                import uuid

                staging = f"{self.path}.staging-adhoc-{uuid.uuid4().hex}"
            merged_hot.write.mode("overwrite").parquet(staging)
            if batch_id is not None:
                os.makedirs(self._pending(batch_id), exist_ok=True)
            self._apply_staged(batch_id, staging)
            if first_build and not os.path.exists(self._schema_file()):
                import json

                with open(self._schema_file(), "w") as fh:
                    json.dump(self._with_bucket(self._partials(delta)).schema.jsonValue(), fh)
            return self._read_store().drop("bucket")
        return merged_hot.drop("bucket").unionByName(cold.drop("bucket"))

    def serve(self) -> DataFrame:
        """Final measures derived from partials at read time."""
        return self._read_store().drop("bucket")
