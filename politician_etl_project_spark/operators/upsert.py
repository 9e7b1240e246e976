"""Upsert / MERGE-semantics writers (SURVEY S11-S14, S17-S18; §7
hard-part 1).

The reference leans on Postgres conflict handling: ``ON CONFLICT DO
UPDATE`` (update wins — politicians/bills/committees,
``scripts/ingest_politicians.py:209-232``), ``ON CONFLICT DO NOTHING``
(first wins — donors/cosponsors, ``scripts/ingest_bulk_donations.py:112-116``),
and ``TRUNCATE`` + reload.  Without assuming Delta Lake, MERGE is
reproduced as a *deterministic key-dedup rewrite*:

    upsert(existing, incoming) = dedup-by-key(existing ∪ incoming)

where the dedup keeps the incoming row (update-wins) or the existing row
(first-wins) via an explicit precedence column + row_number — never
``dropDuplicates``, whose survivor is partition-order dependent.

Scale: the rewrite is one shuffle on the natural key.  On a real lake the
same functions feed ``MERGE INTO`` (Delta/Iceberg) via foreachBatch; the
precedence logic is identical.  The managed table that applies them is
``storage.SnapshotTable``: its ``upsert`` stages the merged rows and
publishes them as a new version, so a failed job never changes the
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from politician_etl_project_spark.storage import SnapshotTable

_INCOMING = 0
_EXISTING = 1


def _check_working_cols(*column_lists: list[str]) -> None:
    """Reserved working columns (_prec precedence, _rn row_number) must
    not collide with input columns — silently overwriting and dropping
    them would change tie-break order AND delete the user's column from
    the output (same contract as apply_changelog / write_zordered)."""
    clash = sorted({"_prec", "_rn"} & {c for cols in column_lists for c in cols})
    if clash:
        raise ValueError(
            f"merge/dedup reserves working columns {clash}; rename them in the inputs"
        )


def merge_keep(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    update_wins: bool = True,
) -> DataFrame:
    """Pure merge: one row per key.  update_wins=True replays
    ON CONFLICT DO UPDATE (S12); False replays DO NOTHING (S13).
    Deterministic for *any* partitioning: precedence is an explicit
    column, ties within a side are broken by all non-key columns."""
    _check_working_cols(existing.columns, incoming.columns)
    inc = incoming.withColumn("_prec", F.lit(_INCOMING if update_wins else _EXISTING))
    exi = existing.withColumn("_prec", F.lit(_EXISTING if update_wins else _INCOMING))
    unioned = inc.unionByName(exi)
    value_cols = [c for c in unioned.columns if c not in keys and c != "_prec"]
    w = Window.partitionBy(*keys).orderBy(F.asc("_prec"), *[F.asc(c) for c in value_cols])
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prec")
    )


def dedup_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Deterministic one-row-per-key: row_number ordered by all value
    columns.  The first-load analog of ``merge_keep`` — NEVER
    ``dropDuplicates``, whose survivor is partition-order dependent, so
    the initial warehouse content would vary across runs/clusters.
    A pure key tuple (no value columns) orders by the keys themselves —
    duplicate rows are then identical, so any survivor is the same row."""
    _check_working_cols(df.columns)
    value_cols = [c for c in df.columns if c not in keys] or list(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in value_cols])
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def surrogate_ids(
    df: DataFrame, order_cols: list[str], id_col: str, prefix_len: int = 8
) -> DataFrame:
    """S18: dense deterministic surrogate keys — equal to
    ``row_number() OVER (ORDER BY order_cols)`` but WITHOUT the
    single-task global sort that a no-partition window forces (at a
    billion-donor dimension that is the scale wall).  NEVER
    monotonically_increasing_id, whose values depend on partition layout
    (SURVEY §7 hard-part 2).

    Two-level plan when the lead order column is a string: rows bucket by
    an ORDER-PRESERVING prefix of it (byte-wise string comparison means
    prefix order == lead-key order across buckets; ties + the remaining
    order columns resolve inside a bucket), local row_number runs
    parallel per bucket, and each bucket's starting offset is a running
    sum over the tiny per-bucket count frame (≤ alphabet^prefix_len rows
    — the only single-task window left, and it's over bucket COUNTS, not
    data).  Skew bound: the largest set of keys sharing a
    ``prefix_len``-char prefix.  Non-string lead columns fall back to the
    global window (dimension keys here are strings).

    First-load only: on incremental loads use :func:`stable_ids`, else a
    new key that sorts before existing rows shifts every subsequent id
    and silently corrupts persisted FK references."""
    from pyspark.sql.types import StringType

    lead = order_cols[0]
    if not isinstance(df.schema[lead].dataType, StringType):
        w = Window.orderBy(*[F.asc(c) for c in order_cols])
        return df.withColumn(id_col, F.row_number().over(w))
    # NULL lead keys keep a NULL bucket: ASC windows are NULLS FIRST, and
    # sort/cumsum below use asc_nulls_first to match
    bucket = F.when(
        F.col(lead).isNull(), F.lit(None).cast("string")
    ).otherwise(F.substring(F.col(lead), 1, prefix_len))
    with_b = df.withColumn("_sid_bucket", bucket)
    counts = with_b.groupBy("_sid_bucket").agg(F.count("*").alias("_sid_n"))
    w_off = (
        Window.orderBy(F.asc_nulls_first("_sid_bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        F.col("_sid_bucket").alias("_sid_bucket2"),
        F.coalesce(F.sum("_sid_n").over(w_off), F.lit(0)).alias("_sid_off"),
    )
    w_local = Window.partitionBy("_sid_bucket").orderBy(*[F.asc(c) for c in order_cols])
    return (
        with_b.join(
            F.broadcast(offsets),
            F.col("_sid_bucket").eqNullSafe(F.col("_sid_bucket2")),
        )
        .withColumn(
            # BIGINT: an int cast would silently wrap past 2^31-1 on the
            # billion-row dimensions this function documents — colliding
            # surrogate keys corrupt every persisted FK reference
            id_col, (F.col("_sid_off") + F.row_number().over(w_local)).cast("bigint")
        )
        .drop("_sid_bucket", "_sid_bucket2", "_sid_off")
    )


def stable_ids(
    df: DataFrame,
    old_ids: DataFrame | None,
    keys: list[str],
    id_col: str,
) -> DataFrame:
    """S18, incremental form: surrogate ids that are STABLE across runs.

    Rows whose natural key already has an id keep it (join against the
    previous ``key -> id`` map); genuinely new keys get
    ``max(existing id) + row_number`` over natural-key order.  Persisted
    fact tables referencing old ids therefore stay valid — the failure
    mode of re-running ``surrogate_ids`` over a grown dimension (a key
    sorting before existing rows used to renumber everything after it).

    The id map is dimension-sized; the join broadcasts under AQE when
    small and degrades to a key shuffle when not.  The max id is a
    one-row aggregate broadcast into the same plan — no collect, so no
    job of its own."""
    if old_ids is None:
        return surrogate_ids(df, keys, id_col)
    old = old_ids.select(*keys, id_col)
    max_id = F.broadcast(
        old.agg(F.coalesce(F.max(id_col), F.lit(0)).cast("bigint").alias("_sid_max"))
    )
    joined = df.join(old, keys, "left")
    # BIGINT on both branches (an old int-typed map widens on read):
    # int ids wrap past 2^31-1 at the billion-row scale documented here
    kept = joined.filter(F.col(id_col).isNotNull()).withColumn(
        id_col, F.col(id_col).cast("bigint")
    )
    fresh = (
        surrogate_ids(joined.filter(F.col(id_col).isNull()).drop(id_col), keys, id_col)
        .crossJoin(max_id)
        .withColumn(id_col, (F.col(id_col) + F.col("_sid_max")).cast("bigint"))
        .drop("_sid_max")
    )
    return kept.unionByName(fresh)


def log_update(
    spark: SparkSession,
    table: SnapshotTable | None,
    table_name: str,
    n: int,
    status: str = "success",
    notes: str | None = None,
) -> DataFrame:
    """S17 watermark-log append (reference update_log INSERT,
    scripts/update_donations.py:37-49).  Returns the 1-row DataFrame; if a
    table is given, appends to it."""
    row = spark.sql(
        "SELECT current_timestamp() AS last_update"
    ).select(
        F.lit(table_name).alias("table_name"),
        "last_update",
        F.lit(n).cast("int").alias("records_updated"),
        F.lit(status).alias("status"),
        F.lit(notes).cast("string").alias("notes"),
    )
    if table is not None:
        table.append(row)
    return row


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    seq: str,
    op: str = "op",
    delete_op: str = "D",
    status_col: str | None = None,
) -> DataFrame:
    """Apply an ordered CDC changelog to a base snapshot and return the
    post-image (SURVEY S12/S13 generalized with delete semantics — the
    missing third verb; reference analog: scripts/update_donations.py's
    upsert loop, which has no delete path at all).

    ``changes`` carries ``key``, a totally-ordered ``seq`` (the
    change-log LSN / kafka offset), an ``op`` column whose value
    ``delete_op`` means "remove the key", any other value means
    "upsert", and new values for some subset of base's columns.  Per
    key, only the HIGHEST-``seq`` change wins (a delete followed by a
    later upsert resurrects the key; an upsert followed by a later
    delete removes it) — exactly MERGE semantics applied once per key
    instead of once per change row.

    Determinism: the winning change per key is ``max(struct(seq, op,
    values...))`` — lexicographic struct max, a plain aggregate that is
    partial-aggregation-safe (map-side combine) and deterministic even
    on duplicated ``seq`` values (ties fall through to op/value order),
    unlike ``max_by`` whose tie choice is undefined.

    Scale (100 TB): one aggregate shuffle compacts the changelog by key
    (map-side combine eats the long per-key histories typical of CDC
    streams), then ONE full-outer join against base on the same key —
    both sides hash-partitioned on ``key``, so AQE plans the minimal
    exchange; no window, no sort, no per-change iteration.  Keys absent
    from base insert (columns not covered by the changelog stay NULL);
    keys absent from the changelog carry forward untouched.

    ``status_col``: if set, the post-image carries 'inserted' /
    'updated' / 'carried' per surviving row for audit aggregation.
    """
    value_cols = [c for c in changes.columns if c not in (key, seq, op)]
    extra = [c for c in value_cols if c not in base.columns]
    if extra:
        raise ValueError(f"changelog value columns not in base: {extra}")
    reserved = {"_op", "_base_present", "_last"} | {f"_new_{c}" for c in value_cols}
    if status_col is not None:
        reserved.add(status_col)
    clash = sorted(reserved & (set(base.columns) | set(changes.columns)))
    if clash:
        raise ValueError(
            f"apply_changelog reserves working columns {clash}; rename them "
            "in the inputs (same contract as write_zordered's '_z')"
        )
    latest = (
        changes.groupBy(key)
        .agg(F.max(F.struct(seq, op, *value_cols)).alias("_last"))
        .select(
            key,
            F.col(f"_last.{op}").alias("_op"),
            *[F.col(f"_last.{c}").alias(f"_new_{c}") for c in value_cols],
        )
    )
    # presence marker instead of probing a base column for NULL: a base
    # column can be legitimately NULL, the marker cannot
    merged = base.withColumn("_base_present", F.lit(True)).join(
        latest, key, "full_outer"
    ).filter(F.col("_op").isNull() | (F.col("_op") != delete_op))
    out_cols = [F.col(key)]
    for c in base.columns:
        if c == key:
            continue
        if c in value_cols:
            out_cols.append(
                F.when(F.col("_op").isNotNull(), F.col(f"_new_{c}"))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            out_cols.append(F.col(c))
    if status_col is not None:
        out_cols.append(
            F.when(F.col("_op").isNull(), F.lit("carried"))
            .when(F.col("_base_present").isNull(), F.lit("inserted"))
            .otherwise(F.lit("updated"))
            .alias(status_col)
        )
    return merged.select(*out_cols)
