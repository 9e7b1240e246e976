"""Committee YAML pipeline (SURVEY S8, N6; reference
``scripts/ingest_committees.py:19-95,155-222``).

YAML has no distributed reader; the reference fetches two YAML documents
over HTTP.  The parse stays driver-side (documents are ~100 KB), then the
hierarchy flatten — parents + nested subcommittees with synthesized ids —
is pure DataFrame ops on an ArrayType column.

Field-swap gotcha preserved from the reference (:64-65): in the upstream
YAML, ``type`` holds the chamber and ``thomas_id`` prefixes subcommittee
ids.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, StringType, StructField, StructType

from politician_etl_project_spark.schemas import local_frame

SUBCOMMITTEE = StructType(
    [StructField("name", StringType()), StructField("thomas_id", StringType())]
)
COMMITTEE_RAW = StructType(
    [
        StructField("name", StringType()),
        StructField("type", StringType()),       # upstream: chamber lives here
        StructField("thomas_id", StringType()),
        StructField("house_committee_id", StringType()),
        StructField("senate_committee_id", StringType()),
        StructField("url", StringType()),
        StructField("subcommittees", ArrayType(SUBCOMMITTEE)),
    ]
)

MEMBERSHIP = StructType(
    [
        StructField("committee_id", StringType()),
        StructField("name", StringType()),
        StructField("bioguide", StringType()),
        StructField("rank", IntegerType()),
        StructField("title", StringType()),
        StructField("party", StringType()),
    ]
)


def committees_df(spark: SparkSession, docs: Iterable[dict[str, Any]]) -> DataFrame:
    """Driver-parsed YAML dicts → typed DataFrame (S8: driver fetch +
    an Arrow ``LocalRelation``, :func:`~politician_etl_project_spark.
    schemas.local_frame`; the flatten runs distributed)."""
    rows = [
        (
            d.get("name"),
            d.get("type"),
            d.get("thomas_id"),
            d.get("house_committee_id"),
            d.get("senate_committee_id"),
            d.get("url"),
            [(s.get("name"), s.get("thomas_id")) for s in d.get("subcommittees", []) or []],
        )
        for d in docs
    ]
    return local_frame(spark, rows, COMMITTEE_RAW)


def flatten_committees(raw: DataFrame) -> DataFrame:
    """Parents ∪ subcommittees with synthesized ids (N6,
    ingest_committees.py:48-95): committee_id = house/senate id or
    thomas_id; subcommittee id = parent_id + sub.thomas_id, carrying
    parent_committee_id for the self-FK hierarchy."""
    parent_id = F.coalesce("house_committee_id", "senate_committee_id", "thomas_id")
    parents = raw.select(
        parent_id.alias("committee_id"),
        F.col("name"),
        F.col("type").alias("chamber"),  # upstream field swap (:64-65)
        F.lit("standing").alias("type"),
        F.col("url"),
        F.lit(None).cast("string").alias("parent_committee_id"),
        F.col("thomas_id"),
    )
    subs = raw.select(
        parent_id.alias("pid"),
        F.col("type").alias("pchamber"),
        F.explode_outer("subcommittees").alias("s"),
    ).filter(F.col("s").isNotNull())
    sub_rows = subs.select(
        F.concat(F.col("pid"), F.col("s.thomas_id")).alias("committee_id"),
        F.col("s.name").alias("name"),
        F.col("pchamber").alias("chamber"),
        F.lit("subcommittee").alias("type"),
        F.lit(None).cast("string").alias("url"),
        F.col("pid").alias("parent_committee_id"),
        F.col("s.thomas_id").alias("thomas_id"),
    )
    return parents.unionByName(sub_rows)


def memberships_df(spark: SparkSession, doc: dict[str, Any]) -> DataFrame:
    """memberships YAML: {committee_id: [{name, bioguide, rank, title?,
    party}]} → rows (ingest_committees.py:155-222)."""
    rows = []
    for cid, members in doc.items():
        for m in members or []:
            rows.append(
                (cid, m.get("name"), m.get("bioguide"), m.get("rank"), m.get("title"), m.get("party"))
            )
    return local_frame(spark, rows, MEMBERSHIP)


def committee_hierarchy(committees: DataFrame) -> DataFrame:
    """Self-join on parent_committee_id (SURVEY J5): every subcommittee
    with its parent's name/chamber — the reference navigates this via the
    ORM relationship (app/models.py:126-131)."""
    parents = committees.select(
        F.col("committee_id").alias("parent_id"),
        F.col("name").alias("parent_name"),
        F.col("chamber").alias("parent_chamber"),
    )
    return committees.filter(F.col("parent_committee_id").isNotNull()).join(
        F.broadcast(parents),
        F.col("parent_committee_id") == F.col("parent_id"),
    ).select("committee_id", "name", "parent_id", "parent_name", "parent_chamber")
