"""Congress-member JSON pipeline (SURVEY S5, N5, F4-F5; reference
``scripts/ingest_politicians.py:54-232``).

The reference pages the Congress.gov /member endpoint driver-side, then
per-row Python: name split on first comma, 56-entry state-name→abbr dict,
terms-list min/max + active-flag derivation.  Spark-first: the fetched
pages land as JSON rows; every transform is a Column expression; the
state mapping is a broadcast lookup table (F5) instead of a dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from politician_etl_project_spark.functions.scalar import parse_last_first
from politician_etl_project_spark.schemas import MEMBER, local_frame

# 50 states + DC + territories, as the reference hardcodes
# (ingest_politicians.py:31-51).
STATE_ABBR = {
    "Alabama": "AL", "Alaska": "AK", "Arizona": "AZ", "Arkansas": "AR",
    "California": "CA", "Colorado": "CO", "Connecticut": "CT", "Delaware": "DE",
    "Florida": "FL", "Georgia": "GA", "Hawaii": "HI", "Idaho": "ID",
    "Illinois": "IL", "Indiana": "IN", "Iowa": "IA", "Kansas": "KS",
    "Kentucky": "KY", "Louisiana": "LA", "Maine": "ME", "Maryland": "MD",
    "Massachusetts": "MA", "Michigan": "MI", "Minnesota": "MN", "Mississippi": "MS",
    "Missouri": "MO", "Montana": "MT", "Nebraska": "NE", "Nevada": "NV",
    "New Hampshire": "NH", "New Jersey": "NJ", "New Mexico": "NM", "New York": "NY",
    "North Carolina": "NC", "North Dakota": "ND", "Ohio": "OH", "Oklahoma": "OK",
    "Oregon": "OR", "Pennsylvania": "PA", "Rhode Island": "RI", "South Carolina": "SC",
    "South Dakota": "SD", "Tennessee": "TN", "Texas": "TX", "Utah": "UT",
    "Vermont": "VT", "Virginia": "VA", "Washington": "WA", "West Virginia": "WV",
    "Wisconsin": "WI", "Wyoming": "WY", "District of Columbia": "DC",
    "Puerto Rico": "PR", "Guam": "GU", "American Samoa": "AS",
    "U.S. Virgin Islands": "VI", "Northern Mariana Islands": "MP",
}


def members_df(spark: SparkSession, records: list[dict]) -> DataFrame:
    """API page records (driver-fetched, S5) → typed DataFrame, a
    ``LocalRelation`` built through Arrow (:func:`~politician_etl_project_spark.
    schemas.local_frame`).  At real scale the id-partitioned fetch would
    run via mapInPandas over an id DataFrame (SURVEY S5 note)."""
    def _year(t: dict, year_key: str, date_key: str):
        # terms carry either integer years (startYear/endYear) or ISO
        # date strings (start/end); the schema is IntegerType, so the
        # date form MUST be parsed to its year — passing the raw string
        # through fails the Arrow conversion on the first such record
        y = t.get(year_key)
        if y is None:
            y = t.get(date_key)
        if isinstance(y, str):
            y = int(y[:4]) if y[:4].isdigit() else None
        return y

    rows = [
        (
            r.get("bioguideId"),
            r.get("name"),
            r.get("partyName"),
            r.get("state"),
            (
                [
                    (t.get("chamber"), _year(t, "startYear", "start"), _year(t, "endYear", "end"))
                    for t in (r.get("terms") or {}).get("item", [])
                ],
            ),
        )
        for r in records
    ]
    return local_frame(spark, rows, MEMBER)


def members_json_df(spark: SparkSession, path: str) -> DataFrame:
    """Engine-native twin of :func:`members_df`: a fetched member page
    saved as JSON is SCANNED by the JVM JSON reader instead of being
    flattened driver-side.  Both routes are cheap for one page —
    ``members_df`` ships its rows as one Arrow ``LocalRelation``, which
    starts no Python worker — but only this one never holds the records
    in the driver: at scale the staged pages are many files, and a
    schema'd file scan splits them across tasks while a local relation
    is bounded by driver memory.

    The per-term year coercion (integer startYear/endYear OR ISO
    start/end strings — the API emits both shapes) is the same rule as
    members_df's ``_year``, expressed as a codegen `transform`:
    ``coalesce(startYear, try_cast(substring(start, 1, 4)))``.  Returns
    the same MEMBER-typed columns, proven row-equal in tests."""
    from pyspark.sql import functions as F

    read_schema = (
        "members array<struct<bioguideId string, name string, partyName string,"
        " state string, terms struct<item array<struct<chamber string,"
        " startYear bigint, endYear bigint, start string, `end` string>>>>>"
    )
    raw = spark.read.schema(read_schema).option("multiLine", "true").json(path)
    return raw.select(F.explode("members").alias("m")).select(
        F.col("m.bioguideId").alias("bioguideId"),
        F.col("m.name").alias("name"),
        F.col("m.partyName").alias("partyName"),
        F.col("m.state").alias("state"),
        F.struct(
            F.expr(
                "transform(m.terms.item, t -> struct("
                "t.chamber AS chamber, "
                "cast(coalesce(t.startYear, try_cast(substring(t.start, 1, 4) AS bigint)) AS int) AS startYear, "
                "cast(coalesce(t.endYear, try_cast(substring(t.`end`, 1, 4) AS bigint)) AS int) AS endYear))"
            ).alias("item")
        ).alias("terms"),
    )


def state_lookup(spark: SparkSession) -> DataFrame:
    return local_frame(spark, list(STATE_ABBR.items()), "state_name string, state_abbr string")


def transform_members(members: DataFrame, states: DataFrame) -> DataFrame:
    """ingest_politicians.py:115-188 as one plan:

    - name split "Last, First[, Suffix]" on the FIRST comma (F4, :124-136;
      no comma → whole string is last_name)
    - state full-name → 2-letter via broadcast lookup; unknown state rows
      dropped (skip path :143-146)
    - chamber of the LAST term, "House of Representatives"→"House" (F5)
    - start_year = min over terms, end_year = max; missing end ⇒ active
      (N5/F15, :147-188)
    """
    name = parse_last_first("name")
    # try_element_at: a member with an EMPTY terms list yields a null
    # chamber instead of aborting the whole load under ANSI mode
    # (element_at(-1) on an empty array raises INVALID_ARRAY_INDEX)
    last_term = F.try_element_at("terms.item", F.lit(-1))
    start_years = F.expr("transform(terms.item, t -> t.startYear)")
    end_years = F.expr("filter(transform(terms.item, t -> t.endYear), y -> y is not null)")
    joined = members.join(
        F.broadcast(states), members.state == states.state_name, "inner"
    )
    return joined.select(
        F.col("bioguideId").alias("congress_id"),
        name.getField("first_name").alias("first_name"),
        name.getField("last_name").alias("last_name"),
        F.col("partyName").alias("party"),
        F.col("state_abbr").alias("state"),
        F.when(last_term.getField("chamber") == "House of Representatives", "House")
        .when(last_term.getField("chamber") == "Senate", "Senate")
        .otherwise(last_term.getField("chamber"))
        .alias("chamber"),
        F.array_min(start_years).cast("int").alias("start_year"),
        F.array_max(end_years).cast("int").alias("end_year"),
        (F.size("terms.item") > F.size(end_years)).alias("is_active"),
    )
