"""Explicit StructType schemas for the reference data model (SURVEY §1.2)
and its raw ingest inputs (SURVEY §1.2 'Raw ingest-side schemas').

The reference declares its model twice — SQLAlchemy ORM
(``app/models.py:11-148``) and raw DDL (``sql/creations.sql``).  Here the
single source of truth is one StructType per table; money is
``DecimalType(12,2)`` (``app/models.py:57`` NUMERIC(12,2)) because the
oracle comparison is hash-exact (SURVEY §7 hard-part 5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(name: str) -> StructField:
    return StructField(name, StringType())


def _i(name: str) -> StructField:
    return StructField(name, IntegerType())


# --- core model (app/models.py:11-148; sql/creations.sql) -------------------

POLITICIANS = StructType(
    [
        _i("politician_id"),
        _s("congress_id"),  # bioguide, unique (models.py:14)
        _s("fec_candidate_id"),
        _s("fec_committee_id"),
        _s("first_name"),
        _s("last_name"),
        _s("party"),
        _s("state"),
        _s("chamber"),
        StructField("date_of_birth", DateType()),
        StructField("is_active", BooleanType()),
        _i("start_year"),
        _i("end_year"),
    ]
)

DONORS = StructType(
    [
        _i("donor_id"),
        _s("donor_source_key"),  # NAME|ZIP|EMPLOYER (ingest_bulk_donations.py:98-100)
        _s("name"),
        _s("donor_type"),  # PAC / Individual (models.py:41)
        _s("industry"),
        _s("city"),
        _s("state"),
        _s("zip_code"),
        _s("employer"),
        _s("occupation"),
    ]
)

DONATIONS = StructType(
    [
        _i("donation_id"),
        _i("politician_id"),
        _i("donor_id"),
        StructField("amount", DecimalType(12, 2)),  # models.py:57 Numeric(12,2)
        StructField("date", DateType()),
        _s("fec_filing_id"),
    ]
)

BILLS = StructType(
    [
        _i("bill_id"),
        _s("official_bill_number"),
        _i("congress"),
        _s("title"),
        _s("summary"),
        StructField("date_introduced", DateType()),
        _s("status"),
        _s("bill_type"),
        _i("sponsor_id"),
    ]
)

BILL_COSPONSORS = StructType(
    [
        _i("cosponsor_id"),
        _i("bill_id"),
        _i("politician_id"),
        StructField("sponsorship_date", DateType()),
        StructField("is_original_cosponsor", BooleanType()),
    ]
)

VOTES = StructType(
    [
        _i("vote_id"),
        _i("politician_id"),
        _i("bill_id"),
        StructField("date", DateType()),
        _s("vote_position"),  # Yea/Nay/... (models.py:108)
        _s("vote_category"),
    ]
)

COMMITTEES = StructType(
    [
        _s("committee_id"),  # 'HSAG', subcommittee 'HSAG01' (models.py:119)
        _s("name"),
        _s("chamber"),
        _s("type"),
        _s("url"),
        _s("parent_committee_id"),  # self-FK (models.py:126-131)
        _s("thomas_id"),
    ]
)

COMMITTEE_ASSIGNMENTS = StructType(
    [
        _i("id"),
        _i("politician_id"),
        _s("committee_id"),
        _i("rank"),
        _s("role"),
        _s("party"),  # majority/minority (models.py:144)
        _i("congress"),
    ]
)

UPDATE_LOG = StructType(
    [
        _i("log_id"),
        _s("table_name"),
        StructField("last_update", TimestampType()),
        _i("records_updated"),
        _s("status"),
        _s("notes"),
    ]
)

# --- raw ingest inputs ------------------------------------------------------

# FEC itcont.txt: 21 pipe-delimited columns, all read as strings
# (scripts/ingest_bulk_donations.py:28-33; dtype=str).
FEC_ITCONT_COLUMNS = [
    "CMTE_ID", "AMNDT_IND", "RPT_TP", "TRANSACTION_PGI", "IMAGE_NUM",
    "TRANSACTION_TP", "ENTITY_TP", "NAME", "CITY", "STATE", "ZIP_CODE",
    "EMPLOYER", "OCCUPATION", "TRANSACTION_DT", "TRANSACTION_AMT",
    "OTHER_ID", "TRAN_ID", "FILE_NUM", "MEMO_CD", "MEMO_TEXT", "SUB_ID",
]
FEC_ITCONT = StructType([_s(c) for c in FEC_ITCONT_COLUMNS])

# ccl.txt candidate-committee linkage: 7 columns (ingest_bulk_donations.py:24-27)
FEC_CCL_COLUMNS = [
    "CAND_ID", "CAND_ELECTION_YR", "FEC_ELECTION_YR", "CMTE_ID",
    "CMTE_TP", "CMTE_DSGN", "LINKAGE_ID",
]
FEC_CCL = StructType([_s(c) for c in FEC_CCL_COLUMNS])

# cn.txt candidate master: 15 columns (ingest_fec_links.py:20-25)
FEC_CN_COLUMNS = [
    "CAND_ID", "CAND_NAME", "CAND_PTY_AFFILIATION", "CAND_ELECTION_YR",
    "CAND_OFFICE_ST", "CAND_OFFICE", "CAND_OFFICE_DISTRICT", "CAND_ICI",
    "CAND_STATUS", "CAND_PCC", "CAND_ST1", "CAND_ST2", "CAND_CITY",
    "CAND_ST", "CAND_ZIP",
]
FEC_CN = StructType([_s(c) for c in FEC_CN_COLUMNS])

# Vote data.json (scripts/ingest_votes.py:107-147): votes is a map of
# position -> array of voter structs; the literal "VP" string entries
# surface as structs with null fields under permissive parsing (N2).
VOTE_VOTER = StructType([_s("id"), _s("display_name"), _s("party"), _s("state")])
VOTE_BILL = StructType([_s("type"), StructField("number", IntegerType()), _i("congress")])
VOTE_FILE = StructType(
    [
        _s("category"),
        _s("date"),
        StructField("bill", VOTE_BILL),
        StructField("votes", StructType([])),  # overridden per-read: map<string,array<voter>>
    ]
)

# congress-members.json (scripts/ingest_politicians.py:115-188)
MEMBER_TERM = StructType(
    [
        _s("chamber"),
        _i("startYear"),
        _i("endYear"),
    ]
)
MEMBER = StructType(
    [
        _s("bioguideId"),
        _s("name"),  # "Last, First[, Suffix]"
        _s("partyName"),
        _s("state"),  # full state name
        StructField("terms", StructType([StructField("item", ArrayType(MEMBER_TERM))])),
    ]
)


def local_frame(
    spark: SparkSession, rows: Sequence[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side rows as a ``LocalRelation`` (``LocalTableScan``): the
    rows reach the JVM as one Arrow table.  ``createDataFrame`` of a
    Python list plans ``Scan ExistingRDD`` instead, and every job over
    that scan starts Python workers only to deserialize the rows
    (seconds of executor time for a few hundred member records).

    ``rows`` are tuples in ``schema``'s column order, nested structs as
    tuples too; ``schema`` is a StructType or a DDL string.  Gives the
    schema and rows of ``spark.createDataFrame(rows, schema)``
    (tests/test_sources.py)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table)
