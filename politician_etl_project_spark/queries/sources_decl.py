"""Declared queries that put the SOURCE operator families (SURVEY S1-S8,
N1-N6, F6-F8, F16, J8) under the driver's hard correctness gate.

The driver only provides the ten parquet tables, so each query here
materializes a small DETERMINISTIC fixture file under a fixed /tmp path
(idempotent tmp-file + rename; content is literal, never random) and
runs the real source module against it — the same modules the warehouse
ETL uses.  The oracles read the SAME fixture through DuckDB's own
readers (read_csv / read_text + json_each) or, where DuckDB has no
reader (XML, YAML), assert the hand-derived expected rows as literal
VALUES — independent of the implementation either way.

Reference surfaces covered: pipe-CSV chunk scan + coercions
(scripts/ingest_bulk_donations.py:85-151), recursive vote JSON with the
heterogeneous '"VP"' voter arrays (scripts/ingest_votes.py:82-178),
billstatus XML cosponsor extraction (scripts/update_bills.py:155-239),
committee YAML hierarchy flatten (scripts/ingest_committees.py:19-95).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from politician_etl_project_spark.catalog import stored_path
from politician_etl_project_spark.queries.registry import declared_query

FIXTURE_DIR = os.path.join(tempfile.gettempdir(), "spark_graft_fixtures_v1")

# --- fixture payloads (literal, deterministic) -----------------------------

_ITCONT_ROWS = [
    # CMTE_ID|AMNDT|RPT|PGI|IMG|TTP|ENTITY|NAME|CITY|STATE|ZIP|EMPLOYER|OCC|DT|AMT|OTH|TRAN|FILE|MEMOCD|MEMOTXT|SUB
    "C001|N|YE||img|15|IND|ALICE SMITH|AUSTIN|TX|78701|ACME|ENG|03152024|250.00||||||SUB001",
    "C001|N|YE||img|15|IND|ALICE SMITH|AUSTIN|TX|78701|ACME|ENG|04012024|100.50||||||SUB002",
    "C001|A|YE||img|15|IND|AMENDED ROW|AUSTIN|TX|78701|ACME|ENG|03152024|999.00||||||SUB003",
    "C001|N|YE||img|15|PAC|GOOD GOV PAC|DALLAS|TX|75201|PAC LLC|ORG|05202024|5000.00||||||SUB004",
    "C001|N|YE||img|15|ORG|CIVIC ORG|DALLAS|TX|75201||ORG|05212024|750.25||||||SUB005",
    "C002|N|YE||img|15|IND|BOB JONES|HOUSTON|TX|77002|WIDGETS|MGR|06012024|42.42||||||SUB006",
    "C002|N|YE||img|15|IND|BOB JONES|HOUSTON|TX|77002|WIDGETS|MGR|13459999|10.00||||||SUB007",
    "C002|N|YE||img|15|IND|CARA LEE|MIAMI|FL|33101||NURSE|07042024|not_a_number||||||SUB008",
    "C002|N|YE||img|15|COM|JOINT CMTE|MIAMI|FL|33101|JC|ORG|07052024|1200.00||||||SUB009",
    "C003|N|YE||img|15|IND|DAN WU|RENO|NV|89501|CASINO|DLR|08152024|300.00||||||SUB010",
    "C003|N|YE||img|15|IND||RENO|NV|89501||DLR|08162024|75.00||||||SUB011",
    "C999|N|YE||img|15|IND|ED UNTARGETED|NYC|NY|10001|BANK|ANL|09012024|10000.00||||||SUB012",
    # short malformed line (S3 tolerance: PERMISSIVE pads with nulls ->
    # amount/date null -> dropped by the transform)
    "C001|N|YE||img|15|IND|SHORT LINE|AUSTIN|TX",
]

_VOTE_FILE_1 = {
    "category": "passage",
    "date": "2024-01-15",
    "bill": {"type": "hr", "number": 100, "congress": 118},
    "votes": {
        "Yea": [
            {"id": "A000001", "party": "D", "state": "TX"},
            {"id": "A000002", "party": "R", "state": "FL"},
            "VP",
        ],
        "Nay": [{"id": "A000003", "party": "R", "state": "NV"}],
    },
}
_VOTE_FILE_2 = {
    "category": "passage",
    "date": "2024-02-20",
    "bill": {"type": "s", "number": 55, "congress": 118},
    "votes": {
        "Yea": [{"id": "A000003", "party": "R", "state": "NV"}],
        "Not Voting": [{"id": "A000001", "party": "D", "state": "TX"}],
    },
}
# N3: nominations and missing bills are skipped
_VOTE_FILE_3 = {
    "category": "nomination",
    "date": "2024-03-01",
    "votes": {"Yea": [{"id": "A000009", "party": "D", "state": "CA"}]},
}

_BILL_XML_1 = """<billStatus>
  <bill>
    <congress>118</congress>
    <type>hr</type>
    <number>100</number>
    <title>Data Act</title>
    <introducedDate>2023-03-15</introducedDate>
    <sponsors><item><bioguideId>S000001</bioguideId></item></sponsors>
    <cosponsors>
      <item>
        <bioguideId>A000001</bioguideId>
        <sponsorshipDate>2023-03-16</sponsorshipDate>
        <isOriginalCosponsor>True</isOriginalCosponsor>
      </item>
      <item>
        <bioguideId>A000002</bioguideId>
        <sponsorshipDate>2023-04-01</sponsorshipDate>
        <isOriginalCosponsor>false</isOriginalCosponsor>
      </item>
    </cosponsors>
    <summaries><summary><text>A bill about data.</text></summary></summaries>
  </bill>
</billStatus>
"""
_BILL_XML_2 = """<billStatus>
  <bill>
    <congress>118</congress>
    <type>s</type>
    <number>55</number>
    <title>Ethics Act</title>
    <introducedDate>2023-05-02</introducedDate>
    <sponsors><item><bioguideId>S000002</bioguideId></item></sponsors>
    <cosponsors>
      <item>
        <bioguideId>A000003</bioguideId>
        <sponsorshipDate>2023-05-10</sponsorshipDate>
        <isOriginalCosponsor>true</isOriginalCosponsor>
      </item>
    </cosponsors>
  </bill>
</billStatus>
"""
# no cosponsors at all: explode_outer + null filter must drop it cleanly
_BILL_XML_3 = """<billStatus>
  <bill>
    <congress>119</congress>
    <type>hr</type>
    <number>7</number>
    <title>Short Act</title>
    <introducedDate>2025-01-09</introducedDate>
    <sponsors><item><bioguideId>S000003</bioguideId></item></sponsors>
  </bill>
</billStatus>
"""

_COMMITTEES_YAML = """\
- name: Committee on Data
  type: house
  thomas_id: HSDA
  house_committee_id: HSDA00
  url: https://example.test/data
  subcommittees:
    - name: Subcommittee on Storage
      thomas_id: "01"
    - name: Subcommittee on Compute
      thomas_id: "02"
- name: Committee on Ethics
  type: senate
  thomas_id: SSET
  senate_committee_id: SSET00
- name: Joint Committee on Printing
  type: joint
  thomas_id: JSPR
"""


# Congress-member API page (reference ingest_politicians.py:54-232):
# every transform edge is present — comma name split (M001), no-comma
# name (M002), suffix after a second comma kept in first_name (M003),
# unknown state dropped (M004), EMPTY terms list (M005: null chamber,
# sentinel years), and ISO-date term years instead of integers (M006).
_MEMBERS_PAGE = [
    {
        "bioguideId": "M001", "name": "Smith, Alice", "partyName": "D",
        "state": "Texas",
        "terms": {"item": [
            {"chamber": "House of Representatives", "startYear": 2019, "endYear": 2021},
            {"chamber": "Senate", "startYear": 2021},
        ]},
    },
    {
        "bioguideId": "M002", "name": "Cher", "partyName": "I",
        "state": "California",
        "terms": {"item": [
            {"chamber": "House of Representatives", "startYear": 2017, "endYear": 2019},
        ]},
    },
    {
        "bioguideId": "M003", "name": "Jones, Bob, Jr.", "partyName": "R",
        "state": "New York",
        "terms": {"item": [
            {"chamber": "House of Representatives", "startYear": 2015, "endYear": 2017},
            {"chamber": "House of Representatives", "startYear": 2017, "endYear": 2019},
            {"chamber": "House of Representatives", "startYear": 2019},
        ]},
    },
    {
        "bioguideId": "M004", "name": "Doe, Jane", "partyName": "R",
        "state": "Atlantis",
        "terms": {"item": [{"chamber": "Senate", "startYear": 2011, "endYear": 2017}]},
    },
    {
        "bioguideId": "M005", "name": "Term, Less", "partyName": "R",
        "state": "Nevada",
        "terms": {"item": []},
    },
    {
        "bioguideId": "M006", "name": "Dates, Ann", "partyName": "D",
        "state": "Guam",
        "terms": {"item": [
            {"chamber": "Senate", "start": "2020-01-03", "end": "2024-01-03"},
        ]},
    },
]


def _write(path: str, text: str) -> None:
    if os.path.exists(path):
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def ensure_fixtures() -> str:
    """Write every fixture (idempotent); returns the fixture root."""
    d = FIXTURE_DIR
    _write(os.path.join(d, "itcont.txt"), "\n".join(_ITCONT_ROWS) + "\n")
    for i, doc in enumerate([_VOTE_FILE_1, _VOTE_FILE_2, _VOTE_FILE_3], start=1):
        _write(os.path.join(d, "votes", f"vote{i}", "data.json"), json.dumps(doc, indent=1))
    for i, xml in enumerate([_BILL_XML_1, _BILL_XML_2, _BILL_XML_3], start=1):
        _write(os.path.join(d, "bills", f"BILLSTATUS-{i}.xml"), xml)
    _write(os.path.join(d, "committees.yaml"), _COMMITTEES_YAML)
    _write(os.path.join(d, "members.json"), json.dumps({"members": _MEMBERS_PAGE}, indent=1))
    return d


# write at import too: load_all() imports this module before the driver
# runs EITHER side, so the oracle's read_csv/read_text never races the
# Spark query for fixture existence
ensure_fixtures()

_ITCONT_PATH = os.path.join(FIXTURE_DIR, "itcont.txt")
_VOTES_GLOB = os.path.join(FIXTURE_DIR, "votes", "*", "data.json")
_BILLS_GLOB = os.path.join(FIXTURE_DIR, "bills", "*.xml")
_YAML_PATH = os.path.join(FIXTURE_DIR, "committees.yaml")

_ITCONT_NAMES = (
    "'CMTE_ID','AMNDT_IND','RPT_TP','TRANSACTION_PGI','IMAGE_NUM',"
    "'TRANSACTION_TP','ENTITY_TP','NAME','CITY','STATE','ZIP_CODE',"
    "'EMPLOYER','OCCUPATION','TRANSACTION_DT','TRANSACTION_AMT',"
    "'OTHER_ID','TRAN_ID','FILE_NUM','MEMO_CD','MEMO_TEXT','SUB_ID'"
)


@declared_query(
    "q_src_fec_csv",
    oracle=f"""
WITH raw AS (
  SELECT * FROM read_csv('{_ITCONT_PATH}', delim='|', header=false,
                         names=[{_ITCONT_NAMES}], all_varchar=true,
                         null_padding=true)
), typed AS (
  SELECT CMTE_ID AS fec_committee_id,
         coalesce(NAME,'') || '|' || coalesce(ZIP_CODE,'') || '|' || coalesce(EMPLOYER,'') AS donor_uid,
         CASE WHEN ENTITY_TP IN ('PAC','COM','ORG') THEN 'PAC' ELSE 'Individual' END AS donor_type,
         CAST(try_strptime(TRANSACTION_DT, '%m%d%Y') AS DATE) AS date,
         try_cast(TRANSACTION_AMT AS DECIMAL(12,2)) AS amount
  FROM raw
  WHERE AMNDT_IND = 'N' AND CMTE_ID IN ('C001','C002','C003')
)
SELECT fec_committee_id, donor_type,
       CAST(COUNT(*) AS BIGINT) AS n_donations,
       CAST(COUNT(DISTINCT donor_uid) AS BIGINT) AS n_donors,
       CAST(SUM(amount) AS DOUBLE) AS total_amount,
       strftime(MIN(date), '%Y-%m-%d') AS first_date,
       strftime(MAX(date), '%Y-%m-%d') AS last_date
FROM typed
WHERE amount IS NOT NULL AND date IS NOT NULL
GROUP BY fec_committee_id, donor_type
ORDER BY fec_committee_id, donor_type
""",
    ops=("S1", "S2", "S3", "F6", "F7", "F8", "P2", "P4", "P6", "A2"),
    doc="The FEC bulk pipe-CSV chunk pipeline (reference "
    "ingest_bulk_donations.py:85-151) against a deterministic fixture, "
    "verified cell-for-cell against DuckDB's OWN csv reader: headerless "
    "pipe scan tolerating a short line (PERMISSIVE ~ null_padding), "
    "amendment filter, committee IN-set, null-safe composite donor uid, "
    "MMDDYYYY try-parse, decimal try-cast, null drops, then a grouped "
    "rollup.  Every coercion edge (bad date, bad amount, null name/"
    "employer, short line) is present in the fixture.",
)
def q_src_fec_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.sources import fec

    ensure_fixtures()
    target = spark.createDataFrame([("C001",), ("C002",), ("C003",)], "CMTE_ID string")
    raw = fec.transform_donations(fec.read_itcont(spark, _ITCONT_PATH), target)
    return (
        raw.groupBy("fec_committee_id", "donor_type")
        .agg(
            F.count("*").alias("n_donations"),
            F.countDistinct("donor_uid").alias("n_donors"),
            F.sum("amount").alias("total_amount"),
            F.date_format(F.min("date"), "yyyy-MM-dd").alias("first_date"),
            F.date_format(F.max("date"), "yyyy-MM-dd").alias("last_date"),
        )
        .orderBy("fec_committee_id", "donor_type")
    )


@declared_query(
    "q_src_votes_json",
    oracle=f"""
WITH files AS (
  SELECT content AS j FROM read_text('{_VOTES_GLOB}')
), valid AS (
  SELECT j FROM files
  WHERE json_extract_string(j, '$.category') <> 'nomination'
    AND json_extract(j, '$.bill') IS NOT NULL
), positions AS (
  SELECT t.j, k AS vote_position,
         json_extract(t.j, '$.votes."' || k || '"') AS voter_arr
  FROM valid t, unnest(json_keys(t.j, '$.votes')) AS pos(k)
), voters AS (
  SELECT j, vote_position,
         json_extract_string(voter_arr, '$[' || CAST(i AS VARCHAR) || '].id') AS congress_id
  FROM positions, unnest(range(CAST(json_array_length(voter_arr) AS BIGINT))) AS idx(i)
)
SELECT congress_id,
       upper(json_extract_string(j, '$.bill.type'))
         || CAST(CAST(json_extract(j, '$.bill.number') AS INTEGER) AS VARCHAR)
         || '-' || CAST(CAST(json_extract(j, '$.bill.congress') AS INTEGER) AS VARCHAR)
         AS bill_key,
       strftime(CAST(json_extract_string(j, '$.date') AS DATE), '%Y-%m-%d') AS vote_date,
       vote_position,
       json_extract_string(j, '$.category') AS vote_category
FROM voters
WHERE congress_id IS NOT NULL
ORDER BY bill_key, vote_position, congress_id
""",
    ops=("S6", "N1", "N2", "N3", "J8"),
    doc="Recursive vote-JSON scan + heterogeneous-array flatten "
    "(reference ingest_votes.py:82-178) against fixture files, verified "
    "against DuckDB's json_each over the same files: nomination/"
    "missing-bill skip (N3), position-map explode (N1), the literal "
    "'\"VP\"' voter string parsing to a null-id struct and dropping "
    "(N2), composite TYPE+NUMBER-CONGRESS bill key (J8).",
)
def q_src_votes_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.sources import votes_json

    ensure_fixtures()
    exploded = votes_json.explode_votes(votes_json.read_vote_files(spark, _VOTES_GLOB))
    return exploded.select(
        "congress_id",
        "bill_key",
        F.date_format("date", "yyyy-MM-dd").alias("vote_date"),
        "vote_position",
        "vote_category",
    ).orderBy("bill_key", "vote_position", "congress_id")


@declared_query(
    "q_src_bills_xml",
    oracle="""
SELECT * FROM (VALUES
  ('HR100', 118, 'Data Act', 'S000001', 'A000001', '2023-03-16', TRUE),
  ('HR100', 118, 'Data Act', 'S000001', 'A000002', '2023-04-01', FALSE),
  ('S55',   118, 'Ethics Act', 'S000002', 'A000003', '2023-05-10', TRUE)
) AS t(official_bill_number, congress, title, sponsor_bioguide,
       cosponsor_bioguide, sponsorship_date, is_original_cosponsor)
ORDER BY official_bill_number, cosponsor_bioguide
""",
    ops=("S7", "N4", "F16", "J8"),
    doc="Billstatus XML pipeline (reference update_bills.py:155-239): "
    "whole-file read, from_xml with nested schema, cosponsor-array "
    "explode (N4), 'True'/'false' boolean parse (F16), then the "
    "composite-key join back to the bill headers (J8).  DuckDB has no "
    "XML reader, so the oracle is the hand-derived expected relation as "
    "literal VALUES — the fixture has a no-cosponsor bill that must "
    "vanish through explode_outer + null filter.",
)
def q_src_bills_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.sources import bills_xml

    ensure_fixtures()
    parsed = bills_xml.read_billstatus(spark, _BILLS_GLOB)
    bills = bills_xml.extract_bills(parsed).select(
        "official_bill_number", "congress", "title", "sponsor_bioguide"
    )
    cos = bills_xml.extract_cosponsors(parsed)
    return (
        cos.join(F.broadcast(bills), ["official_bill_number", "congress"])
        .select(
            "official_bill_number",
            "congress",
            "title",
            "sponsor_bioguide",
            F.col("congress_id").alias("cosponsor_bioguide"),
            F.date_format("sponsorship_date", "yyyy-MM-dd").alias("sponsorship_date"),
            "is_original_cosponsor",
        )
        .orderBy("official_bill_number", "cosponsor_bioguide")
    )


@declared_query(
    "q_src_committees_yaml",
    oracle="""
SELECT * FROM (VALUES
  ('HSDA00',   'Committee on Data',          'house',  'standing',     NULL),
  ('HSDA0001', 'Subcommittee on Storage',    'house',  'subcommittee', 'HSDA00'),
  ('HSDA0002', 'Subcommittee on Compute',    'house',  'subcommittee', 'HSDA00'),
  ('JSPR',     'Joint Committee on Printing','joint',  'standing',     NULL),
  ('SSET00',   'Committee on Ethics',        'senate', 'standing',     NULL)
) AS t(committee_id, name, chamber, type, parent_committee_id)
ORDER BY committee_id
""",
    ops=("S8", "N6", "J5"),
    doc="Committee YAML hierarchy flatten (reference "
    "ingest_committees.py:19-95): driver-side YAML parse (documents are "
    "~100 KB — S8's contract), then the distributed parent∪subcommittee "
    "flatten with synthesized ids and the upstream type/chamber field "
    "swap.  DuckDB has no YAML reader; the oracle is the hand-derived "
    "flatten as literal VALUES.",
)
def q_src_committees_yaml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.sources import committees_yaml

    ensure_fixtures()
    import yaml

    with open(_YAML_PATH) as f:
        docs = yaml.safe_load(f)
    flat = committees_yaml.flatten_committees(
        committees_yaml.committees_df(spark, docs)
    )
    return flat.select(
        "committee_id", "name", "chamber", "type", "parent_committee_id"
    ).orderBy("committee_id")


@declared_query(
    "q_src_members",
    oracle="""
SELECT * FROM (VALUES
  ('M001', 'Alice',     'Smith', 'D', 'TX', 'Senate',            2019, 2021, true),
  ('M002', CAST(NULL AS VARCHAR), 'Cher', 'I', 'CA', 'House',    2017, 2019, false),
  ('M003', 'Bob, Jr.',  'Jones', 'R', 'NY', 'House',             2015, 2019, true),
  ('M005', 'Less',      'Term',  'R', 'NV', CAST(NULL AS VARCHAR), -1, -1,   false),
  ('M006', 'Ann',       'Dates', 'D', 'GU', 'Senate',            2020, 2024, false)
) AS t(congress_id, first_name, last_name, party, state, chamber,
       start_year, end_year, is_active)
ORDER BY congress_id
""",
    ops=("S5", "N5", "F4", "F5", "F15", "J7"),
    doc="Congress-member page transform (reference "
    "ingest_politicians.py:115-188) against a deterministic API-page "
    "fixture: first-comma name split (suffix stays in first_name), "
    "broadcast state-name lookup dropping unknown states, last-term "
    "chamber with the House rename, terms min/max year with the "
    "ISO-date fallback, and the active flag from a missing endYear.  "
    "An EMPTY terms list yields null chamber + sentinel years instead "
    "of aborting under ANSI (try_element_at).  The oracle is the "
    "hand-derived transform as literal VALUES — promotes F15/N5 from "
    "pytest-only to the driver's hard gate.  Years are coalesced to "
    "-1 on both sides (nullable-numeric driver hazard).",
)
def q_src_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.sources import members

    ensure_fixtures()
    # members_json_df: JVM file scan of the staged page, NOT the
    # driver-side local-relation route (members_df) — row-equality of
    # the two paths is pinned in tests/test_sources.py
    out = members.transform_members(
        members.members_json_df(spark, os.path.join(FIXTURE_DIR, "members.json")),
        members.state_lookup(spark),
    )
    return out.select(
        "congress_id",
        "first_name",
        "last_name",
        "party",
        "state",
        "chamber",
        F.coalesce("start_year", F.lit(-1)).alias("start_year"),
        F.coalesce("end_year", F.lit(-1)).alias("end_year"),
        "is_active",
    ).orderBy("congress_id")


# --- S9: live JDBC round trip over the bundled Derby engine ----------------
# The reference reads Postgres through pooled SQLAlchemy sessions
# (app/database.py:18-24) and psycopg2 batch inserts
# (scripts/ingest_fec_links.py:63).  No Postgres exists in this container,
# but Spark BUNDLES Apache Derby (its Hive-metastore store), whose
# embedded JDBC driver is a real database engine — so the S9 path can
# move real rows end-to-end: Spark JDBC WRITE into Derby, then the
# partition-parallel JDBC READ (catalog.load_table_jdbc) back out, with
# Catalyst pushing filters into the generated SQL (PushedFilters shows
# in explain).  Derby embedded is single-JVM, so the database is built
# once per PROCESS (an on-disk cache shared across processes would trip
# Derby's db.lck boot lock).

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
_DERBY_DBS: dict[str, tuple[str, int, int]] = {}


def _ensure_derby_orders(spark: SparkSession, sf_dir: str) -> tuple[str, int, int]:
    """Load orders into a process-local embedded Derby database (once);
    returns (jdbc_url, min_orderkey, max_orderkey).  Money is stored as
    BIGINT cents — DECIMAL(12,2)*100 is exact — so sums replay
    bit-for-bit on every engine.  The database directory is removed
    when the process exits."""
    import atexit
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from politician_etl_project_spark.catalog import load_table

    if sf_dir in _DERBY_DBS:
        return _DERBY_DBS[sf_dir]
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_derby_{os.getpid()}_{uuid.uuid4().hex[:6]}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    url = f"jdbc:derby:{os.path.join(root, 'db')};create=true"
    # floor(x*100 + 0.5), NOT a bare cast: o_totalprice is DOUBLE, so
    # x*100 lands within ~1e-10 of the true cent count on either side —
    # Spark's bigint cast TRUNCATES while DuckDB's ROUNDS, and the two
    # disagree on every value that lands just below the integer.  The
    # explicit identical expression is exact on both engines.
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("o_totalcents"),
        "o_orderdate",
    )
    orders.write.format("jdbc").option("url", url).option("dbtable", "ORDERS_J").option(
        "driver", _DERBY_DRIVER
    ).mode("overwrite").save()
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    # empty table: bounds are NULL — any (lo < hi) pair partitions an
    # empty range correctly, so pin (0, 1) instead of crashing
    _DERBY_DBS[sf_dir] = (url, int(lo) if lo is not None else 0, int(hi) if hi is not None else 1)
    return _DERBY_DBS[sf_dir]


@declared_query(
    "q_src_jdbc",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS last_key,
       strftime(MIN(o_orderdate), '%Y-%m-%d') AS first_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS last_date
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    ops=("S9", "A2", "P2"),
    doc="LIVE JDBC round trip (S9): orders loads into an embedded Derby "
    "database (the JDBC engine Spark itself bundles) via the JDBC "
    "writer, then reads BACK through catalog.load_table_jdbc's "
    "partition-parallel scan (8 o_orderkey range slices, the exact "
    "layout a Postgres fact extract uses) and aggregates per status.  "
    "The oracle computes the same rollup from the parquet table "
    "directly — a green hash proves the database round trip lost "
    "nothing: types, money (stored as exact BIGINT cents), dates, "
    "row multiplicity.  Filter pushdown into the database's SQL is "
    "plan-asserted in tests/test_sources.py.  Replaces the previous "
    "'no JDBC jar in this container' documentation gap — the reference "
    "analog is its pooled-Postgres read path (app/database.py:18-24).",
)
def q_src_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.catalog import load_table_jdbc

    url, lo, hi = _ensure_derby_orders(spark, sf_dir)
    back = load_table_jdbc(
        spark,
        url,
        "ORDERS_J",
        partition_column="o_orderkey",
        lower_bound=lo,
        upper_bound=hi,
        num_partitions=8,
        driver=_DERBY_DRIVER,
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("o_totalcents").cast("bigint").alias("total_cents"),
            F.min("o_orderkey").cast("bigint").alias("first_key"),
            F.max("o_orderkey").cast("bigint").alias("last_key"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
        )
        .orderBy("o_orderstatus")
    )


@declared_query(
    "q_provenance_audit",
    oracle="""
SELECT src_file, n_rows, key_min, key_max FROM (
  SELECT 'documents.parquet' AS src_file, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(MIN(doc_id) AS BIGINT) AS key_min, CAST(MAX(doc_id) AS BIGINT) AS key_max
  FROM documents
  UNION ALL
  SELECT 'events.parquet', CAST(COUNT(*) AS BIGINT),
         CAST(MIN(event_id) AS BIGINT), CAST(MAX(event_id) AS BIGINT)
  FROM events
)
ORDER BY src_file
""",
    ops=("S6", "S17", "PIPE-provenance"),
    doc="File-provenance audit: every scanned row is tagged with its "
    "source file via input_file_name() (basename-extracted so the "
    "audit is location-independent) and rolled up to per-file row "
    "counts + key ranges — the lineage record an ingest run writes "
    "next to its watermark (reference: per-script processed/inserted "
    "counter prints, scripts/ingest_bulk_donations.py:219-223, made "
    "queryable).  At scale this is a narrow map + tiny agg per file; "
    "with directory-partitioned sources the same expression yields "
    "per-partition-file audit rows that pinpoint a bad producer file "
    "in a 100k-file lake without re-reading payload columns (footer "
    "stats make min/max cheap).",
)
def q_provenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from politician_etl_project_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.regexp_extract(F.input_file_name(), "[^/]+$", 0).alias("src_file"),
        F.col("doc_id").alias("key"),
    )
    evs = load_table(spark, sf_dir, "events").select(
        F.regexp_extract(F.input_file_name(), "[^/]+$", 0).alias("src_file"),
        F.col("event_id").alias("key"),
    )
    return (
        docs.unionByName(evs)
        .groupBy("src_file")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("key").cast("bigint").alias("key_min"),
            F.max("key").cast("bigint").alias("key_max"),
        )
        .orderBy("src_file")
    )


# the generations are literals of this module, like the fixtures, so the
# store is keyed on the fixture dir and the engine source; the path is
# fixed at import because the oracle below names it
_DRIFT_DIR = stored_path("drift", FIXTURE_DIR)


def _ensure_drift_store(spark: SparkSession) -> str:
    """Two deterministic parquet generations of the same logical table —
    gen2 adds a column — written once under a fixed path (a
    catalog.stored_dir store) so the DuckDB oracle can DESCRIBE the
    identical files."""
    from politician_etl_project_spark.catalog import ensure_built_dir

    def _build(staging: str) -> None:
        spark.sql(
            "SELECT CAST(1 AS BIGINT) AS doc_id, 'en' AS lang"
        ).write.mode("overwrite").parquet(os.path.join(staging, "gen1"))
        spark.sql(
            "SELECT CAST(2 AS BIGINT) AS doc_id, 'de' AS lang, CAST(42 AS BIGINT) AS n_chars"
        ).write.mode("overwrite").parquet(os.path.join(staging, "gen2"))

    return ensure_built_dir(_DRIFT_DIR, _build)


@declared_query(
    "q_schema_drift",
    oracle=f"""
WITH o AS (
  SELECT column_name AS col FROM (DESCRIBE SELECT * FROM read_parquet('{_DRIFT_DIR}/gen1/*.parquet'))
), n AS (
  SELECT column_name AS col FROM (DESCRIBE SELECT * FROM read_parquet('{_DRIFT_DIR}/gen2/*.parquet'))
)
SELECT COALESCE(o.col, n.col) AS column_name,
       (o.col IS NOT NULL) AS in_old,
       (n.col IS NOT NULL) AS in_new,
       CASE WHEN o.col IS NULL THEN 'added'
            WHEN n.col IS NULL THEN 'removed'
            ELSE 'kept' END AS status
FROM o FULL OUTER JOIN n ON o.col = n.col
ORDER BY column_name
""",
    ops=("DQ-schema-drift", "S15"),
    doc="Schema-drift report between two stored generations of a table: "
    "reader schemas come from the parquet FOOTERS (pure metadata — no "
    "data IO at any table size), and the full-outer diff labels every "
    "column kept/added/removed.  This is the reference's "
    "check_schema.py INFORMATION_SCHEMA dump (app/check_schema.py:10-37) "
    "as an engine query, and the audit that runs before mergeSchema "
    "reads (q_schema_evolution) are trusted in production.  The report "
    "frame is built as a VALUES literal (createDataFrame's py4j "
    "conversion costs ~0.8 s/call for tiny frames — SCALE.md lesson).",
)
def q_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _ensure_drift_store(spark)
    old_cols = spark.read.parquet(os.path.join(store, "gen1")).schema.names
    new_cols = spark.read.parquet(os.path.join(store, "gen2")).schema.names
    all_cols = sorted(set(old_cols) | set(new_cols))
    rows = []
    for c in all_cols:
        in_old, in_new = c in old_cols, c in new_cols
        status = "kept" if (in_old and in_new) else ("added" if in_new else "removed")
        rows.append(f"('{c}', {str(in_old).lower()}, {str(in_new).lower()}, '{status}')")
    return spark.sql(
        "SELECT column_name, in_old, in_new, status FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(column_name, in_old, in_new, status) ORDER BY column_name"
    )


# --- T7: the full run_all_updates lifecycle under the driver gate ----------
#
# The reference's scripts/run_all_updates.py:14-19 chains only the
# DAILY update scripts (bills → sponsors/cosponsors → votes →
# donations); its politician, FEC-link, and committee loaders live in
# separate one-off update scripts.  etl.run_all is the SUPERSET DAG —
# the whole star-schema refresh in FK order (politicians → fec links →
# bills → cosponsors → votes → donations → committees) — replayed over
# a parquet Warehouse; here it runs END TO END against a
# deterministic staged fixture chain that exercises every loader edge —
# fuzzy FEC entity resolution (exact-normalized names so the expected
# links are hand-derivable), an unknown sponsor (NULL sponsor_id via
# left join), the literal '"VP"' voter, two same-day roll calls on one
# bill (roll_key keeps them distinct), an amendment + bad-date + 
# unlinked-committee donation row (all dropped), a joint donor across
# filings (one donor row), and an unknown committee-membership bioguide
# (dropped).  The end state is emitted as one long-format relation
# (table_name, entity_key, val) covering every warehouse table PLUS the
# update_log row counts (timestamps excluded — F10 stays pytest-pinned),
# and the oracle is the hand-derived relation as literal VALUES —
# independent of the implementation, per the XML/YAML oracle pattern.

_ETL_CN = (
    "H0TX01|SMITH, ALICE|DEM|2024|TX|H|01|I|C|C001||||AUSTIN|78701\n"
    "S0NY02|JONES, BOB, JR.|REP|2024|NY|S|00|I|C|C002||||NYC|10001\n"
    # presidential office: link_candidates' H/S filter must drop it, so
    # M002 (CA) stays unlinked even though the state matches
    "P0US99|CHER|DEM|2024|CA|P|00|I|C|C009||||LA|90001\n"
)
_ETL_CCL = (
    "H0TX01|2024|2024|C001|H|P|L1\n"
    "S0NY02|2024|2024|C002|S|P|L2\n"
    "P0US99|2024|2024|C009|P|P|L3\n"
)
_ETL_ITCONT = (
    "C001|N|YE||img|15|IND|DOE, JANE|AUSTIN|TX|78701|ACME|ENG|03012025|100.00||||||SUBE01\n"
    "C001|N|YE||img|15|IND|DOE, JANE|AUSTIN|TX|78701|ACME|ENG|03152025|50.25||||||SUBE02\n"
    "C001|A|YE||img|15|IND|DOE, JANE|AUSTIN|TX|78701|ACME|ENG|03202025|999.00||||||SUBE03\n"
    "C002|N|YE||img|15|PAC|MEGA PAC|NYC|NY|10001|||04012025|1000.00||||||SUBE04\n"
    "C002|N|YE||img|15|IND|ROE, RICHARD|NYC|NY|10001|BANK|ANL|05012025|250.00||||||SUBE05\n"
    "C002|N|YE||img|15|IND|BAD DATE|NYC|NY|10001|||13459999|10.00||||||SUBE06\n"
    "C009|N|YE||img|15|IND|UNLINKED|LA|CA|90001|||06012025|75.00||||||SUBE07\n"
)


def _etl_bill_xml(congress: int, btype: str, number: int, title: str,
                  intro: str, sponsor: str, cosponsors: list[tuple[str, str, str]]) -> str:
    cos = "".join(
        f"<item><bioguideId>{b}</bioguideId><sponsorshipDate>{d}</sponsorshipDate>"
        f"<isOriginalCosponsor>{o}</isOriginalCosponsor></item>"
        for b, d, o in cosponsors
    )
    cos_block = f"<cosponsors>{cos}</cosponsors>" if cosponsors else ""
    return (
        f"<billStatus><bill><congress>{congress}</congress><type>{btype}</type>"
        f"<number>{number}</number><title>{title}</title>"
        f"<introducedDate>{intro}</introducedDate>"
        f"<sponsors><item><bioguideId>{sponsor}</bioguideId></item></sponsors>"
        f"{cos_block}</bill></billStatus>"
    )


_ETL_VOTE_H1 = {
    "category": "passage",
    "date": "2025-03-10",
    "bill": {"type": "hr", "number": 1, "congress": 119},
    "votes": {
        "Yea": [{"id": "M001", "party": "D", "state": "TX"},
                {"id": "M002", "party": "I", "state": "CA"}, "VP"],
        "Nay": [{"id": "M003", "party": "R", "state": "NY"}],
    },
}
# same bill, SAME DAY, different roll call: roll_key must keep it distinct
_ETL_VOTE_H2 = {
    "category": "amendment",
    "date": "2025-03-10",
    "bill": {"type": "hr", "number": 1, "congress": 119},
    "votes": {
        "Yea": [{"id": "M003", "party": "R", "state": "NY"}],
        "Nay": [{"id": "M001", "party": "D", "state": "TX"}],
    },
}
_ETL_VOTE_S5 = {
    "category": "passage",
    "date": "2025-04-01",
    "bill": {"type": "s", "number": 2, "congress": 119},
    "votes": {
        "Yea": [{"id": "M003", "party": "R", "state": "NY"}],
        "Not Voting": [{"id": "M001", "party": "D", "state": "TX"}],
    },
}

_ETL_COMMITTEE_DOCS = [
    {
        "name": "Committee on Alpha",
        "type": "house",
        "thomas_id": "HSAL",
        "house_committee_id": "HSAL00",
        "url": "https://example.test/alpha",
        "subcommittees": [{"name": "Subcommittee on One", "thomas_id": "01"}],
    },
    {
        "name": "Committee on Beta",
        "type": "senate",
        "thomas_id": "SSBE",
        "senate_committee_id": "SSBE00",
    },
]
_ETL_MEMBERSHIPS = {
    "HSAL00": [
        {"name": "Alice Smith", "bioguide": "M001", "rank": 1, "title": "Chair", "party": "majority"},
        {"name": "Bob Jones", "bioguide": "M003", "rank": 2, "party": "minority"},
    ],
    "SSBE00": [{"name": "Alice Smith", "bioguide": "M001", "rank": 5, "party": "majority"}],
    # unknown bioguide: the politician join must drop it
    "HSZZ00": [{"name": "Ghost Member", "bioguide": "M999", "rank": 1, "party": "majority"}],
}


def ensure_etl_fixtures() -> str:
    """Stage the run_all input chain (idempotent).  Vote files sit under
    <root>/119/votes/2025/<roll>/ so explode_votes' layout-anchored
    roll_key resolves to '119/votes/2025/<roll>' at any staging depth."""
    import json as _json

    d = os.path.join(FIXTURE_DIR, "etl")
    _write(os.path.join(d, "cn.txt"), _ETL_CN)
    _write(os.path.join(d, "ccl.txt"), _ETL_CCL)
    _write(os.path.join(d, "itcont.txt"), _ETL_ITCONT)
    bills = [
        _etl_bill_xml(119, "hr", 1, "Alpha Act", "2025-01-03", "M001",
                      [("M002", "2025-01-04", "True"), ("M003", "2025-02-05", "false")]),
        _etl_bill_xml(119, "s", 2, "Beta Act", "2025-02-01", "M003",
                      [("M006", "2025-02-02", "True")]),
        _etl_bill_xml(118, "hr", 9, "Gamma Act", "2023-06-01", "X9999", []),
    ]
    for i, xml in enumerate(bills, start=1):
        _write(os.path.join(d, "bills", f"BILLSTATUS-e{i}.xml"), xml)
    for roll, doc in [("h1", _ETL_VOTE_H1), ("h2", _ETL_VOTE_H2), ("s5", _ETL_VOTE_S5)]:
        _write(os.path.join(d, "119", "votes", "2025", roll, "data.json"), _json.dumps(doc, indent=1))
    return d


def _ensure_etl_warehouse(spark: SparkSession) -> str:
    """run_all over the staged chain, built once (staging + rename)."""
    from politician_etl_project_spark import etl
    from politician_etl_project_spark.catalog import stored_dir

    d = ensure_etl_fixtures()

    def _build(staging: str) -> None:
        wh = etl.Warehouse(spark, staging)
        etl.run_all(
            wh,
            member_records=_MEMBERS_PAGE,
            billstatus_glob=os.path.join(d, "bills", "*.xml"),
            votes_glob=os.path.join(d, "119", "votes", "*", "*", "data.json"),
            itcont_path=os.path.join(d, "itcont.txt"),
            ccl_paths=[os.path.join(d, "ccl.txt")],
            cn_paths=[os.path.join(d, "cn.txt")],
            committee_docs=_ETL_COMMITTEE_DOCS,
            membership_doc=_ETL_MEMBERSHIPS,
        )

    return stored_dir("etl_wh", d, (), _build)


_ETL_ORACLE = """
SELECT * FROM (VALUES
  -- politicians: id | party | fec_candidate_id | fec_committee_id
  -- (M004 has an unknown state and is dropped; M002's only
  -- state-matching candidate runs for P office and is filtered)
  ('politicians', 'M001', '1|D|H0TX01|C001'),
  ('politicians', 'M002', '2|I|-|-'),
  ('politicians', 'M003', '3|R|S0NY02|C002'),
  ('politicians', 'M005', '4|R|-|-'),
  ('politicians', 'M006', '5|D|-|-'),
  -- bills: bill_id | sponsor politician_id (X9999 unknown -> '-') | title
  ('bills', 'HR1-119', '1|1|Alpha Act'),
  ('bills', 'HR9-118', '2|-|Gamma Act'),
  ('bills', 'S2-119', '3|3|Beta Act'),
  -- cosponsors: (bill_id|politician_id) -> is_original | date
  ('bill_cosponsors', '1|2', 'true|2025-01-04'),
  ('bill_cosponsors', '1|3', 'false|2025-02-05'),
  ('bill_cosponsors', '3|5', 'true|2025-02-02'),
  -- votes: (politician_id|roll_key) -> bill_id | position; h1 and h2
  -- are two roll calls on the SAME bill the SAME day
  ('votes', '1|119/votes/2025/h1', '1|Yea'),
  ('votes', '2|119/votes/2025/h1', '1|Yea'),
  ('votes', '3|119/votes/2025/h1', '1|Nay'),
  ('votes', '1|119/votes/2025/h2', '1|Nay'),
  ('votes', '3|119/votes/2025/h2', '1|Yea'),
  ('votes', '1|119/votes/2025/s5', '3|Not Voting'),
  ('votes', '3|119/votes/2025/s5', '3|Yea'),
  -- donors: source key -> donor_id | type | city (two DOE filings, one donor)
  ('donors', 'DOE, JANE|78701|ACME', '1|Individual|AUSTIN'),
  ('donors', 'MEGA PAC|10001|', '2|PAC|NYC'),
  ('donors', 'ROE, RICHARD|10001|BANK', '3|Individual|NYC'),
  -- donations: filing -> politician_id | donor_id | exact cents
  -- (SUBE03 amendment, SUBE06 bad date, SUBE07 unlinked committee: dropped)
  ('donations', 'SUBE01', '1|1|10000'),
  ('donations', 'SUBE02', '1|1|5025'),
  ('donations', 'SUBE04', '3|2|100000'),
  ('donations', 'SUBE05', '3|3|25000'),
  -- committees: id -> chamber | type | parent
  ('committees', 'HSAL00', 'house|standing|-'),
  ('committees', 'HSAL0001', 'house|subcommittee|HSAL00'),
  ('committees', 'SSBE00', 'senate|standing|-'),
  -- assignments: (politician|committee|congress) -> role (M999 dropped)
  ('committee_assignments', '1|HSAL00|119', 'Chair'),
  ('committee_assignments', '1|SSBE00|119', '-'),
  ('committee_assignments', '3|HSAL00|119', '-'),
  -- update_log: (table|notes) -> runs | min records | max records
  ('update_log', 'bill_cosponsors|-', '1|3|3'),
  ('update_log', 'bills|-', '1|3|3'),
  ('update_log', 'committee_assignments|-', '1|3|3'),
  ('update_log', 'committees|-', '1|3|3'),
  ('update_log', 'donations|-', '1|4|4'),
  ('update_log', 'donors|-', '1|3|3'),
  ('update_log', 'politicians|-', '1|5|5'),
  ('update_log', 'politicians|fec_link', '1|2|2'),
  ('update_log', 'votes|-', '1|7|7')
) AS t(table_name, entity_key, val)
ORDER BY table_name, entity_key, val
"""


def _wh_long_format(spark: SparkSession, root: str) -> DataFrame:
    """Normalize a whole Warehouse to (table_name, entity_key, val) —
    one relation covering every table, with the value string carrying
    exactly the fields whose survivorship distinguishes the conflict
    policies (party/title = update-wins; city/sponsorship date =
    first-wins; ids = surrogate stability).  update_log collapses to
    per-(table, notes) run count + min/max records so timestamps (F10,
    nondeterministic) never enter the hash while run MULTIPLICITY and
    the before/after row counts do."""

    from politician_etl_project_spark.etl import Warehouse

    rd = Warehouse(spark, root).read

    dash = F.lit("-")
    pol = rd("politicians").select(
        F.lit("politicians").alias("table_name"),
        F.col("congress_id").alias("entity_key"),
        F.concat_ws(
            "|",
            F.col("politician_id").cast("string"),
            F.coalesce("party", dash),
            F.coalesce("fec_candidate_id", dash),
            F.coalesce("fec_committee_id", dash),
        ).alias("val"),
    )
    bills = rd("bills").select(
        F.lit("bills").alias("table_name"),
        F.concat_ws("-", "official_bill_number", F.col("congress").cast("string")).alias(
            "entity_key"
        ),
        F.concat_ws(
            "|",
            F.col("bill_id").cast("string"),
            F.coalesce(F.col("sponsor_id").cast("string"), dash),
            F.coalesce("title", dash),
        ).alias("val"),
    )
    cos = rd("bill_cosponsors").select(
        F.lit("bill_cosponsors").alias("table_name"),
        F.concat_ws(
            "|", F.col("bill_id").cast("string"), F.col("politician_id").cast("string")
        ).alias("entity_key"),
        F.concat_ws(
            "|",
            F.col("is_original_cosponsor").cast("string"),
            F.date_format("sponsorship_date", "yyyy-MM-dd"),
        ).alias("val"),
    )
    votes = rd("votes").select(
        F.lit("votes").alias("table_name"),
        F.concat_ws("|", F.col("politician_id").cast("string"), "roll_key").alias("entity_key"),
        F.concat_ws("|", F.col("bill_id").cast("string"), "vote_position").alias("val"),
    )
    donors = rd("donors").select(
        F.lit("donors").alias("table_name"),
        F.col("donor_source_key").alias("entity_key"),
        F.concat_ws(
            "|", F.col("donor_id").cast("string"), "donor_type", F.coalesce("city", dash)
        ).alias("val"),
    )
    donations = rd("donations").select(
        F.lit("donations").alias("table_name"),
        F.col("fec_filing_id").alias("entity_key"),
        F.concat_ws(
            "|",
            F.col("politician_id").cast("string"),
            F.col("donor_id").cast("string"),
            (F.col("amount") * 100).cast("bigint").cast("string"),
        ).alias("val"),
    )
    committees = rd("committees").select(
        F.lit("committees").alias("table_name"),
        F.col("committee_id").alias("entity_key"),
        F.concat_ws("|", "chamber", "type", F.coalesce("parent_committee_id", dash)).alias("val"),
    )
    assignments = rd("committee_assignments").select(
        F.lit("committee_assignments").alias("table_name"),
        F.concat_ws(
            "|",
            F.col("politician_id").cast("string"),
            "committee_id",
            F.col("congress").cast("string"),
        ).alias("entity_key"),
        F.coalesce("role", dash).alias("val"),
    )
    log = (
        rd("update_log")
        .groupBy(
            F.concat_ws("|", "table_name", F.coalesce("notes", dash)).alias("entity_key")
        )
        .agg(
            F.concat_ws(
                "|",
                F.count("*").cast("string"),
                F.min("records_updated").cast("string"),
                F.max("records_updated").cast("string"),
            ).alias("val")
        )
        .select(F.lit("update_log").alias("table_name"), "entity_key", "val")
    )
    out = pol
    for part in (bills, cos, votes, donors, donations, committees, assignments, log):
        out = out.unionByName(part)
    return out.orderBy("table_name", "entity_key", "val")


@declared_query(
    "q_etl_run_all",
    oracle=_ETL_ORACLE,
    ops=("T7", "S11", "S12", "S13", "S17", "S18", "J9", "J12"),
    doc="The reference's WHOLE refresh lifecycle under the driver gate: "
    "etl.run_all is a SUPERSET of scripts/run_all_updates.py:14-19 "
    "(whose UPDATE_SCRIPTS chain only bills/cosponsors/votes/donations "
    "daily; the politician, FEC-link, and committee loaders come from "
    "the reference's other update scripts) executing one FK-ordered "
    "DAG — members transform + dense surrogate ids, fuzzy "
    "FEC entity resolution (state-blocked levenshtein, exact-normalized "
    "fixture names so links are hand-derivable), billstatus XML with an "
    "unknown sponsor, cosponsor first-wins, vote JSON with the '\"VP\"' "
    "literal and two same-day roll calls kept distinct by roll_key, the "
    "FEC donation pipeline (amendment/bad-date/unlinked-committee rows "
    "dropped, donors deduped across filings), and the committee YAML "
    "hierarchy + assignments — into a parquet Warehouse built once "
    "under /tmp (staging+rename).  The end state of all EIGHT tables "
    "plus update_log run counts is normalized to (table_name, "
    "entity_key, val) and hash-matched against the hand-derived "
    "relation: T7 moves from pytest-only to the driver's hard gate, "
    "leaving only S4/F10/T4 pytest-pinned (external HTTP, wall-clock "
    "timestamps, probe loop).",
)
def q_etl_run_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wh_long_format(spark, _ensure_etl_warehouse(spark))


# --- day-2 incremental refresh (the reference re-runs the same scripts) ----

_ETL2_CN_EXTRA = None  # fec links are NOT re-run on day 2 — their survival
# through the politicians refresh (whose fresh rows carry NULL link
# columns) is exactly the column-level-merge property under test.

_ETL2_MEMBERS = [
    # brand-new member whose id sorts BEFORE every existing one: stable
    # surrogate ids must give it max+1, never renumber (S18 incremental)
    {
        "bioguideId": "M000", "name": "Aard, Zoe", "partyName": "R",
        "state": "Nevada",
        "terms": {"item": [{"chamber": "House of Representatives", "startYear": 2025}]},
    },
    # update-wins: M001 switches party D -> I; the refresh record has NO
    # fec link columns, so the day-1 links must survive the merge
    {
        "bioguideId": "M001", "name": "Smith, Alice", "partyName": "I",
        "state": "Texas",
        "terms": {"item": [
            {"chamber": "House of Representatives", "startYear": 2019, "endYear": 2021},
            {"chamber": "Senate", "startYear": 2021},
        ]},
    },
    {
        "bioguideId": "M007", "name": "New, Kid", "partyName": "D",
        "state": "Texas",
        "terms": {"item": [{"chamber": "House of Representatives", "startYear": 2025}]},
    },
]

_ETL2_ITCONT = (
    # same donor uid as day-1 DOE rows but OAKLAND: first-wins keeps AUSTIN
    "C001|N|YE||img|15|IND|DOE, JANE|OAKLAND|CA|78701|ACME|ENG|07012025|25.00||||||SUBE08\n"
    # re-sent filing id with a different amount: keyed on fec_filing_id,
    # the original 100.00 must win (idempotent replay)
    "C001|N|YE||img|15|IND|DOE, JANE|AUSTIN|TX|78701|ACME|ENG|03012025|999.00||||||SUBE01\n"
    # brand-new donor through the other linked committee
    "C002|N|YE||img|15|PAC|NEW PAC|LA|CA|90210|||07022025|500.00||||||SUBE09\n"
)

_ETL2_VOTE_H3 = {
    "category": "passage",
    "date": "2025-08-05",
    "bill": {"type": "hr", "number": 1, "congress": 119},
    "votes": {
        "Yea": [{"id": "M007", "party": "D", "state": "TX"}],
        "Nay": [{"id": "M002", "party": "I", "state": "CA"}],
    },
}

_ETL2_MEMBERSHIPS = {
    "HSAL00": [
        {"name": "Alice Smith", "bioguide": "M001", "rank": 1, "title": "Chair", "party": "majority"},
        # update-wins on the assignment key: role '-' -> 'Ranking Member'
        {"name": "Bob Jones", "bioguide": "M003", "rank": 2, "title": "Ranking Member", "party": "minority"},
    ],
    "SSBE00": [{"name": "Alice Smith", "bioguide": "M001", "rank": 5, "party": "majority"}],
}


def ensure_etl2_fixtures() -> str:
    d = os.path.join(FIXTURE_DIR, "etl2")
    _write(os.path.join(d, "itcont.txt"), _ETL2_ITCONT)
    bills = [
        # update-wins on the bill dim: HR1's title changes; the re-sent
        # M002 cosponsorship carries a LATER date that first-wins must
        # ignore; M005 joins as a new cosponsor
        _etl_bill_xml(119, "hr", 1, "Alpha Act v2", "2025-01-03", "M001",
                      [("M002", "2025-09-09", "True"), ("M005", "2025-08-01", "True")]),
        _etl_bill_xml(119, "hr", 3, "Delta Act", "2025-08-01", "M007",
                      [("M002", "2025-08-02", "True")]),
    ]
    for i, xml in enumerate(bills, start=1):
        _write(os.path.join(d, "bills", f"BILLSTATUS-f{i}.xml"), xml)
    import json as _json

    _write(
        os.path.join(d, "119", "votes", "2025", "h3", "data.json"),
        _json.dumps(_ETL2_VOTE_H3, indent=1),
    )
    return d


def _ensure_etl_incremental_warehouse(spark: SparkSession) -> str:
    """Day-1 run_all, then the day-2 refresh re-running the individual
    loaders exactly as the reference's scripts are re-run daily."""
    from politician_etl_project_spark import etl
    from politician_etl_project_spark.catalog import stored_dir

    d1 = ensure_etl_fixtures()
    d2 = ensure_etl2_fixtures()

    def _build(staging: str) -> None:
        wh = etl.Warehouse(spark, staging)
        etl.run_all(
            wh,
            member_records=_MEMBERS_PAGE,
            billstatus_glob=os.path.join(d1, "bills", "*.xml"),
            votes_glob=os.path.join(d1, "119", "votes", "*", "*", "data.json"),
            itcont_path=os.path.join(d1, "itcont.txt"),
            ccl_paths=[os.path.join(d1, "ccl.txt")],
            cn_paths=[os.path.join(d1, "cn.txt")],
            committee_docs=_ETL_COMMITTEE_DOCS,
            membership_doc=_ETL_MEMBERSHIPS,
        )
        # day 2: same FK order, fec-link pass intentionally not re-run
        etl.load_politicians(wh, _ETL2_MEMBERS)
        etl.load_bills(wh, os.path.join(d2, "bills", "*.xml"))
        etl.load_cosponsors(wh, os.path.join(d2, "bills", "*.xml"))
        etl.load_votes(wh, os.path.join(d2, "119", "votes", "*", "*", "data.json"))
        etl.load_donations(wh, os.path.join(d2, "itcont.txt"))
        etl.load_committees(wh, _ETL_COMMITTEE_DOCS, _ETL2_MEMBERSHIPS)

    return stored_dir("etl_wh_inc", d2, (), _build)


_ETL_INC_ORACLE = """
SELECT * FROM (VALUES
  -- M000 sorts FIRST yet gets max+1 (ids never renumber); M001's party
  -- updated to I while its day-1 FEC links survived a refresh whose
  -- fresh rows had no link columns (column-level merge)
  ('politicians', 'M000', '6|R|-|-'),
  ('politicians', 'M001', '1|I|H0TX01|C001'),
  ('politicians', 'M002', '2|I|-|-'),
  ('politicians', 'M003', '3|R|S0NY02|C002'),
  ('politicians', 'M005', '4|R|-|-'),
  ('politicians', 'M006', '5|D|-|-'),
  ('politicians', 'M007', '7|D|-|-'),
  -- HR1 title update-wins, id stable; HR3 appended with the next id
  ('bills', 'HR1-119', '1|1|Alpha Act v2'),
  ('bills', 'HR9-118', '2|-|Gamma Act'),
  ('bills', 'S2-119', '3|3|Beta Act'),
  ('bills', 'HR3-119', '4|7|Delta Act'),
  -- (1|2) re-sent with date 2025-09-09: first-wins keeps 2025-01-04
  ('bill_cosponsors', '1|2', 'true|2025-01-04'),
  ('bill_cosponsors', '1|3', 'false|2025-02-05'),
  ('bill_cosponsors', '1|4', 'true|2025-08-01'),
  ('bill_cosponsors', '3|5', 'true|2025-02-02'),
  ('bill_cosponsors', '4|2', 'true|2025-08-02'),
  ('votes', '1|119/votes/2025/h1', '1|Yea'),
  ('votes', '2|119/votes/2025/h1', '1|Yea'),
  ('votes', '3|119/votes/2025/h1', '1|Nay'),
  ('votes', '1|119/votes/2025/h2', '1|Nay'),
  ('votes', '3|119/votes/2025/h2', '1|Yea'),
  ('votes', '1|119/votes/2025/s5', '3|Not Voting'),
  ('votes', '3|119/votes/2025/s5', '3|Yea'),
  ('votes', '7|119/votes/2025/h3', '1|Yea'),
  ('votes', '2|119/votes/2025/h3', '1|Nay'),
  -- DOE re-appeared from OAKLAND: first-wins keeps AUSTIN; NEW PAC
  -- gets the next stable donor id
  ('donors', 'DOE, JANE|78701|ACME', '1|Individual|AUSTIN'),
  ('donors', 'MEGA PAC|10001|', '2|PAC|NYC'),
  ('donors', 'ROE, RICHARD|10001|BANK', '3|Individual|NYC'),
  ('donors', 'NEW PAC|90210|', '4|PAC|LA'),
  -- SUBE01 re-sent at 999.00: the filing key keeps the original 100.00
  ('donations', 'SUBE01', '1|1|10000'),
  ('donations', 'SUBE02', '1|1|5025'),
  ('donations', 'SUBE04', '3|2|100000'),
  ('donations', 'SUBE05', '3|3|25000'),
  ('donations', 'SUBE08', '1|1|2500'),
  ('donations', 'SUBE09', '3|4|50000'),
  ('committees', 'HSAL00', 'house|standing|-'),
  ('committees', 'HSAL0001', 'house|subcommittee|HSAL00'),
  ('committees', 'SSBE00', 'senate|standing|-'),
  -- M003's role updated in place (update-wins on the assignment key)
  ('committee_assignments', '1|HSAL00|119', 'Chair'),
  ('committee_assignments', '1|SSBE00|119', '-'),
  ('committee_assignments', '3|HSAL00|119', 'Ranking Member'),
  -- two runs per loader, with before/after row counts
  ('update_log', 'bill_cosponsors|-', '2|3|5'),
  ('update_log', 'bills|-', '2|3|4'),
  ('update_log', 'committee_assignments|-', '2|3|3'),
  ('update_log', 'committees|-', '2|3|3'),
  ('update_log', 'donations|-', '2|4|6'),
  ('update_log', 'donors|-', '2|3|4'),
  ('update_log', 'politicians|-', '2|5|7'),
  ('update_log', 'politicians|fec_link', '1|2|2'),
  ('update_log', 'votes|-', '2|7|9')
) AS t(table_name, entity_key, val)
ORDER BY table_name, entity_key, val
"""


@declared_query(
    "q_etl_incremental",
    oracle=_ETL_INC_ORACLE,
    ops=("T5", "S12", "S13", "S18", "T7"),
    doc="The reference's DAILY refresh: after q_etl_run_all's day-1 "
    "build, the individual loaders re-run with a day-2 delta batch "
    "exactly as run_all_updates.py is cron-rerun — and the hash proves "
    "every incremental-merge property at lifecycle level in one "
    "relation: update-wins (M001's party flip, HR1's title, M003's "
    "committee role), first-wins (DOE's original city survives a "
    "re-appearance, a re-sent cosponsorship keeps its original date, a "
    "re-sent FEC filing keeps its original amount), surrogate-id "
    "stability (M000 sorts before every existing key yet gets max+1 — "
    "persisted FK references never move; HR3/NEW PAC take the next "
    "ids), column-level merge (day-1 FEC links survive a politicians "
    "refresh that carries NULL link columns), and append-only growth "
    "(new votes/donations/cosponsors land, day-1 rows byte-identical). "
    "update_log keeps run multiplicity (2 runs per loader) with "
    "min/max row counts, timestamps excluded.  Previously these "
    "properties were pytest-pinned (tests/test_etl.py); now the driver "
    "hash pins them.",
)
def q_etl_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _wh_long_format(spark, _ensure_etl_incremental_warehouse(spark))
