"""ETL-source pipeline tests over FIXTURES.md §B-shaped fixture files:
FEC pipe-CSV coercion paths, vote-JSON explode incl. the '"VP"' entry,
billstatus XML, committee YAML flatten, member terms flatten."""

from __future__ import annotations

import json
import textwrap

import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark.sources import bills_xml, committees_yaml, fec, members, votes_json

# ---------------------------------------------------------------------------
# FEC bulk donations (SURVEY S1-S2, F6-F8, A14, J7)
# ---------------------------------------------------------------------------

ITCONT_LINES = [
    # CMTE_ID|AMNDT_IND|RPT_TP|PGI|IMG|TP|ENTITY|NAME|CITY|STATE|ZIP|EMPLOYER|OCC|DT|AMT|OTHER|TRAN|FILE|MEMO_CD|MEMO|SUB
    "C001|N|YE||img|15|IND|SMITH, JOHN|AUSTIN|TX|78701|ACME|ENG|03142024|500|||1|||SUB0000000001",
    "C001|A|YE||img|15|IND|SMITH, JOHN|AUSTIN|TX|78701|ACME|ENG|03142024|500|||1|||SUB0000000002",  # amendment -> dropped
    "C002|N|YE||img|15|PAC|MEGA PAC|DC|DC|20001||'|13392024|250|||1|||SUB0000000003",  # bad date -> dropped
    "C001|N|YE||img|15|IND|DOE, JANE|||||  |01052024|notanum|||1|||SUB0000000004",  # bad amount -> dropped
    "C001|N|YE||img|15|IND|DOE, JANE|HOUSTON|TX||||02292024|125.50|||1|||SUB0000000005",  # empty zip/emp
    "C999|N|YE||img|15|IND|OUTSIDER|LA|CA|90001|X|Y|01012024|75|||1|||SUB0000000006",  # cmte not linked -> dropped
    "C002|N|YE||img|15|COM|MEGA PAC|DC|DC|20001||" + "|01312024|1000|||1|||SUB0000000007",
]


@pytest.fixture(scope="module")
def fec_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fec")
    (d / "itcont.txt").write_text("\n".join(ITCONT_LINES) + "\n")
    (d / "ccl24.txt").write_text("H0TX01|2024|2024|C001|H|P|L1\nH0DC01|2024|2024|C002|H|P|L2\n")
    (d / "ccl26.txt").write_text("H0TX01|2026|2026|C001|H|P|L1b\nH0DC01|2024|2024|C002|H|P|L2\n")
    (d / "cn.txt").write_text(
        "H0TX01|SMITH, JOHN|REP|2024|TX|H|01|I|C|C001||||TX|78701\n"
        "H0TX01|SMITH, JOHN|REP|2026|TX|H|01|I|C|C001||||TX|78701\n"  # dup CAND_ID, keep-last by year
        "S0CA01|NADER, RALPH|IND|2024|CA|P|00|I|C|C777||||CA|90001\n"  # office P -> filtered by link
        "H0DC01|PELOSI, NANCY|DEM|2024|DC|H|98|I|C|C002||||DC|20001\n"
    )
    return d


def test_itcont_transform(spark, fec_dir):
    it = fec.read_itcont(spark, str(fec_dir / "itcont.txt"))
    assert it.count() == 7
    linked = spark.createDataFrame([("C001",), ("C002",)], "CMTE_ID string")
    don = fec.transform_donations(it, linked)
    rows = {r.fec_filing_id: r for r in don.collect()}
    # survivors: 1 (clean), 5 (empty zip/emp), 7 (COM -> PAC)
    assert set(rows) == {"SUB0000000001", "SUB0000000005", "SUB0000000007"}
    assert str(rows["SUB0000000001"].amount) == "500.00"
    assert rows["SUB0000000001"].donor_uid == "SMITH, JOHN|78701|ACME"
    assert rows["SUB0000000005"].donor_uid == "DOE, JANE||"  # null-safe composite
    assert rows["SUB0000000007"].donor_type == "PAC"
    assert rows["SUB0000000001"].date.isoformat() == "2024-03-14"


def test_donor_build_deterministic(spark, fec_dir):
    it = fec.read_itcont(spark, str(fec_dir / "itcont.txt"))
    linked = spark.createDataFrame([("C001",), ("C002",)], "CMTE_ID string")
    donors = fec.build_donors(fec.transform_donations(it, linked))
    rows = donors.orderBy("donor_id").collect()
    # dense ids 1..n in donor_uid order, independent of partitioning
    assert [r.donor_id for r in rows] == list(range(1, len(rows) + 1))
    keys = [r.donor_source_key for r in rows]
    assert keys == sorted(keys)


def test_donor_build_null_filing_ids(spark, tmp_path):
    """An empty SUB_ID reads as NULL under the all-string PERMISSIVE
    scan; a donor whose every filing id is NULL must still keep its
    attributes (min_by skips NULL ordering keys), and one with any
    non-NULL filing id must keep the minimum one's."""
    lines = [
        "C001|N|YE||img|15|IND|ROE, RICHARD|DALLAS|TX|75201|ACME|ENG|03152024|200|||1|||",
        "C001|N|YE||img|15|IND|ROE, RICHARD|AUSTIN|TX|75201|ACME|ENG|03162024|300|||1|||",
        "C001|N|YE||img|15|IND|POE, EDGAR|WACO|TX|76701|X|Y|03172024|50|||1|||",
        "C001|N|YE||img|15|IND|POE, EDGAR|ELGIN|TX|76701|X|Y|03182024|60|||1|||SUB0000000009",
        "C001|N|YE||img|15|IND|POE, EDGAR|BASTROP|TX|76701|X|Y|03192024|70|||1|||SUB0000000008",
    ]
    (tmp_path / "itcont.txt").write_text("\n".join(lines) + "\n")
    it = fec.read_itcont(spark, str(tmp_path / "itcont.txt"))
    linked = spark.createDataFrame([("C001",)], "CMTE_ID string")
    got = {r.name: r for r in fec.build_donors(fec.transform_donations(it, linked)).collect()}
    assert set(got) == {"ROE, RICHARD", "POE, EDGAR"}
    # all filing ids NULL: a real row wins, ties broken on the attributes
    assert (got["ROE, RICHARD"].city, got["ROE, RICHARD"].donor_source_key) == (
        "AUSTIN",
        "ROE, RICHARD|75201|ACME",
    )
    assert got["POE, EDGAR"].city == "BASTROP"  # min non-NULL filing id


def test_ccl_union_dedup(spark, fec_dir):
    ccl = fec.read_ccl(spark, str(fec_dir / "ccl24.txt"), str(fec_dir / "ccl26.txt"))
    assert ccl.count() == 3  # 4 lines, 1 exact dup dropped


def test_cn_keep_last(spark, fec_dir):
    cn = fec.read_cn(spark, str(fec_dir / "cn.txt"))
    smith = cn.filter(F.col("CAND_ID") == "H0TX01").collect()
    assert len(smith) == 1
    assert smith[0].CAND_ELECTION_YR == "2026"


def test_fuzzy_link(spark, fec_dir):
    cn = fec.read_cn(spark, str(fec_dir / "cn.txt"))
    pols = spark.createDataFrame(
        [
            (1, "John", "Smith", "TX"),
            (2, "Nancy", "Pelosi", "DC"),
            (3, "Alex", "Zzz", "WY"),  # no candidate in state -> unmatched
        ],
        "politician_id int, first_name string, last_name string, state string",
    )
    linked = fec.fuzzy_link_politicians(pols, cn, threshold=80)
    got = {r.politician_id: r.fec_candidate_id for r in linked.collect()}
    assert got == {1: "H0TX01", 2: "H0DC01"}


# ---------------------------------------------------------------------------
# Vote JSON (SURVEY S6, N1-N3, J7/J8)
# ---------------------------------------------------------------------------

VOTE_DOCS = [
    {  # normal passage vote with the literal "VP" voter (N2)
        "category": "passage",
        "date": "2025-03-14",
        "bill": {"type": "hr", "number": 123, "congress": 119},
        "votes": {
            "Yea": [{"id": "A000001", "party": "D", "state": "CA"}, "VP"],
            "Nay": [{"id": "B000002", "party": "R", "state": "TX"}],
        },
    },
    {  # nomination -> skipped (N3)
        "category": "nomination",
        "date": "2025-03-15",
        "bill": {"type": "s", "number": 1, "congress": 119},
        "votes": {"Yea": [{"id": "A000001", "party": "D", "state": "CA"}]},
    },
    {  # missing bill -> skipped (N3)
        "category": "passage",
        "date": "2025-03-16",
        "votes": {"Yea": [{"id": "A000001", "party": "D", "state": "CA"}]},
    },
    {  # bill key not in bills table -> dropped at resolve
        "category": "passage",
        "date": "2025-03-17",
        "bill": {"type": "hr", "number": 999, "congress": 119},
        "votes": {"Nay": [{"id": "B000002", "party": "R", "state": "TX"}]},
    },
]


@pytest.fixture(scope="module")
def votes_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("votes")
    for i, doc in enumerate(VOTE_DOCS):
        sub = d / f"vote{i}"
        sub.mkdir()
        (sub / "data.json").write_text(json.dumps(doc))
    return d


def test_vote_explode(spark, votes_dir):
    raw = votes_json.read_vote_files(spark, str(votes_dir) + "/*/data.json")
    exploded = votes_json.explode_votes(raw)
    rows = exploded.collect()
    # doc0: 2 real voters ("VP" dropped); doc3: 1 voter. nomination + no-bill skipped.
    assert len(rows) == 3
    keys = {(r.congress_id, r.bill_key, r.vote_position) for r in rows}
    assert ("A000001", "HR123-119", "Yea") in keys
    assert ("B000002", "HR999-119", "Nay") in keys


def test_vote_resolve(spark, votes_dir):
    raw = votes_json.read_vote_files(spark, str(votes_dir) + "/*/data.json")
    exploded = votes_json.explode_votes(raw)
    pols = spark.createDataFrame(
        [(10, "A000001"), (20, "B000002")], "politician_id int, congress_id string"
    )
    bills = spark.createDataFrame(
        [(7, "HR123", 119)], "bill_id int, official_bill_number string, congress int"
    )
    resolved = votes_json.resolve_vote_ids(exploded, pols, bills)
    rows = resolved.collect()
    assert {(r.politician_id, r.bill_id, r.vote_position) for r in rows} == {
        (10, 7, "Yea"),
        (20, 7, "Nay"),
    }


# ---------------------------------------------------------------------------
# Billstatus XML (SURVEY S7, N4, F16)
# ---------------------------------------------------------------------------

BILL_XML = textwrap.dedent(
    """\
    <?xml version="1.0"?>
    <billStatus>
      <bill>
        <congress>119</congress>
        <type>HR</type>
        <number>123</number>
        <title>Clean Water Act</title>
        <introducedDate>2025-01-15</introducedDate>
        <sponsors><item><bioguideId>A000001</bioguideId></item></sponsors>
        <cosponsors>
          <item>
            <bioguideId>B000002</bioguideId>
            <sponsorshipDate>2025-01-16</sponsorshipDate>
            <isOriginalCosponsor>True</isOriginalCosponsor>
          </item>
          <item>
            <bioguideId>C000003</bioguideId>
            <sponsorshipDate>2025-02-20</sponsorshipDate>
            <isOriginalCosponsor>false</isOriginalCosponsor>
          </item>
        </cosponsors>
        <summaries><summary><text>A bill about water.</text></summary></summaries>
      </bill>
    </billStatus>
    """
)

BILL_XML_SPARSE = textwrap.dedent(
    """\
    <?xml version="1.0"?>
    <billStatus>
      <bill>
        <congress>119</congress>
        <type>S</type>
        <number>42</number>
        <title>No Friends Act</title>
        <introducedDate>bad-date</introducedDate>
        <cosponsors></cosponsors>
      </bill>
    </billStatus>
    """
)


@pytest.fixture(scope="module")
def xml_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("xml")
    (d / "b1.xml").write_text(BILL_XML)
    (d / "b2.xml").write_text(BILL_XML_SPARSE)
    return d


def test_bill_xml_extract(spark, xml_dir):
    parsed = bills_xml.read_billstatus(spark, str(xml_dir) + "/*.xml")
    bills = {r.official_bill_number: r for r in bills_xml.extract_bills(parsed).collect()}
    assert set(bills) == {"HR123", "S42"}
    assert bills["HR123"].sponsor_bioguide == "A000001"
    assert bills["HR123"].summary == "A bill about water."
    assert bills["HR123"].date_introduced.isoformat() == "2025-01-15"
    assert bills["S42"].date_introduced is None  # bad date -> NULL (F7)
    assert bills["S42"].sponsor_bioguide is None


def test_bill_xml_cosponsors(spark, xml_dir):
    parsed = bills_xml.read_billstatus(spark, str(xml_dir) + "/*.xml")
    cos = bills_xml.extract_cosponsors(parsed).collect()
    assert len(cos) == 2
    got = {r.congress_id: r.is_original_cosponsor for r in cos}
    assert got == {"B000002": True, "C000003": False}  # 'True'/'false' parse (F16)


# ---------------------------------------------------------------------------
# Committee YAML (SURVEY S8, N6, J5)
# ---------------------------------------------------------------------------

COMMITTEE_DOCS = [
    {
        "name": "House Committee on Agriculture",
        "type": "house",
        "thomas_id": "HSAG",
        "house_committee_id": "HSAG",
        "url": "http://ag.example",
        "subcommittees": [
            {"name": "Conservation", "thomas_id": "15"},
            {"name": "Livestock", "thomas_id": "22"},
        ],
    },
    {
        "name": "Senate Committee on Finance",
        "type": "senate",
        "thomas_id": "SSFI",
        "senate_committee_id": "SSFI",
        "url": "http://fin.example",
        "subcommittees": [],
    },
]


def test_committee_flatten(spark):
    raw = committees_yaml.committees_df(spark, COMMITTEE_DOCS)
    flat = committees_yaml.flatten_committees(raw)
    rows = {r.committee_id: r for r in flat.collect()}
    assert set(rows) == {"HSAG", "HSAG15", "HSAG22", "SSFI"}
    assert rows["HSAG15"].parent_committee_id == "HSAG"
    assert rows["HSAG15"].chamber == "house"  # swapped-field semantics preserved
    assert rows["SSFI"].parent_committee_id is None


def test_committee_hierarchy(spark):
    raw = committees_yaml.committees_df(spark, COMMITTEE_DOCS)
    flat = committees_yaml.flatten_committees(raw)
    h = committees_yaml.committee_hierarchy(flat)
    rows = {r.committee_id: r.parent_name for r in h.collect()}
    assert rows == {
        "HSAG15": "House Committee on Agriculture",
        "HSAG22": "House Committee on Agriculture",
    }


def test_memberships(spark):
    doc = {
        "HSAG": [
            {"name": "John Smith", "bioguide": "A000001", "rank": 1, "title": "Chair", "party": "majority"},
            {"name": "Jane Doe", "bioguide": "B000002", "rank": 2, "party": "minority"},
        ]
    }
    m = committees_yaml.memberships_df(spark, doc)
    rows = m.orderBy("rank").collect()
    assert rows[0].title == "Chair"
    assert rows[1].title is None


# ---------------------------------------------------------------------------
# Member JSON (SURVEY S5, N5, F4-F5)
# ---------------------------------------------------------------------------

MEMBER_RECORDS = [
    {
        "bioguideId": "K000383",
        "name": "King, Angus S., Jr.",  # suffix case: split on FIRST comma
        "partyName": "Independent",
        "state": "Maine",
        "terms": {"item": [{"chamber": "Senate", "startYear": 2013}]},  # no end -> active
    },
    {
        "bioguideId": "P000197",
        "name": "Pelosi, Nancy",
        "partyName": "Democratic",
        "state": "California",
        "terms": {
            "item": [
                {"chamber": "House of Representatives", "startYear": 1987, "endYear": 2023},
                {"chamber": "House of Representatives", "startYear": 2023, "endYear": 2025},
            ]
        },
    },
    {
        "bioguideId": "X000001",
        "name": "Mononym",  # no comma -> all last_name
        "partyName": "Republican",
        "state": "Atlantis",  # unknown state -> dropped
        "terms": {"item": [{"chamber": "House of Representatives", "startYear": 2020}]},
    },
]


def test_member_transform(spark):
    df = members.members_df(spark, MEMBER_RECORDS)
    out = members.transform_members(df, members.state_lookup(spark))
    rows = {r.congress_id: r for r in out.collect()}
    assert set(rows) == {"K000383", "P000197"}  # unknown state dropped
    king = rows["K000383"]
    assert (king.first_name, king.last_name) == ("Angus S., Jr.", "King")
    assert king.state == "ME" and king.chamber == "Senate"
    assert king.is_active is True and king.end_year is None
    pelosi = rows["P000197"]
    assert pelosi.state == "CA" and pelosi.chamber == "House"
    assert (pelosi.start_year, pelosi.end_year) == (1987, 2025)
    assert pelosi.is_active is False


# ---------------------------------------------------------------------------
# Driver-side acquisition helpers (SURVEY S4/S5/T4) — no network needed
# ---------------------------------------------------------------------------


def test_extract_zip(tmp_path):
    import zipfile

    from politician_etl_project_spark.sources import staging

    zp = tmp_path / "indiv24.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("itcont.txt", "C001|N|...\n")
        zf.writestr("README.md", "not data")
    out = staging.extract_zip(str(zp), str(tmp_path / "stage"))
    assert [p.split("/")[-1] for p in out] == ["itcont.txt"]
    assert open(out[0]).read().startswith("C001|N|")


def test_paginate_follows_next():
    from politician_etl_project_spark.sources import staging

    pages = {
        0: {"bills": [{"n": 1}, {"n": 2}], "pagination": {"next": "page2"}},
        2: {"bills": [{"n": 3}], "pagination": {"next": None}},
    }
    got = list(staging.paginate(lambda off: pages[off], "bills"))
    assert [g["n"] for g in got] == [1, 2, 3]


def test_paginate_partitioned_matches_driver_loop(spark):
    """The mapInPandas partitioned fetch (S5 at-scale layout) must pull
    the SAME item set as the sequential driver loop over next-links —
    including a short final page and page_size larger than one
    partition's share."""
    import json

    from politician_etl_project_spark.sources import staging

    # 11 items, 3 per page -> offsets 0,3,6,9 (last page short)
    items = [{"n": i, "tag": f"t{i}"} for i in range(11)]

    def fetch_page(off):
        chunk = items[off : off + 3]
        nxt = "more" if off + 3 < len(items) else None
        return {"bills": chunk, "pagination": {"next": nxt}}

    driver_items = list(staging.paginate(fetch_page, "bills"))
    dist = staging.paginate_partitioned(
        spark, fetch_page, "bills", total_items=len(items), page_size=3, n_partitions=4
    )
    got = sorted(json.loads(r["item_json"])["n"] for r in dist.collect())
    assert got == sorted(g["n"] for g in driver_items) == list(range(11))
    # offsets recorded per item allow page-level provenance checks
    offs = {r["offset"] for r in dist.collect()}
    assert offs == {0, 3, 6, 9}
    # empty id-space short-circuits without a Spark job
    assert staging.paginate_partitioned(spark, fetch_page, "bills", 0, 3).count() == 0


def test_jdbc_roundtrip_derby(spark, tmp_path):
    """S9 moves REAL rows: Spark JDBC write into the embedded Derby
    engine Spark bundles, partition-parallel read back through
    catalog.load_table_jdbc, with filter pushdown into the database's
    generated SQL visible in the plan."""
    from pyspark.sql import functions as F

    from politician_etl_project_spark.catalog import load_table, load_table_jdbc
    from tests.conftest import SF_SMALL

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = (
        load_table(spark, SF_SMALL, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .limit(500)
    )
    src.write.format("jdbc").option("url", url).option("dbtable", "T").option(
        "driver", drv
    ).mode("overwrite").save()

    back = load_table_jdbc(
        spark, url, "T",
        partition_column="o_orderkey", lower_bound=0, upper_bound=1500,
        num_partitions=4, driver=drv,
    )
    # range-sliced scan: 4 concurrent cursors, not one
    assert back.rdd.getNumPartitions() == 4
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    plan = back.filter(F.col("o_orderstatus") == "F")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderstatus" in plan, plan


def test_src_jdbc_removes_derby_db_at_exit():
    """q_src_jdbc's process-local Derby database is gone once its
    process exits: no ``spark_graft_derby_<pid>_*`` directory is left
    behind per process."""
    import glob
    import os
    import subprocess
    import sys
    import tempfile

    from tests.conftest import REPO_ROOT, SF_SMALL

    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_derby_{}_*")
    code = (
        "import glob, os\n"
        "from politician_etl_project_spark.session import get_spark\n"
        "from politician_etl_project_spark.queries.sources_decl import q_src_jdbc\n"
        f"q_src_jdbc(get_spark('derby-exit'), {SF_SMALL!r}).collect()\n"
        f"print(os.getpid(), len(glob.glob({pattern!r}.format(os.getpid()))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, capture_output=True, text=True,
        check=True, timeout=600,
    )
    pid, n_live = out.stdout.split()[-2:]
    assert n_live == "1"  # the database existed while the process ran
    assert glob.glob(pattern.format(pid)) == []


def test_probe_ids_stops_after_misses():
    from politician_etl_project_spark.sources import staging

    present = {101, 102, 104}
    got = staging.probe_ids(lambda i: i in present, start=100, max_consecutive_failures=3)
    # 101,102 hit; 103 miss; 104 hit; 105,106,107 miss -> stop
    assert got == [101, 102, 104]


def test_vote_json_malformed_file_skipped(spark, tmp_path):
    """A corrupt JSON file among good ones must not fail the scan —
    PERMISSIVE parsing yields nulls, which the validity filter drops
    (the reference's try/except-per-file loop, ingest_votes.py:100-110)."""
    good = tmp_path / "v0"
    good.mkdir()
    (good / "data.json").write_text(json.dumps(VOTE_DOCS[0]))
    bad = tmp_path / "v1"
    bad.mkdir()
    (bad / "data.json").write_text('{"category": "passage", "bill": {truncated...')
    raw = votes_json.read_vote_files(spark, str(tmp_path) + "/*/data.json")
    rows = votes_json.explode_votes(raw).collect()
    assert len(rows) == 2  # the good file's two real voters; corrupt file contributes nothing


def test_itcont_malformed_line_tolerated(spark, tmp_path):
    """A ragged pipe-CSV line (too few columns) parses PERMISSIVE into
    nulls and is dropped by the amount/date guard, not an exception."""
    p = tmp_path / "itcont.txt"
    p.write_text(ITCONT_LINES[0] + "\nBROKEN|LINE\n")
    target = spark.createDataFrame([("C001",)], "CMTE_ID string")
    out = fec.transform_donations(fec.read_itcont(spark, str(p)), target).collect()
    assert len(out) == 1
    assert out[0].fec_filing_id == "SUB0000000001"


def test_jdbc_scan_options_partitioned():
    from politician_etl_project_spark.catalog import jdbc_scan_options

    opts = jdbc_scan_options(
        "jdbc:postgresql://db:5432/politics",
        "donations",
        partition_column="id",
        lower_bound=0,
        upper_bound=5_000_000,
        num_partitions=16,
    )
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "5000000"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "10000"


def test_jdbc_scan_options_validation():
    import pytest

    from politician_etl_project_spark.catalog import jdbc_scan_options

    with pytest.raises(ValueError):
        jdbc_scan_options("postgresql://nope", "t")
    with pytest.raises(ValueError):
        jdbc_scan_options("jdbc:postgresql://db/x", "t", partition_column="id")
    # dim-table scan: no partitioning options emitted at all
    opts = jdbc_scan_options("jdbc:mysql://db/x", "region", driver="com.mysql.cj.jdbc.Driver")
    assert "partitionColumn" not in opts and opts["driver"] == "com.mysql.cj.jdbc.Driver"


def test_member_empty_terms_does_not_crash(spark):
    """A member record with no terms yields null chamber/years instead
    of aborting the whole load under ANSI (element_at(-1) on an empty
    array raises INVALID_ARRAY_INDEX; try_element_at does not)."""
    recs = [
        {"bioguideId": "X000001", "name": "Doe, Jane", "partyName": "D",
         "state": "California", "terms": {"item": []}},
    ]
    out = members.transform_members(
        members.members_df(spark, recs), members.state_lookup(spark)
    ).collect()
    assert len(out) == 1
    assert out[0].chamber is None and out[0].start_year is None


def test_member_terms_date_string_fallback(spark):
    """Terms carrying ISO date keys (start/end) instead of integer years
    parse to their year — previously the string hit the IntegerType
    schema and crashed createDataFrame."""
    recs = [
        {"bioguideId": "X000002", "name": "Roe, Rick", "partyName": "R",
         "state": "Texas",
         "terms": {"item": [{"chamber": "Senate", "start": "2021-01-03", "end": "2027-01-03"}]}},
    ]
    out = members.transform_members(
        members.members_df(spark, recs), members.state_lookup(spark)
    ).collect()
    assert (out[0].start_year, out[0].end_year, out[0].chamber) == (2021, 2027, "Senate")


def test_vote_missing_category_not_dropped(spark, tmp_path):
    """A vote file without a category key must still contribute rows —
    `category != 'nomination'` alone null-propagates and silently drops
    the whole roll call."""
    import json as _json

    doc = {"date": "2024-01-10",
           "bill": {"type": "hr", "number": 77, "congress": 119},
           "votes": {"Yea": [_json.dumps({"id": "A000009", "party": "D", "state": "CA"})]}}
    d = tmp_path / "v9"
    d.mkdir()
    (d / "data.json").write_text(_json.dumps(doc))
    raw = votes_json.read_vote_files(spark, str(tmp_path) + "/*/data.json")
    rows = votes_json.explode_votes(raw).collect()
    assert len(rows) == 1 and rows[0].congress_id == "A000009"


def test_vote_same_day_roll_calls_stay_distinct(spark, tmp_path):
    """Two roll calls on the same bill on the same day (amendment then
    passage) carry distinct roll_keys, so the votes fact keeps both —
    a (politician, bill, date) key silently collapsed them."""
    import json as _json

    def _doc(position):
        return {"category": "passage", "date": "2024-01-10",
                "bill": {"type": "hr", "number": 77, "congress": 119},
                "votes": {position: [_json.dumps({"id": "A000009", "party": "D", "state": "CA"})]}}

    for i, posn in enumerate(["Nay", "Yea"]):
        d = tmp_path / f"roll{i}"
        d.mkdir()
        (d / "data.json").write_text(_json.dumps(_doc(posn)))
    raw = votes_json.read_vote_files(spark, str(tmp_path) + "/*/data.json")
    exploded = votes_json.explode_votes(raw)
    assert exploded.count() == 2
    assert exploded.select("roll_key").distinct().count() == 2
    pols = spark.createDataFrame([(1, "A000009")], "politician_id int, congress_id string")
    bills = spark.createDataFrame([(7, "HR77", 119)], "bill_id int, official_bill_number string, congress int")
    resolved = votes_json.resolve_vote_ids(exploded, pols, bills)
    from politician_etl_project_spark.operators.upsert import dedup_keys

    kept = dedup_keys(resolved, ["politician_id", "roll_key"])
    assert kept.count() == 2  # both roll calls survive the votes key


def test_vote_same_roll_id_across_years_stays_distinct(spark, tmp_path):
    """Govtrack roll ids like 'h1' reset every year: in the reference
    layout data/{congress}/votes/{year}/{roll}/data.json the SAME leaf
    dir name recurs across years and congresses.  roll_key must carry
    enough path context that those are distinct roll calls — a
    leaf-name-only key silently collapsed them under the
    (politician_id, roll_key) votes key, losing votes."""
    import json as _json

    def _doc(date):
        return {"category": "passage", "date": date,
                "bill": {"type": "hr", "number": 77, "congress": 119},
                "votes": {"Yea": [_json.dumps({"id": "A000009", "party": "D", "state": "CA"})]}}

    for congress, year, date in [("118", "2023", "2023-01-10"), ("118", "2024", "2024-01-12")]:
        d = tmp_path / congress / "votes" / year / "h1"
        d.mkdir(parents=True)
        (d / "data.json").write_text(_json.dumps(_doc(date)))
    raw = votes_json.read_vote_files(spark, str(tmp_path) + "/*/votes/*/*/data.json")
    exploded = votes_json.explode_votes(raw)
    assert exploded.count() == 2
    assert exploded.select("roll_key").distinct().count() == 2
    keys = {r.roll_key for r in exploded.select("roll_key").collect()}
    # the key is the last four path segments: {congress}/votes/{year}/{roll}
    assert keys == {"118/votes/2023/h1", "118/votes/2024/h1"}


def test_vote_roll_key_root_independent_for_reference_layout(spark, tmp_path):
    """The reference layout anchors on its own 'votes' segment, so the
    SAME files re-ingested from a respelled staging root produce the
    SAME roll_keys — re-ingest merges instead of duplicating."""
    import json as _json

    doc = {"category": "passage", "date": "2023-01-10",
           "bill": {"type": "hr", "number": 77, "congress": 119},
           "votes": {"Yea": [_json.dumps({"id": "A000009", "party": "D", "state": "CA"})]}}

    keys = []
    for root in ["stage-2024-01-01", "stage-2024-02-15"]:
        d = tmp_path / root / "118" / "votes" / "2023" / "h1"
        d.mkdir(parents=True)
        (d / "data.json").write_text(_json.dumps(doc))
        raw = votes_json.read_vote_files(
            spark, str(tmp_path / root) + "/*/votes/*/*/data.json"
        )
        keys.append({r.roll_key for r in votes_json.explode_votes(raw).collect()})
    assert keys[0] == keys[1] == {"118/votes/2023/h1"}


def test_members_json_scan_equals_driver_path(spark):
    """members_json_df (JVM JSON scan) must reproduce members_df (the
    driver createDataFrame route) row-for-row on the fixture page —
    including the int-vs-ISO-date term-year coercion both express."""
    import os

    from politician_etl_project_spark.queries.sources_decl import (
        FIXTURE_DIR,
        _MEMBERS_PAGE,
        ensure_fixtures,
    )

    ensure_fixtures()
    via_scan = members.members_json_df(spark, os.path.join(FIXTURE_DIR, "members.json"))
    via_driver = members.members_df(spark, _MEMBERS_PAGE)
    # simpleString compares names + types; nullability legitimately
    # differs (expression-derived structs are tighter than createDataFrame)
    assert via_scan.schema.simpleString() == via_driver.schema.simpleString()
    a = sorted(map(str, via_scan.collect()))
    b = sorted(map(str, via_driver.collect()))
    assert a == b


def test_paginate_partitioned_missing_items_key_fails_loudly(spark):
    """A page WITHOUT its items envelope is a transient API failure and
    must fail the fetch (round-7 advice), never ship as a silent gap;
    a page whose envelope is present but EMPTY is a legitimate zero-item
    page and passes."""
    import json

    from politician_etl_project_spark.sources import staging

    def flaky_fetch(off):
        if off == 3:
            return {"error": "rate limited"}  # no 'bills' key at all
        return {"bills": [{"n": off}], "pagination": {"next": None}}

    dist = staging.paginate_partitioned(
        spark, flaky_fetch, "bills", total_items=9, page_size=3, n_partitions=2
    )
    with pytest.raises(Exception, match="no 'bills' key"):
        dist.collect()

    def empty_page_fetch(off):
        # envelope present, zero items: NOT an error
        return {"bills": [] if off == 3 else [{"n": off}], "pagination": {"next": None}}

    ok = staging.paginate_partitioned(
        spark, empty_page_fetch, "bills", total_items=9, page_size=3, n_partitions=2
    )
    assert sorted(json.loads(r["item_json"])["n"] for r in ok.collect()) == [0, 6]


# ---------------------------------------------------------------------------
# Driver-side rows as local relations (schemas.local_frame)
# ---------------------------------------------------------------------------


def _local_frame_cases():
    from politician_etl_project_spark.operators.ingest import DedupIngestTable
    from politician_etl_project_spark.schemas import MEMBER

    fps, bands = (DedupIngestTable._SCHEMAS[t].format(id="doc_id") for t in ("fps", "bands"))
    return {
        "member": (
            MEMBER,
            [
                ("K000383", "King, Angus", "Independent", "Maine", ([("Senate", 2013, None)],)),
                ("P000197", None, None, "California", ([("House", 1987, 2023), (None, None, 2025)],)),
                ("X000001", "Mononym", "Republican", None, ([],)),
                ("Y000002", "Nobody", None, None, (None,)),
                (None, None, None, None, None),
            ],
        ),
        "committee_raw": (
            committees_yaml.COMMITTEE_RAW,
            [
                ("Agriculture", "house", "HSAG", "HSAG", None, "http://ag", [("Forestry", "15"), (None, "22")]),
                ("Finance", "senate", "SSFI", None, "SSFI", None, []),
                (None, None, None, None, None, None, None),
            ],
        ),
        "membership": (
            committees_yaml.MEMBERSHIP,
            [("HSAG", "John Smith", "A000001", 1, "Chair", "majority"), ("HSAG", None, "B000002", None, None, None)],
        ),
        "fps": (fps, [(1, "ab12", "xab"), (2, None, None)]),
        "bands": (bands, [(0, "k0", 1, ["a", "b"], "xk0"), (1, None, 2, [], None), (2, "k2", None, None, "xk2")]),
    }


@pytest.mark.parametrize("case", ["member", "committee_raw", "membership", "fps", "bands"])
@pytest.mark.parametrize("empty", [False, True], ids=["rows", "zero_rows"])
def test_local_frame_equals_create_dataframe(spark, case, empty):
    """The Arrow local relation is the createDataFrame frame: same
    schema (nullability included) and same rows, NULLs and nested
    arrays of structs included, and zero rows."""
    from politician_etl_project_spark.schemas import local_frame

    schema, rows = _local_frame_cases()[case]
    rows = [] if empty else rows
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
