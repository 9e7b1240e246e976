"""End-to-end ETL tests: the reference's run_all_updates flow
(bills → sponsors/cosponsors → votes → donations, FK order) over a
cross-linked fixture set, including idempotent re-run and incremental
update semantics."""

from __future__ import annotations

import json
import os
import textwrap
import uuid

import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark import etl

MEMBERS = [
    {
        "bioguideId": "P000197",
        "name": "Pelosi, Nancy",
        "partyName": "Democratic",
        "state": "California",
        "terms": {"item": [{"chamber": "House of Representatives", "startYear": 1987}]},
    },
    {
        "bioguideId": "K000383",
        "name": "King, Angus",
        "partyName": "Independent",
        "state": "Maine",
        "terms": {"item": [{"chamber": "Senate", "startYear": 2013}]},
    },
]

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
        <sponsors><item><bioguideId>P000197</bioguideId></item></sponsors>
        <cosponsors>
          <item>
            <bioguideId>K000383</bioguideId>
            <sponsorshipDate>2025-01-16</sponsorshipDate>
            <isOriginalCosponsor>True</isOriginalCosponsor>
          </item>
        </cosponsors>
        <summaries><summary><text>A bill about water.</text></summary></summaries>
      </bill>
    </billStatus>
    """
)

VOTE_DOC = {
    "category": "passage",
    "date": "2025-03-14",
    "bill": {"type": "hr", "number": 123, "congress": 119},
    "votes": {
        "Yea": [{"id": "P000197", "party": "D", "state": "CA"}, "VP"],
        "Nay": [{"id": "K000383", "party": "I", "state": "ME"}],
    },
}

# CMTE C002 → Pelosi (H8CA05), C001 → King (S4ME01)
CN = (
    "H8CA05|PELOSI, NANCY|DEM|2024|CA|H|05|I|C|C002||||CA|94102\n"
    "S4ME01|KING, ANGUS|IND|2024|ME|S|00|I|C|C001||||ME|04101\n"
)
CCL = "H8CA05|2024|2024|C002|H|P|L1\nS4ME01|2024|2024|C001|S|P|L2\n"
ITCONT = (
    "C002|N|YE||img|15|IND|SMITH, JOHN|SF|CA|94110|ACME|ENG|03142024|500|||1|||SUB01\n"
    "C002|A|YE||img|15|IND|SMITH, JOHN|SF|CA|94110|ACME|ENG|03142024|500|||1|||SUB02\n"  # amendment
    "C001|N|YE||img|15|PAC|LOBSTER PAC|PORTLAND|ME|04101|||02012024|250|||1|||SUB03\n"
    "C001|N|YE||img|15|IND|SMITH, JOHN|SF|CA|94110|ACME|ENG|01052024|125.50|||1|||SUB04\n"
    "C999|N|YE||img|15|IND|NOBODY|X|XX|00000|||01012024|75|||1|||SUB05\n"  # unlinked cmte
)

COMMITTEES = [
    {
        "name": "House Committee on Agriculture",
        "type": "house",
        "thomas_id": "HSAG",
        "house_committee_id": "HSAG",
        "url": "http://ag.example",
        "subcommittees": [{"name": "Conservation", "thomas_id": "15"}],
    }
]
MEMBERSHIPS = {
    "HSAG": [
        {"name": "Nancy Pelosi", "bioguide": "P000197", "rank": 1, "title": "Chair", "party": "majority"},
        {"name": "Angus King", "bioguide": "K000383", "rank": 2, "party": "minority"},
    ]
}


def _stage(d, bill_files=("hr123.xml",)):
    (d / "xml").mkdir(parents=True)
    for name in bill_files:
        (d / "xml" / name).write_text(BILL_XML)
    (d / "votes").mkdir()
    (d / "votes" / "v1").mkdir()
    (d / "votes" / "v1" / "data.json").write_text(json.dumps(VOTE_DOC))
    (d / "cn.txt").write_text(CN)
    (d / "ccl.txt").write_text(CCL)
    (d / "itcont.txt").write_text(ITCONT)
    return d


@pytest.fixture(scope="module")
def staging(tmp_path_factory):
    return _stage(tmp_path_factory.mktemp("staging"))


def _run(spark, staging, root, members=MEMBERS):
    wh = etl.Warehouse(spark, str(root))
    return etl.run_all(
        wh,
        member_records=members,
        billstatus_glob=str(staging / "xml" / "*.xml"),
        votes_glob=str(staging / "votes" / "*" / "data.json"),
        itcont_path=str(staging / "itcont.txt"),
        ccl_paths=[str(staging / "ccl.txt")],
        cn_paths=[str(staging / "cn.txt")],
        committee_docs=COMMITTEES,
        membership_doc=MEMBERSHIPS,
    )


@pytest.fixture(scope="module")
def wh(spark, staging, tmp_path_factory):
    return _run(spark, staging, tmp_path_factory.mktemp("wh"))


def _snapshot(wh):
    return {
        name: sorted(map(str, wh.read(name).collect()))
        for name in wh.KEYS
        if name != "update_log"
    }


def test_politicians_linked(wh):
    pols = {r.congress_id: r for r in wh.read("politicians").collect()}
    assert set(pols) == {"P000197", "K000383"}
    assert pols["P000197"].fec_committee_id == "C002"
    assert pols["K000383"].fec_committee_id == "C001"
    assert pols["P000197"].fec_candidate_id == "H8CA05"
    # deterministic dense surrogate ids ordered by congress_id
    assert pols["K000383"].politician_id == 1
    assert pols["P000197"].politician_id == 2


def test_bills_and_cosponsors(wh):
    bills = {r.official_bill_number: r for r in wh.read("bills").collect()}
    assert set(bills) == {"HR123"}
    pelosi_id = (
        wh.read("politicians").filter(F.col("congress_id") == "P000197").collect()[0].politician_id
    )
    assert bills["HR123"].sponsor_id == pelosi_id
    cos = wh.read("bill_cosponsors").collect()
    assert len(cos) == 1 and cos[0].is_original_cosponsor is True


def test_votes_resolved(wh):
    votes = wh.read("votes").collect()
    assert {(v.vote_position) for v in votes} == {"Yea", "Nay"}
    assert all(v.bill_id == 1 for v in votes)


def test_donations_and_donors(wh):
    donors = {r.name: r for r in wh.read("donors").collect()}
    assert set(donors) == {"SMITH, JOHN", "LOBSTER PAC"}
    assert donors["LOBSTER PAC"].donor_type == "PAC"
    dons = wh.read("donations").collect()
    # SUB01 (C002→Pelosi), SUB03+SUB04 (C001→King); amendment + unlinked dropped
    assert {d.fec_filing_id for d in dons} == {"SUB01", "SUB03", "SUB04"}
    per_pol = {
        r.congress_id: str(r.total)
        for r in wh.read("donations")
        .join(wh.read("politicians"), "politician_id")
        .groupBy("congress_id")
        .agg(F.sum("amount").alias("total"))
        .collect()
    }
    assert per_pol == {"P000197": "500.00", "K000383": "375.50"}


def test_committees_loaded(wh):
    assert {r.committee_id for r in wh.read("committees").collect()} == {"HSAG", "HSAG15"}
    asg = {r.role for r in wh.read("committee_assignments").collect()}
    assert asg == {"Chair", None}


def test_update_log(wh):
    log = wh.read("update_log")
    tables_logged = {r.table_name for r in log.collect()}
    assert {"politicians", "bills", "votes", "donations", "donors"} <= tables_logged
    assert log.filter(F.col("status") != "success").count() == 0


def test_idempotent_rerun(spark, staging, wh):
    before = _snapshot(wh)
    _run(spark, staging, wh.root)  # replay the same staging input
    after = _snapshot(wh)
    assert before == after


def test_first_load_keeps_one_row_per_key(spark, tmp_path):
    """A first batch that repeats one member record (another state) and
    carries one billstatus file twice: the dims and the cosponsor fact
    hold one row per natural key (the reference's UNIQUE constraints),
    and replaying the batch leaves every table unchanged.  Two ids for
    one key would survive forever — every later stable_ids join keeps
    both."""
    d = _stage(tmp_path / "staging", bill_files=("hr123.xml", "hr123_copy.xml"))
    members = MEMBERS + [dict(MEMBERS[0], state="New York")]
    wh = _run(spark, d, tmp_path / "wh", members=members)
    counts = {}
    for name in ("politicians", "bills", "bill_cosponsors"):
        df = wh.read(name)
        counts[name] = df.count()
        assert counts[name] == df.select(*wh.KEYS[name]).distinct().count(), name
    assert counts == {"politicians": 2, "bills": 1, "bill_cosponsors": 1}
    before = _snapshot(wh)
    _run(spark, d, wh.root, members=members)
    assert _snapshot(wh) == before


def test_incremental_update_wins_and_first_wins(spark, staging, wh):
    """A second batch: Pelosi switches party (update-wins on the dim);
    a donor re-appears with different attributes (first-wins keeps the
    original); a brand-new donation appends."""
    etl.load_politicians(
        wh,
        [
            {
                "bioguideId": "P000197",
                "name": "Pelosi, Nancy",
                "partyName": "Independent",
                "state": "California",
                "terms": {"item": [{"chamber": "House of Representatives", "startYear": 1987}]},
            }
        ],
    )
    # update-wins: party changed, King untouched, ids still dense+stable
    pols = {r.congress_id: r for r in wh.read("politicians").collect()}
    assert pols["P000197"].party == "Independent"
    assert pols["K000383"].party == "Independent" or pols["K000383"].party  # King row intact
    assert {p.politician_id for p in pols.values()} == {1, 2}
    # column-level merge: the refresh batch carried NULL link columns, but
    # previously-linked FEC ids must survive WITHOUT a manual re-link
    assert pols["P000197"].fec_committee_id == "C002"
    assert pols["P000197"].fec_candidate_id == "H8CA05"
    inc = staging / "itcont_inc.txt"
    inc.write_text(
        # same donor uid as SUB01 but different city: first-wins keeps SF
        "C002|N|YE||img|15|IND|SMITH, JOHN|OAKLAND|CA|94110|ACME|ENG|04012024|300|||1|||SUB06\n"
    )
    etl.load_donations(wh, str(inc))
    donors = {r.name: r for r in wh.read("donors").collect()}
    assert donors["SMITH, JOHN"].city == "SF"  # first-wins preserved
    assert wh.read("donations").count() == 4  # SUB06 appended


def test_surrogate_ids_stable_under_early_sorting_key(spark, staging, wh):
    """A new politician whose congress_id sorts FIRST must not shift any
    existing id (persisted facts reference the old assignments); the new
    row gets max(existing)+1."""
    before = {r.congress_id: r.politician_id for r in wh.read("politicians").collect()}
    fact_refs_before = {r.politician_id for r in wh.read("donations").collect()}
    etl.load_politicians(
        wh,
        [
            {
                "bioguideId": "A000001",  # sorts before K000383 / P000197
                "name": "Aardvark, Alice",
                "partyName": "Independent",
                "state": "California",
                "terms": {"item": [{"chamber": "House of Representatives", "startYear": 2023}]},
            }
        ],
    )
    after = {r.congress_id: r.politician_id for r in wh.read("politicians").collect()}
    for cid, pid in before.items():
        assert after[cid] == pid, f"existing id moved: {cid} {pid} -> {after[cid]}"
    assert after["A000001"] == max(before.values()) + 1
    # every persisted FK still resolves to the same politician rows
    joined = (
        wh.read("donations")
        .join(wh.read("politicians"), "politician_id")
        .select("politician_id")
        .collect()
    )
    assert {r.politician_id for r in joined} == fact_refs_before


def _jobs_started(spark, action) -> int:
    """Spark jobs ``action()`` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warehouse_reads_pin_published_schema(spark, staging, tmp_path):
    """Every table ``run_all`` writes publishes its schema in its
    version manifest, and ``Warehouse.read`` pins it: the schema a
    footer-inferring read of the same files reports, at zero jobs (an
    inferring read starts one).  Each table keeps one version, and its
    data directory holds only that version's files."""
    wh = _run(spark, staging, tmp_path / "wh")

    def files(name):
        tbl = wh[name]
        assert tbl.versions() == [tbl.current_version()], name
        data = os.path.join(tbl.path, "data")
        on_disk = [os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")]
        assert sorted(on_disk) == sorted(tbl.files()), name
        return tbl.files()

    for name in wh.KEYS:
        paths = files(name)
        assert _jobs_started(spark, lambda: wh.read(name).schema) == 0, name
        assert wh.read(name).schema == spark.read.parquet(*paths).schema, name
    # the probe itself sees the job an inferring read starts
    assert _jobs_started(spark, lambda: spark.read.parquet(*files("bills"))) == 1


def test_failed_upsert_keeps_prior_version(spark, staging, tmp_path, monkeypatch):
    """A ``Warehouse.upsert`` whose staged write raises publishes
    nothing: the prior version stays current and readable with the same
    rows and ids, and no ``snap-*`` staging dir or stray data file is
    left behind."""
    from pyspark.sql import DataFrameWriter

    wh = _run(spark, staging, tmp_path / "wh")
    tbl = wh["politicians"]
    version = tbl.current_version()
    before = sorted(map(str, wh.read("politicians").collect()))
    real_parquet = DataFrameWriter.parquet

    def write_then_die(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        raise RuntimeError("died after staging")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_die)
    new_member = dict(MEMBERS[1], bioguideId="A000001", name="Aardvark, Alice")
    with pytest.raises(RuntimeError, match="died after staging"):
        etl.load_politicians(wh, MEMBERS + [new_member])
    monkeypatch.undo()
    assert tbl.current_version() == version
    assert sorted(map(str, wh.read("politicians").collect())) == before
    assert not [f for f in os.listdir(tbl.path) if f.startswith("snap-")]
    data = os.path.join(tbl.path, "data")
    on_disk = [os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")]
    assert sorted(on_disk) == sorted(tbl.files(version))


def _logged_counts(wh) -> dict[str, int]:
    """Each table's latest row-count entry in update_log (link-pass
    entries log linked rows, not the table size)."""
    log = wh.read("update_log").filter(F.col("notes").isNull())
    return {
        r.table_name: r.n
        for r in log.groupBy("table_name")
        .agg(F.max_by("records_updated", "last_update").alias("n"))
        .collect()
    }


def test_update_log_counts_are_table_rows(spark, staging, tmp_path):
    """The count the rewrite observes is the table's row count: after the
    first load and after an incremental batch (a new member beside the
    replayed bills, votes and donations), each table's latest
    update_log entry equals a count of the published table."""
    wh = _run(spark, staging, tmp_path / "wh")
    logged = _logged_counts(wh)
    assert set(logged) == set(wh.KEYS) - {"update_log"}
    assert logged == {n: wh.read(n).count() for n in logged}
    new_member = dict(MEMBERS[1], bioguideId="A000001", name="Aardvark, Alice")
    _run(spark, staging, wh.root, members=MEMBERS + [new_member])
    logged = _logged_counts(wh)
    assert logged == {n: wh.read(n).count() for n in logged}
    assert logged["politicians"] == 3
