"""Metric-bundle tests over the ETL-warehouse fixture: the reference's
endpoint outputs (app/metrics.py, app/main.py) recomputed from the
fixture staging data of tests/test_etl.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark import metrics
from tests import test_etl


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    # rebuild the same staging fixture files test_etl uses
    d = tmp_path_factory.mktemp("staging_m")
    import json

    (d / "xml").mkdir()
    (d / "xml" / "hr123.xml").write_text(test_etl.BILL_XML)
    (d / "votes").mkdir()
    (d / "votes" / "v1").mkdir()
    (d / "votes" / "v1" / "data.json").write_text(json.dumps(test_etl.VOTE_DOC))
    (d / "cn.txt").write_text(test_etl.CN)
    (d / "ccl.txt").write_text(test_etl.CCL)
    (d / "itcont.txt").write_text(test_etl.ITCONT)
    return test_etl._run(spark, d, tmp_path_factory.mktemp("wh_m"))


def _pid(wh, bioguide):
    return (
        wh.read("politicians").filter(F.col("congress_id") == bioguide).collect()[0].politician_id
    )


def test_financial_bundle(wh):
    king = _pid(wh, "K000383")
    out = metrics.financial_metrics(
        wh.read("donations"), wh.read("donors"), {"politician_id": king}
    )
    total = out["total"].collect()[0]
    assert str(total.total_donations) == "375.50"
    assert total.n_donations == 2 and total.n_donors == 2
    by_type = {r.donor_type: r for r in out["by_type"].collect()}
    assert set(by_type) == {"PAC", "Individual"}
    assert str(by_type["PAC"].total) == "250.00"
    assert float(by_type["PAC"].pct) == pytest.approx(66.58, abs=0.01)
    top = out["top_donors"].collect()
    assert top[0].name == "LOBSTER PAC"
    months = {r.month for r in out["timeline"].collect()}
    assert months == {"2024-01", "2024-02"}


def test_financial_filters(wh):
    out = metrics.financial_metrics(
        wh.read("donations"), wh.read("donors"), {"min_amount": 200}
    )
    assert str(out["total"].collect()[0].total_donations) == "750.00"  # 500 + 250


def test_legislative_bundle(wh):
    pelosi = _pid(wh, "P000197")
    king = _pid(wh, "K000383")
    out = metrics.legislative_metrics(wh.read("bills"), wh.read("bill_cosponsors"), pelosi)
    assert out["sponsored"].collect()[0].n_sponsored == 1
    cos = metrics.legislative_metrics(wh.read("bills"), wh.read("bill_cosponsors"), king)[
        "cosponsored"
    ].collect()[0]
    assert (cos.n_cosponsored, cos.n_original, cos.n_joined_later) == (1, 1, 0)
    recent = out["recent_bills"].collect()
    assert recent[0].official_bill_number == "HR123"


def test_voting_bundle(wh):
    pelosi = _pid(wh, "P000197")
    out = metrics.voting_metrics(wh.read("votes"), wh.read("bills"), pelosi)
    breakdown = {r.vote_position: r.n for r in out["breakdown"].collect()}
    assert breakdown == {"Yea": 1}
    recent = out["recent_votes"].collect()
    assert recent[0].official_bill_number == "HR123" and recent[0].title == "Clean Water Act"


def test_committee_bundle(wh):
    out = metrics.committee_metrics(
        wh.read("committee_assignments"),
        wh.read("committees"),
        wh.read("politicians"),
        "HSAG",
    )
    assert out["info"].collect()[0].name == "House Committee on Agriculture"
    roster = out["roster"].orderBy("order_in_roster").collect()
    # majority first, then by rank (reference sort key app/metrics.py:635)
    assert [r.member_name for r in roster] == ["Nancy Pelosi", "Angus King"]
    assert roster[0].role == "Chair"
    assert out["n_members"].collect()[0].n_members == 2


def test_dashboard_stats(wh):
    stats = {
        r.stat: r.value
        for r in metrics.dashboard_stats(
            {name: wh.read(name) for name in ("politicians", "donors", "donations", "bills", "votes")}
        ).collect()
    }
    assert stats["politicians_total"] == 2
    assert stats["politicians_house"] == 1 and stats["politicians_senate"] == 1
    assert stats["donations_total"] == 3 and stats["donors_total"] == 2
    assert stats["bills_total"] == 1 and stats["votes_total"] == 2


def test_pagination_endpoint(wh):
    pols = wh.read("politicians")
    page, total = metrics.paginate_politicians(pols, {}, skip=0, limit=1)
    assert total == 2
    first = page.collect()
    assert len(first) == 1 and first[0].last_name == "King"  # ordered by last_name
    page2, _ = metrics.paginate_politicians(pols, {}, skip=1, limit=1)
    assert page2.collect()[0].last_name == "Pelosi"
    filtered, total_f = metrics.paginate_politicians(pols, {"chamber": "Senate"}, 0, 10)
    assert total_f == 1 and filtered.collect()[0].congress_id == "K000383"


def test_politician_report_one_request_consolidation(wh):
    """politician_report_sql = the whole politician-detail endpoint in
    one frame: every section present, scalar metrics agreeing with the
    individual bundles it consolidates."""
    pid = _pid(wh, "P000197")
    tables = {name: wh.read(name) for name in ("donations", "donors", "bills", "votes")}
    tables["cosponsors"] = wh.read("bill_cosponsors")
    rep = metrics.politician_report_sql(tables, pid)
    rows = {(r["section"], r["metric"], r["label"]): r["value"] for r in rep.collect()}
    assert {s for s, _, _ in rows} == {"financial", "legislative", "voting"}

    fin = metrics.financial_metrics(
        wh.read("donations"), wh.read("donors"), {"politician_id": pid}
    )
    tot = fin["total"].first()
    assert rows[("financial", "n_donations", "")] == float(tot["n_donations"])
    assert rows[("financial", "total_donations", "")] == float(tot["total_donations"])
    leg = metrics.legislative_metrics(wh.read("bills"), wh.read("bill_cosponsors"), pid)
    assert rows[("legislative", "n_sponsored", "")] == float(
        leg["sponsored"].first()["n_sponsored"]
    )
    vot = metrics.voting_metrics(wh.read("votes"), wh.read("bills"), pid)
    brk = {r["vote_position"]: r["n"] for r in vot["breakdown"].collect()}
    for pos, n in brk.items():
        assert rows[("voting", "position_n", pos)] == float(n)


def test_top_donor_tiebreak_is_donor_id(spark):
    """Round-8 advice: two DISTINCT donors sharing a name (possible —
    identity is NAME|ZIP|EMPLOYER) and an equal total must get
    deterministic ranks: the documented contract is (total desc, name,
    donor_id), so top_donors keeps donor_id and the report's rank
    window uses it as the final tiebreak."""
    donations = spark.createDataFrame(
        [
            (1, 10, 100.0, "2024-01-05"),
            (1, 20, 100.0, "2024-01-06"),
            (1, 30, 50.0, "2024-01-07"),
        ],
        "politician_id int, donor_id int, amount double, date_s string",
    ).withColumn("date", F.to_date("date_s")).withColumn(
        "amount", F.col("amount").cast("decimal(12,2)")
    ).drop("date_s")
    donors = spark.createDataFrame(
        [
            (10, "JOHN SMITH", "Individual"),
            (20, "JOHN SMITH", "PAC"),
            (30, "AAA FIRST", "PAC"),
        ],
        "donor_id int, name string, donor_type string",
    )
    fin = metrics.financial_metrics(donations, donors, {"politician_id": 1})
    top = fin["top_donors"].collect()
    assert "donor_id" in fin["top_donors"].columns, "donor_id must survive for rank tiebreak"
    assert [(r.donor_id, r.name) for r in top[:2]] == [(10, "JOHN SMITH"), (20, "JOHN SMITH")]

    bills = spark.createDataFrame(
        [],
        "bill_id int, sponsor_id int, official_bill_number string, "
        "congress int, title string, date_introduced date",
    )
    cosponsors = spark.createDataFrame([], "bill_id int, politician_id int, is_original_cosponsor boolean")
    votes = spark.createDataFrame([], "politician_id int, bill_id int, date date, vote_position string")
    report = metrics.politician_report_sql(
        {"donations": donations, "donors": donors, "bills": bills,
         "cosponsors": cosponsors, "votes": votes},
        1,
    )
    ranks = {
        r.metric: (r.label, r.value)
        for r in report.filter(F.col("metric").startswith("top_donor_")).collect()
    }
    # the two tied JOHN SMITHs take ranks 01/02 (donor_id order), AAA FIRST is 03
    assert ranks["top_donor_01"] == ("JOHN SMITH", 100.0)
    assert ranks["top_donor_02"] == ("JOHN SMITH", 100.0)
    assert ranks["top_donor_03"] == ("AAA FIRST", 50.0)


def test_report_sql_matches_duckdb_oracles(spark, sf_dir):
    """The SQL serving reports against the independent DuckDB oracles of
    q_metrics_bundle_e2e / q_scope_metrics_e2e, filled in for other
    politicians and scopes than the registry's — including the empty
    scope, whose votes TOTAL must still read 0."""
    from politician_etl_project_spark.queries.serving import (
        _ORACLE,
        _SCOPE_ORACLE,
        domain_frames,
    )
    from tests.oracle_utils import compare_df

    frames = domain_frames(spark, sf_dir)
    for pid in (7, 3, 149):  # the registry's, another, the range edge
        compare_df(
            metrics.politician_report_sql(frames, pid),
            _ORACLE.format(pid=pid),
            sf_dir,
            f"politician_report_sql({pid})",
        )

    tables = dict(frames)
    tables["bill_cosponsors"] = tables.pop("cosponsors")
    for kwargs, scope_pred in (
        ({"chamber": "house", "congress": 117}, "chamber = 'House'"),
        ({"party": "D"}, "party = 'D'"),
        ({"ids": [3, 7, 11], "congress": 116}, "politician_id IN (3, 7, 11)"),
        ({"ids": [9999]}, "politician_id = 9999"),  # empty scope: every leg on no rows
        ({}, "TRUE"),
    ):
        oracle = _SCOPE_ORACLE.format(scope_pred=scope_pred, congress=kwargs.get("congress", "NULL"))
        compare_df(
            metrics.scope_report_sql(tables, **kwargs), oracle, sf_dir, f"scope_report_sql({kwargs})"
        )


def test_domain_store_equals_derivation(spark, sf_dir):
    """The materialized domain store must hold exactly the derived
    frames — schema (names, types, nullability-insensitive) and full
    row multiset per table.  Catches silent drift between
    ensure_domain_store's build and derive_domain_frames (e.g. a
    partition column coming back int32, a dropped column, a stale
    store surviving a derivation change without a version bump)."""
    from politician_etl_project_spark.queries.serving import (
        _DOMAIN_TABLES,
        derive_domain_frames,
        domain_frames,
    )

    stored = domain_frames(spark, sf_dir)
    derived = derive_domain_frames(spark, sf_dir)
    assert set(stored) == set(_DOMAIN_TABLES) == set(derived)
    for name in _DOMAIN_TABLES:
        s_df, d_df = stored[name], derived[name]
        assert [(f.name, f.dataType) for f in s_df.schema.fields] == [
            (f.name, f.dataType) for f in d_df.schema.fields
        ], f"{name}: stored schema diverged from derivation"
        cols = sorted(s_df.columns)
        s_rows = sorted(map(tuple, s_df.select(cols).collect()))
        d_rows = sorted(map(tuple, d_df.select(cols).collect()))
        assert s_rows == d_rows, f"{name}: stored rows diverged from derivation"
        assert len(s_rows) > 0 or name in ("assignments",), f"{name}: empty at {sf_dir}"
