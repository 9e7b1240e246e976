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


def _report(wh, pid) -> dict:
    """``politician_report_sql`` over the warehouse tables (the live
    path: no stored report) as ``{(section, metric, label): value}``."""
    tables = {name: wh.read(name) for name in ("donations", "donors", "bills", "votes")}
    tables["cosponsors"] = wh.read("bill_cosponsors")
    rows = metrics.politician_report_sql(tables, pid).collect()
    return {(r["section"], r["metric"], r["label"]): r["value"] for r in rows}


def test_financial_bundle(wh):
    rep = _report(wh, _pid(wh, "K000383"))
    assert rep[("financial", "total_donations", "")] == 375.50
    assert rep[("financial", "n_donations", "")] == 2
    assert rep[("financial", "n_donors", "")] == 2
    by_type = {label for (s, m, label) in rep if m == "by_type_total"}
    assert by_type == {"PAC", "Individual"}
    assert rep[("financial", "by_type_total", "PAC")] == 250.00
    assert rep[("financial", "by_type_pct", "PAC")] == pytest.approx(66.58, abs=0.01)
    assert ("financial", "top_donor_01", "LOBSTER PAC") in rep
    months = {label.split("|")[0] for (s, m, label) in rep if m == "timeline"}
    assert months == {"2024-01", "2024-02"}


def test_financial_filters(wh):
    page, total = metrics.paginate_donations(wh.read("donations"), {"min_amount": 200})
    assert total == 2
    assert sum(r.amount for r in page.collect()) == 750  # 500 + 250


def test_legislative_bundle(wh):
    pelosi = _report(wh, _pid(wh, "P000197"))
    assert pelosi[("legislative", "n_sponsored", "")] == 1
    assert ("legislative", "recent_bill_01", "HR123") in pelosi
    king = _report(wh, _pid(wh, "K000383"))
    assert [king[("legislative", m, "")] for m in ("n_cosponsored", "n_original", "n_joined_later")] == [1, 1, 0]


def test_voting_bundle(wh):
    rep = _report(wh, _pid(wh, "P000197"))
    assert {label: v for (s, m, label), v in rep.items() if m == "position_n"} == {"Yea": 1}
    assert ("voting", "recent_vote_01", "HR123") in rep


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
    one frame: every section present, scalar metrics agreeing with
    direct aggregates over the warehouse tables."""
    pid = _pid(wh, "P000197")
    rows = _report(wh, pid)
    assert {s for s, _, _ in rows} == {"financial", "legislative", "voting"}

    mine = wh.read("donations").filter(F.col("politician_id") == pid)
    assert rows[("financial", "n_donations", "")] == mine.count()
    total = mine.agg(F.coalesce(F.sum("amount"), F.lit(0))).first()[0]
    assert rows[("financial", "total_donations", "")] == float(total)
    assert rows[("legislative", "n_sponsored", "")] == (
        wh.read("bills").filter(F.col("sponsor_id") == pid).count()
    )
    votes = wh.read("votes").filter(F.col("politician_id") == pid)
    for r in votes.groupBy("vote_position").count().collect():
        assert rows[("voting", "position_n", r["vote_position"])] == float(r["count"])


def test_top_donor_tiebreak_is_donor_id(spark):
    """Round-8 advice: two DISTINCT donors sharing a name (possible —
    identity is NAME|ZIP|EMPLOYER) and an equal total must get
    deterministic ranks: the documented contract is (total desc, name,
    donor_id), so the report's top-donor rank window uses donor_id as
    the final tiebreak."""
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
    scope, whose votes TOTAL must still read 0.  The detail requests go
    through domain_frames, so they check the served read of the stored
    report."""
    from politician_etl_project_spark.queries.serving import (
        _ORACLE,
        _SCOPE_ORACLE,
        domain_frames,
    )
    from tests.oracle_utils import compare_df

    frames = domain_frames(spark, sf_dir)
    assert "politician_report" in frames  # so the detail requests are served reads
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


def test_detail_request_is_one_job(spark, sf_dir):
    """A detail request over the domain store is a pruned read of the
    stored report: one Spark job (the live SQL ran 17 at sf0.1), its
    rows in (section, metric, label) order."""
    from politician_etl_project_spark.queries.serving import domain_frames

    frames = domain_frames(spark, sf_dir)
    rows = []
    assert test_etl._jobs_started(spark, lambda: rows.extend(metrics.politician_report_sql(frames, 7).collect())) == 1
    keys = [(r.section, r.metric, r.label) for r in rows]
    assert keys and keys == sorted(keys)


def test_stored_report_equals_live_sql(spark, sf_dir):
    """The report the store build precomputes equals the live
    per-request SQL for every politician in the dim, as one multiset of
    (politician_id, section, metric, label, value) rows.  The requests
    run four at a time: each is ~20 tiny jobs, so the job floor, not the
    data, sets this test's time."""
    from concurrent.futures import ThreadPoolExecutor

    from politician_etl_project_spark.queries.serving import domain_frames

    frames = domain_frames(spark, sf_dir)
    live = {k: v for k, v in frames.items() if k != "politician_report"}
    ids = [r.politician_id for r in frames["politicians"].collect()]
    assert len(ids) == 149

    def request(pid):
        return [(pid, *r) for r in metrics.politician_report_sql(live, pid).collect()]

    with ThreadPoolExecutor(4) as pool:
        want = [row for rows in pool.map(request, ids) for row in rows]
    cols = ["politician_id", "section", "metric", "label", "value"]
    got = [tuple(r) for r in frames["politician_report"].select(cols).collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_report_politician_without_facts_gets_zero_rows(spark):
    """A politician in the dim with no facts gets the oracle's seven
    zero scalar rows in the all-politicians report, the same rows the
    live path returns for that id; facts of an id outside the dim are
    not reported."""
    donations = spark.createDataFrame(
        [(1, 10, 5.0, "2024-01-05"), (99, 10, 7.0, "2024-01-06")],
        "politician_id bigint, donor_id int, amount double, date_s string",
    ).select(
        "politician_id",
        "donor_id",
        F.col("amount").cast("decimal(12,2)").alias("amount"),
        F.to_date("date_s").alias("date"),
    )
    tables = {
        "donations": donations,
        "donors": spark.createDataFrame([(10, "D", "PAC")], "donor_id int, name string, donor_type string"),
        "bills": spark.createDataFrame(
            [], "bill_id int, sponsor_id bigint, official_bill_number string, date_introduced date"
        ),
        "cosponsors": spark.createDataFrame([], "bill_id int, politician_id bigint, is_original_cosponsor boolean"),
        "votes": spark.createDataFrame([], "politician_id bigint, bill_id int, date date, vote_position string"),
        "politicians": spark.createDataFrame([(1,), (2,)], "politician_id bigint"),
    }
    rows = metrics.all_politician_reports_sql(tables).collect()
    assert {r.politician_id for r in rows} == {1, 2}
    zero = sorted((r.section, r.metric, r.label, r.value) for r in rows if r.politician_id == 2)
    assert zero == sorted(
        [("financial", m, "", 0.0) for m in ("total_donations", "n_donations", "n_donors")]
        + [("legislative", m, "", 0.0) for m in ("n_sponsored", "n_cosponsored", "n_original", "n_joined_later")]
    )
    assert sorted(tuple(r) for r in metrics.politician_report_sql(tables, 2).collect()) == zero


def test_served_read_of_unknown_id_is_empty(spark, sf_dir):
    """An id outside the politicians dim has no partition in the stored
    report, so the served read returns no rows (the reference's 404)."""
    from politician_etl_project_spark.queries.serving import domain_frames

    frames = domain_frames(spark, sf_dir)
    assert metrics.politician_report_sql(frames, 9999).collect() == []


def test_live_report_prunes_every_fact_scan(wh):
    """Without a stored report the request runs over a one-id spine; its
    semi joins must still put the id predicate on every fact scan —
    politician_id on donations, cosponsors and votes, sponsor_id on the
    sponsored-bills scan — so no request aggregates over all
    politicians."""
    import contextlib
    import io

    pid = _pid(wh, "P000197")
    tables = {name: wh.read(name) for name in ("donations", "donors", "bills", "votes")}
    tables["cosponsors"] = wh.read("bill_cosponsors")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        metrics.politician_report_sql(tables, pid).explain("formatted")
    plan = buf.getvalue()
    scans = [node for node in plan.split("\n\n(") if node.split("\n", 1)[0].endswith("Scan parquet ")]
    fact_scans = sponsored = 0
    for node in scans:
        lines = node.splitlines()
        output = next(ln for ln in lines if ln.startswith("Output"))
        pushed = next(ln for ln in lines if ln.startswith("PushedFilters"))
        if "politician_id" in output:
            fact_scans += 1
            assert f"EqualTo(politician_id,{pid})" in pushed, node
        sponsored += f"EqualTo(sponsor_id,{pid})" in pushed
    assert fact_scans >= 3 and sponsored >= 1, plan


def test_domain_store_key_covers_report_sql(tmp_path, sf_dir):
    """The store holds the report's output, so its key covers the report
    SQL text: an edited ``_REPORT_SQL`` builds a new store instead of
    serving the old answers.  The key follows the source file, so the
    edit is made in a copy of the package."""
    import hashlib

    from politician_etl_project_spark.catalog import stored_path
    from politician_etl_project_spark.queries import serving
    from tests.conftest import run_in_package_copy

    code = (
        "import hashlib; from politician_etl_project_spark import catalog, metrics; "
        "from politician_etl_project_spark.queries import serving; "
        "print(hashlib.md5(metrics._REPORT_SQL.encode()).hexdigest(), "
        f"catalog.stored_path('domain', {sf_dir!r}, *serving._DOMAIN_INPUTS))"
    )

    def edit_report_sql(pkg):
        src = (pkg / "metrics.py").read_text()
        assert src.count('_REPORT_SQL = """\n') == 1
        (pkg / "metrics.py").write_text(src.replace('_REPORT_SQL = """\n', '_REPORT_SQL = """\n\n'))

    before = stored_path("domain", sf_dir, *serving._DOMAIN_INPUTS)
    assert stored_path("domain", sf_dir, *serving._DOMAIN_INPUTS) == before
    sql_md5, after = run_in_package_copy(tmp_path, code, edit_report_sql).split()
    assert sql_md5 != hashlib.md5(metrics._REPORT_SQL.encode()).hexdigest()
    assert after != before


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
    # the stored report is checked against the live SQL instead
    # (test_stored_report_equals_live_sql): it is not a derived table
    assert set(stored) == set(_DOMAIN_TABLES) | {"politician_report"}
    assert set(_DOMAIN_TABLES) == set(derived)
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
