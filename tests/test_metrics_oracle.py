"""Reference-workload differential suite (SURVEY §5 item 2): the serving
layer's metric bundles re-validated against independently-written DuckDB
SQL over the SAME warehouse parquet — the closest analog of running the
reference's Postgres/BigQuery queries side-by-side with ours."""

from __future__ import annotations

import json

import duckdb
import pytest
from pyspark.sql import functions as F

from politician_etl_project_spark import metrics
from tests import test_etl


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("staging_mo")
    (d / "xml").mkdir()
    (d / "xml" / "hr123.xml").write_text(test_etl.BILL_XML)
    (d / "votes").mkdir()
    (d / "votes" / "v1").mkdir()
    (d / "votes" / "v1" / "data.json").write_text(json.dumps(test_etl.VOTE_DOC))
    (d / "cn.txt").write_text(test_etl.CN)
    (d / "ccl.txt").write_text(test_etl.CCL)
    (d / "itcont.txt").write_text(test_etl.ITCONT)
    return test_etl._run(spark, d, tmp_path_factory.mktemp("wh_mo"))


@pytest.fixture(scope="module")
def duck(wh):
    con = duckdb.connect()
    for name in wh.KEYS:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet({wh[name].files()})"
        )
    return con


def _canon(v):
    if isinstance(v, (int, float)) or hasattr(v, "quantize"):  # int/float/Decimal
        return round(float(v), 2)
    return str(v)


def _rows(df, cols):
    return sorted(tuple(_canon(r[c]) for c in cols) for r in df.collect())


def _duck(con, sql, ncols):
    return sorted(tuple(_canon(v) for v in r) for r in con.execute(sql).fetchall())


def _report(wh, pid) -> dict[str, list[tuple]]:
    """``metrics.politician_report_sql`` on the fixture warehouse (the
    live path), grouped by metric into ``[(label, value), ...]``."""
    tables = {n: wh.read(n) for n in ("donations", "donors", "bills", "votes")}
    tables["cosponsors"] = wh.read("bill_cosponsors")
    out: dict[str, list[tuple]] = {}
    for r in metrics.politician_report_sql(tables, pid).collect():
        out.setdefault(r.metric, []).append((r.label, _canon(r.value)))
    return {k: sorted(v) for k, v in out.items()}


def test_financial_vs_duckdb(wh, duck):
    king = (
        wh.read("politicians").filter(F.col("congress_id") == "K000383").collect()[0].politician_id
    )
    rep = _report(wh, king)

    got = [rep[m][0][1] for m in ("total_donations", "n_donations", "n_donors")]
    want = _duck(
        duck,
        f"""SELECT COALESCE(SUM(amount),0), COUNT(*), COUNT(DISTINCT donor_id)
            FROM donations WHERE politician_id = {king}""",
        3,
    )
    assert [tuple(got)] == want

    bt = {m: dict(rep[m]) for m in ("by_type_total", "by_type_n", "by_type_pct")}
    got = sorted(
        (dt, total, bt["by_type_n"][dt], bt["by_type_pct"][dt]) for dt, total in bt["by_type_total"].items()
    )
    want = _duck(
        duck,
        f"""SELECT COALESCE(dn.donor_type,'Unknown') AS donor_type, SUM(d.amount) AS total,
                   COUNT(*) AS n,
                   ROUND(SUM(d.amount) * 100 / SUM(SUM(d.amount)) OVER (), 2) AS pct
            FROM donations d JOIN donors dn USING (donor_id)
            WHERE d.politician_id = {king}
            GROUP BY 1""",
        4,
    )
    assert got == want

    got = sorted((label, v) for m, rows in rep.items() if m.startswith("top_donor_") for label, v in rows)
    want = _duck(
        duck,
        f"""SELECT name, total FROM (
              SELECT dn.donor_id, dn.name, SUM(d.amount) AS total
              FROM donations d JOIN donors dn USING (donor_id)
              WHERE d.politician_id = {king}
              GROUP BY 1, 2 ORDER BY total DESC, dn.name, dn.donor_id LIMIT 10)""",
        2,
    )
    assert got == want

    got = sorted(tuple(label.split("|")) + (v,) for label, v in rep["timeline"])
    want = _duck(
        duck,
        f"""SELECT strftime(date_trunc('month', d.date), '%Y-%m') AS month,
                   dn.donor_type, SUM(d.amount) AS total
            FROM donations d JOIN donors dn USING (donor_id)
            WHERE d.politician_id = {king}
            GROUP BY 1, 2""",
        3,
    )
    assert got == want


def test_legislative_vs_duckdb(wh, duck):
    sponsor = wh.read("bills").select("sponsor_id").filter("sponsor_id IS NOT NULL").collect()[0][0]
    got = [(_report(wh, sponsor)["n_sponsored"][0][1],)]
    want = _duck(duck, f"SELECT COUNT(*) FROM bills WHERE sponsor_id = {sponsor}", 1)
    assert got == want

    cos = wh.read("bill_cosponsors").select("politician_id").collect()[0][0]
    rep = _report(wh, cos)
    got = [tuple(rep[m][0][1] for m in ("n_cosponsored", "n_original", "n_joined_later"))]
    want = _duck(
        duck,
        f"""SELECT COUNT(*),
                   SUM(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END),
                   SUM(CASE WHEN NOT is_original_cosponsor THEN 1 ELSE 0 END)
            FROM bill_cosponsors WHERE politician_id = {cos}""",
        3,
    )
    assert got == want


def test_committee_vs_duckdb(wh, duck):
    out = metrics.committee_metrics(
        wh.read("committee_assignments"),
        wh.read("committees"),
        wh.read("politicians"),
        "HSAG",
    )
    got = _rows(out["roster"], ["member_name", "role", "party"])
    want = _duck(
        duck,
        """SELECT p.first_name || ' ' || p.last_name, a.role, a.party
           FROM committee_assignments a JOIN politicians p USING (politician_id)
           WHERE a.committee_id = 'HSAG'""",
        3,
    )
    assert got == want
    got = _rows(out["n_members"], ["n_members"])
    want = _duck(
        duck,
        "SELECT COUNT(DISTINCT politician_id) FROM committee_assignments WHERE committee_id = 'HSAG'",
        1,
    )
    assert got == want


def test_voting_vs_duckdb(wh, duck):
    pelosi = (
        wh.read("politicians").filter(F.col("congress_id") == "P000197").collect()[0].politician_id
    )
    got = _report(wh, pelosi)["position_n"]
    want = _duck(
        duck,
        f"""SELECT COALESCE(vote_position,'Unknown'), COUNT(*)
            FROM votes WHERE politician_id = {pelosi} GROUP BY 1""",
        2,
    )
    assert got == want


def test_dashboard_vs_duckdb(wh, duck):
    got = {
        r.stat: r.value
        for r in metrics.dashboard_stats(
            {n: wh.read(n) for n in ("politicians", "donors", "donations", "bills", "votes")}
        ).collect()
    }
    for table in ("donors", "donations", "bills", "votes"):
        assert got[f"{table}_total"] == duck.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
    assert (
        got["politicians_house"]
        == duck.execute("SELECT COUNT(*) FROM politicians WHERE chamber = 'House'").fetchone()[0]
    )


def test_pagination_vs_duckdb(wh, duck):
    page, total = metrics.paginate_politicians(wh.read("politicians"), {}, skip=0, limit=10)
    assert total == duck.execute("SELECT COUNT(*) FROM politicians").fetchone()[0]
    got = [r.congress_id for r in page.collect()]
    want = [
        r[0]
        for r in duck.execute(
            "SELECT congress_id FROM politicians ORDER BY last_name, first_name, congress_id LIMIT 10"
        ).fetchall()
    ]
    assert got == want


def _scope_report(wh, **scope):
    """``metrics.scope_report_sql`` on the fixture warehouse, grouped by
    (section, metric) into ``[(label, value), ...]``."""
    tables = {n: wh.read(n) for n in wh.KEYS if n != "update_log"}
    out: dict[tuple[str, str], list[tuple]] = {}
    for r in metrics.scope_report_sql(tables, view_prefix="mo_", **scope).collect():
        out.setdefault((r.section, r.metric), []).append((r.label, r.value))
    return out


def _values(report, section, *metric_names):
    """One row of the named scalar metrics, canonicalized like ``_duck``."""
    return [tuple(_canon(report[(section, m)][0][1]) for m in metric_names)]


def _labeled(report, section, metric):
    return sorted((_canon(label), _canon(v)) for label, v in report.get((section, metric), []))


def test_scope_metrics_chamber_vs_duckdb(wh, duck):
    out = _scope_report(wh, chamber="house")  # lowercase in, capitalized match

    ids_sql = "SELECT politician_id FROM politicians WHERE chamber = 'House'"
    got = _values(out, "financial", "total_amount", "n_donations")
    want = _duck(
        duck,
        f"SELECT COALESCE(SUM(amount),0), COUNT(*) FROM donations WHERE politician_id IN ({ids_sql})",
        2,
    )
    assert got == want

    got = _labeled(out, "financial", "by_type_total")
    want = _duck(
        duck,
        f"""SELECT dn.donor_type, SUM(d.amount) FROM donations d JOIN donors dn USING (donor_id)
            WHERE d.politician_id IN ({ids_sql}) AND dn.donor_type IS NOT NULL GROUP BY 1""",
        2,
    )
    assert got == want

    got = _values(out, "legislative", "sponsored")
    want = _duck(duck, f"SELECT COUNT(*) FROM bills WHERE sponsor_id IN ({ids_sql})", 1)
    assert got == want

    got = _labeled(out, "voting", "position_n")
    want = _duck(
        duck,
        f"""SELECT COALESCE(vote_position,'Unknown'), COUNT(*) FROM votes
            WHERE politician_id IN ({ids_sql}) GROUP BY 1
            UNION ALL
            SELECT 'TOTAL', COUNT(*) FROM votes WHERE politician_id IN ({ids_sql})""",
        2,
    )
    assert got == want


def test_scope_metrics_congress_filter_vs_duckdb(wh, duck):
    out = _scope_report(wh, congress=119)
    got = _values(
        out, "legislative", "cosponsored_original", "cosponsored_later", "total_cosponsored"
    )
    want = _duck(
        duck,
        """SELECT SUM(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END),
                  SUM(CASE WHEN NOT is_original_cosponsor THEN 1 ELSE 0 END),
                  COUNT(*)
           FROM bill_cosponsors c JOIN bills b USING (bill_id) WHERE b.congress = 119""",
        3,
    )
    assert got == want
    got = _values(out, "legislative", "sponsored")
    want = _duck(duck, "SELECT COUNT(*) FROM bills WHERE congress = 119 AND sponsor_id IS NOT NULL", 1)
    assert got == want


def test_multi_politician_metrics_vs_duckdb(wh, duck):
    ids = [r.politician_id for r in wh.read("politicians").collect()]
    out = _scope_report(wh, ids=ids)
    # the report labels each top-donor row with the donor name only
    got = sorted(
        (_canon(label), _canon(v))
        for (_, metric), rows in out.items() if metric.startswith("top_donor_")
        for label, v in rows
    )
    want = sorted(
        (name, total)
        for name, _type, total in _duck(
            duck,
            """SELECT dn.name, dn.donor_type, SUM(d.amount) FROM donations d JOIN donors dn USING (donor_id)
               GROUP BY dn.donor_id, dn.name, dn.donor_type ORDER BY 3 DESC, 1 LIMIT 10""",
            3,
        )
    )
    assert got == want
    assert _values(out, "scope", "n_politicians") == [(len(ids),)]


def test_list_endpoints_vs_duckdb(wh, duck):
    page, total = metrics.paginate_donations(
        wh.read("donations"), {"min_amount": 100}, skip=0, limit=2
    )
    assert total == duck.execute("SELECT COUNT(*) FROM donations WHERE amount >= 100").fetchone()[0]
    got = [r.fec_filing_id for r in page.collect()]
    want = [
        r[0]
        for r in duck.execute(
            "SELECT fec_filing_id FROM donations WHERE amount >= 100 ORDER BY date, fec_filing_id LIMIT 2"
        ).fetchall()
    ]
    assert got == want

    page, total = metrics.paginate_donors(wh.read("donors"), {"donor_type": "PAC"})
    assert total == duck.execute("SELECT COUNT(*) FROM donors WHERE donor_type = 'PAC'").fetchone()[0]
    assert [r.name for r in page.collect()] == ["LOBSTER PAC"]

    page, total = metrics.paginate_bills(wh.read("bills"), {"congress": 119})
    assert total == duck.execute("SELECT COUNT(*) FROM bills WHERE congress = 119").fetchone()[0]

    page, total = metrics.paginate_votes(wh.read("votes"), {"vote_position": "Yea"})
    assert total == duck.execute("SELECT COUNT(*) FROM votes WHERE vote_position = 'Yea'").fetchone()[0]


def test_bill_navigation_vs_duckdb(wh, duck):
    bid = wh.read("bills").collect()[0].bill_id
    sponsor = metrics.bill_sponsor(wh.read("bills"), wh.read("politicians"), bid).collect()
    want = duck.execute(
        f"""SELECT b.official_bill_number, p.first_name || ' ' || p.last_name
            FROM bills b LEFT JOIN politicians p ON b.sponsor_id = p.politician_id
            WHERE b.bill_id = {bid}"""
    ).fetchall()
    assert [(r.official_bill_number, r.sponsor_name) for r in sponsor] == want

    page, total = metrics.bill_cosponsors(
        wh.read("bill_cosponsors"), wh.read("politicians"), bid
    )
    assert total == duck.execute(
        f"SELECT COUNT(*) FROM bill_cosponsors WHERE bill_id = {bid}"
    ).fetchone()[0]
    got = [(r.cosponsor_name, r.is_original_cosponsor) for r in page.collect()]
    want = duck.execute(
        f"""SELECT p.first_name || ' ' || p.last_name, c.is_original_cosponsor
            FROM bill_cosponsors c JOIN politicians p USING (politician_id)
            WHERE c.bill_id = {bid} ORDER BY c.politician_id"""
    ).fetchall()
    assert got == want

    page, total = metrics.paginate_sponsored_bills(wh.read("bills"), sponsor[0].sponsor_id)
    assert total == duck.execute(
        f"SELECT COUNT(*) FROM bills WHERE sponsor_id = {sponsor[0].sponsor_id}"
    ).fetchone()[0]

    cos_pid = wh.read("bill_cosponsors").collect()[0].politician_id
    page, total = metrics.paginate_cosponsored_bills(
        wh.read("bill_cosponsors"), wh.read("bills"), cos_pid, original_only=True
    )
    assert total == duck.execute(
        f"SELECT COUNT(*) FROM bill_cosponsors WHERE politician_id = {cos_pid} AND is_original_cosponsor"
    ).fetchone()[0]


def test_scope_metrics_semi_joins_broadcast(wh):
    """Every fact in a scope report is reduced by a broadcast LEFT SEMI
    against the politician id set — the scan-side pushdown that keeps a
    100 TB fact read politician-pruned (never a sort-merge shuffle of
    the full fact)."""
    import contextlib
    import io

    tables = {n: wh.read(n) for n in wh.KEYS if n != "update_log"}
    out = metrics.scope_report_sql(tables, chamber="House", congress=119, view_prefix="mo_")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan, f"the report shuffles a fact:\n{plan}"
    # formatted-plan node details: "(n) BroadcastHashJoin ..." then its
    # "Join type:" line; every semi join must be a broadcast one
    semi_nodes = [
        node for node in plan.split("\n\n(")
        if "Join type: LeftSemi" in node
    ]
    assert semi_nodes, plan
    for node in semi_nodes:
        assert node.split("\n", 1)[0].split(") ", 1)[1].startswith("BroadcastHashJoin"), node


def test_filtered_donations_explicit_none_ignored(wh):
    """An API layer forwarding optional params as explicit Nones must
    behave like absent filters — `col >= NULL` silently returned empty
    results before the is-not-None guard."""
    donations = wh.read("donations")
    _, all_rows = metrics.paginate_donations(donations, None)
    _, with_nones = metrics.paginate_donations(
        donations, {"politician_id": None, "donor_id": None, "min_amount": None, "max_amount": None}
    )
    assert with_nones == all_rows > 0
