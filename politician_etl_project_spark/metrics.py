"""Metric-bundle serving layer (SURVEY §3.2; reference ``app/metrics.py``
+ ``app/main.py`` endpoints, ``app/app.py`` dashboard queries).

One function per reference endpoint, computed over a :class:`etl.Warehouse`
(or any dict of the 9 schema tables).  The two whole-request reports —
GET /politicians/{id} (``politician_report_sql``) and the chamber / party
/ congress / multi scope endpoints (``scope_report_sql``) — are ONE SQL
statement each, returning a long-format ``(section, metric, label,
value)`` frame, checked against the independent DuckDB oracles in
queries/serving.py.  Where the reference issues ~8 sequential ORM queries
per endpoint, each hitting Postgres, each report here is one plan:

- split counts are one pass with conditional sums (A6) instead of two
  filtered ``COUNT(*)`` round-trips (``app/metrics.py:77-78``);
- percent-of-total is a window over the grouped frame (A10) instead of a
  Python post-pass (``app/metrics.py:58-60``);
- list endpoints compose their filter dicts into ``Column`` predicates
  (P3), and the reports inline only validated ints and a fixed
  vocabulary — no caller string is spliced into SQL (the injection bug
  class of ``app/app.py:99-108`` is designed out).

Scale: the detail report is grouped by politician, so a store can hold
it precomputed per politician and serve a request as a pruned read of
one ``politician_id`` partition (queries/serving.py); without a store
the same SQL runs over a one-id spine, and every fact scan filters by
politician first — the access pattern the reference hand-tunes with
indexes (``sql/creations.sql:174-176``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def committee_metrics(
    assignments: DataFrame, committees: DataFrame, politicians: DataFrame, committee_id: str
) -> dict[str, DataFrame]:
    """app/metrics.py:520-683: committee info + member roster ranked
    majority-first (W2 as a window; the reference sorts in Python,
    app/metrics.py:635)."""
    info = committees.filter(F.col("committee_id") == committee_id)
    w = Window.partitionBy().orderBy(
        (F.col("party") != "majority").cast("int"), F.asc_nulls_last("rank")
    )
    roster = (
        assignments.filter(F.col("committee_id") == committee_id)
        .join(
            F.broadcast(
                politicians.select(
                    "politician_id",
                    F.concat_ws(" ", "first_name", "last_name").alias("member_name"),
                )
            ),
            "politician_id",
        )
        .withColumn("order_in_roster", F.row_number().over(w))
        .select("order_in_roster", "member_name", "role", "party", "rank")
    )
    n_members = assignments.filter(F.col("committee_id") == committee_id).agg(
        F.countDistinct("politician_id").alias("n_members")
    )
    return {"info": info, "roster": roster, "n_members": n_members}


def dashboard_stats(tables: dict[str, DataFrame]) -> DataFrame:
    """app/main.py:144-168: the 8-count stats panel as ONE unioned job
    instead of 8 sequential COUNT queries (A11)."""
    pols = tables["politicians"]
    counts = [
        pols.agg(F.lit("politicians_total").alias("stat"), F.count("*").alias("value")),
        pols.filter("is_active").agg(
            F.lit("politicians_active").alias("stat"), F.count("*").alias("value")
        ),
        pols.filter(F.col("chamber") == "House").agg(
            F.lit("politicians_house").alias("stat"), F.count("*").alias("value")
        ),
        pols.filter(F.col("chamber") == "Senate").agg(
            F.lit("politicians_senate").alias("stat"), F.count("*").alias("value")
        ),
    ]
    for t in ("donors", "donations", "bills", "votes"):
        counts.append(
            tables[t].agg(F.lit(f"{t}_total").alias("stat"), F.count("*").alias("value"))
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("stat")


def _paged(
    df: DataFrame, pred, order_cols: list[str], skip: int, limit: int
) -> tuple[DataFrame, int]:
    """O4 keyed-total-order pagination shared by every list endpoint:
    filter → count → row_number over a total order ending in a unique
    key → slice.  The global window is a single-task sort over the
    *filtered* set — fine for serving pages (limit ≤ 1000); a UI paging
    deep into an unfiltered 100 TB fact should switch to keyset
    pagination (WHERE key > last_seen ORDER BY key LIMIT n), which this
    order-by-unique-key contract makes equivalent."""
    base = df.filter(pred)
    total = base.count()
    w = Window.orderBy(*order_cols)
    page = (
        base.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > skip) & (F.col("_rn") <= skip + limit))
        .drop("_rn")
    )
    return page, total


def _eq_filters(f: dict, keys: tuple[str, ...]):
    pred = F.lit(True)
    for key in keys:
        if f.get(key) is not None:
            pred = pred & (F.col(key) == f[key])
    return pred


def paginate_politicians(
    politicians: DataFrame,
    filters: dict | None = None,
    skip: int = 0,
    limit: int = 100,
) -> tuple[DataFrame, int]:
    """app/main.py:51-111: filtered list endpoint with offset/limit +
    total count.  Deterministic: total-ordered by the unique key before
    the window (SURVEY §7 hard-part 4)."""
    f = filters or {}
    pred = _eq_filters(f, ("party", "state", "chamber"))
    if f.get("active_only"):
        pred = pred & F.col("is_active")
    return _paged(politicians, pred, ["last_name", "first_name", "congress_id"], skip, limit)


def paginate_donors(
    donors: DataFrame, filters: dict | None = None, skip: int = 0, limit: int = 100
) -> tuple[DataFrame, int]:
    """app/main.py:171-208 GET /donors: donor_type / industry filters."""
    pred = _eq_filters(filters or {}, ("donor_type", "industry"))
    return _paged(donors, pred, ["name", "donor_id"], skip, limit)


def paginate_donations(
    donations: DataFrame, filters: dict | None = None, skip: int = 0, limit: int = 100
) -> tuple[DataFrame, int]:
    """app/main.py:210-254 GET /donations: politician/donor/amount-range
    filters.  Equality predicates push to the scan."""
    f = filters or {}
    pred = _eq_filters(f, ("politician_id", "donor_id"))
    if f.get("min_amount") is not None:
        pred = pred & (F.col("amount") >= f["min_amount"])
    if f.get("max_amount") is not None:
        pred = pred & (F.col("amount") <= f["max_amount"])
    return _paged(donations, pred, ["date", "fec_filing_id"], skip, limit)


def paginate_bills(
    bills: DataFrame, filters: dict | None = None, skip: int = 0, limit: int = 100
) -> tuple[DataFrame, int]:
    """app/main.py:256-296 GET /bills: congress / bill_type filters."""
    pred = _eq_filters(filters or {}, ("congress", "bill_type"))
    return _paged(bills, pred, ["congress", "official_bill_number"], skip, limit)


def paginate_votes(
    votes: DataFrame, filters: dict | None = None, skip: int = 0, limit: int = 100
) -> tuple[DataFrame, int]:
    """app/main.py:298-339 GET /votes: politician/bill/position filters."""
    pred = _eq_filters(filters or {}, ("politician_id", "bill_id", "vote_position"))
    return _paged(votes, pred, ["date", "politician_id", "bill_id"], skip, limit)


def paginate_sponsored_bills(
    bills: DataFrame, politician_id: int, skip: int = 0, limit: int = 100
) -> tuple[DataFrame, int]:
    """app/main.py:341-380 GET /politicians/{id}/sponsored-bills."""
    return _paged(
        bills,
        F.col("sponsor_id") == politician_id,
        ["congress", "official_bill_number"],
        skip,
        limit,
    )


def paginate_cosponsored_bills(
    cosponsors: DataFrame,
    bills: DataFrame,
    politician_id: int,
    original_only: bool | None = None,
    skip: int = 0,
    limit: int = 100,
) -> tuple[DataFrame, int]:
    """app/main.py:382-425 GET /politicians/{id}/cosponsored-bills:
    cosponsorship rows enriched with bill info (broadcast dim join)."""
    pred = F.col("politician_id") == politician_id
    if original_only is not None:
        pred = pred & (F.col("is_original_cosponsor") == original_only)
    enriched = cosponsors.join(
        F.broadcast(bills.select("bill_id", "official_bill_number", "congress", "title")),
        "bill_id",
    )
    return _paged(enriched, pred, ["bill_id"], skip, limit)


def bill_sponsor(bills: DataFrame, politicians: DataFrame, bill_id: int) -> DataFrame:
    """app/main.py:428-464 GET /bills/{id}/sponsor: the bill row joined
    to its sponsoring politician (broadcast; LIMIT-1 probe shape)."""
    bill = bills.filter(F.col("bill_id") == bill_id).select(
        "bill_id", "official_bill_number", "congress", "title", "sponsor_id"
    )
    pol = politicians.select(
        F.col("politician_id").alias("sponsor_id"),
        F.concat_ws(" ", "first_name", "last_name").alias("sponsor_name"),
        F.col("party").alias("sponsor_party"),
        F.col("state").alias("sponsor_state"),
        F.col("chamber").alias("sponsor_chamber"),
    )
    return bill.join(F.broadcast(pol), "sponsor_id", "left")


def bill_cosponsors(
    cosponsors: DataFrame,
    politicians: DataFrame,
    bill_id: int,
    original_only: bool | None = None,
    skip: int = 0,
    limit: int = 100,
) -> tuple[DataFrame, int]:
    """app/main.py:466-510 GET /bills/{id}/cosponsors: roster of
    cosponsoring politicians for one bill, paged."""
    pred = F.col("bill_id") == bill_id
    if original_only is not None:
        pred = pred & (F.col("is_original_cosponsor") == original_only)
    enriched = cosponsors.join(
        F.broadcast(
            politicians.select(
                "politician_id",
                F.concat_ws(" ", "first_name", "last_name").alias("cosponsor_name"),
                "party",
                "state",
            )
        ),
        "politician_id",
    )
    return _paged(enriched, pred, ["politician_id"], skip, limit)


_REPORT_SQL = """
WITH spine AS ({spine}),
base AS (
  SELECT /*+ BROADCAST(n) */ d.politician_id, d.donor_id, d.amount, d.date,
         n.name, n.donor_type
  FROM {p}donations d JOIN {p}donors n USING (donor_id)
  LEFT SEMI JOIN spine s ON d.politician_id = s.politician_id
),
fin AS (
  SELECT politician_id, SUM(amount) AS total, COUNT(*) AS n,
         COUNT(DISTINCT donor_id) AS n_donors
  FROM base GROUP BY politician_id
),
bt AS (
  SELECT politician_id, COALESCE(donor_type, 'Unknown') AS dt,
         SUM(amount) AS total, COUNT(*) AS n
  FROM base GROUP BY politician_id, COALESCE(donor_type, 'Unknown')
),
top AS (
  SELECT politician_id, name, td,
         ROW_NUMBER() OVER (PARTITION BY politician_id
                            ORDER BY td DESC, name, donor_id) AS rn
  FROM (SELECT politician_id, donor_id, name, SUM(amount) AS td
        FROM base GROUP BY politician_id, donor_id, name, donor_type)
),
tl AS (
  SELECT politician_id, date_format(date, 'yyyy-MM') AS month, donor_type,
         SUM(amount) AS total
  FROM base GROUP BY politician_id, date_format(date, 'yyyy-MM'), donor_type
),
myb AS (
  SELECT sponsor_id AS politician_id, official_bill_number, date_introduced,
         ROW_NUMBER() OVER (PARTITION BY sponsor_id
                            ORDER BY date_introduced DESC, official_bill_number) AS rn
  FROM {p}bills b LEFT SEMI JOIN spine s ON b.sponsor_id = s.politician_id
),
cos AS (
  SELECT politician_id, COUNT(*) AS n,
         SUM(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END) AS n_original,
         SUM(CASE WHEN is_original_cosponsor THEN 0 ELSE 1 END) AS n_later
  FROM {p}cosponsors c LEFT SEMI JOIN spine s ON c.politician_id = s.politician_id
  GROUP BY politician_id
),
myv AS (
  SELECT v.politician_id, v.bill_id, v.date, v.vote_position
  FROM {p}votes v LEFT SEMI JOIN spine s ON v.politician_id = s.politician_id
),
recent_votes AS (
  SELECT politician_id, date, official_bill_number,
         ROW_NUMBER() OVER (PARTITION BY politician_id
                            ORDER BY date DESC, official_bill_number) AS rn
  FROM (SELECT /*+ BROADCAST(b) */ v.politician_id, v.date, b.official_bill_number
        FROM myv v JOIN {p}bills b USING (bill_id))
)
SELECT s.politician_id, section, metric, '' AS label, value FROM (
  SELECT s.politician_id, stack(7,
           'financial', 'total_donations', CAST(COALESCE(f.total, 0) AS DOUBLE),
           'financial', 'n_donations', CAST(COALESCE(f.n, 0) AS DOUBLE),
           'financial', 'n_donors', CAST(COALESCE(f.n_donors, 0) AS DOUBLE),
           'legislative', 'n_sponsored', CAST(COALESCE(b.n, 0) AS DOUBLE),
           'legislative', 'n_cosponsored', CAST(COALESCE(c.n, 0) AS DOUBLE),
           'legislative', 'n_original', CAST(COALESCE(c.n_original, 0) AS DOUBLE),
           'legislative', 'n_joined_later', CAST(COALESCE(c.n_later, 0) AS DOUBLE)
         ) AS (section, metric, value)
  FROM spine s
  LEFT JOIN fin f ON f.politician_id = s.politician_id
  LEFT JOIN (SELECT politician_id, COUNT(*) AS n FROM myb GROUP BY politician_id) b
    ON b.politician_id = s.politician_id
  LEFT JOIN cos c ON c.politician_id = s.politician_id
) s
UNION ALL
SELECT politician_id, 'financial', metric, dt, value FROM (
  SELECT politician_id, dt, stack(3,
           'by_type_total', total_d, 'by_type_n', n_d, 'by_type_pct', pct
         ) AS (metric, value)
  FROM (
    SELECT politician_id, dt, CAST(total AS DOUBLE) AS total_d, CAST(n AS DOUBLE) AS n_d,
           floor(CAST(total AS DOUBLE) * 10000
             / SUM(CAST(total AS DOUBLE)) OVER (PARTITION BY politician_id) + 0.5) / 100
             AS pct
    FROM bt))
UNION ALL
SELECT politician_id, 'financial', format_string('top_donor_%02d', rn), name,
       CAST(td AS DOUBLE)
FROM top WHERE rn <= 10
UNION ALL
SELECT politician_id, 'financial', 'timeline', month || '|' || donor_type,
       CAST(total AS DOUBLE)
FROM tl
UNION ALL
SELECT politician_id, 'legislative', format_string('recent_bill_%02d', rn),
       official_bill_number,
       CAST(datediff(CAST(date_introduced AS DATE), DATE '1970-01-01') AS DOUBLE)
FROM myb WHERE rn <= 10
UNION ALL
SELECT politician_id, 'voting', 'position_n', COALESCE(vote_position, 'Unknown'),
       CAST(COUNT(*) AS DOUBLE)
FROM myv GROUP BY politician_id, COALESCE(vote_position, 'Unknown')
UNION ALL
SELECT politician_id, 'voting', format_string('recent_vote_%02d', rn),
       official_bill_number,
       CAST(datediff(CAST(date AS DATE), DATE '1970-01-01') AS DOUBLE)
FROM recent_votes WHERE rn <= 20
"""

_REPORT_COLS = ("section", "metric", "label", "value")


def _report_sql(tables: dict[str, DataFrame], spine: str, view_prefix: str) -> DataFrame:
    """``_REPORT_SQL`` over ``tables`` registered as temp views
    ``{prefix}donations`` etc. (registration is idempotent and ~free),
    for the politician ids ``spine`` selects."""
    for name in ("donations", "donors", "bills", "cosponsors", "votes", "politicians"):
        if name in tables:
            tables[name].createOrReplaceTempView(f"{view_prefix}{name}")
    spark = tables["donations"].sparkSession
    return spark.sql(_REPORT_SQL.format(p=view_prefix, spine=spine.format(p=view_prefix)))


def all_politician_reports_sql(tables: dict[str, DataFrame], view_prefix: str = "dom_") -> DataFrame:
    """Every politician's detail report at once: ``_REPORT_SQL`` over the
    spine of ids in ``tables["politicians"]``, as ``(politician_id,
    section, metric, label, value)``.  A politician with no facts gets
    the seven zero scalar rows; facts of ids outside the dim are not
    reported.  queries/serving.py materializes this frame into the domain
    store, partitioned by ``politician_id``, and serves each request as a
    pruned read of it (``politician_report_sql``)."""
    return _report_sql(tables, "SELECT politician_id FROM {p}politicians", view_prefix)


def politician_report_sql(
    tables: dict[str, DataFrame], politician_id: int, view_prefix: str = "dom_"
) -> DataFrame:
    """The FULL politician-detail request (GET /politicians/{id}) as ONE
    action, returning ``(section, metric, label, value)`` ordered by
    ``(section, metric, label)``.  The reference serves it with ~8
    SEQUENTIAL ORM queries (app/metrics.py:49-93 via app/main.py), each
    a Postgres round trip.

    Served read: when ``tables`` holds ``politician_report`` (the
    precomputed ``all_politician_reports_sql`` frame, partitioned by
    ``politician_id`` — queries/serving.domain_frames opens it), the
    request is a pruned read of that one politician's partition, sorted
    within its single partition: one Spark job.  An id outside the
    politicians dim has no partition, so the served read returns no rows
    (the reference's 404).

    Live path: without a stored report (``etl.Warehouse`` tables, test
    fixtures) the same ``_REPORT_SQL`` text runs over a one-id spine, so
    its semi joins put the ``politician_id`` / ``sponsor_id`` predicate
    on every fact scan, and the request aggregates only that
    politician's rows.  An id with no facts gets the seven zero scalar
    rows.  SQL text rather than composed DataFrame calls: building the
    ~14-branch union through the DataFrame API cost ~0.55 s of py4j
    round trips per request at sf0.1, while one SQL string parses and
    analyzes in one JVM call.

    Determinism contract (oracle-grade): every list-shaped part gets an
    explicit total order — top donors by (total desc, name, donor_id),
    recent bills by (date_introduced desc, official_bill_number),
    recent votes by (date desc, official_bill_number) — and
    pct-of-total uses the engine-portable half-up formula
    ``floor(x*10000/total + 0.5)/100`` instead of DECIMAL division,
    whose rounding mode differs across engines.  Values are DOUBLE;
    dates surface as epoch days.  tests/test_metrics.py checks the
    served read against the DuckDB oracle of q_metrics_bundle_e2e, and
    the stored report against the live path for every politician."""
    pid = int(politician_id)
    stored = tables.get("politician_report")
    if stored is not None:
        return (
            stored.filter(F.col("politician_id") == pid)
            .select(*_REPORT_COLS)
            .coalesce(1)
            .sortWithinPartitions("section", "metric", "label")
        )
    live = _report_sql(tables, f"SELECT {pid} AS politician_id", view_prefix)
    return live.select(*_REPORT_COLS).orderBy("section", "metric", "label")


_SCOPE_SQL = """
WITH scope AS (
  SELECT politician_id, concat_ws(' ', first_name, last_name) AS name, party, state, chamber
  FROM {p}politicians
  WHERE {scope_pred}
),
sdon AS (
  SELECT /*+ BROADCAST(n) */ d.donor_id, d.amount, n.name AS dname, n.donor_type
  FROM {p}donations d
  JOIN {p}donors n USING (donor_id)
  LEFT SEMI JOIN scope s ON d.politician_id = s.politician_id
),
cbil AS (SELECT bill_id FROM {p}bills {congress_where}),
scos AS (
  SELECT c.* FROM {p}cosponsors c
  LEFT SEMI JOIN scope s ON c.politician_id = s.politician_id
  {cos_congress_semi}
),
sv AS (
  SELECT v.* FROM {p}votes v
  LEFT SEMI JOIN scope s ON v.politician_id = s.politician_id
  {vot_congress_semi}
),
bt AS (
  SELECT donor_type AS dt, SUM(amount) AS total FROM sdon
  WHERE donor_type IS NOT NULL GROUP BY donor_type
),
top AS (
  SELECT dname, donor_id, SUM(amount) AS td
  FROM sdon GROUP BY donor_id, dname, donor_type
  ORDER BY td DESC, dname, donor_id LIMIT 10
)
SELECT section, metric, label, value FROM (
  SELECT 'scope' AS section, 'member' AS metric,
         name || '|' || party || '|' || state AS label,
         CAST(politician_id AS DOUBLE) AS value
  FROM scope
  UNION ALL
  SELECT 'scope', 'n_politicians', '', CAST(COUNT(*) AS DOUBLE) FROM scope
  UNION ALL
  SELECT 'financial', metric, '' AS label, value FROM (
    SELECT stack(2,
             'total_amount', CAST(COALESCE(SUM(amount), 0) AS DOUBLE),
             'n_donations', CAST(COUNT(*) AS DOUBLE)) AS (metric, value)
    FROM sdon)
  UNION ALL
  SELECT 'financial', 'by_type_total', dt, CAST(total AS DOUBLE) FROM bt
  UNION ALL
  SELECT 'financial', format_string('top_donor_%02d',
           ROW_NUMBER() OVER (ORDER BY td DESC, dname, donor_id)),
         dname, CAST(td AS DOUBLE) FROM top
  UNION ALL
  SELECT 'legislative', 'sponsored', '', CAST(COUNT(*) AS DOUBLE)
  FROM {p}bills b
  LEFT SEMI JOIN scope s ON b.sponsor_id = s.politician_id
  {sponsored_congress_where}
  UNION ALL
  SELECT 'legislative', metric, '' AS label, value FROM (
    SELECT stack(3,
             'cosponsored_original',
             CAST(COALESCE(SUM(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END), 0) AS DOUBLE),
             'cosponsored_later',
             CAST(COALESCE(SUM(CASE WHEN is_original_cosponsor THEN 0 ELSE 1 END), 0) AS DOUBLE),
             'total_cosponsored', CAST(COUNT(*) AS DOUBLE)) AS (metric, value)
    FROM scos)
  UNION ALL
  SELECT 'voting', 'position_n',
         CASE WHEN grouping(position) = 1 THEN 'TOTAL' ELSE position END AS label,
         CAST(SUM(w) AS DOUBLE)
  -- ROLLUP emits no grand total over empty input: one weight-0 row keeps
  -- an empty scope's TOTAL at 0, and HAVING drops that row's own group
  -- (real positions are never NULL)
  FROM (SELECT COALESCE(vote_position, 'Unknown') AS position, 1 AS w FROM sv
        UNION ALL SELECT NULL, 0)
  GROUP BY ROLLUP(position)
  HAVING label IS NOT NULL
)
ORDER BY section, metric, label
"""


def scope_report_sql(
    tables: dict[str, DataFrame],
    ids: list[int] | None = None,
    chamber: str | None = None,
    party: str | None = None,
    congress: int | None = None,
    view_prefix: str = "dom_",
) -> DataFrame:
    """One scope-metrics request END TO END as ONE SQL statement / ONE
    action, returning ``(section, metric, label, value)``.  The reference
    answers GET /metrics/chamber/{chamber} (and party / congress / multi,
    app/metrics.py:133-519) with ~8 sequential ORM queries per request,
    each re-filtering a driver-side ``IN (ids...)`` list; here every
    part (roster, donations, sponsored and cosponsored bills, votes)
    unions into one plan that shares the politician-scope semi-join
    across every fact — a broadcast LEFT SEMI, so no fact is shuffled
    (plan-asserted in tests/test_metrics_oracle.py).  SQL text for the same
    reason as ``politician_report_sql`` (the DataFrame-API plan of the
    ~8-branch union cost ~0.6 s of py4j calls per request).

    Determinism contract: roster labeled name|party|state (names unique
    per politician), top donors ranked (total desc, name, donor_id),
    votes surface their grand total as position 'TOTAL' (0 for an empty
    scope); final order is the total (section, metric, label) key.
    tests/test_metrics.py checks it against the DuckDB oracle of
    q_scope_metrics_e2e at several scopes, the empty one included.

    Scope parameters are inlined after validation: chamber/party from a
    fixed vocabulary, ids/congress as ints — no caller string reaches
    the SQL text unescaped (the injection bug class of app/app.py:99-108
    stays designed out)."""
    preds = []
    if ids is not None:
        preds.append(
            "politician_id IN (%s)" % ", ".join(str(int(i)) for i in ids)
        )
    if chamber is not None:
        ch = chamber.capitalize()
        if ch not in ("House", "Senate"):
            raise ValueError(f"unknown chamber: {chamber!r}")
        preds.append(f"chamber = '{ch}'")
    if party is not None:
        if not party.isalnum():
            raise ValueError(f"unknown party: {party!r}")
        preds.append(f"party = '{party}'")
    scope_pred = " AND ".join(preds) if preds else "TRUE"

    if congress is not None:
        c = int(congress)
        congress_where = f"WHERE congress = {c}"
        semi = "LEFT SEMI JOIN cbil ON {a}.bill_id = cbil.bill_id"
        cos_congress_semi = semi.format(a="c")
        vot_congress_semi = semi.format(a="v")
        sponsored_congress_where = f"WHERE b.congress = {c}"
    else:
        congress_where = "WHERE FALSE"  # cbil unused; keep it empty/cheap
        cos_congress_semi = vot_congress_semi = ""
        sponsored_congress_where = ""

    spark = tables["donations"].sparkSession
    views = {
        "donations": "donations",
        "donors": "donors",
        "bills": "bills",
        "bill_cosponsors": "cosponsors",
        "votes": "votes",
        "politicians": "politicians",
    }
    for key, vname in views.items():
        tables[key].createOrReplaceTempView(f"{view_prefix}{vname}")
    return spark.sql(
        _SCOPE_SQL.format(
            p=view_prefix,
            scope_pred=scope_pred,
            congress_where=congress_where,
            cos_congress_semi=cos_congress_semi,
            vot_congress_semi=vot_congress_semi,
            sponsored_congress_where=sponsored_congress_where,
        )
    )
