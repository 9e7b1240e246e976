"""Metric-bundle serving layer (SURVEY §3.2; reference ``app/metrics.py``
+ ``app/main.py`` endpoints, ``app/app.py`` dashboard queries).

One function per reference endpoint, computed over a :class:`etl.Warehouse`
(or any dict of the 9 schema tables).  The two whole-request reports —
GET /politicians/{id} (``politician_report_sql``) and the chamber / party
/ congress / multi scope endpoints (``scope_report_sql``) — are ONE SQL
statement each, returning a long-format ``(section, metric, label,
value)`` frame, checked against the independent DuckDB oracles in
queries/serving.py.  Where the reference issues ~8 sequential ORM queries
per endpoint, each hitting Postgres, the per-endpoint bundles here
collapse into a handful of multi-aggregate DataFrame jobs:

- split counts are one pass with ``sum(when(...))`` (A6) instead of two
  filtered ``COUNT(*)`` round-trips (``app/metrics.py:77-78``);
- percent-of-total is a window over the grouped frame (A10) instead of a
  Python post-pass (``app/metrics.py:58-60``);
- the dynamic filter dict becomes composed ``Column`` predicates (P3) —
  no f-string SQL splicing (the injection bug class of
  ``app/app.py:99-108`` is designed out).

Scale: every bundle filters the fact by politician FIRST (pushdown to the
scan), joins broadcast dims, and aggregates into tiny frames — the same
access pattern the reference hand-tunes with indexes
(``sql/creations.sql:174-176``); here partition/bucket layout on
``politician_id`` plays that role.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _filtered_donations(donations: DataFrame, filters: dict | None) -> DataFrame:
    """P3: dynamic predicate builder over the donations fact
    (app/app.py:94-117) — composed Columns, default everything."""
    pred = F.lit(True)
    f = filters or {}
    # .get(...) is not None, NOT key membership: an API layer forwarding
    # optional params as explicit Nones would otherwise build
    # `col >= NULL` and silently return empty metrics (same guard
    # paginate_donations uses)
    if f.get("politician_id") is not None:
        pred = pred & (F.col("politician_id") == f["politician_id"])
    if f.get("min_amount") is not None:
        pred = pred & (F.col("amount") >= f["min_amount"])
    if f.get("max_amount") is not None:
        pred = pred & (F.col("amount") <= f["max_amount"])
    if f.get("since") is not None:
        pred = pred & (F.col("date") >= f["since"])
    return donations.filter(pred)


def financial_metrics(
    donations: DataFrame, donors: DataFrame, filters: dict | None = None
) -> dict[str, DataFrame]:
    """The reference's most-traveled path (app/metrics.py:49-67,
    app/app.py:120-195): scalar total, by-type breakdown with pct-of-total,
    top-10 donors, monthly timeline — 4 small frames over one filtered
    fact."""
    base = _filtered_donations(donations, filters).join(
        F.broadcast(donors.select("donor_id", "name", "donor_type")), "donor_id"
    )
    total = base.agg(
        F.coalesce(F.sum("amount"), F.lit(0).cast("decimal(12,2)")).alias("total_donations"),
        F.count("*").alias("n_donations"),
        F.countDistinct("donor_id").alias("n_donors"),
    )
    by_type = base.groupBy(
        F.coalesce("donor_type", F.lit("Unknown")).alias("donor_type")
    ).agg(F.sum("amount").alias("total"), F.count("*").alias("n"))
    by_type = by_type.withColumn(
        "pct",
        (F.col("total") * 100 / F.sum("total").over(Window.partitionBy())).cast("decimal(5,2)"),
    ).orderBy(F.desc("total"))
    # group by donor_id and KEEP it: donor identity is
    # NAME|ZIP|EMPLOYER, so two distinct "JOHN SMITH"s must not merge
    # into one inflated top-donor row (same discipline as scope_report_sql),
    # and downstream rankers need donor_id as the final tiebreak so two
    # same-name same-total donors get deterministic ranks
    top_donors = base.groupBy("donor_id", "name", "donor_type").agg(
        F.sum("amount").alias("total_donated")
    ).orderBy(F.desc("total_donated"), F.asc("name"), F.asc("donor_id")).limit(10)
    timeline = (
        base.groupBy(
            F.date_format(F.date_trunc("month", "date"), "yyyy-MM").alias("month"), "donor_type"
        )
        .agg(F.sum("amount").alias("total"))
        .orderBy("month", "donor_type")
    )
    return {"total": total, "by_type": by_type, "top_donors": top_donors, "timeline": timeline}


def legislative_metrics(
    bills: DataFrame, cosponsors: DataFrame, politician_id: int
) -> dict[str, DataFrame]:
    """app/metrics.py:70-78: sponsored count, cosponsored split
    original/later (ONE pass via conditional agg), recent sponsored
    bills."""
    sponsored = bills.filter(F.col("sponsor_id") == politician_id)
    n_sponsored = sponsored.agg(F.count("*").alias("n_sponsored"))
    # coalesce to 0: SUM over an empty group is NULL, but a politician
    # with zero cosponsorships has 0 originals, not unknown (round-8:
    # caught by the SQL-variant equivalence sweep at politician 149,
    # whose cosponsor slice is empty at sf0.001 — the oracle always
    # said 0)
    cos = cosponsors.filter(F.col("politician_id") == politician_id).agg(
        F.count("*").alias("n_cosponsored"),
        F.coalesce(
            F.sum(F.when(F.col("is_original_cosponsor"), 1).otherwise(0)), F.lit(0)
        ).alias("n_original"),
        F.coalesce(
            F.sum(F.when(~F.col("is_original_cosponsor"), 1).otherwise(0)), F.lit(0)
        ).alias("n_joined_later"),
    )
    recent = (
        sponsored.select("official_bill_number", "congress", "title", "date_introduced")
        .orderBy(F.desc("date_introduced"), "official_bill_number")
        .limit(10)
    )
    return {"sponsored": n_sponsored, "cosponsored": cos, "recent_bills": recent}


def voting_metrics(
    votes: DataFrame, bills: DataFrame, politician_id: int
) -> dict[str, DataFrame]:
    """app/metrics.py:81-93: position breakdown + recent votes enriched
    with bill info (J2 broadcast)."""
    mine = votes.filter(F.col("politician_id") == politician_id)
    breakdown = (
        mine.groupBy(F.coalesce("vote_position", F.lit("Unknown")).alias("vote_position"))
        .agg(F.count("*").alias("n"))
        .orderBy("vote_position")
    )
    recent = (
        mine.join(
            F.broadcast(bills.select("bill_id", "official_bill_number", "title")), "bill_id"
        )
        .select("date", "vote_position", "official_bill_number", "title")
        .orderBy(F.desc("date"), "official_bill_number")
        .limit(20)
    )
    return {"breakdown": breakdown, "recent_votes": recent}


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
    filters.  Equality predicates push to the scan; at scale the
    politician_id filter rides the bucket layout (Warehouse.BUCKET_KEYS)."""
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
WITH base AS (
  SELECT /*+ BROADCAST(n) */ d.donor_id, d.amount, d.date, n.name, n.donor_type
  FROM {p}donations d JOIN {p}donors n USING (donor_id)
  WHERE d.politician_id = {pid}
),
bt AS (
  SELECT COALESCE(donor_type, 'Unknown') AS dt, SUM(amount) AS total, COUNT(*) AS n
  FROM base GROUP BY COALESCE(donor_type, 'Unknown')
),
top AS (
  SELECT name, donor_id, SUM(amount) AS td
  FROM base GROUP BY donor_id, name, donor_type
  ORDER BY td DESC, name, donor_id LIMIT 10
),
tl AS (
  SELECT date_format(date, 'yyyy-MM') AS month, donor_type, SUM(amount) AS total
  FROM base GROUP BY date_format(date, 'yyyy-MM'), donor_type
),
myb AS (SELECT * FROM {p}bills WHERE sponsor_id = {pid}),
mycos AS (SELECT * FROM {p}cosponsors WHERE politician_id = {pid}),
myv AS (SELECT * FROM {p}votes WHERE politician_id = {pid}),
recent_votes AS (
  SELECT /*+ BROADCAST(b) */ v.date, b.official_bill_number
  FROM myv v JOIN {p}bills b USING (bill_id)
  ORDER BY v.date DESC, b.official_bill_number LIMIT 20
)
SELECT section, metric, label, value FROM (
  SELECT 'financial' AS section, metric, '' AS label, value FROM (
    SELECT stack(3,
             'total_donations', CAST(COALESCE(SUM(amount), 0) AS DOUBLE),
             'n_donations', CAST(COUNT(*) AS DOUBLE),
             'n_donors', CAST(COUNT(DISTINCT donor_id) AS DOUBLE)
           ) AS (metric, value)
    FROM base)
  UNION ALL
  SELECT 'financial', metric, dt, value FROM (
    SELECT dt, stack(3,
             'by_type_total', total_d, 'by_type_n', n_d, 'by_type_pct', pct
           ) AS (metric, value)
    FROM (
      SELECT dt, CAST(total AS DOUBLE) AS total_d, CAST(n AS DOUBLE) AS n_d,
             floor(CAST(total AS DOUBLE) * 10000
               / SUM(CAST(total AS DOUBLE)) OVER () + 0.5) / 100 AS pct
      FROM bt))
  UNION ALL
  SELECT 'financial', format_string('top_donor_%02d',
           ROW_NUMBER() OVER (ORDER BY td DESC, name, donor_id)),
         name, CAST(td AS DOUBLE) FROM top
  UNION ALL
  SELECT 'financial', 'timeline', month || '|' || donor_type,
         CAST(total AS DOUBLE) FROM tl
  UNION ALL
  SELECT 'legislative', 'n_sponsored', '', CAST(COUNT(*) AS DOUBLE) FROM myb
  UNION ALL
  SELECT 'legislative', metric, '' AS label, value FROM (
    SELECT stack(3,
             'n_cosponsored', CAST(COUNT(*) AS DOUBLE),
             'n_original',
             CAST(COALESCE(SUM(CASE WHEN is_original_cosponsor THEN 1 ELSE 0 END), 0) AS DOUBLE),
             'n_joined_later',
             CAST(COALESCE(SUM(CASE WHEN is_original_cosponsor THEN 0 ELSE 1 END), 0) AS DOUBLE)
           ) AS (metric, value)
    FROM mycos)
  UNION ALL
  SELECT 'legislative', format_string('recent_bill_%02d',
           ROW_NUMBER() OVER (ORDER BY date_introduced DESC, official_bill_number)),
         official_bill_number,
         CAST(datediff(CAST(date_introduced AS DATE), DATE '1970-01-01') AS DOUBLE)
  FROM (SELECT * FROM myb
        ORDER BY date_introduced DESC, official_bill_number LIMIT 10)
  UNION ALL
  SELECT 'voting', 'position_n', COALESCE(vote_position, 'Unknown'),
         CAST(COUNT(*) AS DOUBLE) FROM myv GROUP BY COALESCE(vote_position, 'Unknown')
  UNION ALL
  SELECT 'voting', format_string('recent_vote_%02d',
           ROW_NUMBER() OVER (ORDER BY date DESC, official_bill_number)),
         official_bill_number,
         CAST(datediff(CAST(date AS DATE), DATE '1970-01-01') AS DOUBLE)
  FROM recent_votes
)
ORDER BY section, metric, label
"""


def politician_report_sql(
    tables: dict[str, DataFrame], politician_id: int, view_prefix: str = "dom_"
) -> DataFrame:
    """The FULL politician-detail request (GET /politicians/{id}) as ONE
    SQL statement / ONE action.  The reference serves it with ~8
    SEQUENTIAL ORM queries (app/metrics.py:49-93 via app/main.py), each
    a Postgres round trip; here the financial, legislative and voting
    sections land in one unioned long-format frame ``(section, metric,
    label, value)``, so Spark schedules the branches' stages
    concurrently inside a single collect (SURVEY §3.2).

    SQL text rather than composed DataFrame calls: building the same
    ~14-branch union through the DataFrame API cost ~0.55 s of py4j
    round trips per request at sf0.1, while one SQL string parses and
    analyzes in one JVM call — the right shape for a serving path where
    the query text is fixed and only parameters vary.

    Determinism contract (oracle-grade): every list-shaped part gets an
    explicit total order — top donors by (total desc, name, donor_id),
    recent bills by (date_introduced desc, official_bill_number),
    recent votes by (date desc, official_bill_number) — and
    pct-of-total uses the engine-portable half-up formula
    ``floor(x*10000/total + 0.5)/100`` instead of DECIMAL division,
    whose rounding mode differs across engines.  Values are DOUBLE;
    dates surface as epoch days.  tests/test_metrics.py checks it
    against the DuckDB oracle of q_metrics_bundle_e2e at several
    politician ids.

    ``tables`` are registered as temp views ``{prefix}donations`` etc.
    (registration is idempotent and ~free); the caller passes the
    MATERIALIZED domain frames so fact scans partition-prune on
    politician_id."""
    spark = tables["donations"].sparkSession
    for name in ("donations", "donors", "bills", "cosponsors", "votes"):
        tables[name].createOrReplaceTempView(f"{view_prefix}{name}")
    return spark.sql(_REPORT_SQL.format(p=view_prefix, pid=int(politician_id)))


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
