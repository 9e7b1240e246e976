"""End-to-end ETL orchestration (SURVEY §3.4; reference
``scripts/run_all_updates.py:14-19`` — bills → sponsors/cosponsors →
votes → donations in FK-dependency order, each step upserting with
conflict handling and appending to ``update_log``).

The reference runs four pandas scripts sequentially against Postgres.
Here the whole flow is a DAG of DataFrame jobs over a parquet
:class:`Warehouse`.  Each loader only transforms its source and hands
the batch to :meth:`Warehouse.upsert`; how a table is written lives in
one place, ``storage.SnapshotTable.upsert``: the reference's conflict
policies (update-wins / first-wins) as a deterministic key-dedup merge,
one row per natural key from the first write on (the reference's UNIQUE
constraints), and for the three dimensions a surrogate id that is dense
on the first load and never moves afterwards (SURVEY §7 hard-parts 1-2).

Each write publishes a new version whose manifest lists its files and
records its schema and the row count the write job observed
(``DataFrame.observe``), so the ``update_log`` row and the loaders'
dimension reads (``Warehouse.read``) cost no job of their own: a batch's
jobs are the ones that move its rows.  A write that fails leaves the
prior version live; after each write the table is vacuumed to its
newest version, so the warehouse holds one copy of each table.

Fact tables carry their natural keys (congress_id, bill_key,
fec_filing_id) alongside the surrogate ints, so id resolution is a
re-runnable broadcast join, never a stateful counter — that is what makes
the pipeline idempotent: replaying the same staging input yields a
byte-identical warehouse (tested in tests/test_etl.py).

Scale: each step is one or two shuffles (the upsert's key dedup).  Dims
(politicians, committees) broadcast in every resolution join; only
donations/votes shuffle at fact scale.  Each upsert rewrites the whole
table, so its cost follows the table, not the delta.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from politician_etl_project_spark.operators.upsert import log_update
from politician_etl_project_spark.sources import bills_xml, committees_yaml, fec, members, votes_json
from politician_etl_project_spark.storage import SnapshotTable


class Warehouse:
    """The reference's 8-table star schema as managed tables
    (``SnapshotTable``; sql/creations.sql; app/models.py:11-148), plus
    update_log."""

    KEYS = {
        "politicians": ["congress_id"],                       # UNIQUE, models.py:14
        "donors": ["donor_source_key"],                       # UNIQUE, models.py:38
        "donations": ["fec_filing_id"],                       # natural filing id
        "bills": ["official_bill_number", "congress"],        # composite UNIQUE, models.py:82
        "bill_cosponsors": ["bill_id", "politician_id"],      # UNIQUE, models.py:97
        # the reference has NO unique constraint on votes (autoincrement
        # PK, models.py:105) and the House holds several roll calls on
        # one bill in one day — keying on (politician, bill, date) would
        # silently collapse an amendment vote into final passage.
        # roll_key (per-roll-call source identity) keeps them distinct;
        # a voter appears once per roll call, so this IS the natural key
        "votes": ["politician_id", "roll_key"],
        "committees": ["committee_id"],                       # PK, models.py:119
        "committee_assignments": ["politician_id", "committee_id", "congress"],  # models.py:147
        "update_log": ["log_id"],
    }
    # surrogate ids the fact tables reference; each table assigns its own
    IDS = {"politicians": "politician_id", "donors": "donor_id", "bills": "bill_id"}

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.tables = {
            name: SnapshotTable(
                spark, os.path.join(root, name), keys, id_col=self.IDS.get(name)
            )
            for name, keys in self.KEYS.items()
        }

    def __getitem__(self, name: str) -> SnapshotTable:
        return self.tables[name]

    def read(self, name: str) -> DataFrame:
        return self.tables[name].read()

    def log(self, table_name: str, n: int, notes: str | None = None) -> None:
        log_update(self.spark, self.tables["update_log"], table_name, n, notes=notes)
        self.tables["update_log"].vacuum(keep_last=1)

    def upsert(self, name: str, fresh: DataFrame, update_wins: bool) -> DataFrame:
        """One loader step's write: upsert ``fresh`` into table ``name``
        under the table's own policy, log the table's row count (recorded
        in the new version's manifest by the write itself) to
        ``update_log`` and return the published table (a read pinned to
        its manifest: no job)."""
        tbl = self.tables[name]
        version = tbl.upsert(fresh, update_wins=update_wins)
        tbl.vacuum(keep_last=1)
        self.log(name, tbl.row_count(version))
        return tbl.read()


# Enrichment columns written by a later pass (link_fec_ids): a plain
# update-wins merge would let a member refresh (whose fresh rows carry
# typed-NULL link columns) wipe previously-linked values, silently
# orphaning donation attribution until a manual re-link.
_POLITICIAN_LINK_COLS = ("fec_candidate_id", "fec_committee_id")


def load_politicians(wh: Warehouse, records: list[dict]) -> DataFrame:
    """Members API records → politicians dim with update-wins upsert
    (reference ON CONFLICT (congress_id) DO UPDATE,
    ingest_politicians.py:209-232).  Surrogate ids are stable across
    incremental loads; link-pass columns merge column-level (an incoming
    NULL never overwrites an existing linked value)."""
    fresh = members.transform_members(
        members.members_df(wh.spark, records), members.state_lookup(wh.spark)
    )
    tbl = wh["politicians"]
    if tbl.current_version() is not None:
        existing = tbl.read().drop("politician_id")
        # schema evolution (S15 analog): later passes (link_fec_ids) widen
        # the dim; align fresh rows with typed nulls before the merge
        # sorted(): set iteration order is hash-salted per process, and
        # this order becomes the written schema order AND the upsert's
        # value-column tie-break order — the byte-identical-replay
        # promise in the module docstring needs it deterministic
        for c in sorted(set(existing.columns) - set(fresh.columns)):
            fresh = fresh.withColumn(c, F.lit(None).cast(existing.schema[c].dataType))
        link_cols = [c for c in _POLITICIAN_LINK_COLS if c in existing.columns]
        if link_cols:
            old_links = existing.select(
                "congress_id", *[F.col(c).alias(f"_old_{c}") for c in link_cols]
            )
            fresh = fresh.join(old_links, "congress_id", "left")
            for c in link_cols:
                fresh = fresh.withColumn(c, F.coalesce(F.col(c), F.col(f"_old_{c}"))).drop(
                    f"_old_{c}"
                )
    return wh.upsert("politicians", fresh, update_wins=True)


def link_fec_ids(wh: Warehouse, cn: DataFrame, ccl: DataFrame) -> DataFrame:
    """Entity-resolution pass (ingest_fec_links.py:95-192): fuzzy-match
    politicians to FEC candidates, then update-wins the linked columns
    onto the dim."""
    pol = wh.read("politicians")
    linked = fec.fuzzy_link_politicians(pol, fec.link_candidates(cn, ccl))
    n_linked = linked.count()  # count BEFORE the vacuum after the rewrite deletes its input files
    enriched = (
        pol.drop("fec_candidate_id", "fec_committee_id")
        .join(F.broadcast(linked.drop("score")), "politician_id", "left")
    )
    wh["politicians"].overwrite(enriched)
    wh["politicians"].vacuum(keep_last=1)
    wh.log("politicians", n_linked, notes="fec_link")
    return wh.read("politicians")


def load_bills(wh: Warehouse, billstatus_glob: str) -> DataFrame:
    """Billstatus XML → bills dim, sponsor resolved to politician_id via
    broadcast (update_bills.py:155-299; upsert keyed on
    (official_bill_number, congress))."""
    parsed = bills_xml.read_billstatus(wh.spark, billstatus_glob)
    fresh = bills_xml.extract_bills(parsed)
    pol = F.broadcast(
        wh.read("politicians").select(
            F.col("congress_id").alias("sponsor_bioguide"),
            F.col("politician_id").alias("sponsor_id"),
        )
    )
    fresh = fresh.join(pol, "sponsor_bioguide", "left").drop("sponsor_bioguide")
    return wh.upsert("bills", fresh, update_wins=True)


def load_cosponsors(wh: Warehouse, billstatus_glob: str) -> DataFrame:
    """Cosponsor items from the same XML → bill_cosponsors, first-wins on
    (bill_id, politician_id) (ON CONFLICT DO NOTHING,
    ingest_bill_cosponsors.py:134-144)."""
    parsed = bills_xml.read_billstatus(wh.spark, billstatus_glob)
    raw = bills_xml.extract_cosponsors(parsed)
    pol = F.broadcast(wh.read("politicians").select("congress_id", "politician_id"))
    bills = F.broadcast(
        wh.read("bills").select("bill_id", "official_bill_number", "congress")
    )
    fresh = (
        raw.join(pol, "congress_id")
        .join(bills, ["official_bill_number", "congress"])
        .select("bill_id", "politician_id", "sponsorship_date", "is_original_cosponsor")
    )
    return wh.upsert("bill_cosponsors", fresh, update_wins=False)


def load_votes(wh: Warehouse, votes_glob: str) -> DataFrame:
    """Vote JSON → votes fact: explode positions/voters, resolve ids by
    broadcast, first-wins upsert (ingest_votes.py:82-178)."""
    exploded = votes_json.explode_votes(votes_json.read_vote_files(wh.spark, votes_glob))
    fresh = votes_json.resolve_vote_ids(exploded, wh.read("politicians"), wh.read("bills"))
    return wh.upsert("votes", fresh, update_wins=False)


def load_donations(wh: Warehouse, itcont_path: str) -> tuple[DataFrame, DataFrame]:
    """FEC bulk pipeline (ingest_bulk_donations.py:85-223): committee
    semi-join filter → coercions → donor build (first-wins) → donation
    facts resolved to (politician_id, donor_id).  Donations are keyed on
    fec_filing_id so re-runs are no-ops (the reference instead
    TRUNCATEs + reloads, S14 — same end state)."""
    spark = wh.spark
    pol = wh.read("politicians").filter(F.col("fec_committee_id").isNotNull())
    # the reference restricts the scan to committees of tracked politicians
    # (ingest_bulk_donations.py:43-58,92) — the committee IN-set is the
    # push-down filter that makes the 100 TB itcont scan cheap
    target = pol.select(F.col("fec_committee_id").alias("CMTE_ID")).distinct()
    # persist: the transformed scan feeds BOTH the donors build and the
    # facts build — uncached, the itcont CSV scan + coercions + committee
    # semi-join (the 100 TB cost center this docstring names) would
    # execute twice, once per table write
    raw = fec.transform_donations(fec.read_itcont(spark, itcont_path), target).persist()

    donors = wh.upsert("donors", fec.build_donors(raw), update_wins=False)
    donor_ids = donors.select(F.col("donor_source_key").alias("donor_uid"), "donor_id")
    pol_ids = F.broadcast(pol.select("fec_committee_id", "politician_id"))
    facts = (
        raw.join(pol_ids, "fec_committee_id")
        .join(donor_ids, "donor_uid")
        .select("politician_id", "donor_id", "amount", "date", "fec_filing_id")
    )
    donations = wh.upsert("donations", facts, update_wins=False)
    raw.unpersist()
    return donors, donations


def load_committees(
    wh: Warehouse, committee_docs: list[dict], membership_doc: dict, congress: int = 119
) -> None:
    """Committee YAML hierarchy + assignments (ingest_committees.py:48-222):
    update-wins on committee_id / (politician_id, committee_id, congress).
    ``congress`` stamps the membership snapshot — it is part of the
    assignment key, so a hardcoded value would overwrite the prior
    Congress's history instead of adding to it."""
    spark = wh.spark
    flat = committees_yaml.flatten_committees(committees_yaml.committees_df(spark, committee_docs))
    # a joint committee in both chamber YAML feeds coalesces to one
    # committee_id and must persist once, first load included
    wh.upsert("committees", flat, update_wins=True)

    mem = committees_yaml.memberships_df(spark, membership_doc)
    pol = F.broadcast(wh.read("politicians").select(F.col("congress_id").alias("bioguide"), "politician_id"))
    fresh = mem.join(pol, "bioguide").select(
        "politician_id",
        "committee_id",
        "rank",
        F.col("title").alias("role"),
        "party",
        F.lit(congress).alias("congress"),
    )
    wh.upsert("committee_assignments", fresh, update_wins=True)


def run_all(
    wh: Warehouse,
    member_records: list[dict],
    billstatus_glob: str,
    votes_glob: str,
    itcont_path: str,
    ccl_paths: list[str],
    cn_paths: list[str],
    committee_docs: list[dict],
    membership_doc: dict,
) -> Warehouse:
    """The run_all_updates.py order (FK dependencies): politicians →
    fec links → bills → cosponsors → votes → donations → committees."""
    spark = wh.spark
    ccl = fec.read_ccl(spark, *ccl_paths)
    cn = fec.read_cn(spark, *cn_paths)
    load_politicians(wh, member_records)
    link_fec_ids(wh, cn, ccl)
    load_bills(wh, billstatus_glob)
    load_cosponsors(wh, billstatus_glob)
    load_votes(wh, votes_glob)
    load_donations(wh, itcont_path)
    load_committees(wh, committee_docs, membership_doc)
    return wh
