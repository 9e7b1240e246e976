"""Seeded, offline input generators for the benchmark.

Everything here is made from the ``--seed`` and written under the
benchmark's work directory inside the checkout; the engine only ever
sees the files.  Three kinds of input:

- TPC-H tables from DuckDB's bundled ``dbgen`` (no download), projected
  and cast to the engine's fixture shape (``FIXTURE_SCHEMA``) and
  schema-checked after writing.  ``dbgen`` is deterministic, so the
  tables depend only on the scale factor and are cached per scale.
- A document corpus for the RAG search requests (fixed, cached).
- Delta batches for the ingest workload: FEC itcont rows (with re-sent
  filings, amendments, malformed dates and unlinked committees),
  billstatus XML, roll-call vote JSON, member records, a document batch
  (with exact duplicates) and an event file (with late and duplicate
  events).  Each batch is a pure function of (seed, batch index) and
  carries its own ground truth for the output checks.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# column types of the engine's fixture tables (the sf0.001..sf0.1 shape
# every registry query and oracle is written against)
FIXTURE_SCHEMA = {
    "region": [("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "VARCHAR"), ("n_regionkey", "INTEGER")],
    "customer": [
        ("c_custkey", "BIGINT"), ("c_name", "VARCHAR"), ("c_nationkey", "INTEGER"),
        ("c_acctbal", "DOUBLE"), ("c_mktsegment", "VARCHAR"),
    ],
    "supplier": [
        ("s_suppkey", "BIGINT"), ("s_name", "VARCHAR"), ("s_nationkey", "INTEGER"),
        ("s_acctbal", "DOUBLE"),
    ],
    "part": [
        ("p_partkey", "BIGINT"), ("p_name", "VARCHAR"), ("p_brand", "VARCHAR"),
        ("p_type", "VARCHAR"), ("p_size", "INTEGER"), ("p_retailprice", "DOUBLE"),
    ],
    "orders": [
        ("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"),
        ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR"),
    ],
    "lineitem": [
        ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
        ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
        ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"), ("l_returnflag", "VARCHAR"),
        ("l_linestatus", "VARCHAR"), ("l_shipdate", "TIMESTAMP"),
    ],
    "events": [
        ("event_id", "BIGINT"), ("ts", "TIMESTAMP"), ("user_id", "BIGINT"),
        ("event_type", "VARCHAR"), ("value", "DOUBLE"), ("props", "VARCHAR"),
    ],
    "documents": [
        ("doc_id", "BIGINT"), ("text", "VARCHAR"), ("lang", "VARCHAR"),
        ("source", "VARCHAR"), ("n_chars", "BIGINT"),
    ],
    "embeddings": [("vec_id", "BIGINT"), ("embedding", "FLOAT[]"), ("label", "INTEGER")],
}
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def _select(table: str) -> str:
    cols = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in FIXTURE_SCHEMA[table])
    return f"SELECT {cols} FROM {table}"


def schema_errors(con: duckdb.DuckDBPyConnection, path: str, table: str) -> list[str]:
    got = [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM read_parquet('{path}')").fetchall()]
    want = FIXTURE_SCHEMA[table]
    return [] if got == want else [f"{table}: {got} != {want}"]


def publish(staging: str, final: str) -> str:
    """Rename a fully written staging dir into place; a concurrent or
    earlier writer that won the race keeps its copy."""
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
    return final


def ensure_tpch(work: str, sf: float) -> str:
    """Fixture-shaped TPC-H tables at scale ``sf`` (cached), plus small
    ``events``/``documents``/``embeddings`` tables so every registry
    oracle view resolves."""
    final = os.path.join(work, f"tpch-sf{sf:g}")
    if os.path.isdir(final):
        return final
    staging = f"{final}.{os.getpid()}.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        for t in TPCH_TABLES:
            con.execute(f"COPY ({_select(t)}) TO '{staging}/{t}.parquet' (FORMAT parquet)")
        _write_side_tables(con, staging)
        errs = [e for t in FIXTURE_SCHEMA for e in schema_errors(con, f"{staging}/{t}.parquet", t)]
    finally:
        con.close()
    if errs:
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError("generated tables do not match the fixture schema: " + "; ".join(errs))
    return publish(staging, final)


_WORDS = None


def vocabulary() -> list[str]:
    """2,000 pronounceable pseudo-words (fixed)."""
    global _WORDS
    if _WORDS is None:
        rng = random.Random(7)
        syl = ["ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da", "pe", "zo", "gu", "ha", "ri", "be", "fo"]
        words: set[str] = set()
        while len(words) < 2000:
            words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
        _WORDS = sorted(words)
    return _WORDS


def random_text(rng: random.Random, n_words: int = 30) -> str:
    vocab = vocabulary()
    return " ".join(rng.choice(vocab) for _ in range(n_words))


def _write_side_tables(con: duckdb.DuckDBPyConnection, out: str, n_docs: int = 2000) -> None:
    rng = random.Random(11)
    docs = [(i, random_text(rng), "en", f"src{i % 7}") for i in range(1, n_docs + 1)]
    con.execute("CREATE TEMP TABLE d(doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?, ?, ?)", docs)
    con.execute(
        f"COPY (SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars FROM d) "
        f"TO '{out}/documents.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"COPY (SELECT CAST(i AS BIGINT) AS event_id, TIMESTAMP '2024-01-01' + to_seconds(i * 37) AS ts, "
        f"CAST(i % 97 AS BIGINT) AS user_id, ['view','click','buy'][i % 3 + 1] AS event_type, "
        f"CAST(i % 1000 AS DOUBLE) / 10 AS value, '{{}}' AS props FROM range(1, 1001) t(i)) "
        f"TO '{out}/events.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"COPY (SELECT CAST(i AS BIGINT) AS vec_id, "
        f"[CAST(((i * j) % 17) AS FLOAT) / 17 FOR j IN range(8)] AS embedding, "
        f"CAST(i % 5 AS INTEGER) AS label FROM range(1, 201) t(i)) "
        f"TO '{out}/embeddings.parquet' (FORMAT parquet)"
    )


# --------------------------------------------------------------------------
# ingest delta batches

STATES = [
    ("Texas", "TX"), ("California", "CA"), ("New York", "NY"), ("Florida", "FL"),
    ("Ohio", "OH"), ("Georgia", "GA"), ("Michigan", "MI"), ("Virginia", "VA"),
]
N_MEMBERS = 120          # members known after the bootstrap batch
NEW_MEMBERS_PER_BATCH = 4
FEC_ROWS_PER_BATCH = 20_000
BILLS_PER_BATCH = 30
ROLLS_PER_BATCH = 6
DOCS_PER_BATCH = 100
EVENTS_PER_BATCH = 5_000
UNLINKED_CMTE = "C99999"


def member_id(i: int) -> str:
    return f"B{i:05d}"


def committee_of(i: int) -> str:
    return f"C{i:05d}"


def _member_name(i: int) -> tuple[str, str]:
    rng = random.Random(1_000_003 * (i + 1))
    syl = ["bar", "ken", "lor", "mis", "tav", "sul", "dor", "pim", "wex", "gar", "hol", "rin"]
    last = "".join(rng.choice(syl) for _ in range(3)).capitalize()
    first = "".join(rng.choice(syl) for _ in range(2)).capitalize()
    return last + chr(ord("a") + i % 26) + chr(ord("a") + (i // 26) % 26), first


def member_record(i: int, party: str) -> dict:
    last, first = _member_name(i)
    state = STATES[i % len(STATES)][0]
    chamber = "Senate" if i % 5 == 0 else "House of Representatives"
    return {
        "bioguideId": member_id(i),
        "name": f"{last}, {first}",
        "partyName": party,
        "state": state,
        "terms": {"item": [{"chamber": chamber, "startYear": 2019 + i % 4}]},
    }


def committee_docs() -> tuple[list[dict], dict]:
    """Committee YAML documents and memberships for the bootstrap run."""
    docs = [
        {"name": f"Committee {k}", "type": "house", "thomas_id": f"HS{k:02d}",
         "house_committee_id": f"HS{k:02d}00",
         "subcommittees": [{"name": f"Sub {k}", "thomas_id": "01"}]}
        for k in range(4)
    ]
    memberships = {
        f"HS{k:02d}00": [
            {"name": f"M {i}", "bioguide": member_id(i), "rank": r + 1,
             "party": "majority" if r % 2 == 0 else "minority"}
            for r, i in enumerate(range(k, N_MEMBERS, 9))
        ]
        for k in range(4)
    }
    return docs, memberships


def _bill_xml(congress: int, number: int, title: str, intro: str, sponsor: str,
              cosponsors: list[tuple[str, str, bool]]) -> str:
    cos = "".join(
        f"<item><bioguideId>{b}</bioguideId><sponsorshipDate>{d}</sponsorshipDate>"
        f"<isOriginalCosponsor>{'True' if o else 'false'}</isOriginalCosponsor></item>"
        for b, d, o in cosponsors
    )
    cos_block = f"<cosponsors>{cos}</cosponsors>" if cosponsors else ""
    return (
        f"<billStatus><bill><congress>{congress}</congress><type>hr</type>"
        f"<number>{number}</number><title>{title}</title>"
        f"<introducedDate>{intro}</introducedDate>"
        f"<sponsors><item><bioguideId>{sponsor}</bioguideId></item></sponsors>"
        f"{cos_block}</bill></billStatus>"
    )


def _write(path: str, text: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)
    return len(text.encode())


def _itcont_line(cmte: str, amnd: str, name: str, zip_code: str, employer: str,
                 date: str, amount: str, sub_id: str) -> str:
    return (
        f"{cmte}|{amnd}|YE||img|15|IND|{name}|AUSTIN|TX|{zip_code}|{employer}|ENG|"
        f"{date}|{amount}||||||{sub_id}\n"
    )


def fec_row(rng: random.Random) -> tuple[str, str, str, str, str, str, str]:
    """Fields of one fresh itcont row:
    (cmte, amendment flag, donor name, zip, employer, MMDDYYYY, amount)."""
    r = rng.random()
    cmte = UNLINKED_CMTE if r < 0.03 else committee_of(rng.randrange(N_MEMBERS))
    amnd = "A" if rng.random() < 0.05 else "N"
    month, day = rng.randint(1, 12), rng.randint(1, 28)
    date = f"{month:02d}{day:02d}2024"
    if rng.random() < 0.02:
        date = f"13{day:02d}9999"  # malformed: month 13
    donor = rng.randrange(30_000)
    amount = f"{rng.randint(100, 500_000) / 100:.2f}"
    return cmte, amnd, f"DONOR {donor}", f"{10000 + donor % 89999}", f"EMP{donor % 500}", date, amount


def _is_valid(cmte: str, amnd: str, date: str) -> bool:
    return cmte != UNLINKED_CMTE and amnd == "N" and not date.startswith("13")


class IngestBatch:
    """Paths and ground truth of one generated delta batch."""

    def __init__(self, root: str):
        self.root = root
        self.members: list[dict] = []
        self.input_bytes = 0
        self.rows: dict[str, int] = {}  # source rows per loader
        self.expected: dict = {}

    @property
    def itcont(self) -> str:
        return os.path.join(self.root, "itcont.txt")

    @property
    def bills_glob(self) -> str:
        return os.path.join(self.root, "bills", "*.xml")

    @property
    def votes_glob(self) -> str:
        return os.path.join(self.root, "119", "votes", "*", "*", "data.json")

    @property
    def cn(self) -> str:
        return os.path.join(self.root, "cn.txt")

    @property
    def ccl(self) -> str:
        return os.path.join(self.root, "ccl.txt")

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs.parquet")

    @property
    def events(self) -> str:
        return os.path.join(self.root, "events.parquet")



def _event_ts_us(batch: int, k: int) -> int:
    # batch b covers [b h, b h + 1 h) after 2024-01-01 00:00 UTC
    base = 1_704_067_200_000_000
    return base + batch * 3_600_000_000 + k * (3_600_000_000 // EVENTS_PER_BATCH)


def make_ingest_batch(work: str, seed: int, batch: int, state: dict) -> IngestBatch:
    """Write delta batch ``batch`` (0 = the bootstrap batch) under
    ``work``.  ``state`` carries what earlier batches produced (valid
    filing ids, doc texts, event rows) so re-sends and duplicates can
    point back at them; it is updated in place."""
    rng = random.Random(f"{seed}:{batch}:batch")
    out = IngestBatch(os.path.join(work, f"batch-{batch:04d}"))
    shutil.rmtree(out.root, ignore_errors=True)
    os.makedirs(out.root)
    nbytes = 0
    rows = out.rows

    # members: the bootstrap batch carries everyone; deltas add new
    # members and re-send a few existing ones with a party change
    if batch == 0:
        out.members = [member_record(i, "DRI"[i % 3]) for i in range(N_MEMBERS)]
        state["n_members"] = N_MEMBERS
    else:
        n0 = state["n_members"]
        new = [member_record(i, "DRI"[i % 3]) for i in range(n0, n0 + NEW_MEMBERS_PER_BATCH)]
        changed = [member_record(i, "DRI"[(i + batch) % 3]) for i in rng.sample(range(n0), 3)]
        out.members = new + changed
        state["n_members"] = n0 + NEW_MEMBERS_PER_BATCH
    rows["members"] = len(out.members)
    out.expected["politicians_total"] = state["n_members"]
    if batch == 0:
        # FEC candidate master + linkage: one candidate per member with the
        # member's own name, so entity resolution links every one of them
        cn, ccl = [], []
        for i in range(N_MEMBERS):
            last, first = _member_name(i)
            office = "S" if i % 5 == 0 else "H"
            cand = f"{office}0{i:06d}"
            st = STATES[i % len(STATES)][1]
            cn.append(f"{cand}|{last.upper()}, {first.upper()}|DEM|2024|{st}|{office}|01|I|C|"
                      f"{committee_of(i)}||||CITY|10001\n")
            ccl.append(f"{cand}|2024|2024|{committee_of(i)}|{office}|P|L{i}\n")
        nbytes += _write(out.cn, "".join(cn)) + _write(out.ccl, "".join(ccl))
    nbytes += len(json.dumps(out.members).encode())
    n_members = state["n_members"]

    # FEC itcont: fresh filings + re-sent earlier filings (first wins)
    lines = []
    valid_ids: list[str] = state.setdefault("valid_fec_ids", [])
    resend_pool = list(valid_ids)
    new_valid = []
    for k in range(FEC_ROWS_PER_BATCH):
        if resend_pool and rng.random() < 0.03:
            sub_id = rng.choice(resend_pool)
            lines.append(_itcont_line(committee_of(0), "N", "DONOR 1", "10001", "EMP1",
                                      "06012024", f"{rng.randint(1, 99999) / 100:.2f}", sub_id))
            continue
        cmte, amnd, name, zip_code, employer, date, amount = fec_row(rng)
        sub_id = f"S{seed}-{batch}-{k}"
        lines.append(_itcont_line(cmte, amnd, name, zip_code, employer, date, amount, sub_id))
        if _is_valid(cmte, amnd, date):
            new_valid.append(sub_id)
    valid_ids.extend(new_valid)
    nbytes += _write(out.itcont, "".join(lines))
    rows["fec"] = len(lines)
    out.expected["donations_total"] = len(valid_ids)

    # bills + cosponsors (cosponsors only by known members)
    bills = state.setdefault("bills", [])
    cos_pairs = state.setdefault("cos_pairs", set())
    for j in range(BILLS_PER_BATCH):
        number = 1000 * (batch + 1) + j
        sponsor = member_id(rng.randrange(n_members))
        cos = []
        for m in rng.sample(range(n_members), rng.randint(0, 4)):
            cos.append((member_id(m), f"2025-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                        rng.random() < 0.5))
            cos_pairs.add((number, m))
        xml = _bill_xml(119, number, f"Act {number}", "2025-01-03", sponsor, cos)
        nbytes += _write(os.path.join(out.root, "bills", f"BILLSTATUS-{number}.xml"), xml)
        bills.append(number)
        rows["bills"] = rows.get("bills", 0) + 1
        rows["cosponsors"] = rows.get("cosponsors", 0) + len(cos)
    out.expected["bills_total"] = len(bills)
    out.expected["cosponsors_total"] = len(cos_pairs)

    # roll-call votes on known bills by known members
    vote_keys = state.setdefault("vote_keys", set())
    for r in range(ROLLS_PER_BATCH):
        roll = f"h{batch}x{r}"
        number = rng.choice(bills)
        voters = rng.sample(range(n_members), 40)
        positions: dict[str, list] = {"Yea": [], "Nay": [], "Not Voting": []}
        for m in voters:
            positions[rng.choice(list(positions))].append({"id": member_id(m), "party": "D", "state": "TX"})
            vote_keys.add((m, roll))
        doc = {"category": "passage", "date": "2025-03-10",
               "bill": {"type": "hr", "number": number, "congress": 119}, "votes": positions}
        nbytes += _write(os.path.join(out.root, "119", "votes", "2025", roll, "data.json"), json.dumps(doc))
        rows["votes"] = rows.get("votes", 0) + len(voters)
    out.expected["votes_total"] = len(vote_keys)

    # documents (delta batches only; the store starts empty): new random
    # texts + exact copies of stored and in-batch docs
    texts: list[str] = state.setdefault("doc_texts", [])
    next_id = state.get("next_doc_id", 1)
    docs = []
    fresh = []
    for _ in range(DOCS_PER_BATCH if batch > 0 else 0):
        r = rng.random()
        if batch > 0 and r < 0.15 and texts:
            text = rng.choice(texts)
        elif batch > 0 and r < 0.20 and fresh:
            text = rng.choice(fresh)
        else:
            text = random_text(rng)
            fresh.append(text)
        docs.append((next_id, text))
        next_id += 1
    state["next_doc_id"] = next_id
    out.expected["docs_ingested"] = len(set(fresh))
    texts.extend(fresh)
    out.expected["docs_total"] = len(texts)
    pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                             "text": pa.array([t for _, t in docs], pa.string())}), out.docs)
    nbytes += sum(len(t.encode()) + 8 for _, t in docs)
    rows["docs"] = len(docs)

    # events: time-ordered, 3 % late (5 h back), 3 % duplicates
    prev: list[tuple] = state.get("prev_events", [])
    ev = []
    for k in range(EVENTS_PER_BATCH):
        r = rng.random()
        if r < 0.03 and prev:
            ev.append(rng.choice(prev))
            continue
        ts = _event_ts_us(batch, k)
        if batch > 0 and r < 0.06:
            ts -= 5 * 3_600_000_000
        eid = (batch + 1) * 1_000_000 + k
        ev.append((eid, ts, rng.randrange(500), rng.choice(["view", "click", "buy"]),
                   rng.randint(0, 100_000) / 100, "{}"))
    state["prev_events"] = ev
    cols = list(zip(*ev))
    pq.write_table(pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    }), out.events)
    nbytes += EVENTS_PER_BATCH * 48
    rows["events"] = len(ev)
    out.input_bytes = nbytes
    return out
