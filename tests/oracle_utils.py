"""Local replica of the driver's DuckDB-oracle differential check.

Runs a declared query through Spark and its oracle SQL through DuckDB over
the same parquet tables, canonicalizes values, and compares row count +
column names + an order-insensitive multiset of rows (columns sorted by
name — same scheme the driver describes in ``__spark_entry__``).  Also
holds pure-Python references for operators tested on hand-built frames."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import re

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def assert_driver_safe_types(spark_schema, con, oracle: str, name: str) -> None:
    """Type guard replicating the driver's canonicalization hazard: the
    driver floats the DuckDB side (shortest repr) while Spark renders
    DECIMAL at fixed scale and BIGINT as plain int — so no DECIMAL may
    survive to the Spark output and no DECIMAL/HUGEINT to the oracle
    output (CORRECTNESS_r01: 17 false hash-fails from exactly this)."""
    from pyspark.sql import types as T

    dec = [f.name for f in spark_schema.fields if isinstance(f.dataType, T.DecimalType)]
    assert not dec, f"{name}: Spark output has DecimalType columns {dec} (driver hash hazard)"
    desc = con.execute(f"DESCRIBE ({oracle})").fetchall()
    bad = [(c, ty) for c, ty, *_ in desc if "DECIMAL" in ty or "HUGEINT" in ty or "INT128" in ty]
    assert not bad, f"{name}: oracle output has driver-hazard types {bad}"


def compare(spark, spec, sf_dir: str) -> None:
    compare_df(spec.fn(spark, sf_dir), spec.oracle, sf_dir, spec.name)


def compare_df(sdf, oracle: str, sf_dir: str, name: str) -> None:
    """``compare`` for any Spark frame against any oracle SQL text."""
    s_cols = list(sdf.columns)

    con = duck_connect(sf_dir)
    try:
        assert_driver_safe_types(sdf.schema, con, oracle, name)
        s_rows = [tuple(r) for r in sdf.collect()]
        # pandas .df(), NOT fetchall(): the driver floats the DuckDB side,
        # so a nullable int64 becomes float64 (49666 -> 49666.0) and NULL
        # becomes NaN — fetchall() hides exactly that hazard class (two
        # queries passed here at fetchall and failed the r02 driver sim)
        ddf = con.execute(oracle).df()
        d_cols = list(ddf.columns)
        d_rows = list(ddf.itertuples(index=False, name=None))
    finally:
        con.close()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), f"{name}: rowcount spark={len(s_rows)} duck={len(d_rows)}"
    sc, dc = canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def segment_dedup_reference(docs, seg_tokens: int = 3) -> dict:
    """Pure-Python keep-first segment dedup over ``(doc_id, text)`` pairs:
    ``{doc_id: (n_segs, n_kept, kept_text)}``.  Tokens split like the
    operator (trim spaces, split on whitespace runs); each distinct
    segment survives only at its minimum ``(doc_id, seg_idx)``;
    ``kept_text`` is None when nothing survives; NULL texts drop out."""
    segs = {}
    for doc_id, text in docs:
        if text is not None:
            toks = re.split(r"\s+", text.strip(" "))
            segs[doc_id] = [
                " ".join(toks[i : i + seg_tokens]) for i in range(0, len(toks), seg_tokens)
            ]
    winner: dict[str, tuple] = {}
    for doc_id in sorted(segs):
        for idx, seg in enumerate(segs[doc_id]):
            winner.setdefault(seg, (doc_id, idx))
    out = {}
    for doc_id, ss in segs.items():
        kept = [seg for idx, seg in enumerate(ss) if winner[seg] == (doc_id, idx)]
        out[doc_id] = (len(ss), len(kept), " ".join(kept) if kept else None)
    return out
