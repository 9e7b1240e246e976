"""Full-registry oracle sweep at sf0.1 — 10x the driver's CORRECTNESS
gate scale (r9 verdict #6: the round-9 sweep was a one-off; this makes
it a standing per-round artifact).

Runs EVERY declared query through the same comparison the round driver
applies at sf0.01 — row count + sorted column names + order-insensitive
multiset of canonicalized stringified rows vs the query's DuckDB oracle
— but over /root/testdata/sf0.1, where scale-dependent divergence
(float accumulation order, skew-cap boundaries, watermark terciles, LSH
bucket caps) would surface if it existed.

Run:  python tools/sweep_oracle_sf01.py        (~15-25 min)
Emits one JSON line:
  {"sweep": "oracle_sf0.1", "n": N, "ok": K, "rows_only": R,
   "fails": [...], "sec": S}
and a dated one-line summary for SCALE.md's "Correctness at 10x" log.
tests/test_window.py tripwires the newest logged sweep against the
registry size the same way it tripwires the generated docs.
"""

from __future__ import annotations

import datetime
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    s = str(v)
    # pandas astype(str) renders midnight timestamps date-only; Spark
    # keeps the ' 00:00:00' suffix — normalize like the driver sim
    if s.endswith(" 00:00:00"):
        s = s[:-9]
    return s


def main() -> int:
    import duckdb

    from politician_etl_project_spark.queries import load_all
    from politician_etl_project_spark.session import get_spark

    specs = load_all()
    spark = get_spark("sweep-sf01")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__

    __spark_entry__._ensure_shipped(spark)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    fails: list[str] = []
    ok = rows_only = 0
    t_all = time.time()
    for name, spec in specs.items():
        t0 = time.time()
        try:
            sdf = spec.fn(spark, SF)
            s_cols = sorted(sdf.columns)
            s_rows = sorted(tuple(canon(r[c]) for c in s_cols) for r in sdf.collect())
            if spec.oracle:
                ddf = con.execute(spec.oracle).df()
                d_cols = sorted(ddf.columns)
                d_rows = sorted(
                    tuple(canon(v) for v in t)
                    for t in ddf[d_cols].itertuples(index=False, name=None)
                )
                assert s_cols == d_cols, f"cols {s_cols} vs {d_cols}"
                assert len(s_rows) == len(d_rows), f"rows {len(s_rows)} vs {len(d_rows)}"
                assert s_rows == d_rows, "value multiset mismatch"
                ok += 1
                print(f"{name}: OK ({time.time() - t0:.1f}s)", flush=True)
            else:
                rows_only += 1
                print(f"{name}: rows-only {len(s_rows)} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 — a sweep must report, not die
            fails.append(name)
            print(f"{name}: FAIL {str(ex)[:300]}", flush=True)
    out = {
        "sweep": "oracle_sf0.1",
        "n": len(specs),
        "ok": ok,
        "rows_only": rows_only,
        "fails": fails,
        "sec": round(time.time() - t_all, 1),
    }
    print(json.dumps(out))
    today = datetime.date.today().isoformat()
    print(
        f"SCALE.md line: - {today}: {ok}/{ok + len(fails)} hash-identical at sf0.1 "
        f"(registry {len(specs)}, {rows_only} rows-only, {out['sec']}s)"
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
