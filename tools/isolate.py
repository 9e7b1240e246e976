"""Isolated timing of one registry query or the FEC ETL macro — the one
command that reproduces any SCALE.md "Measured" claim for a single
query.  (The end-to-end benchmark is perfbench/run.py; this tool times
entries one at a time.)

Protocol:
  1. load gate: wait (bounded, 10 min) until the 1-minute load average
     falls under 0.2, so a single query is not timed beside other work;
  2. fresh SparkSession in THIS process only (no other queries ran
     before it besides the explicit warm-up);
  3. one discarded warm-up run, then min of 3 timed runs with
     clearCache() between them.

Entries:
  - any registry query, run over --sf.  q_near_dup_pairs runs over a
    same-size corpus at realistic 1-10% duplication density instead
    (tools/gen_sparse_docs.py): the standard fixture is so dense that
    its runtime is answer volume, not candidate generation + verify;
  - etl_fec_500k: the FEC bulk pipeline over a deterministic 500k-row
    itcont.txt (bench_etl); its line also reports the rows written.

Run:  python tools/isolate.py q_dedup_incremental [q_pagerank ...]
      python tools/isolate.py --gate 0.5 etl_fec_500k
Flags: --gate L (override the 0.2 load gate), --sf DIR (default
$SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1), --runs N.
Emits one JSON line per query and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _ensure_fec_bench_file(n_rows: int = 500_000) -> str:
    """Deterministic synthetic itcont.txt at the reference's chunk unit
    (500k rows/chunk, scripts/ingest_bulk_donations.py:197) — generated
    once into the temp dir and reused across runs."""
    path = Path(tempfile.gettempdir()) / f"spark_graft_itcont_{n_rows}.txt"
    if path.exists():
        return str(path)
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    n = n_rows
    df = pd.DataFrame(
        {
            "CMTE_ID": np.array(["C001", "C002", "C003", "C999"])[rng.integers(0, 4, n)],
            "AMNDT_IND": np.where(rng.random(n) < 0.9, "N", "A"),
            "RPT_TP": "YE",
            "TRANSACTION_PGI": "",
            "IMAGE_NUM": "img",
            "TRANSACTION_TP": "15",
            "ENTITY_TP": np.where(rng.random(n) < 0.2, "PAC", "IND"),
            "NAME": np.char.add("DONOR ", rng.integers(0, 120_000, n).astype(str)),
            "CITY": "AUSTIN",
            "STATE": "TX",
            "ZIP_CODE": rng.integers(10000, 99999, n).astype(str),
            "EMPLOYER": np.char.add("EMP", rng.integers(0, 500, n).astype(str)),
            "OCCUPATION": "ENG",
            "TRANSACTION_DT": [
                f"{m:02d}{d:02d}2024"
                for m, d in zip(rng.integers(1, 13, n), rng.integers(1, 29, n))
            ],
            "TRANSACTION_AMT": np.round(rng.uniform(1, 5000, n), 2).astype(str),
            "OTHER_ID": "",
            "TRAN_ID": "",
            "FILE_NUM": "1",
            "MEMO_CD": "",
            "MEMO_TEXT": "",
            "SUB_ID": np.char.add("SUB", np.arange(n).astype(str)),
        }
    )
    tmp = str(path) + ".tmp"
    df.to_csv(tmp, sep="|", header=False, index=False)
    Path(tmp).rename(path)
    return str(path)


def bench_etl(spark, n_rows: int = 500_000) -> tuple[float, int]:
    """Time the FEC bulk pipeline (SURVEY S1+F6-F8+A14+J7) end-to-end at
    the reference's 500k-row chunk unit: schema'd scan -> filters/
    coercions -> donor dedup + surrogate ids -> parquet sink.  The
    reference streams the same unit through pandas + psycopg2 batches
    (5k rows/INSERT); this is the single-job Spark equivalent.  Returns
    (seconds, rows written)."""
    from politician_etl_project_spark.sources import fec

    path = _ensure_fec_bench_file(n_rows)
    sink = tempfile.mkdtemp(prefix="etl-bench-")
    target = spark.createDataFrame([("C001",), ("C002",), ("C003",)], "CMTE_ID string")
    t0 = time.perf_counter()
    raw = fec.transform_donations(fec.read_itcont(spark, path), target).persist()
    try:
        # raw feeds BOTH the donor build and the fact side of the id join —
        # uncached, the CSV parse + coercions would run twice in one action;
        # materialize eagerly (lazy persist under concurrent join branches
        # races and recomputes — round-1 lesson)
        raw.count()
        donors = fec.build_donors(raw)
        facts = raw.join(
            donors.select("donor_id", "donor_source_key").withColumnRenamed(
                "donor_source_key", "donor_uid"
            ),
            "donor_uid",
        ).select("fec_committee_id", "donor_id", "amount", "date", "fec_filing_id")
        facts.write.mode("overwrite").parquet(f"{sink}/donations")
        n_out = spark.read.parquet(f"{sink}/donations").count()
    finally:
        raw.unpersist()
        shutil.rmtree(sink, ignore_errors=True)
    return round(time.perf_counter() - t0, 3), n_out


def _gate(threshold: float, max_wait: int = 600) -> float:
    waited = 0
    load = os.getloadavg()[0]
    while load > threshold and waited < max_wait:
        print(
            json.dumps({"load_gate_waiting": round(load, 2), "waited_sec": waited}),
            file=sys.stderr,
        )
        time.sleep(15)
        waited += 15
        load = os.getloadavg()[0]
    return load


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--gate", type=float, default=0.2)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    start_load = _gate(args.gate)

    from politician_etl_project_spark.queries import load_all
    from politician_etl_project_spark.session import get_spark
    from tools.gen_sparse_docs import ensure_sparse_docs

    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__

    __spark_entry__._ensure_shipped(spark)
    specs = load_all()

    results: dict[str, float] = {}
    for name in args.queries:
        line: dict = {"query": name}
        if name == "etl_fec_500k":
            bench_etl(spark)  # warm-up
            timed = [bench_etl(spark) for _ in range(args.runs)]
            runs = [sec for sec, _ in timed]
            line["rows"] = timed[-1][1]
        elif name in specs:
            q_dir = ensure_sparse_docs() if name == "q_near_dup_pairs" else args.sf
            line["sf_dir"] = q_dir
            specs[name].fn(spark, q_dir).collect()  # warm-up
            spark.catalog.clearCache()
            runs = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                specs[name].fn(spark, q_dir).collect()
                runs.append(round(time.perf_counter() - t0, 3))
                spark.catalog.clearCache()
        else:
            print(json.dumps({"query": name, "error": "not in registry"}))
            continue
        results[name] = min(runs)
        print(json.dumps({**line, "sec": min(runs), "runs": runs}), flush=True)
    print(
        json.dumps(
            {
                "protocol": "isolated-clean-capture",
                "load_gate": args.gate,
                "load_avg_start": round(start_load, 2),
                "load_gate_ok": start_load <= args.gate,
                "results": results,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
