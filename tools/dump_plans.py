"""Dump `.explain("formatted")` output for named declared queries into
text files — the judge-facing evidence for plan-shape claims
(history/plans/r11/<query>_before.txt / _after.txt).

Run: python tools/dump_plans.py --out history/plans/r11 --suffix before q_pagerank ...
Flags: --sf DIR (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1).

Note: a query whose builder itself runs actions (stored-index builds,
fixed-point loops) executes those while the plan is being constructed;
the dumped plan is the FINAL returned frame's physical plan, matching
what a timed collect() executes.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True, help="before|after")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from politician_etl_project_spark.queries import load_all
    from politician_etl_project_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__

    __spark_entry__._ensure_shipped(spark)
    specs = load_all()
    outdir = Path(args.out)
    outdir.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        if name not in specs:
            print(f"SKIP unknown query {name}", file=sys.stderr)
            continue
        df = specs[name].fn(spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = outdir / f"{name}_{args.suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
