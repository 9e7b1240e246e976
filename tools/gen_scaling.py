"""Scale-factor sweep: run a representative query subset at sf0.001 /
sf0.01 / sf0.1 (100x data spread) and print per-query seconds + the
0.1/0.01 growth ratio.  A ratio well under 10 on a 10x data step means
latency is still fixed-overhead-dominated (scheduling, planning) — i.e.
the plans have headroom; a ratio near or above 10 marks the queries
whose cost is already data-bound and which would dominate at 100 TB.

Run: python tools/gen_scaling.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
QUERIES = [
    "q01_pricing_summary",   # scan-heavy aggregate
    "q05_region_volume",     # star join
    "q18_large_orders",      # semi-join + grouped top-k
    "q_monthly_timeline",    # time-bucketed agg
    "q_window_rank",         # window
    "q_session_windows",     # event-time sessionization
    "q_dedup_exact",         # fingerprint groupBy
    "q_near_dup_pairs_capped",  # LSH band shuffle
    "q_knn_bruteforce",      # vector scan
    "q_pagerank",            # iterative graph
    "q_curation_funnel",     # composed pipeline
    "q_percentiles",         # rank arithmetic
    "q_cdc_apply",           # changelog compaction + full-outer MERGE
    "q_bloom_prune",         # bloom build + codegen probe
    "q_triangle_count",      # degree-oriented wedge joins
    "q_time_travel",         # manifest reads across three versions
    "q_segment_dedup",       # corpus keep-first segment aggregate
    "q_url_canonicalize",    # regexp-chain map + canonical-key shuffle
    "q_bigram_lm_score",     # in-row zip + model joins
    "q_stats_prune",         # manifest min/max file skipping
    "q_minhash_calibration", # band join + exact-verify stage
    "q_bm25_topk",           # BM25 corpus-scan form
    "q_bm25_indexed",        # BM25 stored index, partition-pruned probe
    "q_pq_rerank",           # PQ candidates -> exact re-rank serving
    "q_cdf_read",            # change feed: full-outer diff of versions
]

# documents/embeddings-only queries measured on the extended 4-point axis
# (sf0.001 / 0.01 / 0.1 / synthesized 0.5 — tools/gen_bigdocs.py): the
# stored-index serving tiers whose 100-TB story is "probe cost flat in
# corpus size", plus the brute-force baselines they are compared against
# and segment dedup.
SERVING_QUERIES = [
    "q_bm25_topk",             # BM25 corpus-scan baseline
    "q_bm25_indexed",          # BM25 stored inverted index (should stay flat)
    "q_knn_bruteforce",        # vector scan baseline
    "q_ann_lsh",               # stored LSH index, bucket-pruned probe
    "q_ann_ivf",               # stored IVF index, n_probe lists
    "q_pq_rerank",             # PQ candidates -> exact re-rank serving
    "q_dedup_exact",           # fingerprint groupBy (data-bound reference line)
    "q_segment_dedup",         # digest-keyed winner exchange
    "q_url_canonicalize",      # pure-expression map + canonical-key shuffle
    "q_media_decode_png",      # zlib codec, worker-spread mapInPandas:
    #                            data-bound by construction; the sweep
    #                            shows the spread keeps growth ~linear
    #                            in docs, not serialized on 2 partitions
    "q_media_decode_jpeg",     # DCT+Huffman codec (round 10): same
    #                            worker-spread shape, ~4x the per-byte
    #                            CPU of PNG — the sweep checks growth
    #                            stays linear-in-docs here too
    "q_dedup_incremental",     # stored-index ingest probe (round-10
    #                            label cascade): O(batch + pruned
    #                            slice), should grow in BATCH size only
]


def main() -> None:
    from politician_etl_project_spark.session import get_spark
    from politician_etl_project_spark.queries import load_all

    spark = get_spark("scaling")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_all()
    times: dict[str, dict[str, float]] = {}
    for sf in SFS:
        key = Path(sf).name
        for name in QUERIES:
            specs[name].fn(spark, sf).collect()  # warm codegen per shape
        spark.catalog.clearCache()
        for name in QUERIES:
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                specs[name].fn(spark, sf).collect()
                sec = time.perf_counter() - t0
                best = sec if best is None else min(best, sec)
                spark.catalog.clearCache()
            times.setdefault(name, {})[key] = round(best, 3)
    out = {"queries": times}
    for name, t in times.items():
        if t.get("sf0.01"):
            t["ratio_0.1/0.01"] = round(t["sf0.1"] / t["sf0.01"], 2)

    # --- serving-tier sweep, 4th scale point (r5 verdict item 6) -----------
    # The stored-index flatness claims rest on sf0.001->0.1; extend the
    # axis to 5x sf0.1 with synthesized documents/embeddings (the ONLY
    # tables these tiers read — tools/gen_bigdocs.py) and verify no tier
    # regresses super-linearly on the extra step.
    from tools.gen_bigdocs import ensure_bigdocs

    sf05 = ensure_bigdocs()
    serving_sfs = SFS + [sf05]
    serving: dict[str, dict[str, float]] = {}
    for sf in serving_sfs:
        key = Path(sf).name.replace("spark_graft_", "")
        for name in SERVING_QUERIES:
            specs[name].fn(spark, sf).collect()  # warm + build stored indexes
        spark.catalog.clearCache()
        for name in SERVING_QUERIES:
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                specs[name].fn(spark, sf).collect()
                sec = time.perf_counter() - t0
                best = sec if best is None else min(best, sec)
                spark.catalog.clearCache()
            serving.setdefault(name, {})[key] = round(best, 3)
    for name, t in serving.items():
        if t.get("sf0.1"):
            t["ratio_0.5/0.1"] = round(t["sf0.5"] / t["sf0.1"], 2)
    out["serving_tiers_4pt"] = serving

    # --- wide-segment dedup (r5 verdict item 3) -----------------------------
    # At the declared query's 3-token width a segment is already
    # digest-sized; paragraph dedup has LONG segments, where the winner
    # exchange must still carry only digests + ids.  Measure 40-token
    # segments on the two largest corpora.
    from politician_etl_project_spark.catalog import load_table
    from politician_etl_project_spark.operators.dedup import segment_dedup

    wide: dict[str, float] = {}
    for sf in [SFS[2], sf05]:
        key = Path(sf).name.replace("spark_graft_", "")
        docs = load_table(spark, sf, "documents")
        segment_dedup(docs, seg_tokens=40).collect()  # warm
        spark.catalog.clearCache()
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            segment_dedup(docs, seg_tokens=40).collect()
            sec = time.perf_counter() - t0
            best = sec if best is None else min(best, sec)
            spark.catalog.clearCache()
        wide[key] = round(best, 3)
    if wide.get("sf0.1"):
        wide["ratio_0.5/0.1"] = round(wide["sf0.5"] / wide["sf0.1"], 2)
    out["wide_segment_dedup_w40"] = wide
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
