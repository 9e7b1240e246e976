"""Generate COVERAGE.md: every SURVEY.md §2 operator id mapped to its
implementation and its check (oracle-verified declared query, pytest
test, or documented driver-side contract).

Run from the repo root:  python tools/gen_coverage.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from politician_etl_project_spark.queries import load_all  # noqa: E402

# Ops whose implementation is not a declared query: id -> (impl ref, check ref)
MANUAL = {
    "S1": ("sources/fec.py:read_itcont (schema'd pipe-CSV scan, PERMISSIVE)",
           "tests/test_sources.py::test_itcont_transform"),
    "S2": ("sources/fec.py:read_ccl/read_cn (+ broadcast in joins)",
           "tests/test_sources.py::test_ccl_union_dedup, test_cn_keep_last"),
    "S3": ("sources/fec.py:read_itcont — header-file schemas collapse into the same schema'd csv scan",
           "tests/test_sources.py::test_itcont_transform"),
    "S4": ("sources/staging.py:fetch_zip_to_staging / extract_zip",
           "tests/test_sources.py::test_extract_zip (extract; fetch gated behind urllib)"),
    "S5": ("sources/staging.py:paginate (driver loop) + paginate_partitioned "
           "(mapInPandas over offset partitions — the at-scale layout) + "
           "sources/members.py:members_df",
           "tests/test_sources.py::test_paginate_follows_next, "
           "test_paginate_partitioned_matches_driver_loop; q_src_members (oracle)"),
    "S6": ("sources/votes_json.py:read_vote_files (multiLine JSON glob + input_file_name)",
           "tests/test_sources.py::test_vote_explode"),
    "S7": ("sources/bills_xml.py:read_billstatus (wholetext + from_xml, nested arrays)",
           "tests/test_sources.py::test_bill_xml_extract"),
    "S8": ("sources/committees_yaml.py:committees_df (driver YAML -> typed DF)",
           "tests/test_sources.py::test_committee_flatten"),
    "S9": ("catalog.py:load_table_jdbc (partition-parallel JDBC scan) — LIVE round trip "
           "over the embedded Derby engine Spark bundles",
           "q_src_jdbc (oracle); tests/test_sources.py::test_jdbc_roundtrip_derby "
           "(pushdown + 4-way range slicing plan-asserted)"),
    "S10": ("out-of-engine per SURVEY: staging-dir contract; scanners are S6/S7",
            "documented (SURVEY §2.1 S10)"),
    "S11": ("storage.py:SnapshotTable.append",
            "tests/test_etl.py (update_log appends); tests/test_streaming.py::test_incremental_upsert_foreachbatch"),
    "S14": ("storage.py:SnapshotTable.overwrite (stage, then publish a version)",
            "tests/test_etl.py::test_idempotent_rerun"),
    "S15": ("etl.py:load_politicians — typed-null schema alignment before merge",
            "tests/test_etl.py::test_incremental_update_wins_and_first_wins"),
    "S16": ("embedding column on the table (no side vector store); writer = plain parquet",
            "queries q_knn_bruteforce/q_knn_with_metadata consume it (oracle-checked)"),
    "S17": ("operators/upsert.py:log_update; etl.py:Warehouse.log",
            "tests/test_etl.py::test_update_log"),
    "N1": ("sources/votes_json.py:explode_votes (map explode -> array explode)",
           "tests/test_sources.py::test_vote_explode"),
    "N2": ("sources/votes_json.py:explode_votes — '\"VP\"' string element -> null-id struct, filtered",
           "tests/test_sources.py::test_vote_explode"),
    "N3": ("sources/votes_json.py:explode_votes — nomination/missing-bill filter",
           "tests/test_sources.py::test_vote_explode"),
    "N4": ("sources/bills_xml.py:extract_cosponsors (explode_outer of XML item array)",
           "tests/test_sources.py::test_bill_xml_cosponsors"),
    "N5": ("sources/members.py:transform_members (terms array min/max/element_at(-1))",
           "tests/test_sources.py::test_member_transform"),
    "N6": ("sources/committees_yaml.py:flatten_committees (parents ∪ exploded subcommittees)",
           "tests/test_sources.py::test_committee_flatten, test_committee_hierarchy"),
    "J11": ("replaced by one broadcast join (SURVEY: N+1 anti-pattern)",
            "q_broadcast_lookup (oracle-checked); sources/votes_json.py:resolve_vote_ids"),
    "J12": ("ORM lazy navigation -> plain joins",
            "q_junction_hierarchy (oracle-checked); etl.py resolution joins"),
    "A12": ("driver-dict aggregation -> groupBy().count()",
            "q_conditional_split / q_global_stats (oracle-checked)"),
    "F10": ("operators/upsert.py:log_update (current_timestamp) — nondeterministic, excluded from oracles",
            "tests/test_etl.py::test_update_log"),
    "F15": ("sources/members.py:transform_members (array_min/array_max over terms; active flag)",
            "tests/test_sources.py::test_member_transform"),
    "F16": ("sources/bills_xml.py:extract_cosponsors (lower(col)=='true')",
            "tests/test_sources.py::test_bill_xml_cosponsors"),
    "F18": ("presentation-layer concern per SURVEY §2.8 F18 (format_number available)",
            "documented"),
    "V4": ("driver-side LLM orchestration — outside correctness surface per SURVEY §2.10",
           "documented"),
    "V5": ("driver-side LLM orchestration — outside correctness surface per SURVEY §2.10",
           "documented"),
    "T4": ("sources/staging.py:probe_ids (N-consecutive-miss discovery loop)",
           "tests/test_sources.py::test_probe_ids_stops_after_misses"),
    "T5": ("streaming/pipelines.py:incremental_upsert_stream (foreachBatch MERGE + log)",
           "tests/test_streaming.py::test_incremental_upsert_foreachbatch"),
    "T7": ("etl.py:run_all (FK-ordered orchestration with per-step update_log)",
           "tests/test_etl.py (full-suite)"),
    "D1": ("functions/scalar.py normalize_name/parse_last_first — native-first policy (SURVEY D1)",
           "tests/test_sources.py::test_member_transform, test_fuzzy_link"),
    "D5": ("streaming/pipelines.py:user_running_totals_exact (applyInPandasWithState custom state)",
           "tests/test_streaming.py::test_user_running_totals_state"),
}

SECTIONS = [
    ("2.1 Scans / sources / sinks", [f"S{i}" for i in range(1, 19)]),
    ("2.2 Projections / filters", [f"P{i}" for i in range(1, 11)]),
    ("2.3 Joins", [f"J{i}" for i in range(1, 13)]),
    ("2.4 Aggregations", [f"A{i}" for i in range(1, 15)]),
    ("2.5 Windows", ["W1", "W2"]),
    ("2.6 Sorts / limits / pagination", [f"O{i}" for i in range(1, 6)]),
    ("2.7 Set operations", [f"U{i}" for i in range(1, 5)]),
    ("2.8 Scalar functions", [f"F{i}" for i in range(1, 19)]),
    ("2.9 Semi-structured", [f"N{i}" for i in range(1, 8)]),
    ("2.10 Vector / semantic search", [f"V{i}" for i in range(1, 6)]),
    ("2.11 Streaming / incremental", [f"T{i}" for i in range(1, 8)]),
    ("2.12 UDF surface", [f"D{i}" for i in range(1, 6)]),
    (
        "North-star extensions (BASELINE.json)",
        [
            "TXT-tokens", "TXT-quality", "TXT-langid", "TXT-dedup-exact",
            "TXT-minhash", "TXT-minhash-lsh", "TXT-simhash", "TXT-embed-neardup",
            "TXT-ann", "MM-metadata", "MM-decode", "MM-frames", "SKEW-salt",
            "TMP-asof", "TMP-range", "TXT-fingerprint", "TXT-bpe", "TXT-tfidf", "TXT-ann-ivf",
            "AGG-rollup", "AGG-cube", "AGG-percentile", "AGG-approx",
        ],
    ),
]


def main() -> None:
    specs = load_all()
    by_op: dict[str, list[str]] = {}
    for name, spec in specs.items():
        tag = f"`{name}`" + (" (oracle)" if spec.oracle else " (rows-only; pytest-checked)")
        for op in spec.ops:
            by_op.setdefault(op, []).append(tag)

    lines = [
        "# COVERAGE — SURVEY.md §2 operator inventory → implementation + check",
        "",
        "Generated by `tools/gen_coverage.py`.  \"(oracle)\" = declared query",
        "hash-compared against DuckDB at sf0.01 by the driver each round.",
        f"Registry at generation time: {len(specs)} queries.",
        "",
    ]
    missing = []
    for title, ids in SECTIONS:
        lines += [f"## {title}", "", "| Op | Check | Implementation |", "|---|---|---|"]
        for op in ids:
            if op in by_op:
                check = ", ".join(sorted(set(by_op[op])))
                impl = MANUAL.get(op, ("declared query (see check)", ""))[0]
                lines.append(f"| {op} | {check} | {impl} |")
            elif op in MANUAL:
                impl, check = MANUAL[op]
                lines.append(f"| {op} | {check} | {impl} |")
            else:
                missing.append(op)
                lines.append(f"| {op} | **MISSING** | — |")
        lines.append("")
    # every op id declared in the registry but absent from the curated
    # SECTIONS above lands here automatically — the curated list went
    # stale twice as rounds added operator families; auto-collection
    # means a new family can never silently vanish from COVERAGE.md
    listed = {op for _, ids in SECTIONS for op in ids}
    extra = sorted(op for op in by_op if op not in listed)
    if extra:
        lines += [
            "## Further extension ops (auto-collected from the registry)",
            "",
            "| Op | Check | Implementation |",
            "|---|---|---|",
        ]
        for op in extra:
            check = ", ".join(sorted(set(by_op[op])))
            lines.append(f"| {op} | {check} | declared query (see check) |")
        lines.append("")
    Path("COVERAGE.md").write_text("\n".join(lines) + "\n")
    n_q = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle)
    print(f"queries={n_q} with_oracle={n_oracle} missing_ops={missing}")


if __name__ == "__main__":
    main()
