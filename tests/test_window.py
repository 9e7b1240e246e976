"""Registry bookkeeping guards: the docs that state the registry size,
the oracle sweep log, and the names the committed correctness history
refers to.

Query names recorded in ``history/CORRECTNESS_r*.json`` stay joinable:
each is either still registered or listed in ``RETIRED`` with a
registered successor, so no history row points at nothing.
"""

from __future__ import annotations

import json
import os
import re

from politician_etl_project_spark.queries import load_all

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Retired query name -> the registered query that computes the same rows.
RETIRED = {
    "q_segment_dedup_direct": "q_segment_dedup",
    "q_segment_dedup_digest": "q_segment_dedup",
}


def _history_checked_names() -> set[str]:
    """Union of all query names in the committed correctness history."""
    hist = os.path.join(REPO_ROOT, "history")
    names: set[str] = set()
    for fn in sorted(os.listdir(hist)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            with open(os.path.join(hist, fn)) as fh:
                names |= set(json.load(fh))
    return names


def test_generated_docs_match_registry_count():
    """Count tripwire for the generated docs (r7 verdict #2: PLANS.md /
    SHUFFLE.md / COVERAGE.md silently lagged the registry by two
    queries for a whole round).  Each generated doc embeds the registry
    size at generation time; a registry that grew without regenerating
    the docs fails here."""
    n = len(load_all())
    checks = {
        "PLANS.md": r"\((\d+) queries\)",
        "SHUFFLE.md": r"across (\d+) queries",
        "COVERAGE.md": r"Registry at generation time: (\d+) queries",
    }
    for doc, pat in checks.items():
        text = open(os.path.join(REPO_ROOT, doc)).read()
        m = re.search(pat, text)
        assert m, f"{doc} lost its registry-count line (pattern {pat!r})"
        assert int(m.group(1)) == n, (
            f"{doc} was generated at {m.group(1)} queries, registry has {n} — "
            f"rerun tools/gen_{doc.split('.')[0].lower()}.py"
        )


def test_handwritten_docs_registry_counts():
    """r8 verdict #6: SCALE.md carried 'ALL 203 declared queries' after
    the registry hit 208 — the generated docs were tripwired, the
    hand-written ones were not.  Rule: every '<N> declared queries'
    claim in a hand-written doc must either equal the live registry
    size or sit in a sentence explicitly marked as a snapshot
    ('registry snapshot at capture time' / 'N-query snapshot'), which
    is allowed to lag by construction."""
    n = len(load_all())
    for doc in ("SCALE.md", "README.md", "EXAMPLES.md", "FIXTURES.md"):
        path = os.path.join(REPO_ROOT, doc)
        if not os.path.exists(path):
            continue
        text = open(path).read()
        for m in re.finditer(r"(\d+)(?:-query snapshot| declared queries)", text):
            window = text[max(0, m.start() - 120) : m.end() + 40]
            if "snapshot" in window:
                continue
            assert int(m.group(1)) == n, (
                f"{doc} claims '{m.group(0)}' but the registry has {n}; "
                "update the sentence or mark it as a snapshot "
                "('registry snapshot at capture time: N')"
            )


def test_every_driver_checked_name_still_registered():
    """Every query name in the committed correctness history is either
    registered or a ``RETIRED`` key whose successor is registered, so
    history rows stay joinable to a live query.  Deleting a query means
    naming its successor here."""
    specs = load_all()
    history = _history_checked_names()
    assert history, "history/CORRECTNESS_r*.json not found"
    gone = sorted(n for n in history - set(specs) if RETIRED.get(n) not in specs)
    assert not gone, (
        f"history query names neither registered nor retired: {gone} — "
        "add each to RETIRED with its registered successor"
    )
    stale = sorted(n for n in RETIRED if n in specs)
    assert not stale, f"RETIRED names are still registered: {stale}"


def test_sweep_log_matches_registry():
    """r9 verdict #6: the 10x (sf0.1) oracle sweep is a standing
    per-round artifact — SCALE.md's sweep log must have its NEWEST
    entry at the current registry size, so growing the registry without
    re-running tools/sweep_oracle_sf01.py fails loudly."""
    text = open(os.path.join(REPO_ROOT, "SCALE.md")).read()
    entries = re.findall(
        r"- (\d{4}-\d{2}-\d{2}): (\d+)/(\d+) hash-identical at sf0\.1 \(registry (\d+)",
        text,
    )
    assert entries, "SCALE.md sweep log lost its entries"
    date, ok, total, registry = max(entries)  # ISO dates sort lexically
    n = len(load_all())
    assert int(registry) == n, (
        f"newest sweep ({date}) ran at registry {registry} but the registry "
        f"now has {n} queries — rerun tools/sweep_oracle_sf01.py and record it"
    )
    assert ok == total, f"newest sweep has failures: {ok}/{total}"
