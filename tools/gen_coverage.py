#!/usr/bin/env python
"""Generate COVERAGE.md: SURVEY.md §2 operator rows -> registered
queries -> check kind. Run after adding queries; CI-style freshness is
asserted by tests/test_coverage.py."""

from __future__ import annotations

import os
import re
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hortacloud_importer_spark.registry import all_queries  # noqa: E402

# §2 rows with no query registration, covered by tests/design instead.
NON_QUERY_ROWS = {
    "A11": "SURVEY maps existence-check to the C4 resume anti-join "
    "(join_anti query; the manifest committed set, read on the driver "
    "and handed to build_octree's subtree kernels by subtree, in the "
    "first pass's work rows or cogrouped, sources/manifest.py; "
    "tests/test_block_store.py, tests/test_pipeline_e2e.py)",
}


def main() -> str:
    by_section: dict[str, list] = defaultdict(list)
    for name, spec in all_queries().items():
        for sec in re.split(r"[+]", spec.section):
            sec = sec.strip()
            by_section[sec].append((name, spec.oracle is not None, spec.driver))

    def sort_key(sec: str):
        m = re.match(r"([A-Z]+)(\d*)", sec)
        return (m.group(1), int(m.group(2) or 0)) if m else (sec, 0)

    lines = [
        "# COVERAGE — SURVEY.md §2 rows -> registered queries",
        "",
        "Generated by tools/gen_coverage.py from the query registry; do not edit.",
        "`oracle` = DuckDB value-hash checked at sf0.01; `rows-only` = runs +",
        "schema check, semantics pinned by pytest (see module docstrings).",
        "**Bold** queries form the consolidated driver-facing set",
        "(__spark_entry__.queries(), <= 50 entries, scalar-only outputs);",
        "plain ones are local-registry variants verified by tests/test_oracle.py.",
        "",
        "| §2 row | queries (check kind) |",
        "|---|---|",
    ]
    for sec in sorted(by_section, key=sort_key):
        entries = ", ".join(
            (f"**`{n}`**" if drv else f"`{n}`")
            + f" ({'oracle' if has else 'rows-only'})"
            for n, has, drv in sorted(by_section[sec])
        )
        lines.append(f"| {sec} | {entries} |")
    lines.append("")
    lines.append("## Rows covered without a dedicated query")
    lines.append("")
    for sec, how in sorted(NON_QUERY_ROWS.items()):
        lines.append(f"- **{sec}**: {how}")
    lines.append("")
    n_total = len(all_queries())
    n_oracle = sum(1 for s in all_queries().values() if s.oracle is not None)
    n_driver = sum(1 for s in all_queries().values() if s.driver)
    n_driver_oracle = sum(
        1 for s in all_queries().values() if s.driver and s.oracle is not None
    )
    lines.append(
        f"**Totals:** {n_total} queries, {n_oracle} oracle-checked, "
        f"{n_total - n_oracle} rows-only; driver-facing set: {n_driver} "
        f"({n_driver_oracle} oracle-checked)."
    )
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")
    content = main()
    with open(out, "w") as fh:
        fh.write(content)
    print(f"wrote {out} ({len(content.splitlines())} lines)")
