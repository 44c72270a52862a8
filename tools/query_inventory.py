#!/usr/bin/env python
"""Generate QUERIES.md: the registry inventory with per-query
description and correctness-check level — the cross-check artifact
for SURVEY.md §2's operator list.

Usage: python tools/query_inventory.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from flink_assignment_spark.queries.synthetic import REGISTRY

    lines = [
        "# QUERIES — registry inventory (generated by tools/query_inventory.py)",
        "",
        "Every driver-facing query with its correctness-check level:",
        "**exact** = DuckDB oracle value-hash match at sf0.01 (driver)",
        "and sf0.001 (pytest); **rows-only** = driver counts rows, with",
        "the algorithmic guarantee pytest-verified (recall bound,",
        "rank-error bound, determinism) as noted in the docstring.",
        "",
        "pytest exact-row-checks EVERY oracle-backed query on every CI pass",
        '(see README "Correctness"). Rows are in registry order, which is',
        "definition order: the reference-parity queries first.",
        "",
        "| query | check | summary |",
        "|---|---|---|",
    ]
    n_exact = 0
    import re

    for name, spec in REGISTRY.items():
        flat = re.sub(r"\s+", " ", (spec.spark.__doc__ or "").strip())
        doc = flat.split(". ")[0].rstrip(".") + "." if flat else ""
        if len(doc) > 180:
            doc = doc[:177] + "..."
        doc = doc.replace("|", "\\|")
        check = "exact" if spec.oracle is not None else "rows-only"
        n_exact += spec.oracle is not None
        lines.append(f"| {name} | {check} | {doc} |")
    lines += [
        "",
        f"{len(REGISTRY)} queries, {n_exact} exact, "
        f"{len(REGISTRY) - n_exact} rows-only.",
    ]
    out = "\n".join(lines) + "\n"
    with open("QUERIES.md", "w") as f:
        f.write(out)
    print(out)


if __name__ == "__main__":
    main()
