"""Render REGISTRY.md: the full query-registry catalog — every entry in
registration order with its oracle mode, tags, and the first docstring
sentence. Generated from the registry itself so it can never drift from
the code.

Usage: python tools/registry_doc.py
"""

from __future__ import annotations

import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from big_data_player_analysis_spark.registry import all_queries


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    # cut at the first sentence end that isn't an abbreviation-ish dot
    m = re.search(r"(?<=[.!?])\s", text)
    s = text[: m.start()] if m else text
    return s if len(s) <= 300 else s[:297] + "..."


def main() -> int:
    specs = all_queries()
    lines = [
        "# REGISTRY — all driver-contract query entries",
        "",
        f"{len(specs)} entries in registration order, every one verified",
        "each test run by the local DuckDB oracle gate",
        "(tests/test_registry.py). `oracle` = hash-checked ANSI-SQL twin;",
        "`rows-only` = genuinely non-SQL-expressible (iterative",
        "convergence, hash-seeded LSH, engine-specific sketches), checked",
        "for rows+schema and pinned by dedicated property tests instead.",
        "",
        "| # | entry | oracle | tags | what it does |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(specs.items(), 1):
        mode = "oracle" if spec.sql else "rows-only"
        tags = " ".join(t for t in spec.tags if t != "bench")
        desc = first_sentence(spec.fn.__doc__)
        lines.append(f"| {i} | {name} | {mode} | {tags} | {desc} |")
    lines.append("")
    with open(os.path.join(REPO_ROOT, "REGISTRY.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote REGISTRY.md ({len(specs)} entries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
