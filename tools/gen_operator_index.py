#!/usr/bin/env python
"""Generate docs/OPERATORS.md: the full registered-query inventory —
name, defining module:line, oracle status, one-line summary (first
docstring sentence) — ordered by defining module and line, so the
file does not depend on which query module a process imported first.
Regenerate with `python tools/gen_operator_index.py` after adding
queries; the companion test pins the file as current."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build() -> str:
    from db_realtime_changefeed_spark.queries import (
        ORACLES,
        QUERIES,
        load_all,
    )

    load_all()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    lines = [
        "# Operator inventory (generated — do not edit)",
        "",
        f"{len(QUERIES)} registered queries, {len(ORACLES)} with DuckDB",
        "differential oracles. Regenerate:"
        " `python tools/gen_operator_index.py`.",
        "",
        "| # | query | source | oracle | summary |",
        "|---|---|---|---|---|",
    ]
    entries = sorted(
        (os.path.relpath(inspect.getsourcefile(fn), root),
         inspect.getsourcelines(fn)[1], name, fn)
        for name, fn in QUERIES.items())
    for i, (src, line, name, fn) in enumerate(entries):
        doc = (inspect.getdoc(fn) or "").split(". ")[0]
        doc = " ".join(doc.split())
        if len(doc) > 140:
            doc = doc[:137] + "..."
        doc = doc.replace("|", "\\|")
        oracle = "sql" if name in ORACLES else "rows-only"
        lines.append(
            f"| {i} | `{name}` | {src}:{line} | {oracle} | {doc} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs", "OPERATORS.md")
    text = build()
    with open(out, "w") as f:
        f.write(text)
    print(f"wrote {out} ({len(text.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
