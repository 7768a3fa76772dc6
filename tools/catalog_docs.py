"""Generate OPERATORS.md — the navigable index of the query catalog.

One row per registered catalog entry, in driver order
(``driver_catalog()``: the correctness window first), with its oracle
status and the first sentence of its scaling docstring. Regenerate after
adding operators:

    python tools/catalog_docs.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jaffle_shop_classic_spark.operators.catalog import WINDOW, driver_catalog  # noqa: E402


def first_sentence(doc: str, limit: int = 220) -> str:
    text = " ".join((doc or "").split())
    m = re.search(r"(?<=[.!?]) (?=[A-Z])", text)
    s = text[: m.start()] if m else text
    return (s[: limit - 1] + "…") if len(s) > limit else s


def main() -> None:
    cat = driver_catalog()
    lines = [
        "# OPERATORS — the query catalog, in driver order",
        "",
        "Generated by `tools/catalog_docs.py`; do not edit by hand.",
        f"**{len(cat)} entries** — "
        f"{sum(1 for s in cat.values() if s.oracle)} with DuckDB oracle twins, "
        f"{sum(1 for s in cat.values() if not s.oracle)} rows-only "
        "(each rows-only entry's value-level pytest check is named in "
        "COVERAGE.md). The first 50 rows are the driver's correctness "
        "window, ordered by `operators/catalog.py::certification_order`: "
        "the reference surface, then entries changed since their last "
        "green driver round, then the least recently certified.",
        "",
        "| # | query | oracle | what it does |",
        "|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(cat.items(), 1):
        marker = "✓" if spec.oracle else "rows"
        window = "**" if i <= WINDOW else ""
        lines.append(
            f"| {i} | {window}`{name}`{window} | {marker} | "
            f"{first_sentence(spec.doc)} |"
        )
    with open(os.path.join(REPO, "OPERATORS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote OPERATORS.md ({len(cat)} entries)")


if __name__ == "__main__":
    main()
