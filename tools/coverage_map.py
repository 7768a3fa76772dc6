"""Regenerate COVERAGE.md's per-entry certification map.

For every catalog entry this emits one row with its driver evidence:
  - the CORRECTNESS_r{N}.json rounds where the driver recorded it green
    (``operators/catalog.py::is_green``);
  - the first driver window the catalog's order rule gives it, projected
    by assuming every window from the next round on comes back green with
    the code as it is (``tools/certify.py::projected_windows``).
Every oracle-backed entry is also value-hash-checked locally by
tests/test_oracle_parity.py (sf0.001) and tools/preflight.py (sf0.01);
rows-only entries name their engine-side value checks in the capability
table above the map.

Usage: python tools/coverage_map.py   # rewrites the generated section
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BEGIN = "<!-- BEGIN GENERATED CERTIFICATION MAP (tools/coverage_map.py) -->"
END = "<!-- END GENERATED CERTIFICATION MAP -->"
# more than enough rounds for every entry to reach a window
HORIZON = 20


def green_rounds() -> dict[str, list[int]]:
    from jaffle_shop_classic_spark.operators.catalog import is_green

    out: dict[str, list[int]] = {}
    for path in sorted(os.listdir(REPO)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path)
        if not m:
            continue
        with open(os.path.join(REPO, path)) as f:
            data = json.load(f)
        for name, rec in data.items():
            if is_green(rec):
                out.setdefault(name, []).append(int(m.group(1)))
    return out


def main() -> int:
    from jaffle_shop_classic_spark.operators.catalog import LEDGER, driver_catalog
    from tools.certify import projected_windows

    cat = driver_catalog()
    rounds = green_rounds()
    with open(LEDGER) as f:
        ledger = json.load(f)
    next_round = ledger["rounds"][-1] + 1
    first = projected_windows(cat, ledger, HORIZON)

    lines = [
        BEGIN,
        "",
        "## Per-entry certification map (generated)",
        "",
        f"One row per catalog entry ({len(cat)} total). **driver rounds** = "
        "CORRECTNESS_r{N} records where the entry was green (rows+schema+hash, "
        "err null; for a rows-only entry, that it ran). **next window** = the "
        "first driver window the order rule "
        "(`operators/catalog.py::certification_order`) gives the entry: "
        f"`r{next_round:02d}` is the current window; later rounds are projected "
        "by assuming every window from the next round on comes back green with "
        "the code as it is. Every oracle-backed entry is additionally "
        "value-hash-checked locally (tests/test_oracle_parity.py at sf0.001; "
        "tools/preflight.py at sf0.01); `rows-only` entries name their "
        "engine-side value checks in the capability table above.",
        "",
        "| entry | oracle | driver rounds | next window |",
        "|---|---|---|---|",
    ]
    for name, spec in cat.items():
        oracle = "✓" if spec.oracle is not None else "rows-only"
        cite = ", ".join(f"r{r:02d}" for r in rounds.get(name, []))
        lines.append(f"| `{name}` | {oracle} | {cite or '—'} | r{first[name]:02d} |")
    lines += [
        "",
        f"**Totals:** {sum(1 for n in cat if n in rounds)} entries driver-green at "
        f"least once, {sum(1 for r in first.values() if r == next_round)} in the "
        f"r{next_round:02d} window, every entry in a window by r{max(first.values()):02d}.",
        "",
        END,
    ]

    cov_path = os.path.join(REPO, "COVERAGE.md")
    with open(cov_path) as f:
        text = f.read()
    block = "\n".join(lines)
    if BEGIN in text:
        text = re.sub(re.escape(BEGIN) + ".*?" + re.escape(END), block, text, flags=re.S)
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    with open(cov_path, "w") as f:
        f.write(text)
    print(f"wrote {cov_path}: {len(cat)} entries, every one in a window by r{max(first.values()):02d}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
