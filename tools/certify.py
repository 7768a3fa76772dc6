"""Record a driver round in the certification ledger, and project the next.

    python tools/certify.py CORRECTNESS_r17.json [--tree DIR]

For each entry the round recorded, the ledger
(``jaffle_shop_classic_spark/operators/certified.json``) keeps its latest
record and, if that is green, the round and the entry's fingerprint in
the code the round ran. ``--tree`` names a checkout of that code (default:
this repo), such as a ``git archive`` of the round's commit; a fresh
interpreter imports the tree's catalog and fingerprints it with this
repo's rule, so every round is hashed alike. A round older than an
entry's latest record leaves that entry as it is.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jaffle_shop_classic_spark.operators.catalog import (  # noqa: E402
    LEDGER,
    WINDOW,
    certification_order,
    fingerprints,
    is_green,
)

RULE = os.path.join(REPO, "jaffle_shop_classic_spark", "operators", "catalog.py")
# what the driver records for an entry that passes: with an oracle twin,
# and without one
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None, "spark_rows": 1, "err": "no_oracle"}

# Runs in the tree: its catalog, fingerprinted by this repo's catalog.py
# loaded under another module name.
_FINGERPRINT = """
import importlib.util, json, sys
spec = importlib.util.spec_from_file_location("_rule", sys.argv[1])
rule = sys.modules["_rule"] = importlib.util.module_from_spec(spec)
spec.loader.exec_module(rule)
from jaffle_shop_classic_spark.operators import catalog
for mod in catalog._MODULES:
    importlib.import_module(mod)
print(json.dumps(rule.fingerprints(catalog.CATALOG)))
"""


def record(ledger: dict, rnd: int, records: dict, prints: dict[str, str]) -> None:
    """Add round ``rnd``'s driver records to ``ledger``, in place."""
    for name, rec in records.items():
        old = ledger["entries"].get(name, {"green_round": 0, "fingerprint": None, "latest": {"round": 0}})
        if old["latest"]["round"] < rnd:
            green = is_green(rec)
            ledger["entries"][name] = {
                "green_round": rnd if green else old["green_round"],
                "fingerprint": prints[name] if green else old["fingerprint"],
                "latest": {"round": rnd, "green": green},
            }
    ledger["rounds"] = sorted({*ledger["rounds"], rnd})


def projected_windows(catalog: dict, ledger: dict, rounds: int) -> dict[str, int]:
    """name -> the first of the next ``rounds`` rounds whose window holds
    the entry, if every window comes back green with the code as it is."""
    ledger, prints, first = copy.deepcopy(ledger), fingerprints(catalog), {}
    for rnd in range(ledger["rounds"][-1] + 1, ledger["rounds"][-1] + 1 + rounds):
        window = certification_order(catalog, ledger)[:WINDOW]
        for name in window:
            first.setdefault(name, rnd)
        record(ledger, rnd, {n: GREEN if catalog[n].oracle else ROWS_ONLY for n in window}, prints)
    return first


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("correctness", help="a CORRECTNESS_r<N>.json file")
    ap.add_argument("--tree", default=REPO, help="checkout of the code the round ran")
    args = ap.parse_args()
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", args.correctness)
    if m is None:
        ap.error("the file name must be CORRECTNESS_r<N>.json")
    with open(args.correctness) as fh:
        records = json.load(fh)
    tree = os.path.abspath(args.tree)
    prints = json.loads(subprocess.run(
        [sys.executable, "-c", _FINGERPRINT, RULE], cwd=tree, env={**os.environ, "PYTHONPATH": tree},
        capture_output=True, text=True, check=True,
    ).stdout.splitlines()[-1])
    if missing := sorted(set(records) - set(prints)):
        sys.exit(f"not in the tree's catalog: {missing}")
    ledger = {"rounds": [], "entries": {}}
    if os.path.exists(LEDGER):
        with open(LEDGER) as fh:
            ledger = json.load(fh)
    record(ledger, int(m.group(1)), records, prints)
    entries = ledger["entries"]
    with open(LEDGER, "w") as fh:  # one line per entry: a round's diff stays readable
        fh.write('{\n "rounds": ' + json.dumps(ledger["rounds"]) + ',\n "entries": {\n')
        fh.write(",\n".join(f"  {json.dumps(n)}: {json.dumps(entries[n])}" for n in sorted(entries)))
        fh.write("\n }\n}\n")
    green = sum(entries[n]["latest"]["green"] for n in records)
    print(f"recorded {m.group(0)}: {green}/{len(records)} green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
