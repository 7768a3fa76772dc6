"""Round-end preflight: fail loudly before the driver does.

The round-4 postmortem (VERDICT.md r4): a testdata encoding change broke
two queries + the bench, and nothing in the default workflow surfaced it.
Analysis alone (no execution) catches that class of break in seconds —
every catalog query is built against the CURRENT testdata and run
through Catalyst analysis via .explain(), so schema drift, type
mismatches, and unresolved columns all throw here.

A second stage hash-verifies every TIER-2 oracle-backed query (the ones
outside the driver's ~50-slot correctness window) at the snapshot scale
factor, so the queries the driver never value-checks still get a
recorded parity run each round.

Usage:
    python tools/preflight.py            # analysis + tier-2 parity + pytest
    python tools/preflight.py --fast     # analysis pass only (~60 s)

The testdata root comes from $SPARK_GRAFT_TESTDATA (default
/root/testdata); if no sf dir exists under it the preflight exits
non-zero instead of silently degenerating to a pytest-only run.

Exit 0 = safe to end the round. Anything else = fix before the driver
snapshots.
"""

from __future__ import annotations

import io
import contextlib
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_DIRS = tuple(
    os.path.join(TESTDATA_ROOT, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
)
# scale factor for the tier-2 parity stage — the driver certifies the
# top-50 at sf0.01, so tier-2 gets the same scale here
PARITY_SF_DIR = os.path.join(TESTDATA_ROOT, "sf0.01")


def analysis_pass() -> int:
    """Build + analyze every catalog query against every sf dir.

    .explain() forces analysis and optimization but launches no jobs, so
    the whole catalog × 3-sf sweep is driver-side only. Streaming
    queries execute on .fn() (they drain a memory sink), which is the
    point — a broken stream source fails here too.
    """
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.session import get_spark

    spark = get_spark("preflight", shuffle_partitions=4)
    catalog = load_catalog()
    failures = []
    seen_dirs = 0
    t0 = time.time()
    for sf_dir in SF_DIRS:
        if not os.path.isdir(sf_dir):
            print(f"preflight: SKIP missing {sf_dir}")
            continue
        seen_dirs += 1
        for name, spec in catalog.items():
            try:
                df = spec.fn(spark, sf_dir)
                with contextlib.redirect_stdout(io.StringIO()):
                    df.explain(extended=False)
            except Exception as e:  # noqa: BLE001 — report every break
                failures.append((sf_dir, name, f"{type(e).__name__}: {e}"))
                print(f"preflight: FAIL {sf_dir} {name}: {type(e).__name__}: {e}")
        print(f"preflight: analyzed {len(catalog)} queries against {sf_dir}")
    if seen_dirs == 0:
        print(
            f"preflight: RED — no sf dirs found under {TESTDATA_ROOT} "
            "(set SPARK_GRAFT_TESTDATA)"
        )
        return 1
    print(f"preflight: analysis pass done in {time.time() - t0:.1f}s, "
          f"{len(failures)} failure(s)")
    return len(failures)


def tier2_parity_pass() -> int:
    """Hash-verify every oracle-backed query OUTSIDE the driver's top-50
    window at the snapshot scale factor (the driver only records the
    first ~50 slots; this closes the certification gap for the rest)."""
    from jaffle_shop_classic_spark.operators import catalog as cat_mod
    from tools import parity

    if not os.path.isdir(PARITY_SF_DIR):
        print(f"preflight: SKIP tier-2 parity (missing {PARITY_SF_DIR})")
        return 0
    tier2 = list(cat_mod.load_catalog().values())[cat_mod.WINDOW:]
    names = [s.name for s in tier2 if s.oracle is not None]
    print(f"preflight: tier-2 parity over {len(names)} queries at {PARITY_SF_DIR}")
    rc = parity.main([PARITY_SF_DIR, *names])
    return rc


def scaling_curve_pass() -> int:
    """Guard the 100 TB evidence artifacts (round-11 verdict item 7:
    round 11 shipped scaling_curve.json 2/13 complete with no SCALING.md
    table — this makes that class of partial artifact a red light).

    Checks: (a) the tiled sf1 directory exists (regenerable via
    tools/gen_scaled_data.py — it is gitignored); (b) scaling_curve.json
    covers every DEFAULT_QUERIES entry of tools/scaling_curve.py;
    (c) SCALING.md contains a row for each measured query."""
    import json

    from tools.scaling_curve import DEFAULT_QUERIES, SFS

    problems = 0
    sf1_dir = SFS[2][1]
    if not os.path.isdir(sf1_dir):
        print(
            f"preflight: RED — tiled sf1 dir missing ({sf1_dir}); "
            "run tools/gen_scaled_data.py"
        )
        problems += 1
    curve_path = os.path.join(REPO, "scaling_curve.json")
    measured: dict = {}
    if not os.path.exists(curve_path):
        print("preflight: RED — scaling_curve.json missing")
        problems += 1
    else:
        with open(curve_path) as f:
            measured = json.load(f).get("queries", {})
        missing = [q for q in DEFAULT_QUERIES if q not in measured]
        if missing:
            print(
                f"preflight: RED — scaling_curve.json covers "
                f"{len(measured)}/{len(DEFAULT_QUERIES)} DEFAULT_QUERIES; "
                f"missing: {missing}"
            )
            problems += 1
    scaling_md = os.path.join(REPO, "SCALING.md")
    with open(scaling_md) as f:
        md = f.read()
    untabled = [q for q in measured if f"`{q}`" not in md]
    if untabled:
        print(f"preflight: RED — SCALING.md has no row for: {untabled}")
        problems += 1
    if not problems:
        print(
            f"preflight: scaling-curve artifacts OK "
            f"({len(measured)} measured, table present)"
        )
    return problems


def main() -> None:
    if scaling_curve_pass():
        print("preflight: RED (scaling-curve artifacts)")
        sys.exit(1)
    failures = analysis_pass()
    if failures:
        print("preflight: RED (analysis)")
        sys.exit(1)
    if "--fast" in sys.argv:
        print("preflight: GREEN (analysis only; tier-2 parity + pytest skipped via --fast)")
        return
    if tier2_parity_pass():
        print("preflight: RED (tier-2 parity)")
        sys.exit(1)
    rc = subprocess.call(
        [sys.executable, "-m", "pytest", "tests/", "-x", "-q"], cwd=REPO
    )
    if rc:
        print("preflight: RED (pytest)")
        sys.exit(rc)
    print("preflight: GREEN")


if __name__ == "__main__":
    main()
