"""One arm of a cross-commit drift A/B: run named catalog queries warm
in THIS checkout and print one JSON line of per-query medians.

Usage:  python tools/ab_drift_runner.py <repo_root> <sf_dir> q1 [q2 ...]

The caller (BASELINE.md drift-ledger discipline) alternates this runner
between a current checkout and a boundary-commit worktree on the same
machine, same day, and compares medians pair-wise — host drift inflates
both arms alike, so only a code-level regression separates them.

Each timing is fn() plus a ``write.format("noop")`` sink, so every column
and join of the plan runs (a ``count()`` lets Catalyst prune the plan
down to a row count), on the ``get_spark()`` defaults the CLI and
perfbench use.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

REPS = 7


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    repo, sf_dir, *names = sys.argv[1:]
    sys.path.insert(0, repo)
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.session import get_spark

    cat = load_catalog()
    spark = get_spark("ab_drift")
    out = {}
    for name in names:
        fn = cat[name].fn
        _sink(fn(spark, sf_dir))  # warm: scan cache, codegen, AQE stats
        ts = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            _sink(fn(spark, sf_dir))
            ts.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(ts), 4)
    print("ABRESULT " + json.dumps({"repo": repo, "medians": out}))


if __name__ == "__main__":
    main()
