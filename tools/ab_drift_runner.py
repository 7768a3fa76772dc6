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

``compiles`` gives, per query, the generated classes compiled in each
timed rep. The runner times each query alone, so its classes stay in
Spark's codegen cache and the count is normally 0; a non-zero count
means a rep paid Janino compiles. It cannot show one query evicting
another's classes: a cache-sensitive change needs the interleaved
``catalog_mix`` benchmark (``perfbench/run.py``).
"""

from __future__ import annotations

import json
import statistics
import sys
import time

REPS = 7


def _sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def codegen_compilations(spark) -> int:
    """Generated classes compiled so far by the driver's JVM (in local
    mode, the executors' too). Spark's ``CodegenMetrics`` compile-time
    histogram takes one sample per codegen cache miss, so the count rises
    only when a class is compiled, never on a cache hit. Read here, not
    from the checkout, so the runner works on commits that predate it."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    repo, sf_dir, *names = sys.argv[1:]
    sys.path.insert(0, repo)
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.session import get_spark

    cat = load_catalog()
    spark = get_spark("ab_drift")
    out, compiles = {}, {}
    for name in names:
        fn = cat[name].fn
        _sink(fn(spark, sf_dir))  # warm: scan cache, codegen, AQE stats
        ts, cs = [], []
        for _ in range(REPS):
            c0 = codegen_compilations(spark)
            t0 = time.perf_counter()
            _sink(fn(spark, sf_dir))
            ts.append(time.perf_counter() - t0)
            cs.append(codegen_compilations(spark) - c0)
        out[name] = round(statistics.median(ts), 4)
        compiles[name] = cs
    print("ABRESULT " + json.dumps({"repo": repo, "medians": out, "compiles": compiles}))


if __name__ == "__main__":
    main()
