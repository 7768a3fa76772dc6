"""Session defaults a warm query depends on.

Spark keeps compiled generated classes in one cache per JVM, sized by the
static conf ``spark.sql.codegen.cache.maxEntries``. At Spark's default of
100 a pass over more than ~100 distinct classes evicts and recompiles
them on every pass. ``get_spark()`` sizes the cache to the catalog's
working set, so a second pass over the same entries compiles nothing.

The pass test starts its own Python process and JVM: the cache is
JVM-wide and is sized once, when the JVM first generates code, and the
suite's shared session has already compiled the classes of every test
that ran before this one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from jaffle_shop_classic_spark.session import CODEGEN_CACHE_MAX_ENTRIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# cheap relational entries whose generated code is the same on every run;
# together they generate well over 100 distinct classes at sf0.001
ENTRIES = (
    "jaffle_customers",
    "window_lag_lead",
    "window_ntile_cume",
    "window_running_distinct",
    "scd2_user_state_history",
    "join_full_outer",
    "pivot_native",
    "rfm_customer_segments",
    "event_markov_transitions",
)

# Two passes over the named entries in one fresh session; prints the
# session's cache conf and the classes each pass compiled.
TWO_PASSES = """
import json, sys
from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.session import get_spark
from tools.ab_drift_runner import codegen_compilations

sf_dir, names = sys.argv[1], sys.argv[2:]
spark = get_spark("codegen_cache_test")
catalog = load_catalog()
compiles = []
for _ in range(2):
    before = codegen_compilations(spark)
    for name in names:
        catalog[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    compiles.append(codegen_compilations(spark) - before)
conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
spark.stop()
print("PASSES " + json.dumps({"conf": conf, "compiles": compiles}))
"""


def test_get_spark_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_second_pass_compiles_no_generated_class(sf_dir):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, "-c", TWO_PASSES, sf_dir, *ENTRIES],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(ln for ln in proc.stdout.splitlines() if ln.startswith("PASSES "))
    got = json.loads(line[len("PASSES "):])
    first, second = got["compiles"]
    assert first > 100, f"the pass must overflow Spark's default cache of 100, got {first}"
    assert second == 0, f"warm pass recompiled {second} generated classes"
    assert got["conf"] == str(CODEGEN_CACHE_MAX_ENTRIES)
