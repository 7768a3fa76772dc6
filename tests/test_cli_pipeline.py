"""The CLI pipeline `seed -> run -> test -> docs` on seed CSVs written
into the test's own directory.

`test` and `docs` act on the relations `seed` and `run` stored, as
dbt's do: they write nothing, `docs` runs no Spark job, and the catalog
equals the one a from-scratch build produces. A stale stored relation
(its CSV changed after `seed`) is rebuilt, and only the relations that
read it. Independent actions run side by side (seed loads, one DAG
level, the checks) with the results, order and exceptions of a serial
loop.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import threading
import time

import pytest

from jaffle_shop_classic_spark.__main__ import main
from jaffle_shop_classic_spark.models.jaffle import PAYMENT_METHODS
from jaffle_shop_classic_spark.plans.registry import ContractViolation, Project
from jaffle_shop_classic_spark.testing import checks as C

STATUSES = ["placed", "shipped", "completed", "return_pending", "returned"]
N_CUSTOMERS = 8  # customers 6-8 place no order


def _write_seeds(seed_dir, n_customers=N_CUSTOMERS):
    os.makedirs(seed_dir, exist_ok=True)
    customers = [f"{i},fn{i},L{i}." for i in range(1, n_customers + 1)]
    orders = [
        f"{j},{1 + j % 5},2018-01-{j:02d},{STATUSES[j % len(STATUSES)]}" for j in range(1, 13)
    ]
    # every order has a payment; every third a second one by another method
    payments, pid = [], 0
    for j in range(1, 13):
        for k in range(1 + (j % 3 == 0)):
            pid += 1
            payments.append(f"{pid},{j},{PAYMENT_METHODS[(j + k) % 4]},{(j + k) * 100}")
    for name, header, rows in (
        ("raw_customers", "id,first_name,last_name", customers),
        ("raw_orders", "id,user_id,order_date,status", orders),
        ("raw_payments", "id,order_id,payment_method,amount", payments),
    ):
        with open(os.path.join(seed_dir, f"{name}.csv"), "w") as fh:
            fh.write("\n".join([header, *rows]) + "\n")


@pytest.fixture
def seeds(tmp_path):
    seed_dir = str(tmp_path / "seeds")
    _write_seeds(seed_dir)
    return seed_dir


def _cli(*argv) -> str:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert main(list(argv)) == 0
    return out.getvalue()


def _mtimes(root) -> dict[str, int]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(root)
        for f in fs
    }


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_acts_on_stored_relations(spark, seeds, tmp_path):
    wh = str(tmp_path / "wh")
    common = ["--seed-dir", seeds, "--warehouse", wh]
    assert _cli("seed", *common).splitlines() == [
        f"raw_customers: {N_CUSTOMERS} rows",
        "raw_orders: 12 rows",
        "raw_payments: 16 rows",
    ]
    # rows in topological order; table counts come from the writes
    assert _cli("run", *common).splitlines() == [
        f"stg_customers [view]: {N_CUSTOMERS} rows",
        "stg_orders [view]: 12 rows",
        "stg_payments [view]: 16 rows",
        f"customers [table]: {N_CUSTOMERS} rows",
        "orders [table]: 12 rows",
    ]
    stored = _mtimes(wh)

    out, test_jobs = _jobs_in_group(spark, "cli_test", lambda: _cli("test", *common))
    assert out.splitlines()[-1] == "20/20 tests passed"
    # checks run on pool threads; their jobs still carry the caller's group
    assert len(test_jobs) >= 20

    catalog = str(tmp_path / "catalog.json")
    _, docs_jobs = _jobs_in_group(spark, "cli_docs", lambda: _cli("docs", *common, "--out", catalog))
    assert docs_jobs == []
    assert _mtimes(wh) == stored  # test and docs wrote nothing

    scratch = str(tmp_path / "scratch.json")
    _cli("docs", "--seed-dir", seeds, "--warehouse", str(tmp_path / "wh2"), "--out", scratch)
    with open(catalog, "rb") as a, open(scratch, "rb") as b:
        assert a.read() == b.read()


def test_changed_csv_rebuilds_only_what_reads_it(spark, seeds, tmp_path):
    wh = str(tmp_path / "wh")
    common = ["--seed-dir", seeds, "--warehouse", wh]
    _cli("seed", *common)
    _cli("run", *common)
    before = _mtimes(wh)

    def stored_at(rel):
        return os.path.join(wh, rel, "_SUCCESS")

    # one more customer, stamped after everything stored
    _write_seeds(seeds, N_CUSTOMERS + 1)
    later = os.stat(stored_at("orders")).st_mtime + 1
    for name in ("raw_orders", "raw_payments"):  # unchanged content, old stamp
        os.utime(os.path.join(seeds, f"{name}.csv"), (0, 0))
    os.utime(os.path.join(seeds, "raw_customers.csv"), (later, later))

    # `test` reloads the changed seed and rebuilds the mart that reads it
    assert _cli("test", *common).splitlines()[-1] == "20/20 tests passed"
    after = _mtimes(wh)
    for rel, changed in (
        ("raw_customers", True), ("customers", True),
        ("raw_orders", False), ("raw_payments", False), ("orders", False),
    ):
        assert (after[stored_at(rel)] != before[stored_at(rel)]) is changed, rel

    # `run` reads the reloaded seed and rebuilds every model
    lines = _cli("run", *common).splitlines()
    assert f"customers [table]: {N_CUSTOMERS + 1} rows" in lines
    assert _mtimes(wh)[stored_at("orders")] != after[stored_at("orders")]


def test_concurrent_run_checks_match_serial(spark):
    df = spark.createDataFrame(
        [(i, None if i % 4 == 0 else f"v{i % 3}") for i in range(1, 30)], "k long, v string"
    )
    checks = {
        "pass_not_null_k": C.not_null(df, "k"),
        "fail_not_null_v": C.not_null(df, "v"),  # 7 violations: count re-run
        "fail_unique_v": C.unique(df, "v"),
        "pass_values": C.accepted_values(df, "v", ["v0", "v1", "v2"]),
        "fail_range": C.accepted_range(df.filter("k = 5"), "k", max_value=4),
    }
    serial = [C.run_checks({name: viol})[0] for name, viol in checks.items()]
    concurrent = C.run_checks(checks)
    assert concurrent == serial
    assert [r.name for r in concurrent] == list(checks)
    assert [r.n_violations for r in concurrent if not r.passed] == [7, 3, 1]


def test_contract_violation_in_one_level_raises(spark):
    p = Project()
    p.add_source("src", spark.createDataFrame([(1, "a")], "id long, s string"))

    @p.model(name="good", materialized="table", deps=("src",))
    def good(ctx):
        return ctx.ref("src")

    @p.model(
        name="bad",
        materialized="table",
        deps=("src",),
        contract={"id": "bigint", "s": "int"},
    )
    def bad(ctx):
        return ctx.ref("src")

    with pytest.raises(ContractViolation, match="model bad: s: declared int"):
        p.run(spark)


def test_same_level_models_build_a_shared_upstream_once(spark):
    """Eight models of one level ref an upstream none of them declares;
    each builds it lazily from its own thread, and it must be built
    once, as in a serial run."""
    p = Project()
    p.add_source("src", spark.createDataFrame([(1,)], "id long"))
    builds = []
    lock = threading.Lock()

    @p.model(name="shared", deps=("src",))
    def shared(ctx):
        with lock:
            builds.append(threading.get_ident())
        time.sleep(0.05)  # hold the window where a second build could start
        return ctx.ref("src")

    for i in range(8):
        p.model(name=f"m{i}", deps=("src",))(lambda ctx: ctx.ref("shared"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        built = p.run(spark, select=[f"m{i}" for i in range(8)])
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert list(built) == ["shared", *[f"m{i}" for i in range(8)]]
