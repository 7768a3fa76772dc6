"""The two workloads: closed loop, one client, one process.

Each ``run_*`` function generates its inputs from the seed, runs one
cold iteration, then warm iterations for the measuring window (at least
a fixed number of them), and finally its correctness gate, outside
every timed region. It returns a ``Result``; ``run.py`` turns results
into metrics.

Every catalog query is timed as ``spec.fn(spark, sf_dir)`` plus a
``write.format("noop")`` sink: the whole plan and every column run, and
no rows are collected. ``fn()`` is inside the timing because the
stream entries and the ``localCheckpoint`` calls do real work eagerly.
"""

from __future__ import annotations

import contextlib
import io
import os
import random
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import duckdb

import inputs
import layers

# Sizes are set so that 22 runs of each workload, gates included, fit
# the driver's budget on 4 cores. Both workloads are dominated by Spark's
# fixed per-action cost at these sizes; the DuckDB twins of the graph
# entries grow fast with the document count, so it is small.
# jaffle_dag: 2,000 customers -> 10,000 orders, ~12,000 payments (~0.65 MB of CSV)
JAFFLE_CUSTOMERS = 2_000
# the first warm sequence is sometimes still warming up; the median of
# three leaves it out
DAG_MIN_WARM = 3
# catalog_mix: star schema at sf 0.005 (7,500 orders, 30,000 lineitems,
# 5,000 events, 500 embeddings) with 150 documents of 10-40 words
MIX_SF = 0.005
MIX_DOCS = 150
MIX_DOC_WORDS = (10, 40)
MIX = (
    "jaffle_customers",            # operators.relational: the two gate marts
    "jaffle_orders",
    "json_extract",                # operators.extensions
    "test_relationships_violations",  # operators.tests_as_queries
    "text_unicode_normalize",      # operators.text: Python UDF worker
    "graph_pagerank",              # operators.dedup: iterative graph kernel
    "graph_khop_reach",            # operators.mining: fixpoint reachability
    "sim_ivf_topk",                # operators.similarity: vector search
    "mm_phash_dedup",              # operators.multimodal
    "udf_pandas_scalar",           # operators.udfs: Arrow pandas UDF
    "stream_interval_join",        # streaming.windows: stream-stream join drain
)
# a pass is one sample of 11 heterogeneous queries; two passes halve its
# run-to-run spread, and a third does not fit the driver's budget
MIX_MIN_WARM = 2
MARTS = ("jaffle_customers", "jaffle_orders")
DUCK_REPEATS = 3  # DuckDB runs of a mart's twin right after each Spark run of it


@dataclass
class Result:
    cold_s: float = 0.0
    iter_s: list[float] = field(default_factory=list)   # warm iterations
    ops: list[tuple[str, float]] = field(default_factory=list)  # warm ops
    attempted: int = 0
    failed: int = 0
    gates: list[tuple[str, bool, str]] = field(default_factory=list)
    report: dict = field(default_factory=dict)   # workload-specific metrics
    inputs: dict = field(default_factory=dict)   # row counts and bytes
    measured_at: float = 0.0  # perf_counter() when the measuring window closed


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str  # the run's scratch directory
    tracer: object


def _fail(res: Result, what: str) -> None:
    res.failed += 1
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _loop(res: Result, seconds: float, one_iteration, min_warm: int = 1) -> None:
    """One cold iteration, then warm ones until ``seconds`` have passed
    and at least ``min_warm`` ran. ``one_iteration(warm)`` returns its
    wall time."""
    res.cold_s = one_iteration(False)
    end = time.perf_counter() + seconds
    while len(res.iter_s) < min_warm or time.perf_counter() < end:
        res.iter_s.append(one_iteration(True))
    res.measured_at = time.perf_counter()


def _cli(ctx: Context, res: Result, verb: str, argv: list[str], warm: bool) -> tuple[float, str]:
    """Run one CLI verb in-process, as ``python -m jaffle_shop_classic_spark``
    would; returns (seconds, captured stdout)."""
    from jaffle_shop_classic_spark.__main__ import main

    out = io.StringIO()
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("cli", verb), contextlib.redirect_stdout(out):
            rc = main([verb, *argv])
    except Exception:
        rc = None
        _fail(res, f"cli {verb}")
    dt = time.perf_counter() - t0
    if rc not in (0, None):
        res.failed += 1
        print(f"perfbench: cli {verb} returned {rc}", file=sys.stderr)
    if warm:
        res.ops.append((verb, dt))
    return dt, out.getvalue()


# ---------------------------------------------------------------- jaffle_dag
_CUSTOMERS_SQL = """
WITH co AS (
  SELECT user_id AS customer_id, min(order_date) AS first_order,
         max(order_date) AS most_recent_order, count(id) AS number_of_orders
  FROM raw_orders GROUP BY 1
), cp AS (
  SELECT o.user_id AS customer_id, sum(p.amount / 100.0) AS total
  FROM raw_payments p LEFT JOIN raw_orders o ON p.order_id = o.id GROUP BY 1
)
SELECT c.id, c.first_name, c.last_name, co.first_order, co.most_recent_order,
       co.number_of_orders, round(cp.total, 2)
FROM raw_customers c
LEFT JOIN co ON c.id = co.customer_id
LEFT JOIN cp ON c.id = cp.customer_id
"""
_ORDERS_SQL = (
    "WITH op AS (SELECT order_id, "
    + ", ".join(
        f"sum(CASE WHEN payment_method = '{m}' THEN amount / 100.0 ELSE 0 END) AS {m}"
        for m in inputs.PAYMENT_METHODS
    )
    + ", sum(amount / 100.0) AS total FROM raw_payments GROUP BY 1) "
    "SELECT o.id, o.user_id, o.order_date, o.status, "
    + ", ".join(f"round(op.{m}, 2)" for m in inputs.PAYMENT_METHODS)
    + ", round(op.total, 2) FROM raw_orders o LEFT JOIN op ON o.id = op.order_id"
)
_MART_SELECT = {
    "customers": "customer_id, first_name, last_name, first_order, most_recent_order, "
    "number_of_orders, round(customer_lifetime_value, 2)",
    "orders": "order_id, customer_id, order_date, status, "
    + ", ".join(f"round({m}_amount, 2)" for m in inputs.PAYMENT_METHODS)
    + ", round(amount, 2)",
}


def jaffle_marts_gate(seed_dir: str, warehouse: str) -> list[tuple[str, bool, str]]:
    """Both marts, read back from the warehouse parquet, against DuckDB
    computing them from the same CSVs."""
    con = duckdb.connect()
    for name in ("raw_customers", "raw_orders", "raw_payments"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_csv_auto('{seed_dir}/{name}.csv')"
        )
    gates = []
    for mart, sql in (("customers", _CUSTOMERS_SQL), ("orders", _ORDERS_SQL)):
        want = sorted(con.execute(sql).fetchall())
        got = sorted(
            con.execute(
                f"SELECT {_MART_SELECT[mart]} FROM read_parquet('{warehouse}/{mart}/*.parquet')"
            ).fetchall()
        )
        ok = got == want
        gates.append((f"mart_{mart}_vs_duckdb", ok, f"{len(got)} rows vs {len(want)}"))
    con.close()
    return gates


def run_jaffle_dag(ctx: Context) -> Result:
    res = Result()
    seed_dir = os.path.join(ctx.work, "seeds")
    wh = os.path.join(ctx.work, "warehouse")
    res.inputs = inputs.write_jaffle_seeds(seed_dir, ctx.seed, JAFFLE_CUSTOMERS)
    in_bytes = layers.dir_bytes(seed_dir)
    res.inputs["bytes"] = in_bytes
    common = ["--seed-dir", seed_dir, "--warehouse", wh]
    last_test = [""]

    def sequence(warm: bool) -> float:
        t = 0.0
        with ctx.tracer.span("iteration", "dag"):
            for verb, extra in (
                ("seed", []),
                ("run", []),
                ("test", []),
                ("docs", ["--out", os.path.join(wh, "catalog.json")]),
            ):
                dt, out = _cli(ctx, res, verb, common + extra, warm)
                t += dt
                if verb == "test":
                    last_test[0] = out
        return t

    _loop(res, ctx.seconds, sequence, min_warm=DAG_MIN_WARM)

    summary = [ln for ln in last_test[0].splitlines() if "tests passed" in ln]
    res.gates.append(
        ("tests_20_of_20", summary == ["20/20 tests passed"], summary[-1] if summary else "no summary")
    )
    res.gates.extend(jaffle_marts_gate(seed_dir, wh))
    res.report["dag_s"] = ("s", "lower", res.iter_s)
    res.report["stored_bytes_per_input_byte"] = ("ratio", "lower", layers.dir_bytes(wh) / in_bytes)
    return res


# --------------------------------------------------------------- catalog_mix
def _run_query(ctx: Context, res: Result, spec, sf_dir: str, warm: bool):
    """fn() plus the noop sink, timed; returns (DataFrame, seconds) or
    None. (The traced run wraps fn() in the layer's build span.)"""
    res.attempted += 1
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span("query", spec.name):
            df = spec.fn(ctx.spark, sf_dir)
            with ctx.tracer.span(layers.layer_of(spec.fn), "exec"):
                df.write.format("noop").mode("overwrite").save()
    except Exception:
        _fail(res, f"query {spec.name}")
        return None
    dt = time.perf_counter() - t0
    if warm:
        res.ops.append((spec.name, dt))
    return df, dt


def run_catalog_mix(ctx: Context) -> Result:
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from tools.parity import TABLES, compare

    res = Result()
    catalog = load_catalog()
    sf_dir = os.path.join(ctx.work, "star")
    res.inputs = inputs.write_star(sf_dir, ctx.seed, MIX_SF, MIX_DOCS, MIX_DOC_WORDS)
    res.inputs["bytes"] = layers.dir_bytes(sf_dir)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    order = random.Random(ctx.seed)
    frames = {}  # the latest pass's DataFrames: a stream drain drops its previous sink
    duck: dict[str, list[float]] = {m: [] for m in MARTS}

    def one_pass(warm: bool) -> float:
        names = list(MIX)
        order.shuffle(names)
        total = 0.0
        with ctx.tracer.span("iteration", "mix"):
            for name in names:
                got = _run_query(ctx, res, catalog[name], sf_dir, warm)
                if got is None:
                    continue
                total += got[1]
                frames[name] = got[0]
                if warm and name in MARTS:
                    # marts_vs_duckdb: the twin runs right after the Spark
                    # run it is compared with, outside the query's timing
                    for _ in range(DUCK_REPEATS):
                        t0 = time.perf_counter()
                        con.sql(catalog[name].oracle).fetchall()
                        duck[name].append(time.perf_counter() - t0)
        return total

    _loop(res, ctx.seconds, one_pass, min_warm=MIX_MIN_WARM)

    # gate: every entry with a DuckDB twin, on the last pass's DataFrame
    # (its eager work is done; collect() re-runs only the lazy plan).
    # Entries are compared on a few threads, each with its own DuckDB
    # cursor, so the slow graph twins overlap the Spark collects.
    def check(name: str) -> str:
        try:
            return compare(name, frames[name], con.cursor())["status"]
        except Exception:
            traceback.print_exc()
            return "ERROR"

    # the graph twins are the slowest: start them first
    gated = sorted(
        (n for n in MIX if catalog[n].oracle is not None and n in frames),
        key=lambda n: not n.startswith("graph_"),
    )
    with ThreadPoolExecutor(max_workers=4) as pool:
        for name, status in zip(gated, pool.map(check, gated)):
            res.gates.append((f"parity_{name}", status == "MATCH", status))
    con.close()

    def median(samples: list[float]) -> float:
        return statistics.median(samples) if samples else float("nan")

    spark_marts = sum(median([dt for n, dt in res.ops if n == m]) for m in MARTS)
    duck_marts = sum(median(duck[m]) for m in MARTS)
    res.report["mix_s"] = ("s", "lower", res.iter_s)
    res.report["query_p50_s"] = ("s", "lower", statistics.median(dt for _, dt in res.ops))
    res.report["marts_vs_duckdb"] = ("ratio", "lower", spark_marts / duck_marts)
    return res


WORKLOADS = {
    "jaffle_dag": run_jaffle_dag,
    "catalog_mix": run_catalog_mix,
}
