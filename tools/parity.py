"""Local replica of the driver's correctness gate.

Runs every catalog query through Spark AND its DuckDB oracle twin on the
same parquet tables, then compares row count, column names, and an
order-insensitive multiset of normalized row values. Use while
iterating so the per-round CORRECTNESS_r{N}.json holds no surprises.

Usage:  python tools/parity.py [sf_dir] [query ...]

Exits 0 when every entry passes, 1 when some fail, and 2 when the driver
JVM died mid-sweep (reported once, as ``DRIVER_JVM_EXITED``).
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time
from collections import Counter
from datetime import date, datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries pre-round their doubles; this guards residual last-bit
        # noise. Signed zero is NOT folded: the driver's value hash is
        # representation-exact and distinguishes -0.0 from +0.0 (the r14
        # vocab_heaps_law red row) — the local gate must be at least as
        # strict, so a DuckDB -0.0 vs Spark +0.0 now FAILS here too.
        # Queries canonicalize with `round(x, n) + 0` in both engines.
        if v == 0:
            return "-0" if math.copysign(1.0, v) < 0 else "0"
        return format(v, ".9g")
    if isinstance(v, datetime):
        # strip tzinfo: DuckDB TIMESTAMPTZ isoformats with +00:00 while
        # Spark's session-UTC collect is naive — same instant, one repr
        if v.tzinfo is not None:
            import datetime as _dt

            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):  # Spark collects BinaryType as bytearray
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    import decimal

    if isinstance(v, decimal.Decimal):
        # scale-insensitive: DECIMAL(22,2) '12.50' == '12.5000'
        return format(v.normalize(), "f")
    return str(v)


def _rows_multiset(columns, rows) -> Counter:
    # case-INSENSITIVE sort key: the schema gate compares lowercased
    # names, so the cell pairing must use the same collation or a
    # case-differing column set permutes the two sides differently
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def compare(name: str, spark_df, con) -> dict:
    from jaffle_shop_classic_spark.operators.catalog import load_catalog

    spec = load_catalog()[name]
    t0 = time.time()
    s_rows = spark_df.collect()
    s_cols = spark_df.columns
    t_spark = time.time() - t0
    if spec.oracle is None:
        return {
            "name": name,
            "status": "rows_only",
            "spark_rows": len(s_rows),
            "spark_sec": round(t_spark, 3),
        }
    t0 = time.time()
    # DuckDB sum(INTEGER/BIGINT) yields HUGEINT (int128). Spark has no such
    # type, and the driver's normalizer renders the two differently even when
    # values are equal (the r1 hash failures). Our str(int) normalization
    # below would mask that, so fail loudly instead: the oracle must
    # CAST(sum(...) AS BIGINT).
    rel = con.sql(spec.oracle)
    bad = [c for c, t in zip(rel.columns, rel.types) if "HUGEINT" in str(t).upper()]
    if bad:
        return {
            "name": name,
            "status": "HUGEINT_ORACLE_COL",
            "columns": bad,
            "fix": "wrap the integer sum in CAST(... AS BIGINT) in the oracle SQL",
        }
    o_cols = list(rel.columns)
    o_rows = rel.fetchall()
    t_duck = time.time() - t0
    out = {
        "name": name,
        "spark_rows": len(s_rows),
        "oracle_rows": len(o_rows),
        "spark_sec": round(t_spark, 3),
        "duck_sec": round(t_duck, 3),
    }
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        out["status"] = "SCHEMA_MISMATCH"
        out["spark_cols"] = sorted(s_cols)
        out["oracle_cols"] = sorted(o_cols)
        return out
    if len(s_rows) != len(o_rows):
        out["status"] = "ROWCOUNT_MISMATCH"
        return out
    sm = _rows_multiset(s_cols, [tuple(r) for r in s_rows])
    om = _rows_multiset(o_cols, o_rows)
    if sm == om:
        out["status"] = "MATCH"
    else:
        out["status"] = "VALUE_MISMATCH"
        only_spark = list((sm - om).items())[:3]
        only_oracle = list((om - sm).items())[:3]
        out["only_spark"] = [str(x) for x in only_spark]
        out["only_oracle"] = [str(x) for x in only_oracle]
    return out


def jvm_exit_code(spark) -> int | None:
    """The driver JVM's exit status if it exits within a second, else None
    (also when this process did not launch it). The wait covers a JVM that
    is dying: its sockets close before it can be reaped."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        return None if proc is None else proc.wait(timeout=1)
    except subprocess.TimeoutExpired:
        return None


def sweep(spark, con, catalog, names, sf_dir) -> int:
    """Compare each of ``names``; print one line per entry and a total.
    Returns 0 when all pass, 1 when some fail, and 2 when the driver JVM
    died: that is reported once, as ``DRIVER_JVM_EXITED`` with the entry
    that was running, and the entries after it are not run."""
    failures = 0
    for i, name in enumerate(names):
        try:
            df = catalog[name].fn(spark, sf_dir)
            res = compare(name, df, con)
        except Exception as e:  # surface the first error loudly, keep going
            code = jvm_exit_code(spark)
            if code is not None:
                print("FAIL " + str({
                    "name": name, "status": "DRIVER_JVM_EXITED", "exit_code": code,
                    "not_run": len(names) - i - 1, "error": f"{type(e).__name__}: {e}",
                }), flush=True)
                print(f"\n{i - failures}/{len(names)} ok; sweep stopped: the driver JVM exited")
                return 2
            res = {"name": name, "status": "ERROR", "error": f"{type(e).__name__}: {e}"}
        ok = res["status"] in ("MATCH", "rows_only")
        failures += 0 if ok else 1
        print(("PASS " if ok else "FAIL ") + str(res), flush=True)
    print(f"\n{len(names) - failures}/{len(names)} ok")
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and not os.path.isdir(argv[0]):
        # `parity.py <query> ...` with no data dir: default the dir
        # instead of dying inside CREATE VIEW with an IO traceback
        sf_dir = "/root/testdata/sf0.01"
    elif argv:
        sf_dir, argv = argv[0], argv[1:]
    else:
        sf_dir = "/root/testdata/sf0.01"
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.session import get_spark

    catalog = load_catalog()
    names = list(argv) or list(catalog)
    spark = get_spark("parity", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return sweep(spark, con, catalog, names, sf_dir)


if __name__ == "__main__":
    sys.exit(main())
