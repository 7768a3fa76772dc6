"""Per-layer metrics of the traced run.

``instrument`` wraps the program's layer entry points in spans (traced
run only; the program itself is not edited). ``per_layer`` reduces the
spans, the event log and the listener records of the warm iterations to
per-iteration figures. Layers carry the program's module names;
``spark.*`` is the Catalyst planner and the executor the layers call.

Two sets come out. ``PER_LAYER`` is what the final JSON line reports:
figures measured on every workload plus per-layer counts (a count of 0
on a workload that leaves a layer idle is a true reading). The detail
dict adds the busy time of the workload-specific layers (CLI verbs,
seeds, registry, docs, checks, each operator module, stream triggers),
which only exist on the workloads that enter them.
"""

from __future__ import annotations

import dataclasses
import functools
import glob
import inspect
import os
import statistics
import sys
from collections import defaultdict

import tracing

PACKAGE = "jaffle_shop_classic_spark"
OPERATOR_LAYERS = (
    "operators.relational", "operators.extensions", "operators.text", "operators.dedup",
    "operators.similarity", "operators.multimodal", "operators.udfs", "operators.mining",
    "operators.tests_as_queries", "streaming.windows",
)
VERBS = ("seed", "run", "test", "docs")
_EXEC_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
               "core_util": "ratio"}

PER_LAYER: list[tuple[str, str, str]] = [
    ("session.get_spark_s", "s", "lower"),
    ("operators.catalog.load_catalog_s", "s", "lower"),
    ("traced.iter_s", "s", "lower"),
    ("proc.jvm_peak_rss_mb", "MB", "lower"),
    *[(f"spark.catalyst.{p}_s", "s", "lower") for p in tracing.CATALYST_PHASES],
    *[
        (f"spark.exec.{f}", "bytes" if f.endswith("_bytes") else _EXEC_UNITS.get(f, "s"),
         "higher" if f == "core_util" else "lower")
        for f in tracing.EXEC_FIELDS
    ],
    *[(f"cli.{v}.jobs", "count", "lower") for v in VERBS],
    ("sources.seeds.calls", "count", "lower"),
    ("sources.seeds.bytes_written", "bytes", "lower"),
    ("plans.registry.calls", "count", "lower"),
    ("plans.registry.bytes_written", "bytes", "lower"),
    ("testing.checks.jobs", "count", "lower"),
    ("testing.checks.failed", "count", "lower"),
    ("sources.parquet.load_table_calls", "count", "lower"),
    ("sources.parquet.load_table_hit_ratio", "ratio", "higher"),
    *[(f"{layer}.eager_jobs", "count", "lower") for layer in OPERATOR_LAYERS],
    ("streaming.windows.batches", "count", "lower"),
    ("streaming.windows.state_rows", "count", "lower"),
    ("streaming.windows.state_memory_bytes", "bytes", "lower"),
]


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path`` (0 if it does not exist)."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def layer_of(fn) -> str:
    return fn.__module__.removeprefix(PACKAGE + ".")


def instrument(tracer) -> None:
    """Wrap each layer's public entry points in spans."""
    import jaffle_shop_classic_spark.__main__ as cli
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.plans.registry import Project
    from jaffle_shop_classic_spark.sources import parquet, seeds

    # bytes a call writes: its target directories right after it
    # returns (both layers overwrite their tables)
    seed_args = inspect.signature(seeds.load_seed)

    def seed_written(df, *args, **kwargs):
        call = seed_args.bind(*args, **kwargs)
        call.apply_defaults()
        wh = call.arguments["warehouse_dir"]
        if wh is not None:
            tracer.mark("seed_bytes", dir_bytes(os.path.join(wh, call.arguments["name"])))

    def run_written(built, project, *args, **kwargs):
        if project.warehouse_dir is not None:
            tracer.mark("run_bytes", sum(dir_bytes(os.path.join(project.warehouse_dir, m)) for m in built))

    tracer.wrap(seeds, "load_seed", "sources.seeds", on_result=seed_written)
    tracer.wrap(Project, "run", "plans.registry", on_result=run_written)
    tracer.wrap(
        cli, "run_checks", "testing.checks",
        on_result=lambda results, *_, **__: tracer.mark(
            "checks_failed", sum(not r.passed for r in results)
        ),
    )
    tracer.wrap(cli, "generate_catalog", "plans.docs")
    tracer.wrap(cli, "write_catalog", "plans.docs", name="generate_catalog")

    catalog = load_catalog()
    for name, spec in list(catalog.items()):
        catalog[name] = dataclasses.replace(spec, fn=_build_span(tracer, spec.fn))

    # load_table is imported by name into every operator module
    original, uncached = parquet.load_table, parquet._load_table_uncached

    @functools.wraps(original)
    def counted(*args, **kwargs):
        tracer.mark("load_table_calls")
        return original(*args, **kwargs)

    @functools.wraps(uncached)
    def miss(*args, **kwargs):
        tracer.mark("load_table_misses")
        return uncached(*args, **kwargs)

    parquet._load_table_uncached = miss
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, "load_table", None) is original:
            mod.load_table = counted


def _build_span(tracer, fn):
    layer = layer_of(fn)

    @functools.wraps(fn)
    def build(spark, sf_dir):
        with tracer.span(layer, "build"):
            return fn(spark, sf_dir)

    return build


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))
    return kb / 1024


def per_layer(tracer, work: str, cores: int, res, get_spark_s: float, catalog_s: float,
              rss_mb: float) -> tuple[dict, dict]:
    """Returns (final-line metrics, detail). Figures are per warm
    iteration; the cold iteration is left out."""
    spans = tracer.spans
    logs = sorted(glob.glob(os.path.join(work, "eventlog", "*")))
    own, stage_iv = tracing.parse_event_log(logs[0], spans) if logs else ({}, {})
    warm = [s for s in spans if s["layer"] == "iteration"][1:]
    n = len(warm)
    lo, hi = warm[0]["start"], warm[-1]["end"]
    d: dict[str, float] = {
        "session.get_spark_s": get_spark_s,
        "operators.catalog.load_catalog_s": catalog_s,
        "traced.iter_s": statistics.median(res.iter_s),
        "proc.jvm_peak_rss_mb": rss_mb,
    }

    def sub(sid: int) -> dict:
        return tracing.subtree_exec(spans, own, stage_iv, sid, cores)

    per_iter = [sub(s["id"]) for s in warm]
    for f in tracing.EXEC_FIELDS:
        vals = [it[f] for it in per_iter]
        d[f"spark.exec.{f}"] = max(vals) if f == "peak_execution_memory_bytes" else sum(vals) / n

    catalyst = [r for r in tracer.catalyst if lo <= r["end"] <= hi]
    for p in tracing.CATALYST_PHASES:
        d[f"spark.catalyst.{p}_s"] = sum(r.get(p, 0.0) for r in catalyst) / n

    groups: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for s in spans:
        if s["start"] >= lo and s["end"] <= hi:
            groups[(s["layer"], s["name"])].append(s)

    def busy(layer: str, name: str) -> float:
        return sum(s["end"] - s["start"] for s in groups[(layer, name)]) / n

    def jobs(layer: str, name: str) -> float:
        return sum(sub(s["id"])["jobs"] for s in groups[(layer, name)]) / n

    def calls(layer: str, name: str) -> float:
        return len(groups[(layer, name)]) / n

    for v in VERBS:
        d[f"cli.{v}_s"] = busy("cli", v)
        d[f"cli.{v}.jobs"] = jobs("cli", v)
    d["sources.seeds.load_s"] = busy("sources.seeds", "load_seed")
    d["sources.seeds.calls"] = calls("sources.seeds", "load_seed")
    d["plans.registry.run_s"] = busy("plans.registry", "run")
    d["plans.registry.calls"] = calls("plans.registry", "run")
    d["plans.docs.generate_s"] = busy("plans.docs", "generate_catalog")
    d["testing.checks.run_s"] = busy("testing.checks", "run_checks")
    d["testing.checks.jobs"] = jobs("testing.checks", "run_checks")
    for layer in OPERATOR_LAYERS:
        d[f"{layer}.build_s"] = busy(layer, "build")
        d[f"{layer}.exec_s"] = busy(layer, "exec")
        d[f"{layer}.eager_jobs"] = jobs(layer, "build")

    marks: dict[str, float] = defaultdict(float)
    for t, counter, amount in tracer.marks:
        if lo <= t <= hi:
            marks[counter] += amount
    d["testing.checks.failed"] = marks["checks_failed"] / n
    d["sources.seeds.bytes_written"] = marks["seed_bytes"] / n
    d["plans.registry.bytes_written"] = marks["run_bytes"] / n
    d["sources.parquet.load_table_calls"] = marks["load_table_calls"] / n
    d["sources.parquet.load_table_hit_ratio"] = (
        1 - marks["load_table_misses"] / marks["load_table_calls"] if marks["load_table_calls"] else 0.0
    )

    progress = [r for r in tracer.progress if lo <= r["end"] <= hi]
    d["streaming.windows.batches"] = len(progress) / n
    d["streaming.windows.trigger_s"] = sum(r["trigger_s"] for r in progress) / n
    d["streaming.windows.state_commit_ms"] = sum(r["state_commit_ms"] for r in progress) / n
    d["streaming.windows.state_rows"] = sum(r["state_rows"] for r in progress) / n
    d["streaming.windows.state_memory_bytes"] = max(
        (r["state_memory_bytes"] for r in progress), default=0
    )

    metrics = {name: {"value": d[name], "unit": unit} for name, unit, _ in PER_LAYER}
    return metrics, d
