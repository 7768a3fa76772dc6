"""Model registry + DAG runner — the `dbt run` analog (SURVEY §3.2).

dbt's pipeline is: Jinja-render SQL text, extract `{{ ref() }}` edges,
topo-sort, ship CREATE VIEW/TABLE statements to a warehouse. Here the
same contract is native Python: a model is a function
``(ModelContext) -> DataFrame`` registered with ``@model``; ``ctx.ref``
is the edge; materialization mirrors /root/reference/dbt_project.yml:22-27:

  view  -> ``createOrReplaceTempView``: the logical plan is inlined into
           every consumer, so Catalyst optimizes across model boundaries
           (cross-model predicate pushdown / column pruning) — exactly
           what a warehouse does with SQL views.
  table -> eager Parquet write + re-read: cuts lineage, precomputes for
           reuse, and gives AQE fresh size stats; at cluster scale this
           is also the unit of incremental scheduling. With
           ``reuse_stored`` (the `test` and `docs` verbs) a stored table
           no older than every stored relation it reads is read back
           instead of rebuilt, as dbt's test/docs act on the warehouse.

Cycles are rejected at run time. ``run`` walks the DAG level by level
(graphlib's ``get_ready``/``done``) and materializes the models of one
level concurrently: at small scale each write is mostly fixed
scheduling cost, so two independent marts overlap instead of queueing.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from ..session import run_concurrently
from ..sources.warehouse import is_fresh, success_marker, write_relation


@dataclass
class ModelSpec:
    name: str
    fn: Callable[["ModelContext"], DataFrame]
    materialized: str = "view"  # "view" | "table" | "ephemeral" | "incremental" | "snapshot"
    deps: tuple[str, ...] = ()
    description: str = ""
    columns: dict[str, str] = field(default_factory=dict)  # name -> doc
    unique_key: tuple[str, ...] = ()  # incremental merge key / snapshot entity key
    check_cols: tuple[str, ...] = ()  # snapshot check-strategy columns
    contract: dict[str, str] = field(default_factory=dict)  # name -> Spark type
    on_schema_change: str = "ignore"  # 'ignore' | 'fail' | 'append_new_columns'


class ContractViolation(Exception):
    """A model's output schema broke its declared contract (dbt
    `contract: enforced` semantics)."""


class ModelContext:
    """What a model function sees: ``ref()``, ``this``/``is_incremental``
    (dbt's incremental-build contract) + the session."""

    def __init__(self, project: "Project", spark: SparkSession, current: "ModelSpec | None" = None):
        self.project = project
        self.spark = spark
        self._current = current

    def ref(self, name: str) -> DataFrame:
        return self.project.resolve(name, self.spark)

    @property
    def is_incremental(self) -> bool:
        """True when the current model is incremental AND a previous
        build exists — the dbt ``is_incremental()`` macro. Models use it
        to restrict their scan to new data (e.g. filter on a high-water
        mark read from ``ctx.this``)."""
        return (
            self._current is not None
            and self._current.materialized == "incremental"
            and self.project._latest_version(self._current.name) is not None
        )

    @property
    def this(self) -> DataFrame | None:
        """The previously-built state of the current model (dbt's
        ``{{ this }}``), or None on the first build."""
        if self._current is None:
            return None
        return self.project._read_latest(self._current.name, self.spark)


class Project:
    """A collection of sources + models with dbt-run semantics."""

    def __init__(self, warehouse_dir: str | None = None):
        self.models: dict[str, ModelSpec] = {}
        self.sources: dict[str, DataFrame] = {}
        self.warehouse_dir = warehouse_dir
        # read a fresh stored table instead of rebuilding it (the verbs
        # that only read relations set this: `test`, `docs`)
        self.reuse_stored = False
        # rows stored by the latest write of each relation, counted on
        # the write itself (seeds record theirs here too)
        self.written: dict[str, int] = {}
        self._built: dict[str, DataFrame] = {}
        self._locks: dict[str, threading.RLock] = {}

    # -- registration -----------------------------------------------------
    def model(
        self,
        name: str | None = None,
        materialized: str = "view",
        deps: Sequence[str] = (),
        description: str = "",
        columns: dict[str, str] | None = None,
        unique_key: Sequence[str] = (),
        check_cols: Sequence[str] = (),
        contract: dict[str, str] | None = None,
        on_schema_change: str = "ignore",
    ):
        if callable(name):  # bare @project.model without parens
            raise TypeError(
                "use @project.model(...) with parentheses — the bare form "
                "would register the function object as the model name"
            )

        def deco(fn):
            mname = name or fn.__name__
            if mname in self.models:
                raise ValueError(f"duplicate model {mname}")
            allowed = ("view", "table", "ephemeral", "incremental", "snapshot")
            if materialized not in allowed:
                # a typo ('tabel', trailing space) must not silently
                # degrade the model to a view with no persisted state
                raise ValueError(
                    f"{mname}: unknown materialization {materialized!r} "
                    f"(allowed: {', '.join(allowed)})"
                )
            if materialized in ("incremental", "snapshot") and not unique_key:
                raise ValueError(f"{mname}: {materialized} models require a unique_key")
            if materialized == "snapshot" and on_schema_change != "ignore":
                # _materialize_snapshot does not implement the drift
                # strategies; accepting them silently would crash the
                # SECOND run far from the cause
                raise ValueError(
                    f"{mname}: on_schema_change={on_schema_change!r} is not "
                    "supported for snapshots (only 'ignore')"
                )
            self.models[mname] = ModelSpec(
                name=mname,
                fn=fn,
                materialized=materialized,
                deps=tuple(deps),
                description=description or (fn.__doc__ or "").strip(),
                columns=dict(columns or {}),
                unique_key=tuple(unique_key),
                check_cols=tuple(check_cols),
                contract=dict(contract or {}),
                on_schema_change=on_schema_change,
            )
            return fn

        return deco

    def sql_model(
        self,
        name: str,
        sql: str,
        deps: Sequence[str] = (),
        materialized: str = "view",
        description: str = "",
    ) -> None:
        """Register a model authored as a SQL SELECT — the migration path
        for users of the reference, whose models are SQL files.

        No Jinja and no SQL parser (SURVEY §7 'not over-building'):
        upstream relations are referenced by NAME in the SQL text, and
        resolution happens through Spark's own analyzer — the runner
        materializes each dependency as a temp view before this model
        executes, so `select ... from stg_orders` just works. A dbt
        model migrates by deleting the `{{ ref('x') }}` braces and
        declaring x in `deps`.
        """

        def fn(ctx: "ModelContext") -> DataFrame:
            for dep in deps:
                df = ctx.ref(dep)  # builds (and, for models, registers)
                # sources and EPHEMERAL models never registered a view —
                # the SQL text resolves names through the analyzer, so
                # every dep must be visible by name
                if dep in self.sources or (
                    dep in self.models
                    and self.models[dep].materialized == "ephemeral"
                ):
                    df.createOrReplaceTempView(dep)
            return ctx.spark.sql(sql)

        self.model(
            name=name, materialized=materialized, deps=deps, description=description
        )(fn)

    def jinja_sql_model(
        self,
        name: str,
        source: str,
        materialized: str = "view",
        description: str = "",
    ) -> None:
        """Register a model from an UNMODIFIED dbt model file body.

        The compile-time Jinja subset the reference project uses
        (``{{ ref() }}``, ``{% set %}``/``{% for %}`` pivot loops,
        comments — see plans/jinja_lite.py) renders to plain SQL, the
        ``ref()`` targets become the dependency edges, and execution
        delegates to :meth:`sql_model` — so a reference user can drop
        their ``models/*.sql`` files in verbatim
        (/root/reference/models/orders.sql:1-56 runs unchanged)."""
        from .jinja_lite import render_model_source

        rendered = render_model_source(source)
        self.sql_model(
            name,
            rendered.sql,
            deps=rendered.deps,
            materialized=materialized,
            description=description,
        )

    def add_source(self, name: str, df: DataFrame) -> None:
        self.sources[name] = df

    # -- resolution / execution ------------------------------------------
    def resolve(self, name: str, spark: SparkSession) -> DataFrame:
        if name in self._built:
            return self._built[name]
        if name in self.sources:
            return self.sources[name]
        if name in self.models:
            # lazily build an upstream model outside a full run()
            return self._materialize(self.models[name], spark)
        raise KeyError(f"unknown relation: {name}")

    @staticmethod
    def _enforce_contract(spec: ModelSpec, df: DataFrame) -> None:
        """dbt model contracts (`contract: enforced`): the output schema
        must carry exactly the declared columns with the declared types.
        Checked on the ANALYZED schema — no job runs, so a violation
        fails before any data is written (dbt's pre-flight semantics).
        Declared types are parsed into DataType objects, so equivalent
        spellings normalize ('bigint'=='long', 'decimal(10, 2)' with a
        space, mixed case) instead of spuriously violating."""
        if not spec.contract:
            return
        from pyspark.sql.types import _parse_datatype_string

        actual = {f.name: f.dataType for f in df.schema.fields}
        problems = []
        for col, typ in spec.contract.items():
            if col not in actual:
                problems.append(f"missing column {col!r} ({typ})")
                continue
            try:
                declared = _parse_datatype_string(typ)
            except Exception:
                problems.append(f"{col}: unparseable declared type {typ!r}")
                continue
            if actual[col] != declared:
                problems.append(
                    f"{col}: declared {typ}, got {actual[col].simpleString()}"
                )
        for col in actual:
            if col not in spec.contract:
                problems.append(f"undeclared column {col!r} in output")
        if problems:
            raise ContractViolation(f"model {spec.name}: " + "; ".join(problems))

    def _materialize(self, spec: ModelSpec, spark: SparkSession) -> DataFrame:
        # a model lazily built via ctx.ref() during this run must not be
        # materialized AGAIN when the run loop reaches it — for an
        # incremental model that second build would write a spurious
        # extra version in the same run. The per-model lock keeps that
        # true when two models of one level ref the same undeclared
        # upstream from their own threads.
        with self._locks.setdefault(spec.name, threading.RLock()):
            if spec.name not in self._built:
                self._built[spec.name] = self._build(spec, spark)
            return self._built[spec.name]

    def _build(self, spec: ModelSpec, spark: SparkSession) -> DataFrame:
        # incremental/snapshot enforce the contract on the model's own
        # output INSIDE their materializers, before _write_version — a
        # contract-violating batch must never persist a new version
        # (the next run would read corrupted state as `prev`).
        if spec.materialized == "incremental":
            df = self._materialize_incremental(spec, spark)
        elif spec.materialized == "snapshot":
            df = self._materialize_snapshot(spec, spark)
        else:
            df = spec.fn(ModelContext(self, spark, spec))
            self._enforce_contract(spec, df)
            if spec.materialized == "table":
                if self.warehouse_dir is not None:
                    path = f"{self.warehouse_dir}/{spec.name}"
                    if not (
                        self.reuse_stored and is_fresh(path, self._stored_inputs(spec.deps))
                    ):
                        self.written[spec.name] = write_relation(df, path)
                    # the analyzed schema: no schema-inference job
                    df = spark.read.schema(df.schema).parquet(path)
                else:  # no warehouse: emulate eagerness via cache
                    df = df.cache()
        if spec.materialized != "ephemeral":
            df.createOrReplaceTempView(spec.name)
        return df

    def _stored_inputs(self, deps: Sequence[str]) -> list[str]:
        """``_SUCCESS`` markers of the stored relations that ``deps``
        read, looking through views and ephemeral models: seed parquet
        and table models. A source or model without one (an in-memory
        source, versioned incremental state) points at a missing marker,
        so the reader is never taken as fresh."""
        markers = []
        for dep in deps:
            spec = self.models.get(dep)
            if spec is not None and spec.materialized in ("view", "ephemeral"):
                markers += self._stored_inputs(spec.deps)
            else:
                markers.append(success_marker(f"{self.warehouse_dir}/{dep}"))
        return markers

    # -- versioned table storage (incremental / snapshot state) -----------
    # A build never overwrites the files it just read (parquet reads are
    # lazy, so read-then-overwrite self-corrupts); each refresh writes
    # v{N+1} and readers take the highest version — the same pattern as
    # the streaming foreachBatch CDC merge (streaming/windows.py), which
    # a lakehouse table format replaces with a transactional MERGE/commit
    # at no change to the plan inside.

    def _versions(self, name: str) -> list[int]:
        import os

        base = f"{self.warehouse_dir}/{name}"
        if self.warehouse_dir is None or not os.path.isdir(base):
            return []
        return sorted(int(p[1:]) for p in os.listdir(base) if p.startswith("v") and p[1:].isdigit())

    def _latest_version(self, name: str) -> int | None:
        vs = self._versions(name)
        return vs[-1] if vs else None

    def _read_latest(self, name: str, spark: SparkSession) -> DataFrame | None:
        v = self._latest_version(name)
        if v is None:
            return None
        return spark.read.parquet(f"{self.warehouse_dir}/{name}/v{v}")

    def expire_versions(self, name: str, keep_last: int = 3) -> list[int]:
        """Retention maintenance for versioned incremental/snapshot
        state — the Delta/Iceberg `VACUUM` / expire-snapshots analog:
        delete all but the newest ``keep_last`` version directories and
        return the expired version numbers. The LATEST version is never
        deletable (keep_last >= 1 enforced), so readers holding
        `_read_latest` plans stay valid; time travel
        (``read_version``) simply loses the expired range, exactly as
        a lakehouse VACUUM trades history for storage. Deletion is
        oldest-first so a crash mid-expire leaves a contiguous suffix
        of versions (never a hole between surviving versions)."""
        import shutil

        if keep_last < 1:
            raise ValueError("expire_versions: keep_last must be >= 1")
        if self.warehouse_dir is None:
            return []
        versions = self._versions(name)
        expired = versions[:-keep_last] if len(versions) > keep_last else []
        for v in expired:
            shutil.rmtree(f"{self.warehouse_dir}/{name}/v{v}")
        return expired

    def read_version(self, name: str, spark: SparkSession, version: int) -> DataFrame:
        """Time travel: read a specific historical version of an
        incremental/snapshot model's stored state (the Delta/Iceberg
        `VERSION AS OF` analog). Versions are immutable once written —
        _write_version never overwrites — so every past refresh stays
        queryable for audits, reproductions, and diffing (pair with
        audit_table_diff to explain what a refresh changed)."""
        if version not in self._versions(name):
            raise ValueError(
                f"{name}: version {version} not found "
                f"(available: {self._versions(name)})"
            )
        return spark.read.parquet(f"{self.warehouse_dir}/{name}/v{version}")

    def _write_version(self, name: str, df: DataFrame, spark: SparkSession) -> DataFrame:
        if self.warehouse_dir is None:
            raise ValueError(f"{name}: incremental/snapshot models need a warehouse_dir")
        v = (self._latest_version(name) or 0) + 1
        path = f"{self.warehouse_dir}/{name}/v{v}"
        self.written[name] = write_relation(df, path)
        return spark.read.schema(df.schema).parquet(path)

    def _materialize_incremental(self, spec: ModelSpec, spark: SparkSession) -> DataFrame:
        """dbt's incremental materialization, delete+insert strategy: the
        model emits (ideally just the new/changed) rows; rows whose
        unique_key already exists are replaced, others appended. The
        model can cut its input scan with ``ctx.is_incremental`` +
        ``ctx.this`` (high-water-mark filter). At scale the anti-join
        shuffles only keys, and a lakehouse MERGE INTO with partition
        pruning replaces the full-state rewrite."""
        new = spec.fn(ModelContext(self, spark, spec))
        # pre-flight: a contract-violating batch must not persist state
        self._enforce_contract(spec, new)
        prev = self._read_latest(spec.name, spark)
        if prev is None:
            out = new
        else:
            prev, new = self._apply_schema_change(spec, prev, new)
            out = prev.join(
                new.select(*spec.unique_key), list(spec.unique_key), "left_anti"
            ).unionByName(new)
        return self._write_version(spec.name, out, spark)

    @staticmethod
    def _apply_schema_change(
        spec: ModelSpec, prev: DataFrame, new: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """dbt's ``on_schema_change`` for incremental models. Strategies
        (spec.on_schema_change): 'ignore' (dbt default — new columns are
        DROPPED to the stored schema), 'fail' (raise on any column-set
        drift), 'append_new_columns' (widen the stored state with NULLs
        for columns the model newly emits; columns removed from the
        model stay, NULL-filled, exactly like dbt)."""
        from pyspark.sql import functions as F

        mode = spec.on_schema_change
        prev_cols, new_cols = set(prev.columns), set(new.columns)
        if prev_cols == new_cols:
            return prev, new
        if mode == "fail":
            raise ContractViolation(
                f"model {spec.name}: incremental schema changed "
                f"(added {sorted(new_cols - prev_cols)}, "
                f"removed {sorted(prev_cols - new_cols)}) and "
                "on_schema_change='fail'"
            )
        if mode == "append_new_columns":
            for c in sorted(new_cols - prev_cols):
                prev = prev.withColumn(
                    c, F.lit(None).cast(new.schema[c].dataType)
                )
            for c in sorted(prev_cols - new_cols):
                new = new.withColumn(c, F.lit(None).cast(prev.schema[c].dataType))
            return prev, new
        # 'ignore' (default): conform the new batch to the stored schema
        for c in sorted(prev_cols - new_cols):
            new = new.withColumn(c, F.lit(None).cast(prev.schema[c].dataType))
        return prev, new.select(*prev.columns)

    def _materialize_snapshot(self, spec: ModelSpec, spark: SparkSession) -> DataFrame:
        """dbt's snapshot (SCD Type-2, check strategy): the model emits
        the CURRENT source state (one row per unique_key); the
        materialization maintains history rows with [valid_from,
        valid_to) intervals, closing rows whose check_cols changed and
        opening new versions. The logical clock is ``self.snapshot_at``
        (an int batch id / timestamp the caller sets per run) so runs
        are reproducible — dbt uses wall clock, which is the one
        nondeterminism this engine refuses on principle (the oracle gate
        hashes every output). Set-once-per-run, monotonically
        increasing. The same interval algebra, expressed over the event
        stream instead of snapshot runs, is oracle-certified as
        scd2_user_state_history (operators/extensions.py)."""
        from pyspark.sql import functions as F

        at = int(getattr(self, "snapshot_at", 0))
        cur = spec.fn(ModelContext(self, spark, spec))
        # pre-flight on the model's OWN output (valid_from/valid_to are
        # engine-added metadata, outside the user's declared contract);
        # a violating batch must not persist a new snapshot version
        self._enforce_contract(spec, cur)
        key = list(spec.unique_key)
        checks = list(spec.check_cols) or [
            c for c in cur.columns if c not in spec.unique_key
        ]
        if not checks:
            raise ValueError(
                f"model {spec.name}: snapshot has no check columns (the "
                "output is exactly the unique_key) — nothing can change"
            )
        # the one-open-row-per-key invariant every later run depends on:
        # duplicate keys in the snapshot input would open concurrent
        # rows and permanently corrupt the history — fail loudly
        dup = (
            cur.groupBy(*key).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                f"model {spec.name}: snapshot input has duplicate "
                f"unique_key rows — one row per {tuple(key)} required"
            )
        stamped = cur.withColumn("valid_from", F.lit(at)).withColumn(
            "valid_to", F.lit(None).cast("long")
        )
        prev = self._read_latest(spec.name, spark)
        if prev is None:
            return self._write_version(spec.name, stamped, spark)
        # monotonic-clock guard at the ENGINE level (not just the CLI
        # verb): merging with a clock <= the stored high-water mark would
        # close rows with valid_to <= valid_from — degenerate intervals
        # persisted forever. Catches library callers who forgot to set
        # snapshot_at (default 0) before a second run.
        max_vf = prev.agg(F.max("valid_from").alias("m")).first()[0]
        if max_vf is not None and at <= max_vf:
            raise ValueError(
                f"model {spec.name}: snapshot_at={at} must exceed the "
                f"stored high-water mark {max_vf} (set project."
                "snapshot_at to a strictly increasing clock per run)"
            )
        closed = prev.filter(F.col("valid_to").isNotNull())
        open_rows = prev.filter(F.col("valid_to").isNull())
        # keys whose tracked columns changed vs the open row (null-safe)
        cur_k = cur.select(*key, *[F.col(c).alias(f"__new_{c}") for c in checks])
        joined = open_rows.join(cur_k, key, "inner")
        import functools
        import operator

        unchanged = functools.reduce(
            operator.and_,
            [F.col(c).eqNullSafe(F.col(f"__new_{c}")) for c in checks],
        )
        changed_keys = joined.filter(~unchanged).select(*key)
        # brand-new keys never seen before
        new_keys = cur.select(*key).join(prev.select(*key).distinct(), key, "left_anti")
        closing = open_rows.join(changed_keys, key, "semi").withColumn(
            "valid_to", F.lit(at).cast("long")
        )
        still_open = open_rows.join(changed_keys, key, "left_anti")
        opening = stamped.join(changed_keys.unionByName(new_keys), key, "semi")
        out = closed.unionByName(closing).unionByName(still_open).unionByName(opening)
        return self._write_version(spec.name, out, spark)

    # -- dbt-style graph selectors ----------------------------------------
    def _ancestors(self, name: str) -> set[str]:
        out: set[str] = set()
        frontier = [name]
        while frontier:
            n = frontier.pop()
            deps = self.models[n].deps if n in self.models else ()
            for d in deps:
                if d in self.models and d not in out:
                    out.add(d)
                    frontier.append(d)
        return out

    def _descendants(self, name: str) -> set[str]:
        out: set[str] = set()
        frontier = [name]
        while frontier:
            n = frontier.pop()
            for m, spec in self.models.items():
                if n in spec.deps and m not in out:
                    out.add(m)
                    frontier.append(m)
        return out

    def select_set(self, select: Sequence[str]) -> set[str]:
        """Resolve dbt graph-selector syntax: `model` (just the model),
        `+model` (model and all ancestors), `model+` (model and all
        descendants), `+model+` (both). Unknown names fail loudly —
        a typo'd selector silently running nothing is the classic dbt
        footgun this guards against."""
        wanted: set[str] = set()
        for tok in select:
            plus_pre = tok.startswith("+")
            plus_post = tok.endswith("+")
            name = tok.strip("+")
            if name not in self.models:
                raise KeyError(f"unknown model in selector {tok!r}: {name}")
            wanted.add(name)
            if plus_pre:
                wanted |= self._ancestors(name)
            if plus_post:
                wanted |= self._descendants(name)
        return wanted

    def _sorter(self) -> TopologicalSorter:
        return TopologicalSorter(
            {name: [d for d in spec.deps if d in self.models] for name, spec in self.models.items()}
        )

    def topo_order(self) -> list[str]:
        return list(self._sorter().static_order())  # raises CycleError on cycles

    def run(self, spark: SparkSession, select: Sequence[str] | None = None) -> dict[str, DataFrame]:
        """Materialize all (or selected) models in dependency order.
        ``select`` accepts dbt graph selectors (`+model`, `model+`,
        `+model+`); upstream models a selected model `ref()`s are built
        regardless (they must exist to resolve), exactly as dbt assumes
        upstream relations exist in the warehouse."""
        self._built.clear()
        if select:
            wanted = self.select_set(select)
            # selected models plus every transitive ancestor, computed
            # ONCE (per-node BFS re-walked the graph for every model)
            needed = wanted | set().union(
                *(self._ancestors(m) for m in wanted)
            )
        else:
            needed = set(self.models)
        # level by level: every model of a level has its deps built, so
        # the level's models are independent and materialize side by side
        ts = self._sorter()
        ts.prepare()  # raises CycleError on cycles
        order: list[str] = []
        while ts.is_active():
            level = ts.get_ready()
            run_concurrently(
                spark,
                [
                    functools.partial(self._materialize, self.models[name], spark)
                    for name in level
                    if name in needed
                ],
            )
            order += level
            ts.done(*level)
        # in topological order, as the serial loop built them
        return {name: self._built[name] for name in order if name in self._built}
