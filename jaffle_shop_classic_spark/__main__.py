"""CLI: seed / run / test / docs / snapshot / curate / query / sql —
mirrors the reference's entry points (/root/reference/README.md:46-71:
`dbt seed`, `dbt run`, `dbt test`, `dbt docs generate`) plus the
corpus-build verb for the LLM-pipeline surface and ad-hoc access: any
catalog operator by name, or arbitrary Spark SQL over the warehouse
tables (the `dbt show` / warehouse-console analog).

    python -m jaffle_shop_classic_spark run --warehouse /tmp/wh
    python -m jaffle_shop_classic_spark test
    python -m jaffle_shop_classic_spark docs --out catalog.json
    python -m jaffle_shop_classic_spark curate --sf-dir ... --out /tmp/corpus
    python -m jaffle_shop_classic_spark query --name rfm_customer_segments
    python -m jaffle_shop_classic_spark sql -e "SELECT count(*) FROM orders"

Each verb does only its own work, as in dbt. `seed` (re)loads the CSVs
into the warehouse and `run` (re)builds the models. `test` and `docs`
act on the relations already stored in `--warehouse`: a stored seed is
used while it is no older than its CSV, and a stored table while it is
no older than every stored relation it reads. `test` and `docs` build a
relation only when it is missing or stale, and always when
`--warehouse` is unset; `run` and `snapshot` reuse seeds by the same
rule. Independent Spark actions (seed loads, the models of one DAG
level, the 20 checks, the row counts `run` prints) run side by side.
"""

from __future__ import annotations

import argparse
import functools
import sys

from .models.jaffle import build_project, build_snapshots, jaffle_checks, load_jaffle_sources
from .plans.docs import generate_catalog, render_markdown, write_catalog
from .session import get_spark, run_concurrently
from .sources.seeds import DEFAULT_SEED_DIR
from .testing.checks import run_checks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="jaffle_shop_classic_spark")
    ap.add_argument(
        "command",
        choices=[
            "seed",
            "run",
            "test",
            "docs",
            "snapshot",
            "curate",
            "query",
            "sql",
            "explain",
        ],
    )
    ap.add_argument("--name", default=None, help="query: catalog entry to run (omit to list)")
    ap.add_argument(
        "--select",
        nargs="+",
        default=None,
        help="run: dbt graph selectors (model, +model, model+, +model+)",
    )
    ap.add_argument("-e", "--expr", default=None, help="sql: the SQL text to run")
    ap.add_argument("--limit", type=int, default=20, help="query/sql: rows to display")
    ap.add_argument("--seed-dir", default=DEFAULT_SEED_DIR)
    ap.add_argument("--warehouse", default=None, help="parquet output dir for table models")
    ap.add_argument("--out", default=None, help="docs: output JSON path; curate: corpus output dir")
    ap.add_argument(
        "--html",
        default=None,
        help="docs: write a self-contained browsable HTML catalog (the "
        "`dbt docs serve` artifact) to this path instead of JSON/stdout",
    )
    ap.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="curate: input tables directory (documents.parquet)",
    )
    ap.add_argument(
        "--target-files",
        type=int,
        default=8,
        help="curate: parquet file budget for the curated corpus",
    )
    ap.add_argument(
        "--at",
        type=int,
        default=None,
        help="snapshot: logical clock for valid_from/valid_to (default: next version number)",
    )
    ap.add_argument(
        "--project-yaml",
        default=None,
        help="run/test: dbt-style YAML file to load ON TOP of the "
        "jaffle project — models with sql: register as SQL models, "
        "entries without sql: overlay docs/tests onto existing models "
        "(the schema.yml migration path)",
    )
    args = ap.parse_args(argv)

    import os

    if args.command not in ("curate", "query", "sql", "explain") and not os.path.isdir(
        args.seed_dir
    ):
        print(f"error: seed dir not found: {args.seed_dir}", file=sys.stderr)
        return 2

    spark = get_spark("jaffle_cli")

    if args.command == "query":
        from .operators.catalog import load_catalog

        catalog = load_catalog()
        if args.name is None:
            for name in catalog:
                print(name)
            return 0
        if args.name not in catalog:
            print(f"error: unknown query '{args.name}' (run without --name to list)", file=sys.stderr)
            return 2
        df = catalog[args.name].fn(spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        print(f"{args.name}: {df.count()} rows @ {args.sf_dir}")
        return 0

    if args.command == "explain":
        # the plan-first review loop as a verb: print the formatted
        # physical plan (WholeStageCodegen spans, PushedFilters,
        # exchange placement) for any catalog entry without executing it
        from .operators.catalog import load_catalog

        catalog = load_catalog()
        if args.name is None or args.name not in catalog:
            print(
                "error: explain needs --name <catalog entry> "
                "(run `query` without --name to list)",
                file=sys.stderr,
            )
            return 2
        catalog[args.name].fn(spark, args.sf_dir).explain("formatted")
        return 0

    if args.command == "sql":
        # the warehouse-console analog: every testdata table is a view,
        # plus the jaffle marts under their model names so `ref()`-style
        # SQL ports run verbatim
        if args.expr is None:
            print("error: sql needs -e/--expr <SQL>", file=sys.stderr)
            return 2
        from .sources.parquet import load_tables

        for name, df in load_tables(spark, args.sf_dir).items():
            df.createOrReplaceTempView(name)
        out = spark.sql(args.expr)
        out.show(args.limit, truncate=False)
        print(f"{out.count()} rows @ {args.sf_dir}")
        return 0

    if args.command == "curate":
        # end-to-end training-corpus build: quality gate -> exact dedup ->
        # LSH near-dup removal (pipeline_corpus_curation), then a
        # lang-partitioned, range-clustered parquet corpus. The dbt-run
        # analog for the LLM-pipeline half of the engine.
        if args.out is None:
            print("error: curate needs --out <corpus dir>", file=sys.stderr)
            return 2
        from .operators.catalog import load_catalog
        from .sources.parquet import load_table

        docs = load_table(spark, args.sf_dir, "documents")
        keep = load_catalog()["pipeline_corpus_curation"].fn(spark, args.sf_dir)
        curated = docs.join(keep, "doc_id", "left_semi")
        n_in, n_keep = docs.count(), curated.count()
        out = os.path.join(args.out, "corpus")
        # range-cluster on (lang, doc_id): each output file covers one
        # contiguous id range inside one lang dir — bounded file count
        # AND per-file min/max envelopes for id-range skipping
        (
            curated.repartitionByRange(args.target_files, "lang", "doc_id")
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        assert back.count() == n_keep
        per_lang = {r["lang"]: r["count"] for r in back.groupBy("lang").count().collect()}
        n_files = sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(out)
            for f in fs
        )
        print(f"curate: {n_in} docs in -> {n_keep} kept ({n_in - n_keep} dropped)")
        for lang in sorted(per_lang):
            print(f"  lang={lang}: {per_lang[lang]} docs")
        print(f"wrote {out}: {n_files} parquet files, partitioned by lang")
        return 0

    project = build_project(warehouse_dir=args.warehouse)
    project.reuse_stored = args.command in ("test", "docs")
    load_jaffle_sources(project, spark, args.seed_dir, reload=args.command == "seed")

    def row_counts(relations: dict) -> list[int]:
        # a relation this invocation wrote reports the rows its write
        # counted; any other (a view, a seed without a warehouse) runs
        # a count, side by side with the rest
        def rows(name, df) -> int:
            n = project.written.get(name)
            return df.count() if n is None else n

        return run_concurrently(
            spark, [functools.partial(rows, name, df) for name, df in relations.items()]
        )

    yaml_tests = []
    if args.project_yaml:
        from .plans.yaml_project import load_project_yaml

        with open(args.project_yaml) as f:
            _, yaml_tests = load_project_yaml(
                f.read(), project=project, sources=project.sources
            )

    if args.command == "seed":
        for name, n in zip(project.sources, row_counts(project.sources)):
            print(f"{name}: {n} rows")
        return 0

    if args.command == "snapshot":
        if args.warehouse is None:
            print("error: snapshot needs --warehouse (versioned SCD2 state)", file=sys.stderr)
            return 2
        build_snapshots(project)
        snaps = [n for n, s in project.models.items() if s.materialized == "snapshot"]
        latest = max((project._latest_version(n) or 0) for n in snaps)
        if args.at is not None and args.at <= latest:
            # a snapshot clock at or before the persisted one would write
            # SCD2 rows with valid_to <= valid_from and non-monotonic
            # history — refuse instead of silently corrupting state
            print(
                f"error: --at {args.at} is not after the latest persisted "
                f"snapshot version {latest}; pick --at >= {latest + 1}",
                file=sys.stderr,
            )
            return 2
        project.snapshot_at = args.at if args.at is not None else latest + 1
        built = project.run(spark, select=snaps)
        for name in snaps:
            df = built[name]
            open_rows = df.filter(df.valid_to.isNull()).count()
            print(f"{name} [snapshot @ {project.snapshot_at}]: {df.count()} rows, {open_rows} open")
        return 0

    try:
        built = project.run(spark, select=args.select if args.command == "run" else None)
    except KeyError as exc:
        print(f"error: {exc.args[0]}", file=sys.stderr)
        return 2
    if args.command == "run":
        # `built` is in topological order
        for name, n in zip(built, row_counts(built)):
            print(f"{name} [{project.models[name].materialized}]: {n} rows")
        return 0

    if args.command == "test":
        all_checks = jaffle_checks(built)
        if yaml_tests:
            from .plans.yaml_project import compile_schema_tests

            yaml_checks = compile_schema_tests(project, spark, yaml_tests)
            # a YAML test that compiles to the same key as a built-in
            # check must not silently REPLACE it (dict.update would drop
            # the built-in without a trace); suffix the YAML key instead,
            # mirroring the loader's own within-YAML _2 de-dup
            for key in [k for k in yaml_checks if k in all_checks]:
                i = 2
                new_key = f"{key}_yaml"
                while new_key in all_checks or new_key in yaml_checks:
                    new_key = f"{key}_yaml{i}"
                    i += 1
                print(
                    f"note: YAML test key {key!r} collides with a "
                    f"built-in check; recorded as {new_key!r}",
                    file=sys.stderr,
                )
                yaml_checks[new_key] = yaml_checks.pop(key)
            all_checks.update(yaml_checks)
        results = run_checks(all_checks)
        failed = [r for r in results if not r.passed]
        for r in results:
            print(r)
            if not r.passed:
                for row in r.sample:
                    print(f"    {row}")
        print(f"\n{len(results) - len(failed)}/{len(results)} tests passed")
        return 1 if failed else 0

    if args.command == "docs":
        catalog = generate_catalog(project, built)
        if args.html:
            from .plans.docs import generate_query_catalog, render_html

            with open(args.html, "w") as fh:
                fh.write(render_html(catalog, generate_query_catalog()))
            print(f"wrote {args.html}")
            return 0
        if args.out:
            write_catalog(project, built, args.out)
            print(f"wrote {args.out}")
        else:
            print(render_markdown(catalog))
            from .plans.docs import generate_query_catalog

            qcat = generate_query_catalog()
            print(f"\n## Operator catalog ({len(qcat)} queries)\n")
            for name, node in qcat.items():
                print(f"- `{name}` [{node['oracle']}] — {node['description'][:120]}")
        return 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
