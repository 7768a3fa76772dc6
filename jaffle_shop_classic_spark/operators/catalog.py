"""Central query catalog: one named entry per engine capability.

The driver contract (``__spark_entry__.py``) exposes this registry:
``queries()`` maps name -> (spark, sf_dir) -> DataFrame and
``oracle_sql()`` maps name -> equivalent DuckDB SQL. Registration
happens at import time via the ``@register`` decorator; modules listed
in ``_MODULES`` are imported lazily by ``load_catalog()``.

Parity rules (SURVEY §5 Tier 2):
- alias every computed column identically in Spark and SQL;
- round every floating-point output (non-associative double sums differ
  in last bits between engines) — ``round(x, 2)`` for money-scale sums,
  more digits for unit-scale values;
- deterministic LIMIT requires a unique tiebreaker in the ORDER BY.

Driver order. The driver's correctness gate records the first ``WINDOW``
entries of ``queries()`` into ``CORRECTNESS_r<N>.json`` (green: rows,
schema and value hash match, ``err`` null; ``is_green`` says what counts
for an entry with no oracle twin). ``load_catalog()`` orders the catalog
by one rule, the analog of dbt's ``state:modified`` selector
(``certification_order``): ``REFERENCE_SURFACE`` first, then every due
entry (its fingerprint differs from the one recorded at its last green
round, or its latest record is red), then the rest; the last two groups
each by last green round (0 if never), then registration order.

A fingerprint hashes the entry's oracle SQL and every function of this
package its fn reaches through module globals, ``module.attr`` and
imports inside function bodies, with the module constants they read: per
code object its bytecode, names and constants (sets sorted, nested code
recursed into), not its docstring or line table. ``sources.*`` and
``session`` are not followed: nearly every entry reaches those shared
loaders, and tier-1 and the parity sweep cover them.

The ledger ``certified.json`` beside this module holds each entry's last
green round, its fingerprint then and its latest record. It is generated:
``python tools/certify.py CORRECTNESS_r<N>.json --tree <checkout>`` records
a round, the checkout holding the code the round ran.
"""

from __future__ import annotations

import dis
import hashlib
import importlib
import importlib.util
import json
import os
import sys
import types
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None -> driver does rows-only check
    doc: str = ""


CATALOG: dict[str, QuerySpec] = {}

_MODULES = (
    "jaffle_shop_classic_spark.operators.relational",
    "jaffle_shop_classic_spark.operators.tests_as_queries",
    "jaffle_shop_classic_spark.operators.extensions",
    "jaffle_shop_classic_spark.operators.text",
    "jaffle_shop_classic_spark.operators.dedup",
    "jaffle_shop_classic_spark.operators.similarity",
    "jaffle_shop_classic_spark.operators.multimodal",
    "jaffle_shop_classic_spark.operators.udfs",
    "jaffle_shop_classic_spark.operators.mining",
    "jaffle_shop_classic_spark.streaming.windows",
)

# Always first in the driver window: the two marts, the verbatim SQL-file
# model and the four generic test kinds.
REFERENCE_SURFACE = (
    "jaffle_customers",
    "jaffle_orders",
    "sql_model_orders_mart",
    "test_unique_violations",
    "test_not_null_violations",
    "test_accepted_values_violations",
    "test_relationships_violations",
)
WINDOW = 50  # entries of queries() the driver's correctness gate records
LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "certified.json")
_UNFOLLOWED = ("sources", "session")

_loaded = False


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        if name in CATALOG:
            raise ValueError(f"duplicate query name: {name}")
        CATALOG[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def load_catalog() -> dict[str, QuerySpec]:
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(mod)
        with open(LEDGER) as fh:
            ordered = {n: CATALOG[n] for n in certification_order(CATALOG, json.load(fh))}
        CATALOG.clear()
        CATALOG.update(ordered)
        _loaded = True
    return CATALOG


def is_green(record: dict) -> bool:
    """A driver record that certifies its entry: rows, schema and value
    hash all match, and the entry raised nothing. For an entry with no
    oracle twin the driver records ``err`` "no_oracle" and its row count;
    that it ran is all the driver can check, and counts as green, else
    such an entry would be due every round."""
    if record.get("err") == "no_oracle":
        return record.get("spark_rows") is not None
    return bool(
        record.get("rows_match") and record.get("schema_match")
        and record.get("hash_match") and record.get("err") is None
    )


def certification_order(catalog: dict[str, QuerySpec], ledger: dict) -> list[str]:
    """Catalog names in driver order: the reference surface, then every
    due entry, then the rest; each of the last two by last green round
    (0 if never green), then registration order."""
    entries = ledger["entries"]
    prints = fingerprints({n: s for n, s in catalog.items() if entries.get(n, {}).get("green_round")})

    def due(name: str) -> bool:
        rec = entries.get(name)  # a green latest record implies a fingerprint
        return rec is not None and (not rec["latest"]["green"] or rec["fingerprint"] != prints[name])

    rank = {name: i for i, name in enumerate(catalog)}
    rest = sorted(
        (n for n in catalog if n not in REFERENCE_SURFACE),
        key=lambda n: (not due(n), entries.get(n, {}).get("green_round", 0), rank[n]),
    )
    return [*REFERENCE_SURFACE, *rest]


def fingerprints(catalog: dict[str, QuerySpec]) -> dict[str, str]:
    """name -> hash of the entry's oracle SQL and of every function its fn
    reaches inside its own package (module docstring)."""
    memo: dict[types.FunctionType, _Scan] = {}
    return {name: _fingerprint(spec, memo) for name, spec in catalog.items()}


def _fingerprint(spec: QuerySpec, memo: dict[types.FunctionType, _Scan]) -> str:
    parts: set[str] = set()
    seen: set[types.FunctionType] = set()
    todo = [spec.fn]
    while todo:
        fn = todo.pop()
        if fn in seen:
            continue
        seen.add(fn)
        if fn not in memo:
            memo[fn] = _Scan(fn)
        scan = memo[fn]
        # the defining module, not __module__, which functools.wraps copies
        parts.add(f"{fn.__globals__.get('__name__')}.{fn.__qualname__}={scan.hash}")
        parts.update(f"{k}={v}" for k, v in scan.consts.items())
        todo.extend(scan.reached)
    digest = hashlib.sha256(repr(spec.oracle).encode())
    for part in sorted(parts):
        digest.update(f"\n{part}".encode())
    return digest.hexdigest()[:16]


class _Scan:
    """What one function adds to a fingerprint: ``hash`` of its code,
    defaults and closure; ``reached``, the followed functions it refers
    to; ``consts``, ``{module.name: repr}`` of the data it reads. A name
    its code reads is looked up in its module, in each followed module it
    refers to and in what it imports inside its body."""

    def __init__(self, fn: types.FunctionType) -> None:
        module = fn.__globals__.get("__name__") or ""
        self.package = module.split(".")[0]
        self.reached: list[types.FunctionType] = []
        self.consts: dict[str, str] = {}
        self.modules: list[types.ModuleType] = []
        code = fn.__code__
        globs, attrs, imports = _reads(code, fn.__globals__.get("__package__"))
        for name in globs:
            if name in fn.__globals__:
                self.see(module, name, fn.__globals__[name])
        for target, names in imports:
            if self.followed(target):
                imported = importlib.import_module(target)
                if not names:  # ``import a.b`` binds a module, ``from a import b`` only b
                    self.see(target, "", imported)
                for name in names:
                    value = getattr(imported, name, None)
                    if value is None and self.followed(f"{target}.{name}"):
                        value = importlib.import_module(f"{target}.{name}")
                    self.see(target, name, value)
        for mod in self.modules:  # grows as module attributes name modules
            for name in attrs:
                if name in vars(mod):
                    self.see(mod.__name__, name, vars(mod)[name])
        cells = [c.cell_contents for c in fn.__closure__ or () if _filled(c)]
        self.hash = self.code_hash(code) + self.canon((fn.__defaults__, fn.__kwdefaults__, cells))

    def followed(self, module: str | None) -> bool:
        pkg = self.package
        return bool(module) and (module == pkg or module.startswith(pkg + ".")) and (
            not module.startswith(tuple(f"{pkg}.{m}" for m in _UNFOLLOWED))
        )

    def see(self, owner: str, name: str, value) -> None:
        if isinstance(value, types.ModuleType):
            if self.followed(value.__name__) and value not in self.modules:
                self.modules.append(value)
        elif isinstance(value, types.FunctionType | type):
            self.refer(value)
        elif self.followed(owner):
            self.consts[f"{owner}.{name}"] = self.canon(value)

    def refer(self, value: types.FunctionType | type) -> None:
        """Queue an in-package function, or each method of an in-package
        class; look through wrappers to the functions they wrap."""
        if isinstance(value, type):
            if self.followed(value.__module__):
                for attr in vars(value).values():
                    attr = getattr(attr, "__func__", getattr(attr, "fget", attr))
                    if isinstance(attr, types.FunctionType):
                        self.refer(attr)
            return
        if hasattr(value, "__wrapped__"):
            self.refer(value.__wrapped__)
        if self.followed(value.__globals__.get("__name__")):
            self.reached.append(value)

    def code_hash(self, code: types.CodeType) -> str:
        consts = code.co_consts
        if consts and isinstance(consts[0], str) and not code.co_name.startswith("<"):
            consts = consts[1:]  # a function's docstring is its first constant
        body = (code.co_code, code.co_names, self.canon(consts))
        return hashlib.sha256(repr(body).encode()).hexdigest()[:16]

    def canon(self, value) -> str:
        """A repr of ``value`` that is the same in every process: sets
        sorted, code objects hashed, functions and classes named (and
        queued), an object whose repr holds an address reduced to its type."""
        if isinstance(value, types.CodeType):
            return self.code_hash(value)
        if isinstance(value, tuple | list):
            return "(" + ",".join(self.canon(v) for v in value) + ")"
        if isinstance(value, set | frozenset):
            return "{" + ",".join(sorted(self.canon(v) for v in value)) + "}"
        if isinstance(value, dict):
            items = (f"{self.canon(k)}:{self.canon(v)}" for k, v in value.items())
            return "{" + ",".join(sorted(items)) + "}"
        if isinstance(value, types.FunctionType | type):
            self.refer(value)
            return f"{value.__module__}.{value.__qualname__}"
        text = repr(value)
        return type(value).__qualname__ if " at 0x" in text else text


_EXTENDED_ARG, _LOAD_GLOBAL, _IMPORT_NAME, _LOAD_CONST = (
    dis.opmap[op] for op in ("EXTENDED_ARG", "LOAD_GLOBAL", "IMPORT_NAME", "LOAD_CONST")
)
_ATTR_OPS = {dis.opmap[op] for op in ("LOAD_ATTR", "LOAD_METHOD") if op in dis.opmap}
# CPython 3.11+ keeps a flag in the low bit of LOAD_GLOBAL's argument, and
# 3.12+ in LOAD_ATTR's
_GLOBAL_SHIFT = 1
_ATTR_SHIFT = 1 if sys.version_info >= (3, 12) else 0


def _reads(code: types.CodeType, package: str | None) -> tuple[dict, dict, list[tuple[str, tuple]]]:
    """The names ``code`` and the code nested in it read: globals,
    attributes (as in ``module.attr``) and, per import statement,
    ``(absolute module, from-names)``. A walk of the raw wordcode:
    ``dis.get_instructions`` costs ~10x more."""
    globs: dict[str, None] = {}
    attrs: dict[str, None] = {}
    imports = []
    stack = [code]
    while stack:
        code = stack.pop()
        names, consts, raw = code.co_names, code.co_consts, code.co_code
        stack += [c for c in consts if isinstance(c, types.CodeType)]
        recent: list = []  # values of the last LOAD_CONSTs in a row
        ext = 0
        for op, arg in zip(raw[::2], raw[1::2]):
            arg |= ext
            ext = arg << 8 if op == _EXTENDED_ARG else 0
            if op == _LOAD_GLOBAL:
                globs[names[arg >> _GLOBAL_SHIFT]] = None
            elif op in _ATTR_OPS:
                attrs[names[arg >> _ATTR_SHIFT]] = None
            elif op == _IMPORT_NAME and len(recent) >= 2 and isinstance(recent[-2], int):
                level, fromlist = recent[-2:]
                name = "." * level + names[arg]
                imports.append((importlib.util.resolve_name(name, package) if level else name, fromlist or ()))
            recent = [*recent[-1:], consts[arg]] if op == _LOAD_CONST else []
    return globs, attrs, imports


def _filled(cell) -> bool:
    try:
        cell.cell_contents
    except ValueError:
        return False
    return True
