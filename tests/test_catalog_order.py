"""The driver's 50-slot certification window is derived, not hand-kept.

``driver_catalog()`` orders the catalog by one rule
(``operators/catalog.py::certification_order``). These tests drive it
with edited copies of the committed ledger; none needs a Spark session.
"""

from __future__ import annotations

import glob
import importlib
import json
import math
import os
import re
import subprocess
import sys

import pytest

from jaffle_shop_classic_spark.operators import dedup
from jaffle_shop_classic_spark.operators.catalog import (
    LEDGER,
    REFERENCE_SURFACE,
    WINDOW,
    QuerySpec,
    certification_order,
    fingerprints,
    is_green,
    load_catalog,
)
from tools.certify import projected_windows

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def catalog():
    return load_catalog()


def _ledger() -> dict:
    with open(LEDGER) as fh:
        return json.load(fh)


@pytest.fixture
def settled(catalog):
    """The ledger with every ever-green entry green now at its current
    fingerprint, so nothing is due; and the entry it orders last."""
    ledger, prints = _ledger(), fingerprints(catalog)
    for name, rec in ledger["entries"].items():
        if rec["green_round"] and name in catalog:
            rec.update(fingerprint=prints[name], latest={"round": rec["green_round"], "green": True})
    return ledger, certification_order(catalog, ledger)[-1]


def _window(catalog, ledger) -> list[str]:
    return certification_order(catalog, ledger)[:WINDOW]


def test_queries_apply_the_rule(catalog):
    # in a fresh interpreter: only the driver's queries() pays for the order.
    # The rule is applied there too: a fingerprint reads module-level data,
    # and some of it is a cache that running an entry fills in this process.
    code = (
        "import json, sys\n"
        "from jaffle_shop_classic_spark.operators.catalog import LEDGER, certification_order, load_catalog\n"
        "load_catalog()\nyaml_imported = 'yaml' in sys.modules\n"
        "import __spark_entry__\n"
        "names = list(__spark_entry__.queries())\n"
        "rule = certification_order(load_catalog(), json.load(open(LEDGER)))\n"
        "print(json.dumps([yaml_imported, names, rule]))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True, timeout=300,
        env={**os.environ, "PYTHONPATH": REPO},
    ).stdout.splitlines()[-1]
    yaml_imported, names, rule = json.loads(out)
    assert not yaml_imported
    assert names[: len(REFERENCE_SURFACE)] == list(REFERENCE_SURFACE)
    assert sorted(names) == sorted(catalog)
    assert names == rule


@pytest.mark.parametrize("edit", [{"fingerprint": "0" * 16}, {"latest": {"round": 16, "green": False}}],
                         ids=["changed_fingerprint", "red_latest_record"])
def test_due_entry_moves_into_the_window(catalog, settled, edit):
    ledger, last = settled
    assert last not in _window(catalog, ledger)
    ledger["entries"][last].update(edit)
    assert last in _window(catalog, ledger)


def test_helper_reached_through_a_local_import_is_fingerprinted(catalog, settled, monkeypatch):
    # cluster_dbscan_grid reaches star_components only through a
    # ``from .dedup import star_components`` inside its body
    ledger, _ = settled
    assert "star_components" not in catalog["cluster_dbscan_grid"].fn.__globals__
    assert "cluster_dbscan_grid" not in _window(catalog, ledger)
    code = dedup.star_components.__code__
    monkeypatch.setattr(dedup.star_components, "__code__", code.replace(co_names=(*code.co_names, "edit")))
    assert "cluster_dbscan_grid" in _window(catalog, ledger)


_DEMO = {
    "fpdemo/__init__.py": "",
    "fpdemo/sources/__init__.py": "",
    "fpdemo/sources/load.py": "def load(path):\n    return [path]\n",
    "fpdemo/kernels.py": "def head(rows, n):\n    return rows[:n]\n",
    "fpdemo/ops.py": (
        "LIMIT = 3\nKINDS = {'alpha', 'beta', 'gamma', 'delta', 'epsilon', 'zeta'}\n\n\n"
        "def q(spark, sf_dir):\n"
        '    """Rows of the demo source."""\n'
        "    from .kernels import head\n"
        "    from .sources.load import load\n"
        "    return head(load(sf_dir), LIMIT if 'beta' in KINDS else 0)\n"
    ),
}


def _write_demo(root, path: str = "", old: str = "", new: str = "") -> None:
    """The demo package under ``root``, ``old`` replaced by ``new`` in ``path``."""
    for rel, text in _DEMO.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(text.replace(old, new) if rel == path else text)


def _demo_fingerprint(root, *edit: str) -> str:
    _write_demo(root, *edit)
    sys.path.insert(0, str(root))
    importlib.invalidate_caches()
    try:
        q = importlib.import_module("fpdemo.ops").q
        return fingerprints({"q": QuerySpec("q", q, "SELECT 1")})["q"]
    finally:
        sys.path.remove(str(root))
        for mod in [m for m in sys.modules if m.split(".")[0] == "fpdemo"]:
            del sys.modules[mod]


def test_fingerprint_follows_code_and_constants_not_docstrings_or_loaders(tmp_path):
    base = _demo_fingerprint(tmp_path / "base")
    doc = '"""Rows of the demo source,\n\n    said at length."""\n    # shifts every line below'
    assert _demo_fingerprint(tmp_path / "doc", "fpdemo/ops.py", '"""Rows of the demo source."""', doc) == base
    assert _demo_fingerprint(tmp_path / "loader", "fpdemo/sources/load.py", "[path]", "[path, path]") == base
    assert _demo_fingerprint(tmp_path / "helper", "fpdemo/kernels.py", "[:n]", "[: n + 1]") != base
    assert _demo_fingerprint(tmp_path / "const", "fpdemo/ops.py", "LIMIT = 3", "LIMIT = 4") != base


def test_fingerprints_do_not_depend_on_the_hash_seed(tmp_path):
    _write_demo(tmp_path)  # the catalog reaches no set constant; the demo does
    code = (
        "import json, sys\n"
        "from jaffle_shop_classic_spark.operators.catalog import QuerySpec, fingerprints, load_catalog\n"
        "sys.path.insert(0, sys.argv[1])\nfrom fpdemo.ops import q\n"
        "print(json.dumps(fingerprints({**load_catalog(), 'demo': QuerySpec('demo', q, None)})))"
    )
    runs = [
        subprocess.run(
            [sys.executable, "-c", code, str(tmp_path)], cwd=REPO, capture_output=True, text=True,
            check=True, timeout=300, env={**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": REPO},
        ).stdout.splitlines()[-1]
        for seed in ("1", "2")
    ]
    assert runs[0] == runs[1]


def test_green_windows_rotate_through_every_entry(catalog):
    fill = len(catalog) - len(REFERENCE_SURFACE)
    first = projected_windows(catalog, _ledger(), math.ceil(fill / (WINDOW - len(REFERENCE_SURFACE))))
    assert set(first) == set(catalog)


def test_ledger_agrees_with_the_driver_records():
    ledger, want = _ledger(), {}
    files = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    assert ledger["rounds"] == [int(re.search(r"r(\d+)\.json$", f).group(1)) for f in files]
    for rnd, path in zip(ledger["rounds"], files):
        with open(path) as fh:
            for name, rec in json.load(fh).items():
                green = is_green(rec)
                last = rnd if green else want.get(name, {}).get("green_round", 0)
                want[name] = {"green_round": last, "latest": {"round": rnd, "green": green}}
    assert {n: {k: r[k] for k in ("green_round", "latest")} for n, r in ledger["entries"].items()} == want
