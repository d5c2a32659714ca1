"""Registry- and harness-wide hygiene lints.

* A VACUOUS green row: q5_nation_volume's predicate once matched a
  region name the regenerated testdata no longer contained, so both
  engines returned 0 rows and the hash "match" certified nothing. Every
  oracle must be non-empty at the driver's correctness SF.
* A silently short registry: a module whose import fails must fail
  ``load_all()``, not drop its entries from every sweep.
* One session factory: ``perfbench.session.make_session`` is the only
  place that builds a SparkSession, so core count and driver memory
  come from the host everywhere.
"""

from __future__ import annotations

import ast
import os
import re
import sys

import pytest

DRIVER_SF_DIR = "/root/testdata/sf0.01"   # the driver's correctness SF
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry():
    from tank_spark.plans.registry import load_all

    return load_all()


def _oracle_names():
    return [n for n, q in _registry().items() if q.oracle is not None]


@pytest.mark.parametrize("name", _oracle_names())
def test_oracle_non_vacuous_at_driver_sf(name):
    """Every oracle-checked query must return >= 1 row at the driver SF
    AND at the pytest-parity SF (sf0.001) — a 0-row hash match certifies
    nothing (the r6 q5 lesson; tile_filter_date/update_by_uid had the
    sf0.001 variant of it). DuckDB-only on purpose: the Spark side
    equals the oracle by the parity gate, so a non-empty oracle implies
    a non-empty green row, and skipping Spark keeps this a sub-second-
    per-query lint."""
    from tests.conftest import SF_DIR
    from tests.oracle_util import duckdb_con

    q = _registry()[name]
    for sf_dir in (DRIVER_SF_DIR, SF_DIR):
        con = duckdb_con(sf_dir)
        k = con.execute(f"SELECT count(*) FROM ({q.oracle})").fetchone()[0]
        assert k >= 1, f"{name}: oracle returns 0 rows at {sf_dir}"


def test_load_all_raises_when_a_module_import_fails(monkeypatch):
    """A module that cannot be imported must fail the whole registry:
    swallowing the error would drop every entry it registers from
    queries(), the oracle sweep and the parity tests without a signal.
    A None entry in sys.modules makes the import raise
    ModuleNotFoundError, the exact class a blanket guard would catch."""
    from tank_spark.plans import registry

    monkeypatch.setitem(sys.modules, "tank_spark.llm.bpe", None)
    with pytest.raises(ImportError):
        registry.load_all()


def _harness_sources():
    yield os.path.join(REPO, "bench.py")
    for top in ("tests", "tools", "tank_spark"):
        for d, _, files in os.walk(os.path.join(REPO, top)):
            yield from (os.path.join(d, f) for f in sorted(files)
                        if f.endswith(".py"))


def test_make_session_is_the_only_session_factory():
    """No SparkSession.builder outside perfbench/session.py, and no
    hard-coded local[N] master or driver-memory setting in bench.py,
    tests/ or tools/: slots and memory come from the host."""
    pinned = re.compile(r"local\[\d+\]|spark\.driver\.memory")
    found = []
    for path in _harness_sources():
        rel = os.path.relpath(path, REPO)
        tree = ast.parse(open(path).read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and node.attr == "builder"
                    and getattr(node.value, "id", "") == "SparkSession"):
                found.append(f"{rel}:{node.lineno} SparkSession.builder")
            elif (not rel.startswith("tank_spark")
                  and isinstance(node, ast.Constant)
                  and isinstance(node.value, str)
                  and pinned.search(node.value)):
                found.append(f"{rel}:{node.lineno} {node.value[:40]!r}")
    assert not found, found


def test_bench_headline_names_are_registered_and_unique():
    from bench import HEADLINE

    reg = _registry()
    assert len(HEADLINE) == len(set(HEADLINE)) == 57
    missing = [n for n in HEADLINE if n not in reg]
    assert not missing, f"HEADLINE names not registered: {missing}"
