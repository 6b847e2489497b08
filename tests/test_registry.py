"""The query registry: every declared query exactly once, in declaration
order, assembled from the module list in ``plans/catalog.py``. No Spark
session needed."""

from __future__ import annotations

import re
from dataclasses import replace
from importlib import import_module
from pathlib import Path

import pytest

from postgresimporter_spark.plans import catalog


def test_registry_is_every_declared_query_once_in_order():
    declared = catalog._relational_registry()
    for stem in catalog._MODULES:
        mod = import_module(f"postgresimporter_spark.plans.catalog_{stem}")
        declared += getattr(mod, f"{stem}_registry")()
    reg = catalog.registry()
    assert len(reg) == 328
    # Same names in the same order as the concatenation: nothing shadowed.
    assert list(reg) == [q.name for q in declared]
    assert all(reg[q.name].fn is q.fn for q in declared)


def test_every_catalog_module_is_listed():
    """A new ``catalog_<stem>.py`` with a ``<stem>_registry`` function
    cannot be left out of the registry silently."""
    stems = []
    for path in Path(catalog.__file__).parent.glob("catalog_*.py"):
        stem = path.stem.removeprefix("catalog_")
        if re.search(rf"^def {stem}_registry\(", path.read_text(), re.M):
            stems.append(stem)
    assert sorted(catalog._MODULES) == sorted(stems)


def test_duplicate_name_raises(monkeypatch):
    mod = import_module("postgresimporter_spark.plans.catalog_batch81")
    original = mod.batch81_registry
    q01 = catalog._relational_registry()[0]
    monkeypatch.setattr(
        mod, "batch81_registry", lambda: [*original(), replace(q01, description="dup")]
    )
    with pytest.raises(ValueError, match="q01_pricing_summary"):
        catalog.registry()


def test_spark_entry_contract_matches_registry():
    import __spark_entry__ as entry

    reg = catalog.registry()
    assert set(entry.queries()) == set(reg)
    assert set(entry.oracle_sql()) == {n for n, q in reg.items() if q.oracle is not None}
