"""Registry shape, checked without a Spark session: the pinned front of
the registry, every query module contributing to it, and each query
family that has one home module living there."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

from trackdechets_etl_spark import queries
from trackdechets_etl_spark.queries import _VERIFY_FIRST, all_queries


def test_front_is_verify_first():
    assert list(all_queries())[:50] == _VERIFY_FIRST


def test_every_module_contributes():
    registry = all_queries()
    idle = []
    for info in pkgutil.iter_modules(queries.__path__):
        if info.name.startswith("_"):
            continue
        mod = importlib.import_module(f"{queries.__name__}.{info.name}")
        contributed = getattr(mod, "QUERIES", {})
        if not contributed or any(
            registry.get(n) is not spec for n, spec in contributed.items()
        ):
            idle.append(info.name)
    assert not idle, f"modules not fully registered: {idle}"


@pytest.mark.parametrize("family", ["graph", "sim"])
def test_family_lives_in_its_module(family):
    """Every ``{family}_*`` query is defined and registered in
    ``queries/{family}.py``, the family's one home, and that module
    registers nothing else."""
    home = f"{queries.__name__}.{family}"
    stray = {}
    for info in pkgutil.iter_modules(queries.__path__):
        if info.name.startswith("_"):
            continue
        mod = importlib.import_module(f"{queries.__name__}.{info.name}")
        for name, spec in mod.QUERIES.items():
            in_family = name.startswith(f"{family}_")
            at_home = mod.__name__ == spec.fn.__module__ == home
            if in_family != at_home or (mod.__name__ == home and not in_family):
                stray[name] = (mod.__name__, spec.fn.__module__)
    assert importlib.import_module(home).QUERIES
    assert not stray, f"{family} family outside queries/{family}.py: {stray}"
