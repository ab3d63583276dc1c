"""Registry shape, checked without a Spark session: the pinned front of
the registry, and every query module contributing to it."""

from __future__ import annotations

import importlib
import pkgutil

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
