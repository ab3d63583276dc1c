"""The plan-snapshot canonicalizer renumbers lambda variables within
each plan: a shifted session counter hashes the same, a changed
reference does not."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_path = Path(__file__).resolve().parents[1] / "scripts" / "plan_snapshot.py"
_spec = importlib.util.spec_from_file_location("plan_snapshot", _path)
plan_snapshot = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_snapshot)


def _plan(outer: int, inner: int, body: tuple[int, int]) -> str:
    a, b = body
    return (
        f"Project [transform(xs#11, lambdafunction(transform(ys#12, "
        f"lambdafunction((lambda x_{a}#21 * lambda x_{b}#22), "
        f"lambda x_{inner}#22, false)), lambda x_{outer}#21, false)) AS z#30]"
    )


def test_swapped_lambda_reference_differs():
    both = _plan(3, 5, body=(3, 5))
    inner_only = _plan(3, 5, body=(5, 5))
    assert plan_snapshot.canon_plan(both) != plan_snapshot.canon_plan(inner_only)


def test_shifted_lambda_counter_is_equal():
    early = _plan(3, 5, body=(3, 5))
    late = _plan(103, 105, body=(103, 105))
    assert plan_snapshot.canon_plan(early) == plan_snapshot.canon_plan(late)
