"""The plan-snapshot canonicalizer renumbers lambda variables within
each plan: a shifted session counter hashes the same, a changed
reference does not. The snapshot text keeps every field of a wide
plan, and the plans cut by a materialization."""

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


def _zip_plan(x: int, y: int, body: tuple[int, int]) -> str:
    a, b = body
    return (
        f"Project [zip_with(xs#11, ys#12, lambdafunction((lambda x_{a}#21 "
        f"* lambda y_{b}#22), lambda x_{x}#21, lambda y_{y}#22, false)) AS z#30]"
    )


def test_shifted_second_lambda_variable_is_equal():
    early = _zip_plan(2, 400, body=(2, 400))
    late = _zip_plan(2, 406, body=(2, 406))
    assert plan_snapshot.canon_plan(early) == plan_snapshot.canon_plan(late)
    swapped = _zip_plan(2, 400, body=(2, 2))
    assert plan_snapshot.canon_plan(early) != plan_snapshot.canon_plan(swapped)


def _distinct_plan(cols: tuple[str, str], gid_of: dict[str, int], base: int) -> str:
    """A two-distinct-count aggregate as Spark prints it: ``cols`` is the
    order of the distinct columns, ``gid_of`` the group id of each
    column's Expand row, ``base`` shifts every expression id."""
    ids = {"ls": base + 4, "rf": base + 5}
    child = {"ls": base - 21, "rf": base - 22}

    def row(c: str) -> str:
        return "[" + ", ".join(
            [f"{k}#{child[k]}" if k == c else "null" for k in cols]
            + [str(gid_of[c]), "null"]
        ) + "]"

    attrs = ", ".join(f"{c}#{ids[c]}" for c in cols)
    return (
        f"HashAggregate(keys=[], functions=[partial_first(sum(nxy)#{base + 7}L, true) "
        f"FILTER (WHERE (gid#{base + 3} = 0)), "
        f"partial_count(rf#{ids['rf']}) FILTER (WHERE (gid#{base + 3} = {gid_of['rf']})), "
        f"partial_count(ls#{ids['ls']}) FILTER (WHERE (gid#{base + 3} = {gid_of['ls']}))])\n"
        f"+- HashAggregate(keys=[{attrs}, gid#{base + 3}], functions=[sum(nxy#{base + 6}L)])\n"
        f"   +- Exchange hashpartitioning({attrs}, gid#{base + 3}, 4)\n"
        f"      +- Expand [[null, null, 0, nxy#{base - 20}L], "
        + ", ".join(row(c) for c in cols)
        + f"], [{attrs}, gid#{base + 3}, nxy#{base + 6}L]"
    )


def test_swapped_expand_rows_with_their_gid_filters_are_equal():
    a = _distinct_plan(("ls", "rf"), {"ls": 1, "rf": 2}, base=100)
    b = _distinct_plan(("ls", "rf"), {"ls": 2, "rf": 1}, base=300)
    assert plan_snapshot.canon_plan(a) == plan_snapshot.canon_plan(b)


def test_swapped_distinct_columns_are_equal():
    a = _distinct_plan(("ls", "rf"), {"ls": 1, "rf": 2}, base=100)
    b = _distinct_plan(("rf", "ls"), {"rf": 1, "ls": 2}, base=300)
    assert plan_snapshot.canon_plan(a) == plan_snapshot.canon_plan(b)


def test_group_bound_to_the_wrong_column_differs():
    a = _distinct_plan(("ls", "rf"), {"ls": 1, "rf": 2}, base=100)
    wrong = a.replace("(gid#103 = 2)", "(gid#103 = 9)").replace(
        "(gid#103 = 1)", "(gid#103 = 2)"
    ).replace("(gid#103 = 9)", "(gid#103 = 1)")
    assert wrong != a
    assert plan_snapshot.canon_plan(a) != plan_snapshot.canon_plan(wrong)


def _wide_select(spark, col28: str):
    """A 30-column select whose 28th column is named ``col28``."""
    from pyspark.sql import functions as F

    names = [f"c{i}" for i in range(30)]
    names[27] = col28
    return spark.range(3).select(*[(F.col("id") + i).alias(n) for i, n in enumerate(names)])


def test_plans_differing_past_the_field_cut_differ(spark):
    a = plan_snapshot.plan_text(_wide_select(spark, "c27"))
    b = plan_snapshot.plan_text(_wide_select(spark, "other"))
    assert "more fields" not in a
    assert a != b
    assert plan_snapshot.first_difference(a, b) != ("", "")


def _count_after_cut(spark, modulus: int):
    """A count over a frame that ``session.materialize`` cut after a
    filter on ``modulus``."""
    from pyspark.sql import functions as F

    from trackdechets_etl_spark.session import materialize

    cut = materialize(spark.range(100).filter(F.col("id") % modulus == 0))
    return cut.groupBy().count()


def test_change_before_a_cut_shows(spark):
    from pyspark.sql.classic.dataframe import DataFrame

    original = DataFrame.localCheckpoint
    entries = []
    for modulus in (2, 3):
        with plan_snapshot.recording_cuts() as cuts:
            plan = plan_snapshot.plan_text(_count_after_cut(spark, modulus))
            entries.append((plan, plan_snapshot.snapshot_entry(cuts, plan)))
    assert DataFrame.localCheckpoint is original
    (plan_2, entry_2), (plan_3, entry_3) = entries
    # the returned plan only scans the cut, so it hides the filter
    assert plan_2 == plan_3
    assert entry_2 != entry_3
    assert "% 2" in plan_snapshot.first_difference(entry_2, entry_3)[0]
