"""Snapshot every registry query's pre-execution physical plan at
sf0.01 into one JSON file (name -> canonicalized plan text), so a
refactor can prove "the physical plan Spark executes did not
change" query by query, and ``--diff`` can show where a plan changed.

A query that cuts its lineage while it is built (``session.materialize``
checkpoints a frame) returns a plan that only scans the stored result,
so each entry is the plan of every cut, in order, followed by the plan
the query returns: a change before a cut still shows.

Canonicalization strips plan/exprId churn that is not physical:
#NNN expression ids, plan_id=NNN tags, checkpoint RDD ids, and the
hash-ordered columns and group ids of multi-distinct aggregates.

Usage:
    python scripts/plan_snapshot.py out.json [names...]
    python scripts/plan_snapshot.py --diff a.json b.json
"""

from __future__ import annotations

import json
import os
import re
import sys
from contextlib import contextmanager
from itertools import zip_longest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# Spark prints at most spark.sql.debug.maxToStringFields (default 25)
# entries of a field list and replaces the rest by "... N more fields",
# so two plans that differ past the cut would print the same.
_MAX_TO_STRING_FIELDS = "1000000"


def _split_top(s: str) -> list[str]:
    """Split ``s`` on the commas that sit outside any bracket."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _bracket_end(s: str, i: int) -> int:
    """Index just past the bracket that opens at ``s[i]``."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([":
            depth += 1
        elif s[j] in ")]":
            depth -= 1
            if depth == 0:
                return j + 1
    raise ValueError("unbalanced brackets")


def _strip_ids(s: str) -> str:
    return re.sub(r"#\d+", "#x", s)


def _canon_expand(plan: str, start: int) -> str:
    """Put the multi-distinct ``Expand`` whose row list opens at
    ``plan[start]`` into a fixed column and row order.

    Spark's distinct-aggregate rewrite orders the distinct children and
    numbers their groups (``gid``) by a hash of expression ids, so the
    same query planned after a different number of ids prints its
    columns, rows and ``gid`` literals in another order. The distinct
    columns (those before ``gid`` that are null in some row) are sorted
    by name, in the rows and wherever the plan lists them together; the
    rows are sorted with ``gid`` left out and renumbered in that order,
    and every ``(gid#N = k)`` of this ``gid`` is remapped to match. A
    filter that binds a group to another column still differs."""
    rows_end = _bracket_end(plan, start)
    if not plan.startswith(", [", rows_end):
        return plan
    out_end = _bracket_end(plan, rows_end + 2)
    rows = [_split_top(r[1:-1]) for r in _split_top(plan[start + 1 : rows_end - 1])]
    out = _split_top(plan[rows_end + 3 : out_end - 1])
    gids = [i for i, a in enumerate(out) if re.fullmatch(r"gid#\d+", a)]
    if len(gids) != 1 or any(len(r) != len(out) for r in rows):
        return plan
    g = gids[0]
    first = g
    while first > 0 and any(r[first - 1] == "null" for r in rows):
        first -= 1
    order = list(range(first)) + sorted(
        range(first, g), key=lambda i: _strip_ids(out[i])
    ) + list(range(g, len(out)))
    rows = [[r[i] for i in order] for r in rows]
    rows.sort(key=lambda r: _strip_ids(", ".join(r[:g] + r[g + 1 :])))
    remap = {r[g]: str(k) for k, r in enumerate(rows)}
    for k, r in enumerate(rows):
        r[g] = str(k)
    new_expand = (
        "[" + ", ".join("[" + ", ".join(r) + "]" for r in rows) + "], ["
        + ", ".join(out[i] for i in order) + "]"
    )
    plan = plan[:start] + new_expand + plan[out_end:]
    old_run = ", ".join(out[first:g])
    new_run = ", ".join(out[i] for i in order[first:g])
    plan = re.sub(rf"(?<![\w#]){re.escape(old_run)}(?!\w)", lambda _: new_run, plan)
    return re.sub(
        rf"\({re.escape(out[g])} = (\d+)\)",
        lambda m: f"({out[g]} = {remap.get(m.group(1), m.group(1))})",
        plan,
    )


def canon_plan(s: str) -> str:
    pos = 0
    while (i := s.find("Expand [[", pos)) >= 0:
        s = _canon_expand(s, i + len("Expand "))
        pos = i + 1
    s = _strip_ids(s)
    s = re.sub(r"plan_id=\d+", "plan_id=x", s)
    s = re.sub(r"\[id=#?\d+\]", "[id=x]", s)
    s = re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[x]", s)
    s = re.sub(r"LocalCheckpointRDD\s*\[\d+\]", "LocalCheckpointRDD[x]", s)
    # Higher-order-function lambda variables print as x_N / namedlambda
    # ids drawn from a SESSION-GLOBAL counter, so their numbering
    # depends on how many HOF lambdas were planned earlier in the
    # process — registry reordering alone renumbers every later query
    # (r15: 59 false "changed plans" in the r14→r15 diff before this
    # rule; all were HOF consumers downstream of the reordered front).
    # Renumber them in order of first appearance within the plan, so a
    # plan that swaps which lambda variable it references still differs.
    # A two-argument lambda's second variable prints as y_N and a
    # third's as z_N, numbered from the same counter.
    ids: dict[str, int] = {}
    return re.sub(
        r"\b([xyz])_(\d+)",
        lambda m: f"{m.group(1)}_{ids.setdefault(m.group(2), len(ids))}",
        s,
    )


def plan_text(df) -> str:
    """Canonical text of ``df``'s executed plan with every field
    printed: raises the field-list cut of ``df``'s session first."""
    df.sparkSession.conf.set(
        "spark.sql.debug.maxToStringFields", _MAX_TO_STRING_FIELDS
    )
    return canon_plan(df._jdf.queryExecution().executedPlan().toString())


# The line between two plans of one snapshot entry.
_CUT = "=== materialize cut ==="


@contextmanager
def recording_cuts():
    """Within the block, every ``localCheckpoint``/``checkpoint`` of a
    DataFrame first appends the canonical text of the plan it cuts to
    the yielded list. Reading the plan of an analyzed frame starts no
    job."""
    from pyspark.sql.classic.dataframe import DataFrame

    cuts: list[str] = []

    def recorded(method):
        def cut(self, *args, **kwargs):
            cuts.append(plan_text(self))
            return method(self, *args, **kwargs)

        return cut

    originals = {m: getattr(DataFrame, m) for m in ("localCheckpoint", "checkpoint")}
    for m, method in originals.items():
        setattr(DataFrame, m, recorded(method))
    try:
        yield cuts
    finally:
        for m, method in originals.items():
            setattr(DataFrame, m, method)


def snapshot_entry(cuts: list[str], plan: str) -> str:
    """One snapshot entry: the plans of ``cuts`` in order, then ``plan``."""
    return f"\n{_CUT}\n".join([*cuts, plan])


def first_difference(a: str, b: str) -> tuple[str, str]:
    """The first line at which plan texts ``a`` and ``b`` differ, from
    each side (``""`` where one side has run out of lines)."""
    for x, y in zip_longest(a.splitlines(), b.splitlines(), fillvalue=""):
        if x != y:
            return x, y
    return "", ""


def main() -> None:
    if sys.argv[1:2] == ["--diff"]:
        a = json.load(open(sys.argv[2]))
        b = json.load(open(sys.argv[3]))
        # An ERROR:<type> value is not plan-identity evidence: a query
        # that fails to plan in both snapshots must be reported, never
        # silently counted as unchanged.
        errored = sorted(
            k
            for k in a.keys() & b.keys()
            if str(a[k]).startswith("ERROR:") or str(b[k]).startswith("ERROR:")
        )
        changed = sorted(
            k
            for k in a.keys() & b.keys()
            if a[k] != b[k] and k not in errored
        )
        only = sorted(a.keys() ^ b.keys())
        print(f"{len(changed)} changed plans" + (f": {changed}" if changed else ""))
        for k in changed:
            x, y = first_difference(a[k], b[k])
            print(f"{k}:\n  - {x.strip()}\n  + {y.strip()}")
        if errored:
            print(f"{len(errored)} ERROR entries (no plan evidence): {errored}")
        if only:
            print(f"{len(only)} present in only one snapshot: {only}")
        sys.exit(1 if changed or only or errored else 0)

    from trackdechets_etl_spark.queries import all_queries
    from trackdechets_etl_spark.session import get_spark

    out_path = sys.argv[1]
    only = sys.argv[2:]
    spark = get_spark(app_name="plan_snapshot")
    registry = all_queries()
    unknown = [n for n in only if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    snap = {}
    # Iterate in sorted-name order, NOT registry order: expression-id
    # and lambda-id counters are session-global, so two snapshots taken
    # with different _VERIFY_FIRST window orders would renumber every
    # later query's plan and flag false diffs (r15: the window rotation
    # alone "changed" 42 untouched plans before this pin).
    with recording_cuts() as cuts:
        for name in sorted(registry):
            spec = registry[name]
            if only and name not in only:
                continue
            cuts.clear()
            try:
                plan = plan_text(spec.fn(spark, SF_DIR))
                snap[name] = snapshot_entry(cuts, plan)
            except Exception as exc:
                snap[name] = f"ERROR:{type(exc).__name__}"
                print(f"{name}: ERROR {exc}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(snap, f, indent=0, sort_keys=True)
    errors = sorted(
        k for k, v in snap.items() if str(v).startswith("ERROR:")
    )
    print(f"{len(snap)} plans -> {out_path}")
    if errors:
        print(f"{len(errors)} ERRORS recorded: {errors}", file=sys.stderr)
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
