"""Snapshot every registry query's pre-execution physical plan at
sf0.01 into one JSON file (name -> md5 of the canonicalized plan
string), so a refactor can prove "the physical plan the driver
executes did not change" query by query.

Canonicalization strips plan/exprId churn that is not physical:
#NNN expression ids, plan_id=NNN tags, and checkpoint RDD ids.

Usage:
    python scripts/plan_snapshot.py out.json [names...]
    python scripts/plan_snapshot.py --diff a.json b.json
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def canon_plan(s: str) -> str:
    s = re.sub(r"#\d+", "#x", s)
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
    ids: dict[str, int] = {}
    return re.sub(
        r"\bx_(\d+)",
        lambda m: f"x_{ids.setdefault(m.group(1), len(ids))}",
        s,
    )


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
    for name in sorted(registry):
        spec = registry[name]
        if only and name not in only:
            continue
        try:
            plan = (
                spec.fn(spark, SF_DIR)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            snap[name] = hashlib.md5(canon_plan(plan).encode()).hexdigest()
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
