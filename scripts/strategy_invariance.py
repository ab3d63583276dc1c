"""Physical-strategy invariance probe: run every registry query at
sf0.01 under several execution regimes and require bit-identical values
(exact float repr through ``canon``, so even sub-1e-9 drift fails):

  baseline     — the engine's session defaults (AQE on, 64 MiB
                 auto-broadcast threshold), 32 shuffle partitions
  partitions-7 — spark.sql.shuffle.partitions=7: float-sum association
                 order changes with partitioning, so a diff is a latent
                 cluster-scale nondeterminism (a 1000-executor cluster
                 re-associates every partial aggregate)
  no-aqe       — spark.sql.adaptive.enabled=false: no runtime
                 coalescing, no skew-join splitting, no
                 broadcast-join conversion
  no-auto-bc   — autoBroadcastJoinThreshold=-1 (both static and AQE
                 variants): every non-hinted join falls back to
                 sort-merge / shuffled-hash
  no-codegen   — whole-stage codegen off (interpreted evaluation)

Why this is a 100 TB gate and not local busywork: on a 1000-executor
cluster the SAME query text gets DIFFERENT physical plans than on
local[32] at sf0.01 — dims that broadcast locally exceed the threshold
at scale, AQE makes different coalesce/skew decisions per run, and a
skew-split executes a join in a different grouping order. A query
whose VALUES depend on which physical strategy ran (e.g. a float
aggregation associating differently through a broadcast-hash vs
sort-merge join, or a row_number tie broken by arrival order) is a
correctness bug that only manifests after deployment. Explicit
F.broadcast() hints are unaffected by the threshold — those are design
decisions, and the probe intentionally leaves them in place.

Usage: python scripts/strategy_invariance.py [query ...]
Exit 1 if any query's canonicalized rows differ across regimes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trackdechets_etl_spark.canon import canon
from trackdechets_etl_spark.queries import all_queries
from trackdechets_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"

REGIMES = {
    "baseline": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.shuffle.partitions": "32",
    },
    "partitions-7": {
        "spark.sql.shuffle.partitions": "7",
    },
    "no-aqe": {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    },
    "no-auto-bc": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
    # interpreted evaluation vs whole-stage codegen: the generated-code
    # path fuses expressions differently than the interpreted one — a
    # known Spark divergence class for float expressions. Values must
    # not depend on which evaluator ran.
    "no-codegen": {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.codegen.wholeStage": "false",
    },
}

# Baseline value for every key any regime touches, so switching
# regimes always resets the full set.
_ALL_KEYS_BASELINE = {
    "spark.sql.codegen.wholeStage": "true",
    **REGIMES["baseline"],
}

# REGIMES=no-codegen python scripts/strategy_invariance.py  — run a
# subset of the variant regimes (baseline always runs). Unknown regime
# names are an error, not a silent no-op: a typo must not shrink a
# standing gate to a baseline-only vacuous green.
_only_regimes = [r for r in os.environ.get("REGIMES", "").split(",") if r]
if _only_regimes:
    _unknown = [r for r in _only_regimes if r not in REGIMES or r == "baseline"]
    if _unknown:
        print(f"unknown REGIMES: {_unknown} (valid: "
              f"{[k for k in REGIMES if k != 'baseline']})", file=sys.stderr)
        sys.exit(2)
    REGIMES = {
        k: v
        for k, v in REGIMES.items()
        if k == "baseline" or k in _only_regimes
    }


def main() -> None:
    spark = get_spark(app_name="strategy_invariance")
    registry = all_queries()
    only = sys.argv[1:]
    unknown = [n for n in only if n not in registry]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(2)
    bad = []
    for name, spec in registry.items():
        if only and name not in only:
            continue
        results = {}
        try:
            for regime, conf in REGIMES.items():
                for k, v in {**_ALL_KEYS_BASELINE, **conf}.items():
                    spark.conf.set(k, v)
                df = spec.fn(spark, SF_DIR)
                results[regime] = canon(
                    [tuple(r) for r in df.collect()], df.columns
                )
        except Exception as exc:
            bad.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        finally:
            for k, v in _ALL_KEYS_BASELINE.items():
                spark.conf.set(k, v)
        base = results["baseline"]
        diffs = [
            r for r in REGIMES if r != "baseline" and results[r] != base
        ]
        if diffs:
            bad.append(name)
            print(f"{name}: DIFF under {diffs} (baseline rows={len(base)})")
            for r in diffs:
                other = results[r]
                if len(other) == len(base):
                    d = next(
                        i for i, (x, y) in enumerate(zip(base, other)) if x != y
                    )
                    print(f"  {r}: first-diff row {d}")
                    print(f"    base={base[d]}\n    {r}={other[d]}")
                else:
                    print(f"  {r}: rows {len(base)} vs {len(other)}")
        else:
            print(f"{name}: ok ({len(base)} rows)")
    print(f"\n{len(bad)} strategy-variant queries" + (f": {bad}" if bad else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
