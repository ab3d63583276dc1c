"""Driver-mirror correctness pass at sf0.01 (the driver's t2 scale).

Set SELFCHECK_SF_DIR to run the same compare at another scale (e.g.
/root/testdata/sf0.1 for the 10x determinism probe).

Runs every registry query in Spark AND DuckDB-oracle, canonicalizes
like the driver (sort columns by name, order-insensitive row compare),
prints one line per query and a final summary. Exit 1 on any mismatch.
Rows are compared through ``trackdechets_etl_spark.canon.canon``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from trackdechets_etl_spark.canon import canon
from trackdechets_etl_spark.io.readers import ALL_TABLES
from trackdechets_etl_spark.queries import all_queries
from trackdechets_etl_spark.session import get_spark

SF_DIR = os.environ.get("SELFCHECK_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    spark = get_spark(app_name="selfcheck")
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    registry = all_queries()
    only = sys.argv[1:]
    bad = []
    for name, spec in registry.items():
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            if spec.oracle is None:
                print(f"{name}: rows={len(srows)} (no oracle)")
                continue
            cur = con.execute(spec.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            bad.append(name)
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
            continue
        if sorted(scols) != sorted(ocols):
            bad.append(name)
            print(f"{name}: SCHEMA spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        cs, co = canon(srows, scols), canon(orows, ocols)
        if len(cs) != len(co):
            bad.append(name)
            print(f"{name}: ROWS spark={len(cs)} oracle={len(co)}")
        elif cs != co:
            bad.append(name)
            diff = next(i for i, (a, b) in enumerate(zip(cs, co)) if a != b)
            print(f"{name}: VALUES first-diff row {diff}:\n  S={cs[diff]}\n  O={co[diff]}")
        else:
            print(f"{name}: ok ({len(cs)} rows)")
    print(f"\n{len(bad)} mismatches" + (f": {bad}" if bad else ""))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
