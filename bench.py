"""Headline-query benchmark.

Runs the engine's representative queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced through the noop sink (full computation of every
column, nothing collected to the driver) after a warm-up of the
session. Wall-clock per query, one pass.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from perfbench.workloads import HEADLINE
from trackdechets_etl_spark.queries import all_queries
from trackdechets_etl_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="bench")

    registry = all_queries()
    # Warm up the JVM and parquet footer caches with the cheapest query,
    # and the Python worker pool with a no-op mapInPandas — otherwise the
    # first pandas-path query pays worker spawn + Arrow init and the
    # per-query numbers measure startup, not the operator.
    registry["flagship_revenue_by_nation"].fn(spark, sf_dir).count()
    spark.range(64).mapInPandas(lambda it: it, "id long").count()

    # Fixed calibration probes (VERDICT r7): constant workloads whose
    # plans never change round-over-round, so a shift in THEIR timings
    # is machine-state evidence (co-tenant load, JVM/CPU throttling),
    # while flat calibration + inflated queries would indict the plans.
    # Scan-bound, pure-JVM-CPU (parallel over 32 range partitions), and
    # — added r11 — shuffle-bound: a fixed wide groupBy whose exchange
    # writes/reads local shuffle files. The r11 session saw a box where
    # scan and cpu sat in the anchor band while every shuffle-heavy
    # query ran uniformly ~30% high — only a shuffle probe can separate
    # "slow shuffle disk/page cache" from a plan regression.
    def run_probes() -> tuple[list[float], list[float], list[float]]:
        scan: list[float] = []
        cpu: list[float] = []
        shuffle: list[float] = []
        for _ in range(5):
            t0 = time.perf_counter()
            spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
                "sum(l_extendedprice)", "count(*)"
            ).collect()
            scan.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            spark.range(200_000_000).selectExpr(
                "sum(cast(id % 1000003 as double) * (id % 999983))"
            ).collect()
            cpu.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            spark.range(20_000_000).selectExpr(
                "id % 1000003 as k", "cast(id as double) as v"
            ).groupBy("k").sum("v").selectExpr(
                "sum(`sum(v)`)", "count(*)"
            ).collect()
            shuffle.append(time.perf_counter() - t0)
        return scan, cpu, shuffle

    calib_scan, calib_cpu, calib_shuffle = run_probes()
    # Probe gate (VERDICT r12 ask #5): the repo's three-probe anchor
    # (docs/SCALE.md, round-12 section) puts a quiet box at
    # shuffle ≈ 0.912 s. BENCH_r12 ran at loadavg 8.7 with the shuffle
    # probe at 1.086 and the round's total had to be adjudicated from a
    # separate quiet-box run — so when the probe lands >1.2× the anchor
    # band at the reference SF, wait out the burst once and re-probe;
    # if it is STILL above, the JSON self-annotates as a noisy-box run
    # instead of leaving the call to round-over-round argument. The
    # anchor is sf0.1-specific (probe workloads are fixed but the scan
    # probe reads the SF's lineitem), so the gate only arms there.
    # The constant is box- and SF-specific (r13 advice): it comes from
    # the docs/SCALE.md round-13 "NEW ANCHOR" row (shuffle 0.967 on a
    # quiet box, 0.912 the round-12 quiet floor). Override via
    # SPARK_GRAFT_ANCHOR_SHUFFLE_SEC when the host or probe workload
    # changes; the JSON emits the anchor used + its provenance so a
    # stale anchor is visible in BENCH_r{N} itself.
    ANCHOR_SHUFFLE_SEC = float(
        os.environ.get("SPARK_GRAFT_ANCHOR_SHUFFLE_SEC", "0.912")
    )
    ANCHOR_PROVENANCE = (
        "env:SPARK_GRAFT_ANCHOR_SHUFFLE_SEC"
        if "SPARK_GRAFT_ANCHOR_SHUFFLE_SEC" in os.environ
        else "docs/SCALE.md round-12 quiet-box shuffle probe (default)"
    )
    PROBE_BAND = 1.2
    # r15 (VERDICT r14 ask #2): the one-time 60 s wait is now a bounded
    # quiet-window retry loop — up to MAX_REPROBES re-probe rounds, each
    # after a 60 s wait, stopping as soon as one lands inside the band —
    # so a single co-tenant burst at launch no longer condemns the whole
    # run to `noisy_box: true`. Bounded (≤ 3 min extra) so the driver's
    # time budget is respected; `noisy_box` reads the LAST re-probe set.
    MAX_REPROBES = 3
    probe_reprobes = 0
    noisy_box = False
    if sf == 0.1:
        last_min = min(calib_shuffle)
        while (
            last_min > PROBE_BAND * ANCHOR_SHUFFLE_SEC
            and probe_reprobes < MAX_REPROBES
        ):
            probe_reprobes += 1
            print(
                f"# shuffle probe {last_min:.3f}s > "
                f"{PROBE_BAND}x anchor {ANCHOR_SHUFFLE_SEC}s — waiting "
                f"60s and re-probing ({probe_reprobes}/{MAX_REPROBES})",
                file=sys.stderr,
            )
            time.sleep(60)
            s2, c2, sh2 = run_probes()
            calib_scan += s2
            calib_cpu += c2
            calib_shuffle += sh2
            last_min = min(sh2)
        noisy_box = last_min > PROBE_BAND * ANCHOR_SHUFFLE_SEC
    probe_retried = probe_reprobes > 0

    # Min-of-N per query: the box is shared, and a single co-tenant
    # burst can inflate one query 5-10× — and can span several
    # back-to-back passes, which is how sub-second queries have shown
    # phantom 1.7× "regressions" under a fixed pass count. So instead
    # of an absolute retry threshold, use a STABILITY criterion: keep
    # sampling (3..7 passes) until the two fastest passes agree within
    # 25% — two independent passes landing close means the min is the
    # machine's floor, not the tail of a burst.
    MAX_PASSES = 7
    load_before = os.getloadavg()
    timings: dict[str, float] = {}
    raw_samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = registry[name].fn
        samples: list[float] = []
        while len(samples) < 3 or (
            len(samples) < MAX_PASSES
            and sorted(samples)[1] > 1.25 * min(samples)
        ):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - start)
        timings[name] = round(min(samples), 3)
        raw_samples[name] = [round(s, 3) for s in samples]
        print(
            f"# {name}: {timings[name]}s ({len(samples)} passes)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # Environment evidence so cross-round noise is adjudicable without
    # guessing (VERDICT r5): every raw pass per query plus the 1/5/15 min
    # load average before and after the run. A co-tenant burst shows up
    # as (a) inflated load and (b) a wide min-to-median spread in the
    # raw samples; a genuine plan regression shows neither.
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "samples": raw_samples,
                "calibration_scan_sec": round(min(calib_scan), 3),
                "calibration_cpu_sec": round(min(calib_cpu), 3),
                "calibration_shuffle_sec": round(min(calib_shuffle), 3),
                "calibration_samples": {
                    "scan": [round(s, 3) for s in calib_scan],
                    "cpu": [round(s, 3) for s in calib_cpu],
                    "shuffle": [round(s, 3) for s in calib_shuffle],
                },
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in os.getloadavg()],
                "anchor_shuffle_sec": ANCHOR_SHUFFLE_SEC,
                "anchor_provenance": ANCHOR_PROVENANCE,
                "probe_retried": probe_retried,
                "probe_reprobes": probe_reprobes,
                "noisy_box": noisy_box,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
