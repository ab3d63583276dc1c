"""End-to-end and per-layer benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_pipelines --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --smoke

One process, one client, closed loop: the workload's queries run one
after another on ``local[N]`` with N = the machine's core count. A run

1. writes the input corpus (``datagen``; fixed data, cached, untimed);
2. times set-up: importing the package, ``session.get_spark`` and
   ``queries.all_queries`` (``setup_s``);
3. runs the cold pass, the first pass in the fresh session
   (``cold_pass_s``, reported with the per-layer metrics), in the query
   order ``--seed`` gives; then, untimed, compares each query's output
   with its DuckDB oracle;
4. with ``--trace 1``, runs one untimed pass that checks that the traced
   passes see every ``read_table`` call;
5. runs a fixed number of warm passes that fills about ``--seconds``
   (``workloads.warm_passes``); ``pass_s`` and ``cpu_s`` sum each query's
   fastest time over them. With ``--trace 1`` each of the last warm passes
   (``workloads.TRACED_PASSES``) is followed by a traced pass, which yields
   the per-layer metrics and the tracing overhead.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; a readable report goes to
standard error. ``failed`` counts query executions that raised or
returned a wrong result, so ``failed / attempted`` is the failure rate.
Run records and span traces are kept under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
PACKAGE_INIT = ROOT / "trackdechets_etl_spark" / "__init__.py"
SPEC = ROOT / "BENCHMARK.json"
# The layer span recorded around each sink call in a traced pass.
LAYER_OF_SINK = {
    "parquet": "io.writers.write_parquet",
    "csv": "plans.to_csv_payload",
}


def host_cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="workload name, or 'all'")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke",
        action="store_true",
        help="with --workload all: assert every metric of BENCHMARK.json is "
        "reported for every workload and nothing failed",
    )
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    for sub in ("tmp", "spark-local", "out"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    sys.path.insert(0, str(ROOT))


class Session:
    """The engine under test: a Spark session and the query registry,
    with the set-up timings of the calls that produced them."""

    def __init__(self):
        t0 = time.perf_counter()
        from trackdechets_etl_spark.session import get_spark

        t1 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
                # Keep the JVM's temporary files inside WORK; without
                # perf data it writes no hsperfdata file to /tmp.
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
                ),
            },
        )
        t2 = time.perf_counter()
        from trackdechets_etl_spark.queries import all_queries

        self.registry = all_queries()
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self.get_spark_s = t2 - t1
        self.all_queries_s = t3 - t2
        self.cores = self.spark.sparkContext.defaultParallelism

    def environment(self) -> dict:
        jvm = self.spark.sparkContext._jvm
        return {
            "cores": self.cores,
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
        }

    def pids(self) -> list[int]:
        return [os.getpid(), self.spark.sparkContext._gateway.proc.pid]

    def stop(self) -> None:
        sc = self.spark.sparkContext
        gateway = sc._gateway
        self.spark.stop()
        gateway.shutdown()
        # The JVM exits when its stdin closes; wait so no process outlives us.
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class PassRecord:
    def __init__(self, traced: bool):
        self.traced = traced
        self.queries: dict[str, float] = {}  # wall seconds of each query
        self.query_cpu: dict[str, float] = {}  # executor CPU seconds of each query
        self.layers: dict[str, float] = {}
        self.py_cpu_s = 0.0

    @property
    def wall_s(self) -> float:
        return sum(self.queries.values())

    @property
    def cpu_s(self) -> float:
        return sum(self.query_cpu.values())


def best_pass(passes: list[PassRecord], field: str) -> float:
    """A pass as fast as the warm JVM allows: the sum over queries of each
    query's fastest run. The JIT still speeds passes up over the measured
    ones, so a per-query median lands wherever this run happens to be on
    that curve; the minimum also drops any pass a co-tenant slowed down."""
    per_query = [getattr(p, field) for p in passes]
    return sum(min(q[name] for q in per_query) for name in per_query[0])


class Runner:
    def __init__(self, session: Session, data_dir: Path, run_id: str):
        from spans import Tracer
        from sparkstats import StageReader
        from workloads import OracleCheck

        self.s = session
        self.data_dir = data_dir
        self.run_id = run_id
        self.stages = StageReader(session.spark)
        self.tracer = Tracer(run_id)
        self.oracle = OracleCheck(data_dir)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._passes = 0

    def collect_garbage(self) -> None:
        """Start each timed pass from the same heap state: drop the previous
        pass's DataFrames in Python, then let the JVM collect them and
        release their checkpoint blocks, outside the timed intervals."""
        gc.collect()
        self.s.spark.sparkContext._jvm.System.gc()

    def run_pass(self, workload: str, queries, traced=False, verify=False, keep=None):
        """Run every query once. ``traced`` records spans and per-layer
        metrics; ``verify`` also checks that the ``read_table`` wrapper saw
        every call; ``keep`` is filled with each query's DataFrame and
        sink result."""
        from sparkstats import StageTotals
        from spans import wrap_read_table

        self._passes += 1
        tag = f"{self.run_id}/p{self._passes}"
        rec = PassRecord(traced)
        kinds = {k: StageTotals() for k in ("build", "build/read_table", "sink")}

        def run_all(span):
            for name, sink in queries:
                group = f"{tag}/{name}"
                self._run_query(rec, group, name, sink, span, keep)
                # Read this query's stages now, outside its timed interval and
                # before later queries push them out of the status store.
                self.stages.drain()
                for kind, totals in kinds.items():
                    read = self.stages.read(f"{group}/{kind}")
                    totals.add(read)
                    rec.query_cpu[name] = rec.query_cpu.get(name, 0.0) + read.cpu_s

        if not traced:
            run_all(nullcontext)
            return rec
        with self.tracer.span(f"pass:{workload}") as pass_span:
            with wrap_read_table(self.tracer, self.s.spark, verify) as counts:
                run_all(self.tracer.span)
        wrapped, observed = counts()
        if verify and wrapped != observed:
            raise RuntimeError(
                f"{observed} read_table calls observed but {wrapped} wrapped: "
                "a module reaches read_table through a binding the wrapper missed"
            )
        rec.layers["io.readers.read_table.calls"] = wrapped
        everything = StageTotals()
        for totals in kinds.values():
            everything.add(totals)
        self._layer_metrics(rec, pass_span, kinds, everything)
        return rec

    def _run_query(self, rec, group, name, sink, span, keep) -> None:
        from workloads import run_sink

        sc = self.s.spark.sparkContext
        spec = self.s.registry[name]
        out_dir = WORK / "out" / name
        self.attempted += 1
        try:
            with span(f"query:{name}"):
                t0, cpu0 = time.perf_counter(), time.process_time()
                sc.setJobGroup(f"{group}/build", f"{name} build")
                with span("build"):
                    df = spec.fn(self.s.spark, str(self.data_dir))
                sc.setJobGroup(f"{group}/sink", f"{name} sink")
                layer = LAYER_OF_SINK.get(sink)
                with span("exec"), span(layer) if layer else nullcontext():
                    result = run_sink(sink, df, out_dir)
                rec.queries[name] = time.perf_counter() - t0
                rec.py_cpu_s += time.process_time() - cpu0
            if keep is not None:
                keep[name] = (df, result)
            if rec.traced and sink == "parquet":
                files = list(out_dir.glob("*.parquet"))
                L = rec.layers
                L["io.writers.files_out"] = L.get("io.writers.files_out", 0) + len(files)
                L["io.writers.bytes_out_mb"] = L.get("io.writers.bytes_out_mb", 0) + sum(
                    f.stat().st_size for f in files
                ) / 2**20
        except Exception as exc:  # one failed query must not end the run
            self._fail(name, exc)
            rec.queries[name] = float("nan")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _fail(self, name: str, exc: Exception) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {type(exc).__name__}: {exc}"[:500])

    def check(self, queries, kept: dict) -> None:
        """Compare the output each query gave in a pass with the query's
        oracle, outside the timed intervals. A wrong output counts as a
        failed execution."""
        sc = self.s.spark.sparkContext
        for name, sink in queries:
            if name not in kept:  # the execution raised and is counted already
                continue
            df, result = kept[name]
            sc.setJobGroup(f"{self.run_id}/check/{name}", f"{name} check")
            try:
                why = self.oracle.mismatch(
                    self.s.spark, self.s.registry[name].oracle, sink, df, result
                )
                if why:
                    raise AssertionError(why)
            except Exception as exc:
                self._fail(name, exc)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def _layer_metrics(self, rec, pass_span, per_kind, spark_totals) -> None:
        spans = [s for s in self.tracer.spans if s.start >= pass_span.start
                 and s.end <= pass_span.end]

        def total(name):
            return sum(s.end - s.start for s in spans if s.name == name)

        build_s = total("build")
        read_s = total("io.readers.read_table")
        L = rec.layers
        L.setdefault("io.writers.files_out", 0)
        L.setdefault("io.writers.bytes_out_mb", 0.0)
        L["io.readers.read_table.s"] = read_s
        L["io.readers.read_table.jobs"] = per_kind["build/read_table"].jobs
        L["queries.build.s"] = build_s
        L["queries.build.self_s"] = build_s - read_s
        L["queries.build.jobs"] = (
            per_kind["build"].jobs + per_kind["build/read_table"].jobs
        )
        L["driver.py_cpu_s"] = rec.py_cpu_s
        L["exec.s"] = total("exec")
        L["exec.jobs"] = per_kind["sink"].jobs
        L["io.writers.write_parquet.s"] = total("io.writers.write_parquet")
        L["plans.to_csv_payload.s"] = total("plans.to_csv_payload")
        for key in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "input_mb",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            L[f"spark.{key}"] = getattr(spark_totals, key)
        L["spark.idle_core_frac"] = 1 - spark_totals.executor_run_s / (
            self.s.cores * rec.wall_s
        )
        for name, secs in rec.queries.items():
            L[f"query.{name}.s"] = secs


def run_workload(runner: Runner, workload: str, seed: int, seconds: float, trace: int):
    """The cold pass, then the warm (and traced) passes."""
    from workloads import TRACED_PASSES, WORKLOADS, warm_passes

    t0 = time.perf_counter()
    queries = list(WORKLOADS[workload])
    random.Random(seed).shuffle(queries)
    kept = {}
    cold = runner.run_pass(workload, queries, keep=kept)
    t1 = time.perf_counter()
    runner.check(queries, kept)
    del kept
    t2 = time.perf_counter()
    if trace:
        # The call-counting hook slows driver-side Python, so it runs on an
        # extra pass whose figures are not reported.
        runner.collect_garbage()
        runner.run_pass(workload, queries, traced=True, verify=True)
    t3 = time.perf_counter()
    # The JIT keeps speeding passes up for many passes after the cold one,
    # so every run measures the same number of passes: a run on a faster
    # or slower box then still measures the same stretch of that curve.
    # A traced run follows each of its last warm passes with a traced one.
    n = warm_passes(workload, seconds)
    n_traced = min(n, TRACED_PASSES) if trace else 0
    warm, traced = [], []
    for i in range(n):
        runner.collect_garbage()
        warm.append(runner.run_pass(workload, queries))
        if i >= n - n_traced:
            runner.collect_garbage()
            traced.append(runner.run_pass(workload, queries, traced=True))
    phases = {"cold_s": t1 - t0, "check_s": t2 - t1, "verify_s": t3 - t2,
              "warm_s": time.perf_counter() - t3}
    e2e = {
        "setup_s": runner.s.setup_s,
        "pass_s": best_pass(warm, "queries"),
    }
    # A run has one cold pass, executor CPU time swings from run to run as
    # much as wall time does, and peak memory moves with when G1 grows the
    # heap: these figures are reported with the per-layer metrics, which
    # carry no bound (peak_rss_mb is added once the run is over).
    layers = {
        "cold_pass_s": cold.wall_s,
        "cpu_s": best_pass(warm, "query_cpu"),
    }
    if trace:
        layers["session.get_spark_s"] = runner.s.get_spark_s
        layers["queries.all_queries_s"] = runner.s.all_queries_s
        for key in traced[0].layers:
            layers[key] = statistics.median(p.layers[key] for p in traced)
        layers["trace.overhead_s"] = best_pass(traced, "queries") - e2e["pass_s"]
    passes = [
        {"kind": kind, "wall_s": p.wall_s, "cpu_s": p.cpu_s, "queries": p.queries,
         "query_cpu": p.query_cpu}
        for kind, group in (("cold", [cold]), ("warm", warm), ("traced", traced))
        for p in group
    ]
    return e2e, layers, passes, phases


def report(spec: dict, workload: str, e2e: dict, layers: dict, env: dict) -> None:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"== {workload}  {json.dumps(env)}", file=sys.stderr)
    for name, value in {**e2e, **layers}.items():
        unit = units.get(name) or ("s" if name.startswith("query.") else "")
        print(f"  {name:<44} {value:>14.6f} {unit}", file=sys.stderr)


def select(spec_metrics: list[dict], values: dict, workload: str) -> dict:
    """The metrics BENCHMARK.json names, each with its unit; a name the run
    did not produce is an error, never a silent zero."""
    out = {}
    for m in spec_metrics:
        name = m["name"]
        if name in values:
            out[name] = {"value": values[name], "unit": m["unit"]}
        elif name.startswith("query."):
            out[name] = {"value": 0.0, "unit": m["unit"]}  # query not in this workload
        else:
            raise RuntimeError(f"{workload}: metric {name} was not measured")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE_INIT.is_file() or not SPEC.is_file():
        print(
            "perfbench: run from a checkout of the repository "
            f"({PACKAGE_INIT.relative_to(ROOT)} and BENCHMARK.json are required)",
            file=sys.stderr,
        )
        return 2
    spec = json.loads(SPEC.read_text())
    prepare_environment()
    import datagen
    from sparkstats import peak_rss_mb
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    data_dir = datagen.ensure(WORK / "data")
    load_before = os.getloadavg()
    jiffies_before = host_cpu_jiffies()

    session = Session()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    runner = Runner(session, data_dir, run_id)
    results = {}
    try:
        for w in names:
            trace = 1 if args.workload == "all" else args.trace
            results[w] = run_workload(runner, w, args.seed, args.seconds, trace)
        rss_by_pid = {pid: peak_rss_mb(pid) for pid in session.pids()}
        env = {**session.environment(), "peak_rss_mb_by_pid": rss_by_pid,
               "loadavg_before": load_before}
    finally:
        runner.oracle.close()
        session.stop()
    env["loadavg_after"] = os.getloadavg()
    # The share of the machine's CPU time the hypervisor gave to other
    # guests during the run: a slow run on a busy host shows here.
    used = [b - a for a, b in zip(jiffies_before, host_cpu_jiffies())]
    env["steal_frac"] = used[7] / max(1, sum(used))

    metrics = {}
    for w, (e2e, layers, passes, phases) in results.items():
        layers["peak_rss_mb"] = sum(rss_by_pid.values())
        report(spec, w, e2e, layers, env)
        prefix = f"{w}." if args.workload == "all" else ""
        chosen = {}
        if args.workload == "all" or not args.trace:
            chosen.update(select(spec["end_to_end"], e2e, w))
        if args.workload == "all" or args.trace:
            chosen.update(select(spec["per_layer"], layers, w))
        metrics.update({prefix + k: v for k, v in chosen.items()})
        record = {"workload": w, "seed": args.seed, "env": env, "e2e": e2e,
                  "layers": layers, "passes": passes, "phase_s": phases,
                  "failures": runner.failures}
        (WORK / f"record-{run_id}-{w}.json").write_text(json.dumps(record, indent=1))
    runner.tracer.write(WORK / f"trace-{run_id}.json")
    for f in runner.failures:
        print(f"FAILED {f}", file=sys.stderr)

    # select() has already raised on any metric a workload did not report.
    if args.smoke:
        if runner.failed:
            print(f"SMOKE FAILED: {runner.failed} failed", file=sys.stderr)
            return 1
        print(f"smoke ok: {len(metrics)} metrics over {len(names)} workloads",
              file=sys.stderr)

    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
