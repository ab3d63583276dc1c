"""``session.materialize``: a local checkpoint on ``local[...]``, a reliable
checkpoint anywhere else, so a result survives the loss of the executor
that computed it, and is deleted once its frame is collected. Also the
session's generated-class cache, which a warm round must not outgrow."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from trackdechets_etl_spark.queries import all_queries
from trackdechets_etl_spark.session import is_local_master
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_masters_are_local(master):
    assert is_local_master(master)


@pytest.mark.parametrize(
    "master",
    ["local-cluster[2,1,1024]", "spark://h:7077", "yarn", "k8s://https://h:6443"],
)
def test_cluster_masters_are_not_local(master):
    assert not is_local_master(master)


def test_warm_round_reuses_generated_classes(spark):
    """The two iterative queries use more generated classes than Spark's
    default 100-entry cache holds, so at that size each round evicted
    the classes the next one needed and compiled about 90 of them
    again. With the session's cache a second round reuses them. AQE
    does not plan every stage the same way each time (another
    codegenStageId, which is part of the generated source, or a
    nullable input column), and each variant is its own class, so a
    warm round may still compile a few (0-10 measured)."""
    compiles = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    queries = all_queries()

    def one_round():
        for name in ("graph_pagerank", "graph_kcore_peel"):
            df = queries[name].fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()

    one_round()
    before = compiles.getCount()
    one_round()
    again = compiles.getCount() - before
    assert again < 20, f"the second round compiled {again} classes again"


# Runs in its own process so the session-scoped local[...] fixture is
# untouched. Builds graph_pagerank (its materializations run inside the
# builder), SIGKILLs one executor JVM found among this process's own
# descendants, then collects and compares with the DuckDB oracle.
_KILL_ONE_EXECUTOR = r"""
import os, signal, sys, time
from pathlib import Path

import duckdb

from trackdechets_etl_spark.canon import canon
from trackdechets_etl_spark.io.readers import ALL_TABLES
from trackdechets_etl_spark.queries import all_queries
from trackdechets_etl_spark.session import get_spark

sf_dir, ckpt_dir = sys.argv[1], sys.argv[2]


def descendants(pid):
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def executors():
    found = []
    for pid in descendants(os.getpid()):
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            continue
        if b"CoarseGrainedExecutorBackend" in cmd:
            found.append(pid)
    return found


spark = get_spark(
    app_name="executor_kill",
    master="local-cluster[2,1,1024]",
    shuffle_partitions=4,
    extra_conf={"spark.checkpoint.dir": ckpt_dir},
)
# Both executors registered (plus the driver), so the builder's jobs
# spread their results over both.
deadline = time.time() + 120
while spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() < 3:
    if time.time() > deadline:
        sys.exit("executors did not register")
    time.sleep(0.5)
spec = all_queries()["graph_pagerank"]
df = spec.fn(spark, sf_dir)
victims = executors()
if len(victims) != 2:
    sys.exit(f"expected 2 executor JVMs, found {victims}")
os.kill(victims[0], signal.SIGKILL)
rows, cols = df.collect(), df.columns

con = duckdb.connect()
for t in ALL_TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
res = con.execute(spec.oracle)
want_cols = [d[0] for d in res.description]
want = res.fetchall()
con.close()
spark.stop()
if canon(rows, cols) != canon(want, want_cols):
    sys.exit("graph_pagerank differs from the oracle after the executor loss")
print(f"MATCH {len(rows)} rows")
"""


@pytest.mark.slow
def test_pagerank_survives_a_lost_executor_on_local_cluster(tmp_path):
    env = {
        **os.environ,
        "PYTHONPATH": str(REPO),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _KILL_ONE_EXECUTOR, SF_DIR, str(tmp_path / "ckpt")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "MATCH" in proc.stdout
    # The reliable checkpoint wrote its files under spark.checkpoint.dir.
    assert any((tmp_path / "ckpt").rglob("part-*"))


# Runs in its own process like the kill test. Materializes a frame on
# local-cluster (a reliable checkpoint), drops the only Python reference,
# and asks the driver JVM to collect garbage until the checkpoint's
# rdd-* directory is gone or the deadline passes.
_CHECKPOINT_IS_DELETED = r"""
import gc, sys, time
from pathlib import Path

from trackdechets_etl_spark.session import get_spark, materialize

ckpt_dir = Path(sys.argv[1])
spark = get_spark(
    app_name="checkpoint_cleanup",
    master="local-cluster[2,1,1024]",
    shuffle_partitions=4,
    extra_conf={"spark.checkpoint.dir": str(ckpt_dir)},
)
df = materialize(spark.range(1000).selectExpr("id", "id * 2 AS x"))
if df.count() != 1000:
    sys.exit("materialized frame lost rows")
written = list(ckpt_dir.rglob("rdd-*"))
if len(written) != 1:
    sys.exit(f"expected one checkpoint directory, found {written}")
del df
gc.collect()
deadline = time.time() + 60
while written[0].exists():
    if time.time() > deadline:
        spark.stop()
        sys.exit(f"{written[0]} still exists after the frame was collected")
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)
spark.stop()
print("DELETED")
"""


@pytest.mark.slow
def test_reliable_checkpoint_deleted_once_frame_is_collected(tmp_path):
    env = {
        **os.environ,
        "PYTHONPATH": str(REPO),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", _CHECKPOINT_IS_DELETED, str(tmp_path / "ckpt")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "DELETED" in proc.stdout
