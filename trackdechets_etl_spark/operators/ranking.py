"""Distributed exact global ranking — the scale-safe replacement for
``Window.orderBy(...)`` with no partition key.

An unpartitioned Spark window moves the whole frame to ONE task
("WindowExec: No Partition Defined" — the single worst scale hazard in
a window-heavy registry; see docs/SCALE.md). But a global row_number
does not need a global sort on one machine: range-repartition on the
order key (Spark's own distributed-sort machinery), rank WITHIN each
range partition, then add per-partition row-count offsets. The offset
frame has one row per partition — bounded by cluster configuration,
not by data — so its cumulative window is trivially small.

``score_order`` is the engine's one rule for ranking by a float score
(rounded to 9 dp descending, then a tie column ascending), and
``top_k_per_group`` the per-group top-k cut built on it;
``top_k_per_group_sql`` is that cut's DuckDB twin for the oracles.

``ntile_from_rank`` turns an exact global rank into the same bucket
ntile() would assign, via the closed-form split (N rows, B buckets:
q = N div B, r = N mod B; the first r buckets hold q+1 rows). Combined
they reproduce ``ntile(B).over(Window.orderBy(...))`` bit-for-bit with
no single-partition stage.

Reference parity: the reference engine has no window operators at all
(pandas ``sort_values`` + ``groupby.cumcount`` fills the role,
dags/icpe-siretisation.py); this module is the engine's scale path for
the ranking semantics the registry's analytics queries add on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from trackdechets_etl_spark.session import materialize

_PID = "__gr_pid"
_LRN = "__gr_lrn"
_OFF = "__gr_off"


def score_order(score: str, tie: str) -> list[Column]:
    """The rank key for a float ``score``: rounded to 9 dp descending,
    then ``tie`` ascending. Spark and DuckDB can differ in a double's
    last bits (summation order, libm), so ordering by the raw score
    would let such a wobble swap two near-equal candidates between the
    engines; at 9 dp they tie and ``tie`` decides. Works in both
    ``Window.orderBy`` and ``DataFrame.orderBy``."""
    return [F.round(F.col(score), 9).desc(), F.col(tie).asc()]


def top_k_per_group(
    df: DataFrame,
    by: str | list[str],
    score: str,
    tie: str,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """The rows ranked 1..``k`` within each ``by`` group under
    :func:`score_order`, with their 1-based rank in ``rank_col``
    (``row_number``'s int; cast it where a BIGINT is emitted)."""
    w = Window.partitionBy(by).orderBy(*score_order(score, tie))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )


def top_k_per_group_sql(
    rel: str, by: str, score: str, tie: str, k: int, rank_col: str = "rank"
) -> str:
    """DuckDB twin of :func:`top_k_per_group` over the relation ``rel``
    (a name or a parenthesized query): a SELECT of its rows ranked
    1..``k`` within each ``by`` group, under the same rank key."""
    return f"""SELECT * FROM (
    SELECT *, row_number() OVER (
        PARTITION BY {by} ORDER BY round({score}, 9) DESC, {tie} ASC) AS {rank_col}
    FROM {rel})
WHERE {rank_col} <= {k}"""


def _range_partitioned(
    df: DataFrame, order_cols: list[Column], num_partitions: int | None
) -> tuple[DataFrame, WindowSpec]:
    """``df`` range-partitioned on ``order_cols`` (into
    ``spark.sql.shuffle.partitions`` parts by default) with its
    partition id in ``_PID``, lazily materialized so the boundaries are
    sampled once for both consumers (the ranked rows and the
    per-partition totals); and the window over all strictly preceding
    partitions that turns those totals into offsets. The offset frame
    has one row per partition: the cumulative window's input is bounded
    by cluster config, never by data volume."""
    if num_partitions is None:
        # spark.sql.shuffle.partitions as Spark parsed it.
        num_partitions = (
            df.sparkSession._jsparkSession.sessionState()
            .conf()
            .defaultNumShufflePartitions()
        )
    rp = materialize(
        df.repartitionByRange(num_partitions, *order_cols)
        .withColumn(_PID, F.spark_partition_id()),
        eager=False,
    )
    return rp, Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
    sum_of: tuple[str, str] | None = None,
) -> DataFrame:
    """Exact 1-based global row_number under ``order_cols`` (must be a
    total order — include a unique tiebreaker) without a
    single-partition window.

    Plan shape: one range exchange (sampled boundaries, same machinery
    as a distributed ORDER BY), one within-partition window keyed on
    the partition id, one broadcast join against the
    partition-count-sized offset frame. The repartitioned frame is
    materialized because it feeds two consumers (the ranked rows
    and the offset counts) whose range boundaries must be sampled
    exactly once.

    ``sum_of=(value_col, out_col)`` additionally emits the exact
    inclusive global prefix sum of ``value_col`` under the same order,
    riding the SAME windows and offset frame (no extra exchange).
    Pass an INTEGER-typed column: integer addition is associative, so
    the decomposed sum is bit-identical to the single-partition
    window's; a double column would expose association order.
    """
    rp, wc = _range_partitioned(df, order_cols, num_partitions)
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    local = rp.withColumn(_LRN, F.row_number().over(w))
    size_aggs = [F.count(F.lit(1)).alias("__gr_n")]
    if sum_of is not None:
        value_col, sum_out = sum_of
        local = local.withColumn(
            "__gr_ls",
            F.sum(value_col).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        size_aggs.append(F.sum(value_col).alias("__gr_vt"))
    sizes = rp.groupBy(_PID).agg(*size_aggs)
    off_cols = [
        F.col(_PID),
        F.coalesce(F.sum("__gr_n").over(wc), F.lit(0)).alias(_OFF),
    ]
    if sum_of is not None:
        off_cols.append(
            F.coalesce(F.sum("__gr_vt").over(wc), F.lit(0)).alias("__gr_voff")
        )
    offsets = sizes.select(*off_cols)
    out = (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(rank_col, (F.col(_OFF) + F.col(_LRN)).cast("long"))
    )
    if sum_of is not None:
        out = out.withColumn(
            sum_of[1], (F.col("__gr_voff") + F.col("__gr_ls")).cast("long")
        ).drop("__gr_ls", "__gr_voff")
    return out.drop(_PID, _LRN, _OFF)


def global_prefix_max_exclusive(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running max of ``value_col`` over all STRICTLY
    preceding rows under ``order_cols`` (NULL for the first row) —
    the watermark shape — with the same range-partitioned
    decomposition as :func:`global_row_number`. Max is associative and
    commutative, so the split is exact for any orderable type."""
    rp, wc = _range_partitioned(df, order_cols, num_partitions)
    w = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = rp.withColumn("__gr_lm", F.max(value_col).over(w))
    totals = rp.groupBy(_PID).agg(F.max(value_col).alias("__gr_t"))
    offsets = totals.select(_PID, F.max("__gr_t").over(wc).alias("__gr_moff"))
    return (
        local.join(F.broadcast(offsets), _PID)
        # greatest() skips NULLs (both engines): first row of first
        # partition stays NULL, matching the single-partition window.
        .withColumn(out_col, F.greatest("__gr_moff", "__gr_lm"))
        .drop(_PID, "__gr_lm", "__gr_moff")
    )


def _floordiv(a: Column, b: Column) -> Column:
    """Exact non-negative integer floor division as a Column: subtract
    the modulo first so the double division is of an exact multiple."""
    return ((a - a % b) / b).cast("long")


def ntile_from_rank(rank: Column, n_total: Column, buckets: int) -> Column:
    """The bucket ``ntile(buckets)`` assigns to the row with exact
    global ``rank`` in a frame of ``n_total`` rows — closed form, all
    integer math: with q = N div B and r = N mod B, the first r
    buckets hold q+1 rows, so rank i maps to ceil(i/(q+1)) inside the
    first r*(q+1) rows and r + ceil((i-r*(q+1))/q) past them."""
    b = F.lit(buckets)
    q = _floordiv(n_total, b)
    r = n_total % b
    big = r * (q + 1)
    in_big = _floordiv(rank + q, q + 1)  # == ceil(rank / (q+1))
    # when q == 0 every rank falls in the first branch (big == N), so
    # the NULL-guarded divisor below is never reached with q == 0.
    past = r + _floordiv(rank - big + q - 1, F.when(q > 0, q))
    return F.when(rank <= big, in_big).otherwise(past).cast("long")
