"""Event-stream operators (designed extension — the reference has no
streaming at all, SURVEY §1.1; justified by the driver's ``events``
table).

Every aggregation here is defined once and runs in BOTH modes:
- batch: ``F.window`` / ``F.session_window`` group-bys on a static
  DataFrame (these are ordinary Catalyst operators) — this is what the
  oracle checks;
- streaming: the same transformations applied to ``readStream`` input
  with a watermark (tests/test_streaming.py drives them through
  ``availableNow`` triggers into a memory sink).

Scale notes: watermark + windowed state keeps state bounded; session
windows use Spark's native session_window operator (merging handled by
the state store); ``dropDuplicatesWithinWatermark`` gives bounded-state
stream dedup keyed on event_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_events


def tumbling_agg(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type. Epoch-aligned window
    start (matches DuckDB time_bucket)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding-window totals: each event contributes to width/slide
    overlapping windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(events: DataFrame, gap: str = "10 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity; session_end = last event + gap (Spark semantics)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_from_parquet(
    spark, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """readStream over the events parquet (file source) with a
    watermark — the streaming entry point used by the tests.
    Watermarks require TIMESTAMP (LTZ): NTZ-typed parquet timestamps
    must be cast."""
    stream = read_events(spark, f"{sf_dir}/events.parquet", stream=True)
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.withWatermark("ts", watermark)


def stream_dedup(events: DataFrame) -> DataFrame:
    """Bounded-state streaming dedup on event_id within the watermark
    (Spark's dropDuplicatesWithinWatermark). The input must already
    carry a watermark (e.g. from :func:`stream_from_parquet`) —
    re-defining one here is disallowed by the engine."""
    return events.dropDuplicatesWithinWatermark(["event_id"])


def stream_enrich(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension table
    (the streaming twin of J1's broadcast enrich). The static side is
    re-read per micro-batch by the engine; broadcast keeps the stream
    side from shuffling. Only inner/left joins with the static side on
    the right are stream-legal — exactly this shape."""
    return events.join(F.broadcast(dim), on, "left")


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count and value sum, emitted on every update.

    This is the escape hatch for stateful semantics the built-in
    window/session operators can't express (the reference has nothing
    like it — designed extension, SURVEY §7/M7). State is one (count,
    sum) pair per user — O(users) bounded; at scale users partition
    across the state store. Arrow-batched, per-group pandas.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, s double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's click within ``horizon`` before it.

    The time-range condition (purchase_ts in [click_ts, click_ts +
    horizon]) plus watermarks on BOTH inputs is what makes the join
    state bounded: the engine drops buffered clicks once the purchase
    watermark passes click_ts + horizon, and vice versa. Without the
    range condition Spark would buffer both streams forever. Works
    identically on static frames (the batch twin the tests compare
    against)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def attribution_join_outer(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """LEFT OUTER stream-stream join: like :func:`attribution_join`
    but unconverted clicks survive with NULL purchase columns. The
    null-extended row for a click can only emit once the watermark
    passes ``click_ts + horizon`` (before that a matching purchase
    could still arrive), so clicks near the end of the stream stay
    unemitted — the test pins exactly that boundary. Same bounded
    state as the inner join."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )


def idempotent_batch_writer(path: str):
    """Exactly-once ``foreachBatch`` sink pattern: each micro-batch
    writes into its own ``batch_id=`` partition with DYNAMIC partition
    overwrite, so a replayed batch id (failure after write, before the
    checkpoint commit — the at-least-once window foreachBatch exposes)
    REPLACES its previous attempt instead of double-appending. Readers
    see exactly-once output; no transactional sink required.

    At 100 TB this is the standard lakehouse recipe: partition the sink
    by batch id (or ingestion date), overwrite only the replayed
    partition — the overwrite touches one partition's files, never the
    table."""

    def write(df: DataFrame, batch_id: int) -> None:
        (
            df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    return write


def user_type_profile(events: DataFrame) -> DataFrame:
    """Per-user event count + distinct-event-type count via Spark 4's
    ``transformWithStateInPandas`` (the successor API to
    ``applyInPandasWithState``: typed state variables instead of one
    opaque tuple, optional TTL and timers). NOTE: the API's Python
    state-server protocol imports ``google.protobuf``, absent from
    this container — the op runs on any protobuf-equipped cluster and
    its equivalence test skips cleanly here (same environment-gate
    discipline as the media codecs). State per user is one
    ValueState counter plus one ListState of seen types — O(users ×
    types) bounded, partitioned across the state store exactly like
    the GroupState op. Emits the updated profile for every user
    touched by a micro-batch; the batch twin
    (``events_user_type_profile`` in queries/round33.py) is the
    DuckDB-oracled anchor and test_streaming.py pins equivalence."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeProfile(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n_events", "n long")
            self._types = handle.getListState("types", "t string")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            seen = (
                {t for (t,) in self._types.get()} if self._types.exists() else set()
            )
            n, new_types, out = _type_profile_step(key[0], n, seen, rows)
            for t in new_types:
                self._types.appendValue((t,))
            self._n.update((n,))
            yield out

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TypeProfile(),
        outputStructType="user_id long, n_events long, n_types long",
        outputMode="Update",
        timeMode="None",
    )


def _type_profile_step(user_id, n, seen, pdfs):
    """Pure per-key update step of :func:`user_type_profile`, factored
    out of the StatefulProcessor so the state-transition logic is unit
    testable without the (protobuf-dependent) state-server protocol:
    folds the batch into (count, seen-type set) and returns the new
    count, the NEWLY seen types (for ListState appends) and the one
    emitted update row."""
    import pandas as pd

    new_types = []
    for pdf in pdfs:
        n += len(pdf)
        for t in pdf["event_type"]:
            if t not in seen:
                seen.add(t)
                new_types.append(t)
    out = pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "n_types": [len(seen)]}
    )
    return n, new_types, out
