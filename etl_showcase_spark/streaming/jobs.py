"""Structured Streaming jobs over the events table (SURVEY.md §2.10).

The reference's daily-cron + idempotent-upsert loop (reference
dags/weather_etl_pipeline.py:123,169-192) maps to: file-source
readStream → event-time windows + watermark → exactly-once sink via
foreachBatch merge. Each job runs with Trigger.availableNow (the T1
micro-batch trigger) so batch replays are deterministic and the results
can be asserted against the batch twins in plans/events.py.

The multi-batch twins all read ONE replay source, _parquet_replay: a
parquet table (or a derived table staged to parquet first) replayed in
sort-key order as deterministic row-offset micro-batches, drained by
restarting the query over one checkpoint (_drain_runs) — so a twin
differs from another only in its plan, never in its feed machinery.

At scale these are the same plans Spark runs continuously: watermark
state eviction bounds memory; the foreachBatch merge pairs with dynamic
partition overwrite for idempotent re-delivery.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.numeric import dsum

# Explicit source schema (schema-pinned ingest, reference
# spark_jobs/transform_weather.py:34-59). ts is parquet
# TIMESTAMP(MICROS); pinning TimestampType here keeps the streaming read
# aligned with the batch catalog regardless of the session's
# inferTimestampNTZ setting.
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The streaming file source requires a directory; select just the
    # events file out of the testdata dir with a glob filter.
    return (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _parquet_replay(
    spark: SparkSession, path: str, schema_ddl: str, order_by: list[str], batch_rows: int
) -> DataFrame:
    """The one replay source every streaming twin reads: a parquet
    file (or dir) replayed as deterministic micro-batches of
    ``batch_rows`` rows, in ``order_by`` (ascending) order, with
    row-position offsets — so every twin gets reproducible multi-batch
    execution without a broker. Via the Spark 4 Python Data Source
    streaming API; the simple-reader API reads driver-side (right for a
    replay/test source; a partitioned DataSourceStreamReader is the
    high-throughput variant).

    The emitted columns are the field names of ``schema_ddl``, read
    from the parquet as-is: list<float> embeddings arrive as Python
    floats (float32→double widening is value-exact, so quantize() gives
    the SAME integers as the batch scan) and doubles as the SAME doubles
    the batch scan reads. A feed over a derived table stages it to
    parquet first and replays that.

    Classes are function-local so cloudpickle ships them by value (same
    worker-import constraint as http_pyds_source). Re-registering
    "parquet_replay" is harmless: ALL per-call variation (path, schema,
    sort keys, batch_rows) rides reader options, and the classes carry
    no closure state, so every registration binds identical behavior."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _Reader(SimpleDataSourceStreamReader):
        def __init__(self, opts, schema):
            self._path = opts["path"]
            self._cols = schema.fieldNames()
            self._order = opts["order_by"].split(",")
            self._batch = int(opts["batch_rows"])
            self._tbl = None

        def _table(self):
            if self._tbl is None:
                import pyarrow.compute as pc
                import pyarrow.parquet as pq

                t = pq.read_table(self._path, columns=self._cols)
                keys = [(k, "ascending") for k in self._order]
                self._tbl = t.take(pc.sort_indices(t, sort_keys=keys))
            return self._tbl

        def _rows(self, start: int, end: int):
            # a materialized list iterator, not a generator: Spark
            # pickles the batch into its prefetch cache and generators
            # don't pickle
            sl = self._table().slice(start, max(0, end - start))
            return iter(list(zip(*(sl.column(c).to_pylist() for c in self._cols))))

        def initialOffset(self):
            return {"row": 0}

        def read(self, start):
            s = start["row"]
            e = min(s + self._batch, self._table().num_rows)
            return self._rows(s, e), {"row": e}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["row"], end["row"])

    class _Source(DataSource):
        @classmethod
        def name(cls) -> str:
            return "parquet_replay"

        def schema(self) -> str:
            return self.options["schema_ddl"]

        def simpleStreamReader(self, schema):
            return _Reader(self.options, schema)

    spark.dataSource.register(_Source)
    return (
        spark.readStream.format("parquet_replay")
        .option("path", path)
        .option("schema_ddl", schema_ddl)
        .option("order_by", ",".join(order_by))
        .option("batch_rows", str(batch_rows))
        .load()
    )


def _stage_dir(prefix: str) -> str:
    """A fresh tmp dir for a feed's staged parquet, removed at exit
    (the replay reads it until its drain finishes)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def events_replay_stream(
    spark: SparkSession, sf_dir: str, batch_rows: int = 2000
) -> DataFrame:
    """A Kafka-stand-in streaming source: the events table replayed in
    (ts, event_id)-ordered micro-batches of ``batch_rows`` rows."""
    return _parquet_replay(
        spark,
        f"{sf_dir}/events.parquet",
        "event_id long, ts timestamp, user_id long, event_type string, value double",
        ["ts", "event_id"],
        batch_rows,
    )


def _documents_replay(
    spark: SparkSession, sf_dir: str, schema_ddl: str = "doc_id long, text string"
) -> DataFrame:
    """The documents table replayed in doc_id order, 100 rows a batch."""
    return _parquet_replay(spark, f"{sf_dir}/documents.parquet", schema_ddl, ["doc_id"], 100)


def _embeddings_replay(
    spark: SparkSession, sf_dir: str, schema_ddl: str = "vec_id long, embedding array<double>"
) -> DataFrame:
    """The embeddings table replayed in vec_id order, 200 rows a batch."""
    return _parquet_replay(spark, f"{sf_dir}/embeddings.parquet", schema_ddl, ["vec_id"], 200)


def stream_tumbling_from_replay(
    spark: SparkSession, sf_dir: str, batch_rows: int = 300
) -> DataFrame:
    """T1+T2 over the custom replay source: the SAME tumbling plan as
    stream_tumbling_daily, but fed by events_replay_stream in genuinely
    multiple micro-batches — the state store merges windows across
    batches instead of seeing all data at once. Must equal the batch
    twin (asserted in tests/test_streaming.py).

    The simple-reader source downgrades availableNow to one micro-batch
    per start() (Spark's documented fallback), so one start() would see
    only the first ``batch_rows`` rows. _drain_replay restarts the
    query over ONE shared checkpoint until the log is exhausted — the
    state store restores from the checkpoint on every restart, so this
    is exactly multi-batch stateful execution, just with a restart
    between batches (a strictly STRONGER recovery test than plain
    multi-batch: window state must survive checkpoint round-trips)."""
    ev = events_replay_stream(spark, sf_dir, batch_rows=batch_rows).withWatermark(
        "ts", "1 hour"
    )
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _drain_replay(agg, "stream_replay_tumbling")


def _drain_runs(result: DataFrame, name: str, mode: str, sink) -> str:
    """The restart loop both drains share: start ``result`` into
    ``sink(writer)`` with availableNow over ONE shared checkpoint
    (each start processes one replay chunk; stateful operators restore
    from the checkpoint), until a run consumes zero rows. Returns the
    query name of the last run that processed input (of the empty run
    if none did). The checkpoint dir is deleted once the drain
    finishes — no returned frame reads it."""
    ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")
    try:
        last_with_input = None
        for _ in range(10_000):
            qname = f"{name}_{uuid.uuid4().hex[:8]}"
            q = (
                sink(result.writeStream)
                .queryName(qname)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if not any(p["numInputRows"] for p in q.recentProgress):
                return last_with_input or qname
            last_with_input = qname
        raise RuntimeError(f"{name}: replay source not drained in 10000 runs")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _drain_replay(result: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Run a replay-sourced streaming frame to exhaustion (_drain_runs)
    and return the memory table of the last run that processed input —
    in complete mode, the final cross-batch state (an empty source gives
    an empty frame with the schema)."""
    qname = _drain_runs(result, name, mode, lambda w: w.format("memory"))
    return result.sparkSession.table(qname)


def _drain_replay_union(result: DataFrame, name: str, mode: str = "update") -> DataFrame:
    """Like _drain_replay, but returns the FULL cross-restart emission
    log. Required for update-mode stateful outputs: each availableNow
    restart only emits keys whose state changed in THAT chunk, so the
    final state is the latest emission per key over the whole log. The
    memory sink cannot recover an update-mode query from a checkpoint,
    so each run appends its emissions to one parquet log via
    foreachBatch (an at-least-once log: a crash between sink write and
    offset commit could duplicate a batch's rows, but emissions are
    full per-key state, so any latest-per-key / identical-duplicate
    consumer is unaffected)."""
    spark = result.sparkSession
    outdir = tempfile.mkdtemp(prefix=f"{name}_log_") + "/log"
    schema = result.schema

    def _append(bdf: DataFrame, _bid: int) -> None:
        bdf.write.mode("append").parquet(outdir)

    _drain_runs(result, name, mode, lambda w: w.foreachBatch(_append))
    try:
        return spark.read.schema(schema).parquet(outdir)
    except Exception:  # no emissions at all: empty frame, same schema
        return spark.createDataFrame([], schema)


def _run_available_now(result: DataFrame, name: str, mode: str = "complete") -> DataFrame:
    """Run a streaming frame to completion into a memory sink, return
    the materialized table (complete mode → final state; append mode →
    every emitted row, for join/non-aggregate outputs)."""
    spark = result.sparkSession
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname)


def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T5: tumbling 1-day window counts with a 1-hour watermark."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_available_now(agg, "stream_tumbling")


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4+T5: 30-minute-gap session windows per user with watermark."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _run_available_now(agg, "stream_sessions")


def stream_dedup_first_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: stateful dedup on (user_id, event_type) within the watermark.

    Streaming dropDuplicates keeps the FIRST arrival per key; with a
    single ordered source file this matches the batch
    first_event_per_user_type twin on the keyset (arrival order within
    a micro-batch is partition order, so only the keyset is contracted).
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dedup = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type", "ts", "event_id"
    )
    # Contract scope: the keyset equality with the batch twin holds for
    # THIS single-file availableNow replay (one micro-batch sees all
    # data). Under continuous multi-batch execution
    # dropDuplicatesWithinWatermark re-emits keys whose state aged past
    # the watermark — that is its documented semantics (bounded state in
    # exchange for horizon-scoped dedup), not an equality with global
    # batch dedup.
    return _run_available_now(dedup, "stream_dedup", mode="append")


def stream_user_profile_state(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful operator (SURVEY.md §2.11): per-user activity
    profile via applyInPandasWithState — explicit GroupState carried
    across micro-batches, the surface Spark's built-in windows can't
    express (running cross-session rollup with custom gap logic).

    Per user: event count, exact value total (integer cents in state, so
    the sum is order-independent), and session count at a
    ``gap_minutes`` silence threshold (new session when the gap since
    the previous event exceeds it — same rule as the session_windows_30m
    batch twin). State schema is a compact fixed row per user; at scale
    state lives in the state store (RocksDB), partitioned by user_id,
    and watermark-driven eviction would bound it for unbounded keys.

    Deterministic: events are sorted by ts inside the update function,
    and the profile depends only on the per-user ts multiset.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)
    gap_ns = gap_minutes * 60 * 1_000_000_000

    def update_profile(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            n, cents, n_sessions, last_ns = state.get
        else:
            n, cents, n_sessions, last_ns = 0, 0, 0, None
        chunks = [pdf[["ts", "value"]] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=["ts", "value"])
        if len(df):
            df = df.sort_values("ts")
            ts_ns = df["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
            for t, v in zip(ts_ns, df["value"].to_numpy()):
                if last_ns is None or t - last_ns > gap_ns:
                    n_sessions += 1
                last_ns = int(t)
                n += 1
                if v == v:  # null value -> NaN here; SUM skips nulls,
                    cents += int(round(v * 100))  # so must the state
        state.update((n, cents, n_sessions, last_ns))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
                "n_sessions": [n_sessions],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update_profile,
        outputStructType="user_id long, n_events long, total_value double, n_sessions long",
        stateStructType="n_events long, cents long, n_sessions long, last_ns long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_available_now(out, "stream_profile", mode="update")
    # the update-mode memory sink is an EMISSION LOG: one row per user
    # per micro-batch that touched it. The current profile is the
    # latest emission — n_events is strictly monotone per user, so
    # "latest" has a deterministic order — which makes this correct for
    # any number of micro-batches, not just the single-file replay.
    from ..operators.relational import latest_per_key

    return latest_per_key(emitted, ["user_id"], [F.col("n_events").desc()])


def stream_user_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the ``ewma_user_value`` batch query (SURVEY.md
    §2.11): per-user integer EWMA (alpha = 1/2, e = (v + e_prev) >> 1
    over cents) carried across micro-batches in explicit GroupState.

    The fold is PURE INTEGER, so the streamed result is bit-identical
    to the batch sort_array+aggregate fold whenever events arrive in
    (ts, event_id) order — which the single-file replay and the
    ordered multi-file replay both guarantee per user. State is two
    bigints per user; at scale it lives in the state store keyed by
    user_id, same envelope as stream_user_profile_state.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    def update_ewma(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import math

        import pandas as pd

        if state.exists:
            n, ewma = state.get
            ewma = None if ewma < 0 else ewma  # -1 encodes "no events yet"
        else:
            n, ewma = 0, None
        cols = ["ts", "event_id", "value"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if len(df):
            df = df.sort_values(["ts", "event_id"])
            for v in df["value"].to_numpy():
                # math.floor, not int(): int truncates toward zero, so
                # the two spellings diverge for v < 0 — floor matches
                # the batch twin's F.floor(value*100 + 0.5) for any sign
                cents = math.floor(v * 100 + 0.5)
                ewma = cents if ewma is None else (ewma + cents) >> 1
                n += 1
        state.update((n, -1 if ewma is None else ewma))
        out_ewma = None if ewma is None else ewma
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_cents": [out_ewma],
                "ewma_value": [None if out_ewma is None else out_ewma / 100.0],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update_ewma,
        outputStructType=(
            "user_id long, n_events long, ewma_cents long, ewma_value double"
        ),
        stateStructType="n long, ewma long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_available_now(out, "stream_ewma", mode="update")
    # update-mode emission log -> current value = emission with the
    # largest (strictly monotone) n_events per user
    from ..operators.relational import latest_per_key

    return latest_per_key(emitted, ["user_id"], [F.col("n_events").desc()])


def stream_upsert_to_parquet(
    spark: SparkSession, sf_dir: str, target_dir: str, checkpoint_dir: str
) -> None:
    """T7: exactly-once-style sink — foreachBatch keyed merge into a
    parquet target (the ON CONFLICT upsert of
    dags/weather_etl_pipeline.py:174-190 as a streaming sink).

    Each micro-batch merges on (window_start, event_type): rows for
    already-present keys are replaced, new keys appended — idempotent
    under batch replay, which is what checkpoint + availableNow give us.
    The merge is partition-scoped (sources/io.merge_upsert_partitioned on
    the window_start partition column): a micro-batch only ever rewrites
    the day-partitions it touches, so sink cost tracks batch size, not
    table size — the property that keeps a continuous pipeline viable at
    100 TB of accumulated history.
    """
    from ..sources.io import merge_upsert_partitioned, write_partitioned

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        s = batch_df.sparkSession
        try:
            s.read.parquet(target_dir).schema  # probe: does the target exist?
        except AnalysisException:  # first batch: no target yet — any
            # OTHER read failure (permissions, corrupt footer) must
            # fail the batch for retry, not masquerade as first-batch
            write_partitioned(batch_df, target_dir, ["window_start"])
            return
        merge_upsert_partitioned(
            s, target_dir, batch_df, ["window_start", "event_type"], "window_start"
        )

    # update mode: each micro-batch delivers only the windows it
    # CHANGED, so the merge genuinely touches O(batch) partitions and
    # the watermark can evict closed-window state — complete mode would
    # re-emit the whole table every batch and hold state forever
    q = (
        agg.writeStream.foreachBatch(merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: stream-stream interval inner join — purchases matched to
    same-user clicks in the preceding hour.

    Both sides carry a watermark; with the join's time bound, Spark
    derives the state-eviction horizon (a click older than watermark +
    1 hour can never match a future purchase, so its state is dropped)
    — bounded memory under continuous execution. Inner-join matches
    emit as found, so append mode streams results without waiting for
    window closure. Batch twin: plans/events.py
    click_purchase_interval_join (the oracle surface).
    """
    p = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return _run_available_now(joined, "stream_ssjoin", mode="append")


def stream_cdc_apply_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    batch_rows: int = 4000,
    n_buckets: int = 8,
) -> None:
    """Streaming CDC materialization: the events replay stream treated
    as a keyed changelog (op='D' tombstone for error events, 'U'
    otherwise), applied per micro-batch into a bucket-partitioned
    Parquet snapshot with full insert/update/DELETE semantics
    (sources/io.apply_cdc_partitioned) — the streaming twin of the
    cdc_apply_changes batch query.

    The target is partitioned by a key-hash bucket, so every user
    always lands in the same partition and a micro-batch rewrites only
    the buckets it touches — sink cost tracks batch size, not
    accumulated snapshot size. Correctness across batches relies on
    the source's per-key ordering (the replay source emits (ts,
    event_id)-ordered batches; a real log gives the same via offsets):
    each batch's winners are by construction newer than the snapshot.
    """
    from ..sources.io import apply_cdc_partitioned, write_partitioned

    ev = events_replay_stream(spark, sf_dir, batch_rows=batch_rows)
    changes = ev.select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("int").alias("bucket"),
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        s = batch_df.sparkSession
        try:
            s.read.parquet(target_dir).schema  # probe: target exists?
        except AnalysisException:
            # first batch: apply the changelog to an EMPTY snapshot so
            # within-batch sequencing and tombstones still resolve
            empty = s.createDataFrame(
                [], "user_id bigint, value double, ts timestamp, bucket int"
            )
            from ..operators.relational import apply_cdc_changes

            snap = apply_cdc_changes(
                empty,
                batch_df,
                keys=["user_id"],
                seq_cols=["ts", "event_id"],
                op_col="op",
            )
            write_partitioned(snap, target_dir, ["bucket"])
            return
        apply_cdc_partitioned(
            s,
            target_dir,
            batch_df,
            keys=["user_id"],
            seq_cols=["ts", "event_id"],
            op_col="op",
            partition_col="bucket",
        )

    # The simple-reader replay source downgrades availableNow to
    # one-micro-batch-per-start (Spark warns and falls back to single
    # batch execution). CDC state lives in the SINK snapshot, not the
    # state store, so draining the log as repeated single-batch runs
    # over ONE shared checkpoint is exactly equivalent to one
    # multi-batch run: each start() resumes from the committed offset,
    # applies one chunk, and the loop ends on the first zero-input run.
    for _ in range(10_000):  # bound: ceil(|log|/batch_rows) in practice
        q = (
            changes.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not any(p["numInputRows"] for p in q.recentProgress):
            break
    else:
        raise RuntimeError(
            "stream_cdc_apply_to_parquet: replay source not drained after "
            "10000 single-batch runs — batch_rows too small for the log?"
        )


def stream_enrich_with_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment — the streaming analog of the
    reference's dim lookup (fact rows enriched against dim_weather_code,
    sql/create_weather_tables.sql:53-82): each micro-batch of events
    joins a small STATIC dimension (per-type seed metadata) that Spark
    re-broadcasts per batch without any streaming state. No watermark
    needed — a stateless stream-static inner join appends matches as
    they arrive; at scale the dim rides the broadcast, so the stream
    never shuffles.

    Batch twin for equivalence testing: the same join on the batch
    events frame (tests/test_streaming.py).
    """
    dim = static_event_type_dim(spark)
    ev = read_events_stream(spark, sf_dir)
    enriched = (
        ev.join(F.broadcast(dim), "event_type")
        .select(
            "event_id",
            "user_id",
            "event_type",
            "type_category",
            "weight",
            (F.col("value") * F.col("weight")).alias("weighted_value"),
        )
    )
    return _run_available_now(enriched, "stream_enrich", mode="append")


def static_event_type_dim(spark: SparkSession) -> DataFrame:
    """Tiny deterministic per-type dimension (the dim_weather_code
    role): category bucket + a fixed weight per event type."""
    rows = [
        ("click", "engagement", 1.0),
        ("view", "engagement", 0.5),
        ("purchase", "conversion", 10.0),
        ("signup", "conversion", 5.0),
        ("error", "quality", 0.0),
    ]
    return spark.createDataFrame(rows, "event_type string, type_category string, weight double")


def stream_click_purchase_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 outer variant: stream-stream LEFT OUTER interval join —
    every purchase emits, matched to prior-hour clicks when they
    exist, null-padded otherwise. The outer semantics are the hard
    part: a purchase can only be declared UNMATCHED once the
    watermark proves no qualifying click can still arrive, so
    null-padded rows emit late (state-eviction time), and purchases
    newer than (final watermark - join bound) legitimately remain in
    state at end of an availableNow run. The equivalence test
    (tests/test_streaming.py) asserts exactly that contract against
    the batch left join rather than pretending the tail emits."""
    p = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        "p_ts",
    )
    return _run_available_now(joined, "stream_ssjoin_outer", mode="append")


def stream_click_purchase_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 completion: stream-stream FULL OUTER interval join — both
    unmatched purchases AND unmatched clicks null-pad once the
    watermark proves no partner can still arrive. Same prefix-closure
    contract as the left-outer variant, applied per side: null rows
    for a side emit at that side's state-eviction time, so each side's
    emitted null set must be a hole-free event-time prefix of the
    batch full join's unmatched set (tests/test_streaming.py). This is
    the strongest completeness statement an availableNow run can make
    — rows newer than (final watermark - bound) legitimately stay in
    state."""
    p = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    c = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user", "c_user").alias("user_id"),
        "p_ts",
        "c_ts",
    )
    return _run_available_now(joined, "stream_ssjoin_full", mode="append")


def stream_token_drift_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: twin of the batch
    ``token_distribution_drift`` query (plans/llm_text.py). Documents
    arrive in micro-batches; per-TERM GroupState carries the integer
    (c_train, c_test) occurrence counts across batches, and the drained
    state aggregates to the SAME single-row integer-TVD frame — every
    count, the cross-multiplied TVD numerator, and the one final double
    division are bit-identical to the batch query because the fold is
    pure integer addition (order-independent, unlike the EWMA fold).

    At scale: tokenize/explode and the md5 split are JVM expressions on
    the stream; state is two bigints per term in the state store keyed
    by term — the same envelope a production drift monitor keeps."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops

    docs = _documents_replay(spark, sf_dir)
    tok = docs.select(
        F.explode(textops.tokens(F.col("text"))).alias("term"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
            "is_test"
        ),
    )

    def update_counts(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            c_tr, c_te = state.get
        else:
            c_tr, c_te = 0, 0
        for pdf in pdfs:
            te = int(pdf["is_test"].sum())
            c_te += te
            c_tr += len(pdf) - te
        state.update((c_tr, c_te))
        yield pd.DataFrame(
            {
                "term": [key[0]],
                "c_tr": [c_tr],
                "c_te": [c_te],
                "n_seen": [c_tr + c_te],
            }
        )

    out = tok.groupBy("term").applyInPandasWithState(
        update_counts,
        outputStructType="term string, c_tr long, c_te long, n_seen long",
        stateStructType="c_tr long, c_te long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _drain_replay_union(out, "stream_drift", mode="update")
    # cross-restart emission log -> final counts = emission with the
    # largest (strictly monotone) n_seen per term
    from ..operators.relational import latest_per_key

    tc = latest_per_key(emitted, ["term"], [F.col("n_seen").desc()])
    n = tc.agg(
        F.sum("c_tr").cast("long").alias("n_tr"),
        F.sum("c_te").cast("long").alias("n_te"),
    )
    joined = tc.crossJoin(F.broadcast(n))
    num = F.abs(F.col("c_tr") * F.col("n_te") - F.col("c_te") * F.col("n_tr"))
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_union"),
        F.min("n_tr").alias("n_train_tokens"),
        F.min("n_te").alias("n_test_tokens"),
        F.sum(num).cast("long").alias("tvd_numerator"),
        (
            F.sum(num).cast("double")
            / (
                F.lit(2.0)
                * F.min("n_tr").cast("double")
                * F.min("n_te").cast("double")
            )
        ).alias("tvd"),
    )


def stream_transition_matrix_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the ``event_transition_matrix`` batch query
    (plans/corpus.py): per-user GroupState carries ONLY the last seen
    event type across micro-batches; each batch emits the newly
    observed (from_type, to_type) transition rows in append mode, and
    the global Markov matrix is one batch agg over the emission log.

    The fold is order-dependent but integer-exact: whenever per-user
    events arrive in (ts, event_id) order — guaranteed by both the
    single-file replay and the ordered multi-batch replay source — the
    streamed transition multiset equals the batch LAG multiset row for
    row, so counts, margins, and the one double division are all
    bit-identical. State is one short string per user; the emission
    log is exactly the transition table a production job would sink to
    a log store, so the append-mode shape is the 100 TB shape.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    def emit_transitions(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        last = state.get[0] if state.exists else None
        cols = ["ts", "event_id", "event_type"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        froms, tos = [], []
        if len(df):
            df = df.sort_values(["ts", "event_id"])
            for et in df["event_type"].to_numpy():
                if last is not None:
                    froms.append(last)
                    tos.append(et)
                last = et
            state.update((last,))
        yield pd.DataFrame({"from_type": froms, "to_type": tos})

    out = ev.groupBy("user_id").applyInPandasWithState(
        emit_transitions,
        outputStructType="from_type string, to_type string",
        stateStructType="last_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _run_available_now(out, "stream_transitions", mode="append")
    t = emitted.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
    )
    # rename the margin key: both frames descend from one memory-sink
    # view, and a same-name equi-join trips conflicting-reference
    # resolution on the MemoryPlan lineage
    m = (
        t.select(F.col("from_type").alias("__ft"), "n_transitions")
        .groupBy("__ft")
        .agg(F.sum("n_transitions").cast("long").alias("n_from"))
    )
    return t.join(
        F.broadcast(m), t["from_type"] == m["__ft"]
    ).drop("__ft").select(
        "from_type",
        "to_type",
        "n_transitions",
        "n_from",
        (F.col("n_transitions").cast("double") / F.col("n_from")).alias(
            "p_transition"
        ),
    )


def stream_heavy_hitters_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitters: twin of the batch
    ``frequent_terms_exact`` query (plans/llm_text.py). Documents
    arrive in micro-batches; per-TERM GroupState carries the exact
    integer occurrence count across batches, and the drained emission
    log resolves to the SAME heavy-hitter frame — the candidate set,
    the cross-multiplied count·K > total threshold, and the one final
    double division are all bit-identical because the fold is pure
    integer addition (order-independent).

    The batch query's Misra-Gries stage is its *scan-side* optimization
    (bounded candidate memory before an exact recount); the streaming
    spelling keeps exact per-term counts in the state store instead —
    the RocksDB-backed envelope a production stream actually runs,
    with the same O(vocabulary) state a batch recount would shuffle.
    The final threshold is applied OUTSIDE the stream so restarts and
    batch boundaries can never observe a term flickering in and out of
    heavy-hitter status mid-run.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops
    from ..operators.relational import latest_per_key

    docs = _documents_replay(spark, sf_dir)
    tok = docs.select(F.explode(textops.tokens(F.col("text"))).alias("term"))

    def update_count(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"term": [key[0]], "n_seen": [n]})

    out = tok.groupBy("term").applyInPandasWithState(
        update_count,
        outputStructType="term string, n_seen long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _drain_replay_union(out, "stream_heavy_hitters", mode="update")
    # cross-restart emission log -> final counts = emission with the
    # largest (strictly monotone) n_seen per term
    tc = latest_per_key(emitted, ["term"], [F.col("n_seen").desc()]).select(
        "term", F.col("n_seen").alias("n_occurrences")
    )
    from ..plans.llm_text import _HH_K as k  # same threshold as the batch twin

    n = tc.agg(F.sum("n_occurrences").cast("long").alias("total"))
    return (
        tc.crossJoin(F.broadcast(n))
        .filter(F.col("n_occurrences") * k > F.col("total"))
        .select(
            "term",
            "n_occurrences",
            F.col("total").alias("total_tokens"),
            (F.col("n_occurrences").cast("double") / F.col("total")).alias("share"),
        )
    )


def stream_funnel_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowFunnel: twin of the batch
    ``event_funnel_conversion`` query (plans/events.py). Events arrive
    in (ts, event_id)-ordered micro-batches from the replay source;
    per-USER GroupState is the funnel machine (first-view time, first
    qualifying click time, stage reached), and the drained emission log
    resolves to the SAME single-row conversion frame.

    The fold is order-dependent but exact: under per-user ordered
    arrival, "first view" == MIN(view ts), "first click in
    (t1, t1+1h]" == the batch query's MIN-agg, and "any purchase in
    (t2, t1+1h]" == the batch EXISTS — so the three stage counts and
    the two final divisions are bit-identical. Timestamps live in the
    state as ISO strings (timestamp-type-agnostic across NTZ/TZ
    sessions); comparisons happen in pandas datetime arithmetic inside
    the fold. Stage is monotone non-decreasing, so the cross-restart
    emission log resolves by MAX(stage) per user.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_replay_stream(spark, sf_dir)

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            t1s, t2s, stage = state.get
        else:
            t1s, t2s, stage = "", "", 0
        t1 = pd.Timestamp(t1s) if t1s else None
        t2 = pd.Timestamp(t2s) if t2s else None
        hour = pd.Timedelta(hours=1)
        cols = ["ts", "event_id", "event_type"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if len(df):
            df = df.sort_values(["ts", "event_id"])
            for ts, et in zip(df["ts"], df["event_type"]):
                if stage == 0 and et == "view":
                    t1, stage = ts, 1
                elif stage == 1 and et == "click" and t1 < ts <= t1 + hour:
                    t2, stage = ts, 2
                elif stage == 2 and et == "purchase" and ts > t2 and ts <= t1 + hour:
                    stage = 3
        state.update(
            (
                t1.isoformat() if t1 is not None else "",
                t2.isoformat() if t2 is not None else "",
                stage,
            )
        )
        yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

    out = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id long, stage int",
        stateStructType="t1 string, t2 string, stage int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = _drain_replay_union(out, "stream_funnel", mode="update")
    final = emitted.groupBy("user_id").agg(F.max("stage").alias("stage"))
    counts = final.agg(
        F.sum((F.col("stage") >= 1).cast("long")).cast("bigint").alias("n_view_users"),
        F.sum((F.col("stage") >= 2).cast("long")).cast("bigint").alias("n_click_users"),
        F.sum((F.col("stage") >= 3).cast("long"))
        .cast("bigint")
        .alias("n_purchase_users"),
    )
    return counts.select(
        "n_view_users",
        "n_click_users",
        "n_purchase_users",
        (F.col("n_click_users").cast("double") / F.col("n_view_users")).alias(
            "click_through"
        ),
        (F.col("n_purchase_users").cast("double") / F.col("n_view_users")).alias(
            "purchase_through"
        ),
    )


def stream_banded_dedup_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-writer-wins dedup: twin of the batch
    ``banded_dedup_first_writer`` query (plans/mlprep.py). Documents
    arrive doc_id-ordered; the MinHash signatures and band keys are the
    SAME JVM expressions as the batch query (operators/dedup.py
    _shingle_base and _md5_banded work unchanged on a streaming frame);
    per-BAND-KEY GroupState holds the first writer's doc_id, and each arriving
    (doc, band) row is emitted once with its final verdict — under
    ordered arrival the first writer reaches every key before any
    duplicate, so a verdict never changes after emission (append mode
    is exact, no latest-per-key resolution needed).

    This is the ingest-time admission-control shape a crawler frontend
    runs: state is one long per band key, the stream never sees a pair
    join, and the emission log aggregates to the batch frame
    bit-for-bit (tests/test_streaming.py).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import _md5_banded, _shingle_base
    from ..plans.llm_text import _MH_BANDS, _MH_HASHES

    base = _shingle_base(_documents_replay(spark, sf_dir), "doc_id", "text", 3)
    banded = _md5_banded(base, _MH_HASHES, _MH_BANDS)

    def first_writer(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        band_no, band_key = key
        first = state.get[0] if state.exists else None
        cols = ["__id"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        ids = sorted(int(x) for x in df["__id"]) if len(df) else []
        if ids:
            if first is None:
                first = ids[0]
            state.update((int(first),))
        yield pd.DataFrame(
            {
                "band": [int(band_no)] * len(ids),
                "key": [str(band_key)] * len(ids),
                "doc_id": ids,
                "dup_band": [i > first for i in ids],
            }
        )

    out = banded.groupBy("band", "key").applyInPandasWithState(
        first_writer,
        outputStructType="band int, key string, doc_id long, dup_band boolean",
        stateStructType="first_doc long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # _drain_replay_union is an at-least-once emission log: a crash
    # between sink write and offset commit replays a batch, duplicating
    # rows. Verdicts are deterministic per (band, key, doc_id) — the
    # first writer never changes under ordered arrival — so distinct()
    # on the band-identified row makes the consumer idempotent under
    # replay; without it the n_bands/n_dup_bands counts would inflate.
    emitted = _drain_replay_union(out, "stream_banded_dedup", mode="append").distinct()
    return emitted.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bands"),
        F.sum(F.col("dup_band").cast("int")).cast("int").alias("n_dup_bands"),
        (F.sum(F.col("dup_band").cast("int")) > 0).alias("is_dup"),
    )


def stream_ivf_ann_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF ANN twin: the batch ``ann_ivf_topk`` answered
    incrementally as corpus vectors arrive (the ingest-time shape of a
    vector search index serving a FIXED query panel — e.g. dedup
    probes or safety filters that every new embedding must be checked
    against).

    Index build is the SHARED batch step (build_ivf_centroids), run
    once at stream start over the full corpus — a production system
    builds/refreshes the IVF index offline exactly this way; the
    STREAM is the corpus arrival. Per micro-batch:

      1. arriving vectors are quantized and assigned their single
         Voronoi cell with the same Arrow GEMM UDF as the batch;
      2. a stream-static broadcast join against the probe-exploded
         query panel (bounded ~100 rows, persisted) yields each
         (query, candidate) pair exactly once;
      3. the cosine is computed by the IDENTICAL JVM integer-dot
         expressions as the batch query — bit-for-bit equal doubles;
      4. per-QUERY GroupState folds candidates into a running top-k
         ((cosine desc, c_id asc) order statistics are an associative
         merge: top-k(union) == top-k(top-k(A) ∪ B)), emitting the
         updated top-k with a monotone version = candidates seen.

    The final answer is the latest emission per query over the drained
    log (distinct() first: the log is at-least-once, rows are
    deterministic, so identical duplicates collapse) — equality-tested
    bit-for-bit against the batch ann_ivf_topk in
    tests/test_streaming.py. State per query is O(k) ids+doubles; no
    pair ever shuffles twice; the index stays n_centroids×dim."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..caching import tracked_persist
    from ..operators.similarity import (
        _nearest_centroids_udf,
        build_ivf_centroids,
        cosine_from_norms,
        int_dot,
        int_norm,
        quantize,
    )
    from ..plans.llm_vector import _strided_queries

    K, N_CENT, N_PROBE = 10, 16, 8

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cv = e.select(
        F.col("vec_id").alias("c_id"), quantize(F.col("embedding")).alias("c_vec")
    )
    cents = build_ivf_centroids(cv, N_CENT)
    if not cents:
        return spark.createDataFrame([], "q_id long, c_id long, cosine double, rnk int")
    n_probe = min(N_PROBE, len(cents))
    probe = _nearest_centroids_udf(cents, n_probe)
    assign_final = _nearest_centroids_udf(cents, 1)

    # fixed query panel with probe cells — the static side of the
    # stream-static join, persisted so each micro-batch reuses it
    # instead of re-running the strided sample + probe UDF
    qv = tracked_persist(
        _strided_queries(e)
        .select(
            F.col("vec_id").alias("q_id"), quantize(F.col("embedding")).alias("q_vec")
        )
        .withColumn("q_nrm", int_norm(F.col("q_vec")))
        .withColumn("cell", F.explode(probe(F.col("q_vec"))))
    )

    arriving = (
        _embeddings_replay(spark, sf_dir)
        .select(
            F.col("vec_id").alias("c_id"), quantize(F.col("embedding")).alias("c_vec")
        )
        .withColumn("c_nrm", int_norm(F.col("c_vec")))
        .withColumn("cell", assign_final(F.col("c_vec")).getItem(0))
    )
    cand = (
        arriving.join(F.broadcast(qv), "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
    )

    k_top = K  # captured by value below: the fold must track K

    def topk_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        k = k_top
        if state.exists:
            cids, coss, seen = (
                list(state.get[0]),
                list(state.get[1]),
                int(state.get[2]),
            )
        else:
            cids, coss, seen = [], [], 0
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
            cids.extend(int(x) for x in pdf["c_id"])
            coss.extend(float(x) for x in pdf["cosine"])
        if not n_new:
            return
        merged = sorted(zip(coss, cids), key=lambda t: (-t[0], t[1]))[:k]
        seen += n_new
        state.update(
            ([c for _, c in merged], [s for s, _ in merged], seen)
        )
        yield pd.DataFrame(
            {
                "q_id": [int(key[0])] * len(merged),
                "c_id": [c for _, c in merged],
                "cosine": [s for s, _ in merged],
                "rnk": list(range(1, len(merged) + 1)),
                "ver": [seen] * len(merged),
            }
        )

    out = cand.groupBy("q_id").applyInPandasWithState(
        topk_fold,
        outputStructType="q_id long, c_id long, cosine double, rnk int, ver long",
        stateStructType="c_ids array<bigint>, cosines array<double>, n_seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_ivf_ann", mode="update").distinct()
    latest = log.groupBy("q_id").agg(F.max("ver").alias("ver"))
    return log.join(latest, ["q_id", "ver"]).select("q_id", "c_id", "cosine", "rnk")


def frozen_two_level_route(
    coarse: list[tuple[int, list[int]]],
    fine: dict[int, list[tuple[int, list[int]]]],
):
    """mapInPandas routing kernel for a FROZEN two-level index: returns
    the generator fn that assigns each arriving quantized vector
    coarse→fine with exact int64 arithmetic (argmin with id-asc
    tie-break == the batch struct-min). A coarse cell with no fine
    seeds (possible when the index and the arriving data differ —
    never with same-data replay, since fseeds ⊆ members by
    construction) falls back to the coarse centroid as the single fine
    centroid (c2=0); the batch mirror is
    plans.mlprep._frozen_index_assign, and
    tests/test_streaming.py::test_empty_fine_cell_fallback_agrees
    proves the two paths emit identical rows on that route."""

    def route(batches):
        # frozen index ships by value in the closure; exact int64
        # arithmetic mirrors the batch dist(x2, c) expressions
        import numpy as np
        import pandas as pd

        C = np.array([c for _, c in coarse], dtype="int64")  # (k1, dim)
        c1_ids = [cid for cid, _ in coarse]
        FN = {
            c1: (np.array([fc for _, fc in cells], dtype="int64"),
                 [c2 for c2, _ in cells])
            for c1, cells in fine.items()
        }
        cc = (C * C).sum(axis=1)  # (k1,)
        for pdf in batches:
            ids, c1s, c2s, d2s = [], [], [], []
            for vid, xv in zip(pdf["vec_id"], pdf["x"]):
                x2 = np.asarray(xv, dtype="int64") * 1000
                xx = int(x2 @ x2)
                dc = xx - 2 * (C @ x2) + cc  # (k1,) exact int64
                # argmin with c1-asc tie-break == the batch struct-min
                best = min(range(len(c1_ids)), key=lambda i: (dc[i], c1_ids[i]))
                c1 = c1_ids[best]
                if c1 in FN:
                    FC, f_ids = FN[c1]
                else:
                    # a coarse cell that kept only its COALESCE'd seed has
                    # no fine seeds; for genuinely new vectors landing
                    # there, treat the coarse centroid as the single fine
                    # centroid (c2=0) instead of raising KeyError
                    FC, f_ids = C[best : best + 1], [0]
                df_ = xx - 2 * (FC @ x2) + (FC * FC).sum(axis=1)
                fb = min(range(len(f_ids)), key=lambda i: (df_[i], f_ids[i]))
                ids.append(int(vid))
                c1s.append(c1)
                c2s.append(f_ids[fb])
                d2s.append(int(df_[fb]))
            yield pd.DataFrame(
                {"vec_id": ids, "c1": c1s, "c2": c2s, "d2": d2s}
            )

    return route


def stream_two_level_assign_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the hierarchical (coarse-to-fine) k-means
    assignment behind ``semantic_dedup_prune_2level``: the two
    centroid tables are built once by the shared batch index step
    (_two_level_index — a production system refreshes its routing
    index offline exactly this way) and COLLECTED as the frozen
    routing index (metadata-sized: k1 + k1·k2 rows); arriving vectors
    are routed coarse→fine in one vectorized Arrow stage with the SAME
    exact int64 distance arithmetic as the batch JVM expressions, and
    per-FINE-CELL GroupState folds (n_vecs, sum_d2) — pure integer
    addition, so the drained occupancy/inertia table is bit-identical
    to the batch assignment's aggregate (tests/test_streaming.py).

    This is the ingest-time shape of cluster-routing admission (which
    cell does each arriving embedding land in, how full and how tight
    is each cell) — state is two bigints per fine cell, nothing
    data-sized accumulates."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.similarity import quantize
    from ..plans.mlprep import _SEM2_K1, _SEM2_K2, _two_level_index

    cent_full, fcent_full, _ = _two_level_index(spark, sf_dir, _SEM2_K1, _SEM2_K2)
    coarse = sorted((int(r["c1"]), [int(v) for v in r["c"]]) for r in cent_full.collect())
    fine: dict[int, list[tuple[int, list[int]]]] = {}
    for r in fcent_full.collect():
        fine.setdefault(int(r["c1"]), []).append(
            (int(r["c2"]), [int(v) for v in r["fc"]])
        )
    for cell in fine.values():
        cell.sort()

    arriving = _embeddings_replay(spark, sf_dir).select(
        "vec_id", quantize(F.col("embedding")).alias("x")
    )

    routed = arriving.mapInPandas(
        frozen_two_level_route(coarse, fine), "vec_id long, c1 int, c2 int, d2 long"
    )

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        n, sd = (int(state.get[0]), int(state.get[1])) if state.exists else (0, 0)
        new = 0
        for pdf in pdfs:
            new += len(pdf)
            n += len(pdf)
            sd += int(pdf["d2"].sum())
        if not new:
            return
        state.update((n, sd))
        yield pd.DataFrame(
            {
                "c1": [int(key[0])],
                "c2": [int(key[1])],
                "n_vecs": [n],
                "sum_d2": [sd],
            }
        )

    out = routed.groupBy("c1", "c2").applyInPandasWithState(
        fold,
        outputStructType="c1 int, c2 int, n_vecs long, sum_d2 long",
        stateStructType="n bigint, sd bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode emissions are full per-key state: latest per key wins
    # (distinct first — the log is at-least-once with identical rows)
    log = _drain_replay_union(out, "stream_two_level", mode="update").distinct()
    latest = log.groupBy("c1", "c2").agg(F.max("n_vecs").alias("n_vecs"))
    return log.join(latest, ["c1", "c2", "n_vecs"]).select(
        "c1", "c2", "n_vecs", "sum_d2"
    )


def stream_progressive_coverage_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming progressive span coverage: twin of the batch
    ``progressive_span_coverage`` query (plans/mlprep.py). Documents
    arrive doc_id-ordered; each is tokenized and exploded into 8-gram
    occurrences with the SAME JVM expressions as the batch query
    (_span_grams works unchanged on a streaming frame), and per-GRAM
    GroupState holds the gram's first writer. An occurrence is emitted
    once with its final verdict — ``known`` iff a strictly earlier
    doc_id introduced the gram. Under ordered arrival the introducer
    reaches every gram key before any later document, so a verdict
    never changes after emission (append mode is exact).

    This completes the incremental-op/streaming-twin pattern at the
    gram grain (the span sibling of stream_banded_dedup_state): state
    is one long per distinct gram — the streaming materialization of
    the gram index incremental_gram_index_snapshot freezes to disk —
    and the stream never sees a pair join. The emission log aggregates
    to the batch frame bit-for-bit (tests/test_streaming.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops
    from ..plans.mlprep import _SPAN_N, _span_grams

    docs = _documents_replay(spark, sf_dir)
    tok = docs.select("doc_id", textops.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    g = _span_grams(tok, persist=False)

    def first_writer_cov(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        first = int(state.get[0]) if state.exists else None
        cols = ["doc_id", "pos"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        df = df.sort_values(cols)
        ids = [int(x) for x in df["doc_id"]]
        if first is None:
            first = ids[0]
        state.update((int(first),))
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "pos": [int(x) for x in df["pos"]],
                "known": [i > first for i in ids],
            }
        )

    out = g.groupBy("gh1", "gh2").applyInPandasWithState(
        first_writer_cov,
        outputStructType="doc_id long, pos int, known boolean",
        stateStructType="first_doc long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # at-least-once log; verdicts are deterministic per occurrence
    # under ordered arrival, so distinct() makes consumers idempotent
    emitted = _drain_replay_union(out, "stream_progressive_cov", mode="append").distinct()
    cov = (
        emitted.filter(F.col("known"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cov"))
    )
    lens = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", textops.tokens("text").alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
    )
    return lens.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_cov", F.lit(0)).cast("bigint").alias("known_tokens"),
        (F.coalesce("n_cov", F.lit(0)).cast("double") / F.col("n_tokens")).alias(
            "known_fraction"
        ),
        (F.coalesce("n_cov", F.lit(0)) == F.col("n_tokens")).alias("fully_known"),
    )


def stream_sequence_packing_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: twin of the batch
    ``sequence_packing_pieces`` query (plans/mlprep.py). Documents
    arrive doc_id-ordered; a SINGLE GroupState cell holds the stream's
    token position, and each arriving document emits its (pack, piece)
    rows with the same integer arithmetic as the batch query. Pack
    assignment over one token stream is inherently sequential — the
    single-key fold IS the semantics (production shards the corpus and
    packs per shard; this is one shard's tail). Emission verdicts
    never change (the position is a pure left fold over doc order), so
    append mode is exact and the drained log must equal the batch
    pieces table bit-for-bit (tests/test_streaming.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops
    from ..plans.mlprep import _PACK_LEN

    docs = _documents_replay(spark, sf_dir)
    lens = (
        docs.select(
            "doc_id", F.size(textops.tokens("text")).cast("bigint").alias("n")
        )
        .filter(F.col("n") > 0)
        .withColumn("__g", F.lit(0))
    )
    L = _PACK_LEN

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        cum = int(state.get[0]) if state.exists else 0
        cols = ["doc_id", "n"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        df = df.sort_values("doc_id")
        out = {"pack_id": [], "doc_id": [], "start_offset": [],
               "doc_offset": [], "length": []}
        for doc, n in zip(df["doc_id"], df["n"]):
            prev, n = cum, int(n)
            for k in range(prev // L, (prev + n - 1) // L + 1):
                lo, hi = max(k * L, prev), min((k + 1) * L, prev + n)
                out["pack_id"].append(k)
                out["doc_id"].append(int(doc))
                out["start_offset"].append(lo - k * L)
                out["doc_offset"].append(lo - prev)
                out["length"].append(hi - lo)
            cum = prev + n
        state.update((cum,))
        yield pd.DataFrame(out)

    out = lens.groupBy("__g").applyInPandasWithState(
        fold,
        outputStructType=(
            "pack_id long, doc_id long, start_offset long, "
            "doc_offset long, length long"
        ),
        stateStructType="cum bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # pieces are unique per (doc_id, pack_id) and verdict-stable, so
    # distinct() makes the at-least-once log replay-idempotent
    emitted = _drain_replay_union(out, "stream_seq_packing", mode="append").distinct()
    return emitted.orderBy("pack_id", "start_offset")


def stream_curriculum_state(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """Streaming curriculum head: a running top-k GroupState over
    CLOSING packs, composing ``stream_sequence_packing_state``'s
    single-cell position fold with ``curriculum_pack_order``'s
    pack-quality integer (plans/mlprep.py). Documents arrive
    doc_id-ordered; each doc's hashed-classifier score is a pure JVM
    array expression (same per-token weights as _hq_doc_scores —
    integer addition commutes, so the array fold equals the batch's
    explode+sum). The state cell tracks the stream token position, the
    one partially-open pack's running (n_pieces, score_milli), and the
    top-k closed packs by (score_milli asc, pack_id asc) — the HEAD of
    the curriculum, k rows of state total. A pack closes exactly when
    the position advances past its end (closed ⇔ pack_tokens == L), so
    the drained latest emission must equal the batch
    curriculum_pack_order restricted to FULL packs, re-ranked 1..k —
    bit-identical (tests/test_streaming.py). At 100 TB this is the
    admission-time shape of curriculum selection: O(k) state, one
    integer fold per arriving doc, no retro-scan of closed packs."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops
    from ..plans.mlprep import _HQ_BUCKETS, _HQ_MOD, _HQ_MULT, _PACK_LEN

    docs = _documents_replay(spark, sf_dir)
    toks = textops.tokens("text")

    def wt(tk):
        bucket = F.conv(F.substring(F.md5(tk), 1, 8), 16, 10).cast(
            "bigint"
        ) % _HQ_BUCKETS
        return (bucket * _HQ_MULT) % _HQ_MOD - 500

    lens = (
        docs.select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n"),
            F.aggregate(
                toks, F.lit(0).cast("bigint"), lambda acc, tk: acc + wt(tk)
            ).alias("score"),
        )
        .filter(F.col("n") > 0)
        .withColumn("__g", F.lit(0))
    )
    L, K = _PACK_LEN, k

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            cum, open_id, open_np, open_sm = (
                int(state.get[0]), int(state.get[1]),
                int(state.get[2]), int(state.get[3]),
            )
            top = sorted(zip(state.get[4], state.get[5], state.get[6]))
            # stored as parallel (score_milli, pack_id, n_pieces) arrays
        else:
            cum, open_id, open_np, open_sm, top = 0, -1, 0, 0, []
        cols = ["doc_id", "n", "score"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        df = df.sort_values("doc_id")
        closed = []
        for _, n, score in df.itertuples(index=False):
            prev, n, score = cum, int(n), int(score)
            for kk in range(prev // L, (prev + n - 1) // L + 1):
                lo, hi = max(kk * L, prev), min((kk + 1) * L, prev + n)
                pq = (1000 * score * (hi - lo)) // n  # floor, == _fdiv
                if kk == open_id:
                    open_np += 1
                    open_sm += pq
                else:
                    if open_id >= 0:
                        closed.append((open_sm, open_id, open_np))
                    open_id, open_np, open_sm = kk, 1, pq
            cum = prev + n
        # the open pack closes only once the position passes its end
        if open_id >= 0 and cum >= (open_id + 1) * L:
            closed.append((open_sm, open_id, open_np))
            open_id, open_np, open_sm = -1, 0, 0
        top = sorted(top + closed)[:K]
        state.update(
            (
                cum, open_id, open_np, open_sm,
                [t[0] for t in top], [t[1] for t in top], [t[2] for t in top],
            )
        )
        if not top:
            return
        yield pd.DataFrame(
            {
                "rank": list(range(1, len(top) + 1)),
                "pack_id": [t[1] for t in top],
                "n_pieces": [t[2] for t in top],
                "pack_tokens": [L] * len(top),
                "score_milli": [t[0] for t in top],
                "ver": [cum] * len(top),
            }
        )

    out = lens.groupBy("__g").applyInPandasWithState(
        fold,
        outputStructType=(
            "rank int, pack_id long, n_pieces int, pack_tokens long, "
            "score_milli long, ver long"
        ),
        stateStructType=(
            "cum bigint, open_id bigint, open_np bigint, open_sm bigint, "
            "top_sm array<bigint>, top_id array<bigint>, top_np array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode emissions are the full top-k at position ver: the
    # latest version over the whole cross-restart log wins
    log = _drain_replay_union(out, "stream_curriculum", mode="update").distinct()
    latest = log.agg(F.max("ver").alias("ver"))
    return (
        log.join(latest, "ver")
        .select("rank", "pack_id", "n_pieces", "pack_tokens", "score_milli")
        .orderBy("rank")
    )


def snapshot_events_replay_stream(spark: SparkSession, base_path: str) -> DataFrame:
    """Version-ordered micro-batch replay of a snapshot base's METADATA
    events — one (version, committed, n_files, bytes) row per
    micro-batch, read from a parquet manifest staged next to the base
    (the stream must replay across foreachBatch restarts, so the events
    live on disk like every other replay source, not in a closure).
    This is the lake's "a writer landed/committed a version" feed; at
    100 TB it is O(versions) metadata rows, never data-sized."""
    import os

    from ..sources.io import audit_vacuum_policy

    manifest = base_path + "_events.parquet"
    if not os.path.exists(manifest):
        # stats only — decisions are NOT shipped; the stream derives them
        rows = audit_vacuum_policy(base_path, keep_last=1, torn_grace_seconds=0.0)
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table(
                {
                    "version": pa.array([r["version"] for r in rows], pa.int64()),
                    "committed": pa.array([r["committed"] for r in rows]),
                    "n_files": pa.array([r["n_files"] for r in rows], pa.int64()),
                    "bytes": pa.array([r["bytes"] for r in rows], pa.int64()),
                }
            ),
            manifest,
        )

    return _parquet_replay(  # ONE event per micro-batch
        spark,
        manifest,
        "version long, committed boolean, n_files long, bytes long",
        ["version"],
        1,
    )


def stream_vacuum_janitor_state(
    spark: SparkSession, sf_dir: str, keep_last: int = 2
) -> DataFrame:
    """Streaming vacuum janitor: the lake-lifecycle half of S11 under
    streaming semantics. Snapshot metadata events (one version per
    micro-batch, version-ordered) replay into a single GroupState cell
    that maintains the FULL retention decision table incrementally —
    exactly audit_vacuum_policy's grace-0 policy re-derived after every
    event, over O(versions) integer state. Decisions CHANGE as history
    grows (a retained version ages out when the keep_last window slides
    past it; a torn dir flips inflight→expired when a newer commit
    lands), so update-mode emission + latest-version-wins drain is the
    correct protocol, and the final table must equal the batch audit of
    the same base bit-for-bit (tests/test_streaming.py, RocksDB parity
    included)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.ingest import build_vacuum_history

    base = build_vacuum_history(spark, sf_dir)
    stream_vacuum_janitor_state.last_base = base
    events = snapshot_events_replay_stream(spark, base).withColumn("__g", F.lit(0))
    K = keep_last

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            vs = [int(v) for v in state.get[0]]
            cm = [bool(c) for c in state.get[1]]
            nf = [int(x) for x in state.get[2]]
            bt = [int(x) for x in state.get[3]]
        else:
            vs, cm, nf, bt = [], [], [], []
        cols = ["version", "committed", "n_files", "bytes"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        for v, c, f_, b in df.sort_values("version").itertuples(index=False):
            vs.append(int(v)); cm.append(bool(c)); nf.append(int(f_)); bt.append(int(b))
        state.update((vs, cm, nf, bt))
        committed = sorted(v for v, c in zip(vs, cm) if c)
        keep = set(committed[-K:])
        newest = committed[-1] if committed else None
        out = {"version": [], "committed": [], "n_files": [], "bytes": [],
               "decision": [], "ver": []}
        for v, c, f_, b in sorted(zip(vs, cm, nf, bt)):
            if c:
                dec = "retained" if v in keep else "reclaimable"
            elif newest is None or v > newest:
                dec = "torn_inflight"
            else:
                dec = "torn_expired"  # grace-0 twin: quiescence is immediate
            out["version"].append(v); out["committed"].append(c)
            out["n_files"].append(f_); out["bytes"].append(b)
            out["decision"].append(dec); out["ver"].append(len(vs))
        yield pd.DataFrame(out)

    out = events.groupBy("__g").applyInPandasWithState(
        fold,
        outputStructType=(
            "version long, committed boolean, n_files long, bytes long, "
            "decision string, ver long"
        ),
        stateStructType=(
            "vs array<bigint>, cm array<boolean>, "
            "nf array<bigint>, bt array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_vacuum_janitor", mode="update").distinct()
    latest = log.agg(F.max("ver").alias("ver"))
    return (
        log.join(latest, "ver")
        .select("version", "committed", "n_files", "bytes", "decision")
        .orderBy("version")
    )


def stream_lineage_diff_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``snapshot_lineage_diff`` (plans/ingest.py):
    incremental lineage. Both versions' (doc_id, side, md5) rows replay
    version-ordered — all of v_A, then all of v_B, the order a lake's
    landing log actually produces — into per-DOC_ID GroupState holding
    (old_md5, new_md5). Every event re-emits the key's current
    classification: an A-only doc is tentatively 'deleted' and STAYS
    deleted unless its B row arrives and flips it to
    'updated'/'unchanged'; a B-only doc is 'added'. Latest-emission-
    per-key over the drained update log is therefore the final diff,
    with 'unchanged' filtered at the end — bit-identical to the batch
    full-outer diff (tests/test_streaming.py). Key space = one state
    row per document id (the RocksDB-sized shape, like the banded-dedup
    twin); per-key state is two fixed-width digests."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # stage the version-ordered landing log next to a fresh tmp base
    manifest = _stage_dir("lineage_stream_") + "/events.parquet"
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    a = d.filter(F.col("doc_id") % 3 != 0).select(
        F.lit(0).alias("side"), "doc_id", F.md5("text").alias("h")
    )
    b = d.filter(F.col("doc_id") % 5 != 0).select(
        F.lit(1).alias("side"),
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit("[rev2] "), F.col("text")),
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    a.unionByName(b).orderBy("side", "doc_id").coalesce(1).write.mode(
        "overwrite"
    ).parquet(manifest)
    events = _parquet_replay(
        spark, manifest, "side int, doc_id long, h string", ["side", "doc_id"], 200
    )

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        old_h, new_h, n_ev = (
            (state.get[0], state.get[1], int(state.get[2]))
            if state.exists
            else (None, None, 0)
        )
        cols = ["side", "h"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        for side, h in df.sort_values("side").itertuples(index=False):
            if int(side) == 0:
                old_h = h
            else:
                new_h = h
            n_ev += 1
        state.update((old_h, new_h, n_ev))
        if old_h is None:
            status = "added"
        elif new_h is None:
            status = "deleted"
        elif old_h != new_h:
            status = "updated"
        else:
            status = "unchanged"
        yield pd.DataFrame(
            {
                "doc_id": [int(key[0])],
                "status": [status],
                "old_md5": [old_h],
                "new_md5": [new_h],
                "ver": [n_ev],
            }
        )

    out = events.groupBy("doc_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "doc_id long, status string, old_md5 string, new_md5 string, ver long"
        ),
        stateStructType="old_h string, new_h string, n_ev bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_lineage_diff", mode="update").distinct()
    latest = log.groupBy("doc_id").agg(F.max("ver").alias("ver"))
    return (
        log.join(latest, ["doc_id", "ver"])
        .filter(F.col("status") != "unchanged")
        .select("doc_id", "status", "old_md5", "new_md5")
    )


def stream_quality_drift_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``quality_drift_dashboard`` (plans/mlprep.py):
    drift monitoring as documents ARRIVE. Each doc's hashed-classifier
    score is the same pure JVM array fold as stream_curriculum_state;
    per-SOURCE GroupState holds the (month, band) → count table
    (O(months × distinct bands) integers per source), and every
    micro-batch re-emits the source's trailing-month drift rows with
    the batch query's exact arithmetic — BIGINT TVD numerator, one
    IEEE double division, exact ppm floor-div, row_number tie-break
    re-expressed as (shift desc, band asc) min — so the drained latest
    emission per (source, month) is bit-identical to the batch
    dashboard (tests/test_streaming.py, RocksDB parity included). This
    is the standing-ingest shape: the dashboard updates per batch
    without rescanning the corpus."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops
    from ..plans.mlprep import (
        _HQ_BUCKETS,
        _HQ_MOD,
        _HQ_MULT,
        _QDRIFT_BAND,
        _QDRIFT_MONTHS,
        _QDRIFT_SHIFT,
    )

    docs = _documents_replay(spark, sf_dir, "doc_id long, text string, source string")
    toks = textops.tokens("text")

    def wt(tk):
        bucket = F.conv(F.substring(F.md5(tk), 1, 8), 16, 10).cast(
            "bigint"
        ) % _HQ_BUCKETS
        return (bucket * _HQ_MULT) % _HQ_MOD - 500

    lens = docs.select(
        "source",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("bigint")
            % _QDRIFT_MONTHS
        )
        .cast("int")
        .alias("month_id"),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, tk: acc + wt(tk)
        ).alias("score"),
        F.size(toks).cast("bigint").alias("n_toks"),
    ).filter(F.col("n_toks") >= 0)
    SHIFT, BAND, MONTHS = _QDRIFT_SHIFT, _QDRIFT_BAND, _QDRIFT_MONTHS

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            counts = {}
            for m, b, n in zip(state.get[0], state.get[1], state.get[2]):
                counts[(int(m), int(b))] = int(n)
            seen = int(state.get[3])
        else:
            counts, seen = {}, 0
        cols = ["month_id", "score"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        for m, s in zip(df["month_id"], df["score"]):
            b = (int(s) + SHIFT) // BAND
            counts[(int(m), b)] = counts.get((int(m), b), 0) + 1
            seen += 1
        ks = sorted(counts)
        state.update(
            (
                [k[0] for k in ks], [k[1] for k in ks], [counts[k] for k in ks],
                seen,
            )
        )
        out = {c: [] for c in (
            "source", "month_id", "n_docs", "n_docs_prev", "n_bands",
            "tvd_numerator", "score_tvd", "max_band_shift_ppm",
            "top_shifted_band", "ver",
        )}
        per_month = {}
        for (m, b), n in counts.items():
            per_month.setdefault(m, {})[b] = n
        for m in range(1, MONTHS):
            cur, prv = per_month.get(m, {}), per_month.get(m - 1, {})
            ta, tb = sum(cur.values()), sum(prv.values())
            if ta <= 0 or tb <= 0:
                continue
            bands = sorted(set(cur) | set(prv))
            shifts = [
                (abs(cur.get(b, 0) * tb - prv.get(b, 0) * ta), b) for b in bands
            ]
            num = sum(s for s, _ in shifts)
            mx = max(s for s, _ in shifts)
            top = min(b for s, b in shifts if s == mx)
            out["source"].append(key[0]); out["month_id"].append(m)
            out["n_docs"].append(ta); out["n_docs_prev"].append(tb)
            out["n_bands"].append(len(bands)); out["tvd_numerator"].append(num)
            out["score_tvd"].append(float(num) / (2.0 * float(ta) * float(tb)))
            out["max_band_shift_ppm"].append(mx * 1_000_000 // (ta * tb))
            out["top_shifted_band"].append(top)
            out["ver"].append(seen)
        if not out["source"]:
            return
        yield pd.DataFrame(out)

    out = lens.groupBy("source").applyInPandasWithState(
        fold,
        outputStructType=(
            "source string, month_id int, n_docs long, n_docs_prev long, "
            "n_bands long, tvd_numerator long, score_tvd double, "
            "max_band_shift_ppm long, top_shifted_band long, ver long"
        ),
        stateStructType=(
            "ms array<int>, bs array<bigint>, ns array<bigint>, seen bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_quality_drift", mode="update").distinct()
    latest = log.groupBy("source").agg(F.max("ver").alias("ver"))
    return (
        log.join(latest, ["source", "ver"])
        .select(
            "source", "month_id", "n_docs", "n_docs_prev", "n_bands",
            "tvd_numerator", "score_tvd", "max_band_shift_ppm",
            "top_shifted_band",
        )
    )


def documents_epoch_replay_stream(
    spark: SparkSession, sf_dir: str, batch_rows: int = 100
) -> DataFrame:
    """The documents table in EPOCH-SHUFFLE order: rows arrive sorted
    by md5('1:' || doc_id) — the epoch-1 permutation of the batch
    seeded_epoch_shuffle (plans/mlprep.py) — exactly the order a
    streaming data-loader would consume from the shuffled manifest.
    The key is staged with the manifest's own Spark md5 expression and
    shipped alongside the row so the stateful fold can re-assert
    intra-batch order."""
    from ..plans.mlprep import _manifest_shuffle_key

    staged = _stage_dir("epoch_shuffle_stage_") + "/docs"
    spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars", _manifest_shuffle_key().alias("key")
    ).write.parquet(staged)
    return _parquet_replay(
        spark, staged, "doc_id long, n_chars long, key string", ["key", "doc_id"], batch_rows
    )


def stream_epoch_packing_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming epoch packer: twin of the batch ``seeded_epoch_shuffle``
    manifest (plans/mlprep.py), epoch 1. Documents arrive in
    md5('1:'||doc_id) order; a SINGLE GroupState cell holds (position,
    open-batch partial: n_docs, sum_chars, head_doc) and emits each
    fixed-64-doc batch row AS IT CLOSES — the
    stream_sequence_packing_state shape at the batch-manifest grain.
    Closed-batch rows never change (the fold is a pure left fold over
    the shuffle order), so append mode is exact and the drained log
    must equal the batch manifest restricted to FULL batches
    bit-for-bit (tests/test_streaming.py). O(1) state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.mlprep import _EPOCH_SHUFFLE_BATCH

    docs = documents_epoch_replay_stream(spark, sf_dir).withColumn("__g", F.lit(0))
    B = _EPOCH_SHUFFLE_BATCH

    def fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            pos, nd, sc, head = (int(x) for x in state.get)
        else:
            pos, nd, sc, head = 0, 0, 0, -1
        cols = ["doc_id", "n_chars", "key"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        df = df.sort_values(["key", "doc_id"])
        out = {
            "epoch": [], "batch_id": [], "n_docs": [],
            "sum_chars": [], "head_doc": [], "tail_doc": [],
        }
        for doc, n in zip(df["doc_id"], df["n_chars"]):
            if nd == 0:
                head = int(doc)
            nd += 1
            sc += int(n)
            pos += 1
            if nd == B:
                out["epoch"].append(1)
                out["batch_id"].append(pos // B - 1)
                out["n_docs"].append(nd)
                out["sum_chars"].append(sc)
                out["head_doc"].append(head)
                out["tail_doc"].append(int(doc))
                nd, sc, head = 0, 0, -1
        state.update((pos, nd, sc, head))
        if out["epoch"]:
            yield pd.DataFrame(out)

    out = docs.groupBy("__g").applyInPandasWithState(
        fold,
        outputStructType=(
            "epoch int, batch_id long, n_docs long, sum_chars long, "
            "head_doc long, tail_doc long"
        ),
        stateStructType="pos bigint, nd bigint, sc bigint, head bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # closed batches are unique per batch_id and verdict-stable, so
    # distinct() makes the at-least-once log replay-idempotent
    emitted = _drain_replay_union(out, "stream_epoch_packing", mode="append").distinct()
    return emitted.orderBy("batch_id")


def stream_contrastive_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the batch ``contrastive_hard_negatives``
    miner (plans/llm_vector.py): the anchor panel is fixed (the same
    strided sample, with labels), the CORPUS is the stream — the
    ingest-time shape of continuous hard-negative refresh, where every
    newly embedded document must be scored against the training
    anchors. Per micro-batch, arriving vectors cross the broadcast
    panel once (stream-static join on a constant key), the cosine is
    the IDENTICAL int-dot/sqrt/divide op sequence as the batch GEMM
    (bit-equal doubles), and a per-(anchor, side) GroupState folds a
    running top-k — associative under the (cosine desc, c_id asc)
    total order, so the latest emission per key over the drained log
    equals the batch miner bit-for-bit (tests/test_streaming.py).
    State per key is O(k) ids+doubles; 2×|panel| keys."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..caching import tracked_persist
    from ..operators.similarity import cosine_from_norms, int_dot, int_norm, quantize
    from ..plans.llm_vector import _CONTRASTIVE_K, _strided_queries

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = tracked_persist(
        _strided_queries(e)
        .select(
            F.col("vec_id").alias("q_id"),
            quantize(F.col("embedding")).alias("q_vec"),
            F.col("label").alias("q_lab"),
        )
        .withColumn("q_nrm", int_norm(F.col("q_vec")))
        .withColumn("__one", F.lit(1))
    )
    arriving = (
        _embeddings_replay(spark, sf_dir, "vec_id long, embedding array<double>, label int")
        .select(
            F.col("vec_id").alias("c_id"),
            quantize(F.col("embedding")).alias("c_vec"),
            F.col("label").alias("c_lab"),
        )
        .withColumn("c_nrm", int_norm(F.col("c_vec")))
        .withColumn("__one", F.lit(1))
    )
    cand = (
        arriving.join(F.broadcast(qv), "__one")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            F.when(F.col("c_lab").eqNullSafe(F.col("q_lab")), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("side"),
            "c_id",
            cosine_from_norms(
                int_dot(F.col("q_vec"), F.col("c_vec")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
    )

    k_top = _CONTRASTIVE_K  # captured by value: the fold must track K

    def topk_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        k = k_top
        if state.exists:
            cids, coss, seen = (
                list(state.get[0]),
                list(state.get[1]),
                int(state.get[2]),
            )
        else:
            cids, coss, seen = [], [], 0
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
            cids.extend(int(x) for x in pdf["c_id"])
            coss.extend(float(x) for x in pdf["cosine"])
        if not n_new:
            return
        merged = sorted(zip(coss, cids), key=lambda t: (-t[0], t[1]))[:k]
        seen += n_new
        state.update(([c for _, c in merged], [s for s, _ in merged], seen))
        yield pd.DataFrame(
            {
                "q_id": [int(key[0])] * len(merged),
                "side": [str(key[1])] * len(merged),
                "c_id": [c for _, c in merged],
                "cosine": [s for s, _ in merged],
                "rnk": list(range(1, len(merged) + 1)),
                "ver": [seen] * len(merged),
            }
        )

    out = cand.groupBy("q_id", "side").applyInPandasWithState(
        topk_fold,
        outputStructType=(
            "q_id long, side string, c_id long, cosine double, rnk int, ver long"
        ),
        stateStructType="c_ids array<bigint>, cosines array<double>, n_seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_contrastive", mode="update").distinct()
    latest = log.groupBy("q_id", "side").agg(F.max("ver").alias("ver"))
    return log.join(latest, ["q_id", "side", "ver"]).select(
        "q_id", "side", "c_id", "cosine", "rnk"
    )


def stream_decontamination_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``embedding_decontamination``
    (plans/llm_vector.py), oriented the way production ingests: the
    EVAL panel is frozen (eval sets are small and fixed), the TRAIN
    corpus arrives as a stream, and per-eval GroupState accumulates
    which eval vectors become contaminated as ingestion proceeds —
    count, running max cosine, and the tie-safe worst offender, all
    updating incrementally. Candidates come from the same literal
    hyperplane postings as the batch path (lsh_bucket_keys_gemm), the
    cosine is the identical int-dot/sqrt/divide sequence, and each
    train vector arrives in exactly ONE micro-batch, so a pair's
    multi-table duplicates are always within one chunk — the fold
    dedups them locally, no cross-batch dedup state needed. The
    latest emission per eval over the drained log equals the batch
    relation bit-for-bit (tests/test_streaming.py). State per eval is
    three scalars."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..caching import tracked_persist
    from ..operators.similarity import (
        cosine_from_norms,
        int_dot,
        int_norm,
        lsh_bucket_keys_gemm,
        quantize,
    )
    from ..plans.llm_vector import _ND_DIM, _ND_PLANES, _ND_TABLES, _ND_THRESH

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_eval = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "4"
    eval_post = tracked_persist(
        e.filter(is_eval)
        .select(
            F.col("vec_id").alias("eval_id"),
            quantize(F.col("embedding")).alias("e_vec"),
            lsh_bucket_keys_gemm("embedding", _ND_PLANES, _ND_DIM, _ND_TABLES).alias(
                "keys"
            ),
        )
        .withColumn("e_nrm", int_norm(F.col("e_vec")))
        .select("eval_id", "e_vec", "e_nrm", F.posexplode("keys").alias("tbl", "key"))
    )
    arriving = (
        _embeddings_replay(spark, sf_dir)
        .filter(~(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "4"))
        .select(
            F.col("vec_id").alias("c_id"),
            quantize(F.col("embedding")).alias("c_vec"),
            lsh_bucket_keys_gemm("embedding", _ND_PLANES, _ND_DIM, _ND_TABLES).alias(
                "keys"
            ),
        )
        .withColumn("c_nrm", int_norm(F.col("c_vec")))
        .select("c_id", "c_vec", "c_nrm", F.posexplode("keys").alias("tbl", "key"))
    )
    cand = (
        arriving.join(F.broadcast(eval_post), ["tbl", "key"])
        .select(
            "eval_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("e_vec"), F.col("c_vec")), F.col("e_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(_ND_THRESH))
    )

    def contamination_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            n, mx, best, hwm = (
                int(state.get[0]),
                float(state.get[1]),
                int(state.get[2]),
                int(state.get[3]),
            )
        else:
            n, mx, best, hwm = 0, float("-inf"), -1, -1
        rows = {}
        for pdf in pdfs:
            for c, cos in zip(pdf["c_id"], pdf["cosine"]):
                rows[int(c)] = float(cos)  # multi-table dups collapse here
        if not rows:
            return
        # single-delivery precondition, ENFORCED (round-10 ADVICE): the
        # replay reader ships vec_id-ordered disjoint batches, so every
        # new candidate must sit above the per-eval high-water mark — a
        # re-delivered train vector fails loudly instead of silently
        # double-counting into n_contaminating
        lo = min(rows)
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for eval {int(key[0])}: "
                f"c_id {lo} <= high-water mark {hwm}"
            )
        hwm = max(rows)
        n += len(rows)
        for c, cos in rows.items():
            if (-cos, c) < (-mx, best):
                mx, best = cos, c
        state.update((n, mx, best, hwm))
        yield pd.DataFrame(
            {
                "eval_id": [int(key[0])],
                "n_contaminating": [n],
                "max_cosine": [mx],
                "worst_train_id": [best],
                "ver": [n],
            }
        )

    out = cand.groupBy("eval_id").applyInPandasWithState(
        contamination_fold,
        outputStructType=(
            "eval_id long, n_contaminating long, max_cosine double, "
            "worst_train_id long, ver long"
        ),
        stateStructType="n bigint, mx double, best bigint, hwm bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_decontam", mode="update").distinct()
    latest = log.groupBy("eval_id").agg(F.max("ver").alias("ver"))
    return log.join(latest, ["eval_id", "ver"]).select(
        "eval_id", "n_contaminating", "max_cosine", "worst_train_id"
    )


def stream_mv_maintenance_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MV maintenance twin: the batch
    ``incremental_mv_maintenance`` (plans/ingest.py) with the nightly
    delta replaced by a CHANGELOG STREAM — the per-priority revenue
    rollup maintained incrementally as delta orders arrive.

    The v1 base (o_orderkey % 4 != 0) is the SHARED batch step — a
    production MV is bootstrapped from a snapshot exactly this way;
    the STREAM is the delta (o_orderkey % 4 == 0) arriving through the
    o_orderkey-ordered replay reader. Per priority, a GroupState cell
    folds (n_orders, revenue CENTS as bigint — the decimal is carried
    as its exact scaled integer, so the fold is pure int addition and
    the state struct needs no decimal support), emitting the running
    totals with a monotone version = rows folded. The final merge —
    base FULL OUTER latest-fold, cents rescaled to DECIMAL by exact
    multiplication, d2d cast — must equal the batch query's v2
    snapshot output bit-for-bit (tests/test_streaming.py), including
    n_from_delta and the mv_version literal.

    State per priority is 3 integers; the key space is the priority
    domain (5 values), so state is O(1) at any corpus size and every
    delta row shuffles exactly once."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.numeric import d2d, dec2

    delta = (
        _parquet_replay(
            spark,
            f"{sf_dir}/orders.parquet",
            "o_orderkey long, o_orderpriority string, o_totalprice double",
            ["o_orderkey"],
            2000,
        )
        .filter(F.col("o_orderkey") % 4 == 0)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderkey").alias("okey"),
            (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )

    def mv_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            n, cents, hwm = int(state.get[0]), int(state.get[1]), int(state.get[2])
        else:
            n, cents, hwm = 0, 0, -1
        got, lo, hi = 0, None, hwm
        for pdf in pdfs:
            got += len(pdf)
            for k, c in zip(pdf["okey"], pdf["cents"]):
                cents += int(c)
                lo = int(k) if lo is None else min(lo, int(k))
                hi = max(hi, int(k))
        if not got:
            return
        # single-delivery precondition, ENFORCED (round-11 ADVICE, same
        # discipline as the contamination folds): the replay reader
        # ships o_orderkey-ordered disjoint batches, so every new delta
        # order must sit above the per-priority high-water mark — a
        # re-delivered replay micro-batch fails loudly instead of
        # silently double-counting n_orders and cents
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for priority {key[0]!r}: "
                f"o_orderkey {lo} <= high-water mark {hwm}"
            )
        n += got
        state.update((n, cents, hi))
        yield pd.DataFrame(
            {
                "priority": [key[0]],
                "d_orders": [n],
                "d_cents": [cents],
                "ver": [n],
            }
        )

    out = delta.groupBy("priority").applyInPandasWithState(
        mv_fold,
        outputStructType="priority string, d_orders long, d_cents long, ver long",
        stateStructType="n bigint, cents bigint, hwm bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_mv_maint", mode="update").distinct()
    latest = log.groupBy("priority").agg(F.max("ver").alias("ver"))
    fold = log.join(latest, ["priority", "ver"]).select(
        "priority", "d_orders", "d_cents"
    )

    # shared batch step: the v1 base rollup (same decimal sums as the
    # batch query's snapshot write — parquet-roundtrip exact)
    from ..catalog import table as _table

    base = (
        _table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 != 0)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(dec2("o_totalprice")).alias("__rev"),
        )
    )
    merged = base.join(fold, "priority", "full_outer").select(
        "priority",
        (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_orders", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (
            F.coalesce(F.col("__rev"), F.lit(0).cast("decimal(12,2)"))
            + F.coalesce(
                F.col("d_cents").cast("decimal(20,0)")
                * F.lit("0.01").cast("decimal(3,2)"),
                F.lit(0).cast("decimal(12,2)"),
            )
        ).alias("__rev"),
        F.coalesce("d_orders", F.lit(0)).cast("bigint").alias("n_from_delta"),
    )
    return merged.select(
        "priority",
        "n_orders",
        d2d(F.col("__rev"), "revenue"),
        "n_from_delta",
        F.lit(2).cast("int").alias("mv_version"),
    )


def stream_cluster_contamination_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cluster_contamination_report``
    (plans/llm_vector.py) — the round-11 cluster-grain rollup answered
    incrementally: the EVAL panel and the near-dup CLUSTER MEMBERSHIP
    are frozen (both are index-build artifacts), the TRAIN corpus
    arrives as a stream, and per-CLUSTER GroupState maintains the
    quarantine report as contamination links land.

    Candidates are the same literal hyperplane postings + int-dot
    cosine as the batch path; each link routes to its eval's cluster
    through a stream-static join on the persisted membership. State
    per cluster is the per-eval (max cosine, tie-safe worst train,
    link count) table — bounded by the cluster's eval-member count —
    plus a c_id high-water mark that enforces the replay reader's
    single-delivery guarantee loudly (the round-10 ADVICE discipline).
    The emitted report derives the batch columns exactly: counts and
    links are integers, worst-pair selection replays the batch's
    (max_cosine DESC, eval_id ASC) then per-eval (cosine DESC,
    train ASC) order statistics, and the final static join adds the
    cluster's fixed eval-member/size totals so contamination_rate is
    the identical double division. Latest emission per cluster over
    the drained log equals the batch relation bit-for-bit
    (tests/test_streaming.py)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..caching import tracked_persist
    from ..operators.similarity import (
        cosine_from_norms,
        int_dot,
        int_norm,
        lsh_bucket_keys_gemm,
        quantize,
    )
    from ..plans.llm_vector import (
        _ND_DIM,
        _ND_PLANES,
        _ND_TABLES,
        _ND_THRESH,
        embedding_neardup_clusters,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_eval = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "4"
    eval_post = tracked_persist(
        e.filter(is_eval)
        .select(
            F.col("vec_id").alias("eval_id"),
            quantize(F.col("embedding")).alias("e_vec"),
            lsh_bucket_keys_gemm("embedding", _ND_PLANES, _ND_DIM, _ND_TABLES).alias(
                "keys"
            ),
        )
        .withColumn("e_nrm", int_norm(F.col("e_vec")))
        .select("eval_id", "e_vec", "e_nrm", F.posexplode("keys").alias("tbl", "key"))
    )
    # frozen membership at the EVAL grain (index-build artifact, like
    # the IVF centroids): persisted so micro-batches don't rebuild it
    membership = tracked_persist(
        embedding_neardup_clusters(spark, sf_dir)
        .filter(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "4")
        .select(
            F.col("vec_id").alias("eval_id"), "cluster_id", "cluster_size"
        )
    )
    arriving = (
        _embeddings_replay(spark, sf_dir)
        .filter(~(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "4"))
        .select(
            F.col("vec_id").alias("c_id"),
            quantize(F.col("embedding")).alias("c_vec"),
            lsh_bucket_keys_gemm("embedding", _ND_PLANES, _ND_DIM, _ND_TABLES).alias(
                "keys"
            ),
        )
        .withColumn("c_nrm", int_norm(F.col("c_vec")))
        .select("c_id", "c_vec", "c_nrm", F.posexplode("keys").alias("tbl", "key"))
    )
    linked = (
        arriving.join(F.broadcast(eval_post), ["tbl", "key"])
        .select(
            "eval_id",
            "c_id",
            cosine_from_norms(
                int_dot(F.col("e_vec"), F.col("c_vec")), F.col("e_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(_ND_THRESH))
        .join(membership.select("eval_id", "cluster_id"), "eval_id")
    )

    def cluster_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            evals = list(state.get[0])
            maxcos = list(state.get[1])
            btrain = list(state.get[2])
            n_links, hwm = int(state.get[3]), int(state.get[4])
        else:
            evals, maxcos, btrain, n_links, hwm = [], [], [], 0, -1
        pairs = {}
        for pdf in pdfs:
            for ev, c, cos in zip(pdf["eval_id"], pdf["c_id"], pdf["cosine"]):
                pairs[(int(ev), int(c))] = float(cos)  # table dups collapse
        if not pairs:
            return
        lo = min(c for (_, c) in pairs)
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for cluster {int(key[0])}: "
                f"c_id {lo} <= high-water mark {hwm}"
            )
        hwm = max(c for (_, c) in pairs)
        n_links += len(pairs)
        idx = {ev: i for i, ev in enumerate(evals)}
        for (ev, c), cos in pairs.items():
            i = idx.get(ev)
            if i is None:
                idx[ev] = len(evals)
                evals.append(ev)
                maxcos.append(cos)
                btrain.append(c)
            elif (-cos, c) < (-maxcos[i], btrain[i]):
                maxcos[i], btrain[i] = cos, c
        state.update((evals, maxcos, btrain, n_links, hwm))
        # batch order statistics: worst eval = (max_cosine DESC, eval ASC)
        wi = min(range(len(evals)), key=lambda i: (-maxcos[i], evals[i]))
        yield pd.DataFrame(
            {
                "cluster_id": [int(key[0])],
                "n_contaminated": [len(evals)],
                "n_links": [n_links],
                "worst_cosine": [max(maxcos)],
                "worst_eval_id": [evals[wi]],
                "worst_train_id": [btrain[wi]],
                "ver": [n_links],
            }
        )

    out = linked.groupBy("cluster_id").applyInPandasWithState(
        cluster_fold,
        outputStructType=(
            "cluster_id long, n_contaminated long, n_links long, "
            "worst_cosine double, worst_eval_id long, worst_train_id long, "
            "ver long"
        ),
        stateStructType=(
            "evals array<bigint>, maxcos array<double>, btrain array<bigint>, "
            "n_links bigint, hwm bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_cluster_contam", mode="update").distinct()
    latest = log.groupBy("cluster_id").agg(F.max("ver").alias("ver"))
    rep = log.join(latest, ["cluster_id", "ver"]).drop("ver")
    totals = membership.groupBy("cluster_id").agg(
        F.max("cluster_size").cast("bigint").alias("cluster_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval_members"),
    )
    return rep.join(totals, "cluster_id").select(
        "cluster_id",
        "cluster_size",
        "n_eval_members",
        F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
        (
            F.col("n_contaminated").cast("double") / F.col("n_eval_members")
        ).alias("contamination_rate"),
        F.col("n_links").cast("bigint").alias("n_links"),
        "worst_cosine",
        "worst_eval_id",
        "worst_train_id",
    )


def staged_delta_docs_stream(
    spark: SparkSession, sf_dir: str, batch_rows: int = 40
) -> DataFrame:
    """Replay the STAGED delta-kept doc list of the incremental
    manifest (plans/mlprep.py:_decon_kept_with_arrival, is_new side)
    in md5-shuffle order — the order the manifest ranks by. The gate
    chain is an index-build artifact (exactly as the contamination
    twins freeze cluster membership), so the twin stages its output to
    a parquet and the reader ships (key, doc_id, n_chars) rows in
    (key, doc_id) order in disjoint micro-batches."""
    from ..plans.mlprep import _decon_kept_with_arrival, _manifest_shuffle_key

    staged = _stage_dir("manifest_delta_stage_") + "/delta"
    (
        _decon_kept_with_arrival(spark, sf_dir)
        .filter(F.col("is_new"))
        .select(
            _manifest_shuffle_key().alias("k"),
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .write.parquet(staged)
    )

    return _parquet_replay(
        spark, staged, "k string, doc_id long, n_chars long", ["k", "doc_id"], batch_rows
    )


def stream_manifest_maintenance_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``incremental_manifest_maintenance``
    (plans/mlprep.py): the shipped manifest v1 is the SHARED batch step
    (bootstrapped from the snapshot, exactly like
    ``stream_mv_maintenance_state`` bootstraps the MV base); the delta
    arrivals stream in md5-shuffle order and a SINGLE GroupState cell
    folds them into append-side batches — position counter plus the
    open batch's running (n_docs, sum_chars, head_doc, tail_doc) — so
    state is O(1) regardless of corpus size. Batch assignment over one
    shuffle-ordered stream is inherently sequential (production shards
    by epoch and folds per shard; this is one epoch's tail).

    Emissions are running per-batch rows with a monotone ver = stream
    position; the drain takes latest-per-batch, and the final merged
    table (v1 carried verbatim + offset delta batches) must equal the
    batch op's v2 output bit-for-bit (tests/test_streaming.py). Single
    delivery is ENFORCED via a (key, doc_id) high-water mark — a
    re-delivered replay micro-batch fails loudly."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.mlprep import (
        _EPOCH_SHUFFLE_BATCH,
        _decon_kept_with_arrival,
        _manifest_batches,
    )

    B = _EPOCH_SHUFFLE_BATCH
    delta = staged_delta_docs_stream(spark, sf_dir).withColumn("__g", F.lit(0))

    def manifest_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            pos, last_k, last_doc = (
                int(state.get[0]),
                state.get[1],
                int(state.get[2]),
            )
            cur, n, chars, head, tail = (
                int(state.get[3]),
                int(state.get[4]),
                int(state.get[5]),
                int(state.get[6]),
                int(state.get[7]),
            )
        else:
            pos, last_k, last_doc = 0, "", -1
            cur, n, chars, head, tail = -1, 0, 0, -1, -1
        cols = ["k", "doc_id", "n_chars"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        df = df.sort_values(["k", "doc_id"])
        first_k, first_doc = str(df["k"].iloc[0]), int(df["doc_id"].iloc[0])
        # single-delivery precondition, ENFORCED: the replay reader
        # ships (k, doc_id)-ordered disjoint batches, so every new row
        # must sit strictly above the high-water mark
        if (first_k, first_doc) <= (last_k, last_doc):
            raise ValueError(
                f"duplicate cross-batch delivery: ({first_k}, {first_doc})"
                f" <= high-water mark ({last_k}, {last_doc})"
            )
        touched: dict[int, tuple[int, int, int, int, int]] = {}
        for k, doc, nc in zip(df["k"], df["doc_id"], df["n_chars"]):
            pos += 1
            rel = (pos - 1) // B
            if rel != cur:
                cur, n, chars, head, tail = rel, 0, 0, int(doc), int(doc)
            n += 1
            chars += int(nc)
            tail = int(doc)
            touched[cur] = (n, chars, head, tail, pos)
            last_k, last_doc = str(k), int(doc)
        state.update((pos, last_k, last_doc, cur, n, chars, head, tail))
        yield pd.DataFrame(
            {
                "rel_batch": list(touched),
                "n_docs": [v[0] for v in touched.values()],
                "sum_chars": [v[1] for v in touched.values()],
                "head_doc": [v[2] for v in touched.values()],
                "tail_doc": [v[3] for v in touched.values()],
                "ver": [v[4] for v in touched.values()],
            }
        )

    out = delta.groupBy("__g").applyInPandasWithState(
        manifest_fold,
        outputStructType=(
            "rel_batch long, n_docs long, sum_chars long, "
            "head_doc long, tail_doc long, ver long"
        ),
        stateStructType=(
            "pos bigint, last_k string, last_doc bigint, cur bigint, "
            "n bigint, chars bigint, head bigint, tail bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_manifest_maint", mode="update").distinct()
    latest = log.groupBy("rel_batch").agg(F.max("ver").alias("ver"))
    fold = log.join(latest, ["rel_batch", "ver"]).select(
        "rel_batch", "n_docs", "sum_chars", "head_doc", "tail_doc"
    )

    # shared batch step: v1 (the shipped manifest) — identical to the
    # batch op's snapshot bootstrap
    kept = _decon_kept_with_arrival(spark, sf_dir)
    v1 = _manifest_batches(kept.filter(~F.col("is_new"))).select(
        F.col("rel_batch").alias("batch_id"),
        "n_docs",
        "sum_chars",
        "head_doc",
        "tail_doc",
        F.lit(False).alias("from_delta"),
    )
    offset = v1.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias("__n1")
    )
    appended = fold.crossJoin(F.broadcast(offset)).select(
        (F.col("__n1") + F.col("rel_batch")).cast("bigint").alias("batch_id"),
        "n_docs",
        "sum_chars",
        "head_doc",
        "tail_doc",
        F.lit(True).alias("from_delta"),
    )
    return v1.unionByName(appended)


def stream_gate_backfill_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``gate_version_backfill_plan``
    (plans/mlprep.py): the re-gate work list maintained as documents
    ARRIVE. Both keep verdicts (Gopher v1 and the v2 thresholds) are
    the same pure JVM expressions as the batch planner, computed on the
    stream; per-SHARD GroupState folds four integers (n_docs,
    n_flip_drop, n_flip_keep, doc_id high-water mark — single delivery
    ENFORCED like the other replay folds), re-emitting the shard's
    running row with a monotone ver. The drained latest-per-shard,
    filtered to flips>0, must equal the batch work list bit-for-bit
    (tests/test_streaming.py; RocksDB parity matrix). State is O(1)
    per shard — the key space is the shard domain, corpus/32."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators import textops
    from ..plans.mlprep import _gate_v2_keep

    docs = _documents_replay(spark, sf_dir)
    flags = textops.gopher_quality_flags(F.col("text"))
    v = docs.select(
        F.expr("doc_id div 32").cast("bigint").alias("shard"),
        F.col("doc_id"),
        flags["keep"].alias("keep_v1"),
        _gate_v2_keep(flags).alias("keep_v2"),
    )

    def backfill_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            n, drop, keep, hwm = (
                int(state.get[0]),
                int(state.get[1]),
                int(state.get[2]),
                int(state.get[3]),
            )
        else:
            n, drop, keep, hwm = 0, 0, 0, -1
        cols = ["doc_id", "keep_v1", "keep_v2"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        lo = int(df["doc_id"].min())
        # single-delivery precondition, ENFORCED: the replay reader
        # ships doc_id-ordered disjoint batches
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for shard {int(key[0])}: "
                f"doc_id {lo} <= high-water mark {hwm}"
            )
        hwm = int(df["doc_id"].max())
        n += len(df)
        drop += int(((df["keep_v1"] == 1) & (df["keep_v2"] == 0)).sum())
        keep += int(((df["keep_v1"] == 0) & (df["keep_v2"] == 1)).sum())
        state.update((n, drop, keep, hwm))
        yield pd.DataFrame(
            {
                "shard": [int(key[0])],
                "n_docs": [n],
                "n_flip_drop": [drop],
                "n_flip_keep": [keep],
                "ver": [n],
            }
        )

    out = v.groupBy("shard").applyInPandasWithState(
        backfill_fold,
        outputStructType=(
            "shard long, n_docs long, n_flip_drop long, n_flip_keep long, ver long"
        ),
        stateStructType="n bigint, drop bigint, keep bigint, hwm bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_gate_backfill", mode="update").distinct()
    latest = log.groupBy("shard").agg(F.max("ver").alias("ver"))
    return (
        log.join(latest, ["shard", "ver"])
        .filter((F.col("n_flip_drop") + F.col("n_flip_keep")) > 0)
        .select("shard", "n_docs", "n_flip_drop", "n_flip_keep")
    )


def stream_mojibake_repair_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``mojibake_repair_audit`` (plans/llm_text.py):
    the encoding-repair audit maintained as documents ARRIVE. The
    damaged feed, the repair, and the per-doc counters are the same
    pure JVM replace chains as the batch op (moji_doc_audit), computed
    on the stream; per-SOURCE GroupState folds six integers (n_docs,
    n_mojibake, n_seq_a, n_seq_e, n_repaired_ok, chars_recovered —
    plus the doc_id high-water mark, single delivery ENFORCED like the
    other replay folds), re-emitting the source's running row with a
    monotone ver. The drained latest-per-source must equal the batch
    audit bit-for-bit (tests/test_streaming.py; RocksDB parity
    matrix). State is O(1) per source — the key space is the source
    domain, ~180 rows at any corpus size."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.llm_text import moji_doc_audit

    docs = _documents_replay(spark, sf_dir, "doc_id long, text string, source string")
    flags = moji_doc_audit(docs)

    def moji_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            n, moji, sa, se, ok, chars, hwm = (int(x) for x in state.get)
        else:
            n, moji, sa, se, ok, chars, hwm = 0, 0, 0, 0, 0, 0, -1
        cols = [
            "doc_id", "detected", "n_seq_a", "n_seq_e", "repaired_ok", "char_delta"
        ]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        lo = int(df["doc_id"].min())
        # single-delivery precondition, ENFORCED: the replay reader
        # ships doc_id-ordered disjoint batches
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for source {key[0]}: "
                f"doc_id {lo} <= high-water mark {hwm}"
            )
        hwm = int(df["doc_id"].max())
        n += len(df)
        moji += int(df["detected"].sum())
        sa += int(df["n_seq_a"].sum())
        se += int(df["n_seq_e"].sum())
        ok += int(df["repaired_ok"].sum())
        chars += int(df["char_delta"].sum())
        state.update((n, moji, sa, se, ok, chars, hwm))
        yield pd.DataFrame(
            {
                "source": [str(key[0])],
                "n_docs": [n],
                "n_mojibake": [moji],
                "n_seq_a": [sa],
                "n_seq_e": [se],
                "n_repaired_ok": [ok],
                "chars_recovered": [chars],
                "ver": [n],
            }
        )

    out = flags.groupBy("source").applyInPandasWithState(
        moji_fold,
        outputStructType=(
            "source string, n_docs long, n_mojibake long, n_seq_a long, "
            "n_seq_e long, n_repaired_ok long, chars_recovered long, ver long"
        ),
        stateStructType=(
            "n bigint, moji bigint, sa bigint, se bigint, ok bigint, "
            "chars bigint, hwm bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_mojibake_repair", mode="update").distinct()
    latest = log.groupBy("source").agg(F.max("ver").alias("ver"))
    return log.join(latest, ["source", "ver"]).select(
        "source", "n_docs", "n_mojibake", "n_seq_a", "n_seq_e",
        "n_repaired_ok", "chars_recovered",
    )


def stream_fim_plan_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``fim_span_corruption_plan`` (plans/mlprep.py):
    the FIM augmentation plan maintained as documents ARRIVE. The md5
    cut draws, PSM/SPM mode, and segment lengths are the same pure JVM
    expressions as the batch planner (fim_doc_plan), computed on the
    stream; per-(SOURCE, MODE) GroupState folds the five integer sums,
    the running max middle-ppm, and the ppm sum (the avg is the one
    final double, divided at drain exactly as the batch agg divides) —
    plus the doc_id high-water mark, single delivery ENFORCED. The
    drained latest-per-key must equal the batch plan bit-for-bit
    (tests/test_streaming.py; RocksDB parity matrix). State is O(1)
    per key — the key space is source × {psm, spm}."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.mlprep import fim_doc_plan

    docs = _documents_replay(spark, sf_dir, "doc_id long, text string, source string").select(
        "doc_id", "source", F.length("text").cast("bigint").alias("n_chars")
    )
    plan = fim_doc_plan(docs).withColumn(
        "ppm", F.expr("middle_len * 1000000 div L")
    )

    def fim_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            n, whole, p, m, sfx, mx, sp, hwm = (int(x) for x in state.get)
        else:
            n, whole, p, m, sfx, mx, sp, hwm = 0, 0, 0, 0, 0, -1, 0, -1
        cols = [
            "doc_id", "eligible", "prefix_len", "middle_len", "suffix_len", "ppm"
        ]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        lo = int(df["doc_id"].min())
        # single-delivery precondition, ENFORCED: the replay reader
        # ships doc_id-ordered disjoint batches
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for {tuple(key)}: "
                f"doc_id {lo} <= high-water mark {hwm}"
            )
        hwm = int(df["doc_id"].max())
        n += len(df)
        whole += int((~df["eligible"]).sum())
        p += int(df["prefix_len"].sum())
        m += int(df["middle_len"].sum())
        sfx += int(df["suffix_len"].sum())
        mx = max(mx, int(df["ppm"].max()))
        sp += int(df["ppm"].sum())
        state.update((n, whole, p, m, sfx, mx, sp, hwm))
        yield pd.DataFrame(
            {
                "source": [str(key[0])],
                "mode": [str(key[1])],
                "n_docs": [n],
                "n_whole": [whole],
                "sum_prefix": [p],
                "sum_middle": [m],
                "sum_suffix": [sfx],
                "max_middle_ppm": [mx],
                "sum_ppm": [sp],
                "ver": [n],
            }
        )

    out = plan.groupBy("source", "mode").applyInPandasWithState(
        fim_fold,
        outputStructType=(
            "source string, mode string, n_docs long, n_whole long, "
            "sum_prefix long, sum_middle long, sum_suffix long, "
            "max_middle_ppm long, sum_ppm long, ver long"
        ),
        stateStructType=(
            "n bigint, whole bigint, p bigint, m bigint, sfx bigint, "
            "mx bigint, sp bigint, hwm bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_fim_plan", mode="update").distinct()
    latest = log.groupBy("source", "mode").agg(F.max("ver").alias("ver"))
    return log.join(latest, ["source", "mode", "ver"]).select(
        "source", "mode", "n_docs", "n_whole", "sum_prefix", "sum_middle",
        "sum_suffix", "max_middle_ppm",
        # the one double, divided exactly as the batch agg divides
        (F.col("sum_ppm").cast("double") / F.col("n_docs")).alias("avg_middle_ppm"),
    )


def stream_excision_repair_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``manifest_excision_repair``
    (plans/mlprep.py): the blast-radius plan's EXECUTOR run as the
    affected batches' rosters ARRIVE. The shipped assignment and the
    blast set are the SHARED batch step (_excision_assign_and_blast —
    exactly as the gate-backfill twin shares its verdict expressions);
    the affected batches' member rows then stream through a per-batch
    GroupState fold that accumulates the SURVIVOR stats (n_docs,
    sum_chars, head/tail doc) while excised rows advance only the
    doc_id high-water mark — min/max over survivors is monotone under
    doc_id-ordered arrival, so state is five integers per batch, never
    a roster. Single delivery is ENFORCED via the high-water mark; a
    fully-excised batch never emits a survivor row (n_docs stays 0 and
    the drain filters it), matching the batch op, which drops such
    batches from the repaired side. The drained latest-per-batch rows
    (repaired=true) union the carried v1 stats (batch side, identical
    expressions) and the result must equal the batch op's v2 output
    bit-for-bit (tests/test_streaming.py; RocksDB parity matrix)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..plans.mlprep import (
        _excision_assign_and_blast,
        _excision_batch_stats,
    )

    assign, blast = _excision_assign_and_blast(spark, sf_dir)
    affected = assign.join(blast, "doc_id", "left_semi").select("batch_id").distinct()

    roster_path = _stage_dir("excision_roster_stage_") + "/roster"
    (
        assign.join(F.broadcast(affected), "batch_id", "left_semi")
        .join(blast.withColumn("is_blast", F.lit(True)), "doc_id", "left")
        .select(
            "batch_id",
            "doc_id",
            "n_chars",
            F.coalesce("is_blast", F.lit(False)).alias("is_blast"),
        )
        .write.parquet(roster_path)
    )

    rows = _parquet_replay(
        spark,
        roster_path,
        "batch_id long, doc_id long, n_chars long, is_blast boolean",
        ["batch_id", "doc_id"],
        48,
    )

    def repair_fold(key, pdfs, state):
        # self-contained (pickled by value): no references to this module
        import pandas as pd

        if state.exists:
            seen, n, chars, head, tail, hwm = (int(v) for v in state.get)
        else:
            seen, n, chars, head, tail, hwm = 0, 0, 0, -1, -1, -1
        cols = ["doc_id", "n_chars", "is_blast"]
        chunks = [pdf[cols] for pdf in pdfs]
        df = pd.concat(chunks) if chunks else pd.DataFrame(columns=cols)
        if not len(df):
            return
        df = df.sort_values("doc_id")
        lo = int(df["doc_id"].iloc[0])
        # single-delivery precondition, ENFORCED: the replay reader
        # ships (batch_id, doc_id)-ordered disjoint batches
        if lo <= hwm:
            raise ValueError(
                f"duplicate cross-batch delivery for batch {int(key[0])}: "
                f"doc_id {lo} <= high-water mark {hwm}"
            )
        hwm = int(df["doc_id"].iloc[-1])
        seen += len(df)
        surv = df[~df["is_blast"]]
        if len(surv):
            n += len(surv)
            chars += int(surv["n_chars"].sum())
            if head < 0:
                head = int(surv["doc_id"].iloc[0])
            tail = int(surv["doc_id"].iloc[-1])
        state.update((seen, n, chars, head, tail, hwm))
        yield pd.DataFrame(
            {
                "batch_id": [int(key[0])],
                "n_docs": [n],
                "sum_chars": [chars],
                "head_doc": [head],
                "tail_doc": [tail],
                "ver": [seen],
            }
        )

    out = rows.groupBy("batch_id").applyInPandasWithState(
        repair_fold,
        outputStructType=(
            "batch_id long, n_docs long, sum_chars long, "
            "head_doc long, tail_doc long, ver long"
        ),
        stateStructType=(
            "seen bigint, n bigint, chars bigint, head bigint, "
            "tail bigint, hwm bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    log = _drain_replay_union(out, "stream_excision_repair", mode="update").distinct()
    latest = log.groupBy("batch_id").agg(F.max("ver").alias("ver"))
    repaired = (
        log.join(latest, ["batch_id", "ver"])
        .filter(F.col("n_docs") > 0)
        .select("batch_id", "n_docs", "sum_chars", "head_doc", "tail_doc")
        .withColumn("repaired", F.lit(True))
    )

    carried = (
        _excision_batch_stats(assign)
        .join(F.broadcast(affected), "batch_id", "left_anti")
        .withColumn("repaired", F.lit(False))
    )
    return carried.unionByName(repaired)
