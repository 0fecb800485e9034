"""Structured-Streaming WAL tail (C8) + exactly-once sink (C7/R8).

Generalizes the reference's incremental harvest (modified-since date window,
SURVEY.md §3.1) to a resumable change-event file tail: ``readStream`` over
the log directory, ``foreachBatch`` bridging into the batch apply lifecycle
(engine.apply_batch), offsets/commits tracked in the Structured Streaming
checkpoint, and the lake table's batch-id ledger making re-delivered
micro-batches metadata-only no-ops — replay from ANY checkpoint (including
none) reconverges to the identical table state because the merge itself is
version-conditional and commutative.

Streaming-only operators (R1-R7) live here as thin, tested wrappers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from rap_etl_spark.engine import CdcEngine
from rap_etl_spark.lake import ManifestParquetTable
from rap_etl_spark.schemas import EVENTS_SCHEMA


def stream_tail(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    table: ManifestParquetTable,
    lineage_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    schema=None,
    prune_ledger_every: int | None = None,
    source: str = "parquet",
    publish_dir: str | None = None,
    publish_format: str = "parquet",
    auto_evolve: bool = False,
    quarantine_dir: str | None = None,
    mv_dirs: list[str] | None = None,
) -> StreamingQuery:
    """Tail `src_dir` (parquet change-event files, `.rapwal` binlog
    segments with ``source="binlog"``, or a partitioned WAL topic with
    ``source="topic"`` — vector offsets, `maxSegmentsPerTrigger` as a
    total round-robin cap) into `table`.

    ``available_now=True`` processes the current backlog in rate-limited
    micro-batches then stops — bounded replay, the batch-mode twin. A
    long-running tail uses ``available_now=False`` (default processing
    trigger) and picks up new files as the WAL writer drops them.

    ``prune_ledger_every=K`` truncates the table's committed-batch ledger
    every K micro-batches, at horizon batch_id-1. That horizon is exactly
    what the checkpoint guarantees: the micro-batch planner can redeliver
    only the LATEST uncommitted epoch after a crash — every epoch below it
    is in the checkpoint's commit log and never re-emitted — so entries at
    or below batch_id-1 can never be consulted again, and commit metadata
    stays O(K) over an unbounded run.

    ``mv_dirs``: materialized views (mv.py) to refresh after each
    committed micro-batch — the stream keeps its downstream views current
    (the DLT pipeline shape) with cursor-based exactly-once refreshes.
    """
    if source in ("binlog", "topic"):
        from rap_etl_spark.sources.binlog import as_events

        if source == "topic":
            # partitioned WAL topic (X85): vector offsets, total rate cap
            from rap_etl_spark.sources.topic import register as _reg
        else:
            from rap_etl_spark.sources.binlog import register as _reg
        _reg(spark)
        reader = spark.readStream.format(f"rap-etl-{source}").option(
            "path", src_dir
        )
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxSegmentsPerTrigger", max_files_per_trigger
            )
        events = as_events(reader.load())
    else:
        reader = spark.readStream.schema(schema or EVENTS_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        events = reader.parquet(src_dir)

    # auto_evolve note: a running file-stream's SOURCE schema is fixed at
    # query start, so a new upstream column takes effect on query RESTART
    # with the widened read schema — the engine then evolves the table on
    # the first batch that carries it (no manual DDL step).
    engine = CdcEngine(
        spark,
        table,
        lineage_dir=lineage_dir,
        auto_evolve=auto_evolve,
        # DLQ writes are per-batch overwrites, so foreachBatch's
        # at-least-once redelivery rewrites the identical dead letters
        quarantine_dir=quarantine_dir,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch gives at-least-once delivery; the engine's batch
        # ledger + version-conditional merge turn that into exactly-once
        # table state (BASELINE.json north_star)
        engine.apply_batch(batch_df, batch_id=batch_id)
        if publish_dir is not None:
            # downstream delta publishing per micro-batch (publish.py):
            # idempotent per batch, so foreachBatch's at-least-once
            # redelivery can only repair a missing publish, never double-
            # publish — the streaming twin of `replay --publish`
            from rap_etl_spark.publish import publish_changes

            publish_changes(table, batch_id, publish_dir, fmt=publish_format)
        if (
            prune_ledger_every
            and batch_id > 0
            and batch_id % prune_ledger_every == 0
        ):
            table.prune_ledger(batch_id - 1)
        if mv_dirs:
            # the DLT pipeline shape: downstream materialized views advance
            # with the stream. MV refresh is cursor-based (snapshot->head),
            # so a redelivered micro-batch re-runs a refresh that sees no
            # new snapshot and no-ops — at-least-once delivery stays
            # exactly-once view state, same argument as the table ledger.
            from rap_etl_spark.mv import MaterializedView

            for mdir in mv_dirs:
                MaterializedView.load(spark, mdir).refresh()

    writer = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def replay_stream(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    table: ManifestParquetTable,
    **kw,
) -> None:
    """Run an availableNow tail to completion (blocking)."""
    q = stream_tail(spark, src_dir, checkpoint_dir, table, **kw)
    q.awaitTermination()


def stream_envelope_tail(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    table: ManifestParquetTable,
    payload_ddl: str,
    dlq_dir: str | None = None,
    lineage_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    auto_evolve: bool = False,
    mv_dirs: list[str] | None = None,
    registry=None,
    registry_topic: str = "docs",
) -> StreamingQuery:
    """Tail a directory of JSON-lines Debezium-style envelope files into
    `table` — the connector-wire twin of stream_tail: text readStream →
    cdc.parse_debezium_envelope (one JVM from_json per row, malformed rows
    surfaced instead of failing the query) → cdc.split_dlq inside
    foreachBatch → good rows through the exactly-once engine apply, dead
    rows to ``dlq_dir/batch=<id>`` (mode=overwrite keyed by the epoch id,
    so foreachBatch's at-least-once redelivery can only rewrite the same
    quarantine leaf, never duplicate it — the same idempotency discipline
    as the table commit itself).

    With a ``registry`` (sources.registry.SchemaRegistry), each wire row's
    top-level ``schema_version`` stamp is additionally checked against the
    topic's accepted set INSIDE foreachBatch — so a registration or
    retirement lands on the very next micro-batch of a long-running tail —
    and unregistered/retired-version rows quarantine alongside the
    malformed ones (X100). The gate is scan-stage literals: no extra pass,
    no exchange.

    The decode and the DLQ classification are scan-stage work; everything
    volume-bound downstream is the engine's existing one-shuffle LWW +
    bucket merge."""
    from rap_etl_spark.operators.cdc import parse_debezium_envelope, split_dlq

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.text(src_dir)
    extra: list[str] = []
    if registry is not None:
        raw = raw.withColumn(
            "schema_version",
            F.get_json_object("value", "$.schema_version").cast("int"),
        )
        extra = ["schema_version"]
    parsed = parse_debezium_envelope(raw, "value", payload_ddl, extra_cols=extra)

    engine = CdcEngine(
        spark, table, lineage_dir=lineage_dir, auto_evolve=auto_evolve
    )
    required = ["doc_id", "lsn", "op"]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if registry is not None:
            from rap_etl_spark.sources.registry import gate_envelopes

            # re-load the registry doc each epoch: O(versions) driver read
            batch_df, reg_dead = gate_envelopes(
                batch_df, registry, registry_topic
            )
            batch_df = batch_df.drop("_schema_ddl", "schema_version")
        else:
            reg_dead = None
        good, dead = split_dlq(batch_df, required=required)
        if reg_dead is not None:
            dead = dead.unionByName(reg_dead, allowMissingColumns=True)
        if dlq_dir is not None:
            # deterministic per-epoch leaf + overwrite = idempotent DLQ
            dead.write.mode("overwrite").parquet(
                os.path.join(dlq_dir, f"batch={batch_id}")
            )
        engine.apply_batch(good.drop("ts_ms"), batch_id=batch_id)
        if mv_dirs:
            from rap_etl_spark.mv import MaterializedView

            for mdir in mv_dirs:
                MaterializedView.load(spark, mdir).refresh()

    writer = (
        parsed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --------------------------------------------------------------------------
# streaming operator wrappers (R1-R7)
# --------------------------------------------------------------------------
def with_watermark(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """R1: bound state retention for late data."""
    return events.withWatermark("ingest_ts", delay)


def stream_dedup(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """R5/C1 streaming form: exact-duplicate delivery drop within the
    watermark window — state is bounded by the delay, unlike a global
    dropDuplicates whose state grows forever."""
    return with_watermark(events, delay).dropDuplicatesWithinWatermark(
        ["doc_id", "lsn"]
    )


def tumbling_counts(events: DataFrame, width: str = "5 minutes") -> DataFrame:
    """R2: tumbling-window event counts (works on batch or stream frames)."""
    return events.groupBy(F.window("ingest_ts", width).alias("w"), "op").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """R3: sliding-window counts."""
    return events.groupBy(F.window("ingest_ts", width, slide).alias("w")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def session_counts(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """R4: session windows per key (gap-based)."""
    return events.groupBy(
        F.session_window("ingest_ts", gap).alias("w"), "doc_id"
    ).agg(F.count(F.lit(1)).alias("cnt"))


def late_event_counter(events: DataFrame, watermark_delay: str = "10 minutes"):
    """R7: watermark + windowed agg in append mode drops late rows; this
    returns the windowed agg a caller can compare against raw counts to
    surface the late-drop metric (C10)."""
    return (
        with_watermark(events, watermark_delay)
        .groupBy(F.window("ingest_ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_static_enrich(
    events: DataFrame, dim: DataFrame, on: str = "source", how: str = "left"
) -> DataFrame:
    """R9: stream–static join — enrich the change-event stream with a
    static dimension table. The static side is broadcast (it is re-read
    per micro-batch by Spark, so a small hot dim is the supported shape;
    a table-sized static side belongs on the batch path). Works on batch
    frames too, which is how the oracle exercises it."""
    return events.join(F.broadcast(dim), on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "doc_id",
    window: str = "10 minutes",
) -> DataFrame:
    """R10: stream–stream inner join with watermarks on both sides and a
    time-range condition, so Spark can bound both join states (without
    the range the state grows forever). Emits matches where the right
    event lands within `window` after the left."""
    lw = left.withWatermark("ingest_ts", window)
    rw = right.withWatermark("ingest_ts", window)
    # prefix the whole right side: joined rows keep unique column names so
    # any downstream sink/agg can consume them
    rw = rw.select([F.col(c).alias(f"r_{c}") for c in rw.columns])
    return lw.join(
        rw,
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col("r_ingest_ts") >= F.col("ingest_ts"))
        & (F.col("r_ingest_ts") <= F.col("ingest_ts") + F.expr(f"INTERVAL {window}")),
        "inner",
    )


def latest_checkpointed_batch(checkpoint_dir: str) -> int | None:
    """Highest committed micro-batch id in a checkpoint (for tests/ops)."""
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return None
    ids = [int(f) for f in os.listdir(commits) if f.isdigit()]
    return max(ids) if ids else None
