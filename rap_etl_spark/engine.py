"""CdcEngine: the batch-apply lifecycle (SURVEY.md §3.2).

Per batch: dedup/LWW-reduce the change events to the max-LSN winner per
key, stage that delta, MERGE it into the lake table with the merge hints the
staging pass observed, record lineage (source offset range, rows applied,
snapshot id) and throughput metrics.
This is the shared tail of the reference (state-fetch → graph diff →
batched publish, SURVEY.md §3.1) generalized to table snapshots.

Exactly-once: the table's commit ledger is consulted by batch_id (a
re-delivered batch is a metadata-only no-op), and the lineage write is
idempotent per batch directory — together with Structured Streaming
checkpoints (streaming/tail.py) replay from any checkpoint reconverges to
the identical table state.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rap_etl_spark.lake import (
    CommitConflictError,
    CommitInfo,
    ManifestParquetTable,
    _is_widening,
    _tlog,
    cast_to_schema,
    check_evolution,
)
from rap_etl_spark.operators.cdc import KEY, winner_probe
from rap_etl_spark.schemas import PAYLOAD_COLS


# winner sets up to this many keys are broadcast (a (string,long) row is
# ~40B — 5M keys ≈ 200MB, within executor broadcast budgets); larger
# batches fall back to a shuffled join
BROADCAST_KEY_LIMIT = 5_000_000


@dataclass
class BatchMetrics:
    batch_id: int
    input_rows: int
    applied_rows: int
    skipped: bool
    snapshot_id: str
    seconds: float
    events_per_sec: float
    quarantined_rows: int = 0


@dataclass
class CdcEngine:
    spark: SparkSession
    table: ManifestParquetTable
    lineage_dir: str | None = None
    count_input: bool = True  # per-batch input count (extra pass when no lineage)
    # Multi-writer OCC: how many times to rebase-and-retry a merge whose
    # manifest pointer CAS lost to a concurrent committer (0 = surface
    # CommitConflictError immediately, the pre-round-2 behavior).
    occ_retries: int = 2
    # Ingest-path curation: drop non-representative (near-)duplicate payloads
    # from each batch's winner delta BEFORE the merge, so planted near-dups
    # never reach the table. None (default) = off; "exact" | "minhash" =
    # neardup.dedup_batch_tokens policies over the token arrays (WITHIN the
    # batch); "exact-global" additionally probes the TABLE for payloads that
    # already exist under another key (neardup.drop_existing_payloads —
    # cross-batch incremental dedup; the probe is a column-pruned
    # fingerprint scan with both joins broadcast-small). Runs on the
    # already-reduced winner delta (small), never on the raw event scan.
    dedup_policy: str | None = None
    # CoW small-file policy: after a commit, buckets whose live file count
    # reached this threshold are rewritten in place by the bucket-scoped
    # compact (lake.compact_buckets) — O(triggered buckets) per batch, so
    # read amplification stays bounded over an unbounded run without ever
    # paying a full-table compact on the ingest path. None = out-of-band.
    auto_compact_files: int | None = None
    # MoR maintenance cadence: after a commit, if any bucket has stacked
    # at least this many delta files, fold exactly those buckets back into
    # base (lake.materialize_deltas) — bounds read amplification to
    # O(depth) without giving up the O(change set) write path. None = the
    # operator runs maintenance out-of-band (CLI compact --materialize).
    auto_materialize_depth: int | None = None
    # Layout-growth policy: after a commit, when MEAN live base rows per
    # bucket reach this threshold, DOUBLE the bucket count via the
    # metadata-only lake.split_buckets — a 10^10-event run widens its own
    # layout as the key universe grows, with no rewrite and no operator
    # action (pre-split files migrate lazily as later merges touch them).
    # One doubling per commit; a sustained cadence catches up
    # geometrically. Computed from manifest footer stats: O(files) driver
    # time, zero jobs. None = layout changes stay an explicit operator
    # action (CLI split/rebucket).
    auto_split_rows: int | None = None
    # Upstream-DDL handling: when a batch carries payload columns the table
    # doesn't know yet, or wider types for existing ones (int32->int64,
    # float->double, incl. inside arrays), evolve the table schema BEFORE
    # the merge — an upstream ALTER TABLE arriving mid-stream must not stop
    # ingest (the standard CDC connector contract). Only legal evolutions
    # happen automatically (nullable adds / widenings, the same
    # check_evolution gate as explicit evolve()); an incompatible type is
    # left to the existing cast path, which raises under ANSI mode rather
    # than silently nulling. Off by default: schema changes are otherwise
    # an explicit operator action.
    auto_evolve: bool = False
    # Dead-letter quarantine (X89, operators/quarantine.py): when set,
    # malformed events (bad op / null key / bad lsn / torn packed blob /
    # n_tok mismatch) are diverted to <dir>/batch=<id>/ with a reason
    # column instead of poisoning the merge. The classifier is a pure
    # Catalyst expression folded into the existing scan pipeline, and a
    # df.observe counter on that same pass answers "any bad rows?" — a
    # clean batch pays ZERO extra jobs; only a dirty batch pays one extra
    # pruned pass to write the (tiny) dead-letter set. None = off: the
    # operator owns upstream hygiene (the pre-round-4 behavior).
    quarantine_dir: str | None = None
    metrics: list[BatchMetrics] = field(default_factory=list)

    # wire/meta columns that never map to table payload: the change-op
    # marker, the version, ingest bookkeeping, the packed token wire form
    # (unpacked to `tokens` post-LWW), and the partition-recovery column a
    # batch=N directory read adds
    _NON_PAYLOAD = frozenset({"op", "lsn", "ingest_ts", "batch", "tokens_bin"})

    def _maybe_auto_evolve(self, events: DataFrame) -> None:
        """Evolve the table to absorb a batch's schema drift (auto_evolve):
        unknown payload columns become nullable adds, wider event types
        widen the table column. Goes through the same check_evolution gate
        and versioned evolve() commit as an explicit DDL, so readers
        resolve old files exactly as before."""
        from pyspark.sql import types as T

        old = self.table.schema()
        old_by_name = {f.name: f for f in old.fields}
        fields, changed = [], False
        ev_fields = {f.name: f for f in events.schema.fields}
        for f in old.fields:
            e = ev_fields.get(f.name)
            if (
                e is not None
                and e.dataType != f.dataType
                and _is_widening(f.dataType, e.dataType)
            ):
                fields.append(T.StructField(f.name, e.dataType, True))
                changed = True
            else:
                fields.append(f)
        for name, e in ev_fields.items():
            if (
                name in old_by_name
                or name in self._NON_PAYLOAD
                or name.startswith("_")
            ):
                continue
            fields.append(T.StructField(name, e.dataType, True))
            changed = True
        if changed:
            new = T.StructType(fields)
            check_evolution(old, new)  # belt-and-braces: adds/widenings only
            self.table.evolve(new)

    def apply_batch(self, events: DataFrame, batch_id: int) -> BatchMetrics:
        """Apply one micro-batch of change events. Idempotent per batch_id."""
        t0 = time.monotonic()
        already = self.table.is_committed(batch_id)
        if already:
            m = BatchMetrics(batch_id, 0, 0, True, self.table.snapshot_id(), 0.0, 0.0)
            self.metrics.append(m)
            return m
        if self.auto_evolve:
            self._maybe_auto_evolve(events)

        # DLQ classification (X89): tag each event with a NULL-when-valid
        # reason, count the bad rows via an observation that piggybacks on
        # whatever action scans the batch first (winners count / staging
        # write — the X66 trick), and let only valid rows continue. The
        # bad-row WRITE is deferred until after the merge and only happens
        # when the observed count is non-zero, so a clean batch never pays
        # a second pass over the raw scan.
        q_obs = None
        bad_src = None
        n_quarantined = 0
        if self.quarantine_dir is not None:
            from pyspark.sql import Observation

            from rap_etl_spark.operators.quarantine import (
                REASON_COL,
                quarantine_reason,
            )

            tagged = events.withColumn(
                REASON_COL, quarantine_reason(events, key=KEY)
            )
            q_obs = Observation(f"quarantine-{batch_id}-{id(self)}")
            tagged = tagged.observe(
                q_obs,
                F.sum(
                    F.when(F.col(REASON_COL).isNotNull(), 1).otherwise(0)
                ).alias("bad"),
            )
            bad_src = tagged
            events = tagged.filter(F.col(REASON_COL).isNull()).drop(REASON_COL)

        # Caching the raw batch only pays when it is scanned more than once
        # (lineage and/or input counting). The pure apply path scans events
        # exactly once (the LWW aggregation), so persisting 10^6-row Arrow
        # batches would cost columnar-cache build time + GC for nothing.
        multi_scan = self.lineage_dir is not None or self.count_input
        if multi_scan:
            events = events.persist()
        input_rows = -1
        winners = None
        try:
            # Decide the winner-join strategy EXPLICITLY: Spark cannot know
            # the winner cardinality at plan time, so without a hint AQE
            # first materializes a full shuffle write of the multi-GB event
            # batch before discovering the winner side is tiny — disk-bound
            # and serial. One cheap count over the column-pruned (key, lsn)
            # aggregate tells us up front.
            winners = (
                events.groupBy(KEY).agg(F.max("lsn").alias("lsn")).persist()
            )
            _t = time.monotonic()
            n_keys = winners.count()
            _tlog("engine.winners_count", _t)
            # long-key probe with exact re-check: see cdc.winner_probe
            rhs = F.broadcast(winners) if n_keys <= BROADCAST_KEY_LIMIT else winners
            latest = winner_probe(events, rhs, key=KEY)

            # Stage the winner rows FIRST, before any shuffle or Python
            # stage, so the one pass over the raw batch is a single narrow
            # codegen pipeline: scan -> long-key probe -> exact filter ->
            # parquet write. Dedup, payload unpacking and the merge then all
            # re-read the tiny staged delta, so the raw scan runs exactly
            # once and nothing depends on Spark cache retention.
            # staged under the TABLE's own storage (on a real cluster that
            # is shared S3/HDFS, whereas a driver-local tempdir is
            # invisible to executors), flat beside lake.py's own
            # _staging-<sid> dirs, and removed through the table's TableFS
            delta_path = os.path.join(self.table.path, f"_staging_delta-{batch_id}")
            stage_obs = None
            try:
                _t = time.monotonic()
                # repartition to core count: winner rows are a tiny fraction
                # of the scan, so without this every scan task commits its
                # own near-empty file (one per input split -> serial
                # driver-side commit renames). The shuffle moves only winner
                # rows and keeps the scan at full parallelism (a coalesce
                # would throttle the scan). Hash by KEY rather than
                # round-robin: duplicate deliveries of a winner event are
                # byte-identical, and hashpartitioning(KEY) satisfies
                # dropDuplicates' clustering requirement, so the dedup
                # collapses them INSIDE the staging exchange — the staged
                # delta lands already one-row-per-key and the merge job
                # loses its separate dedup shuffle.
                n_out = max(self.spark.sparkContext.defaultParallelism, 4)
                staged = latest.repartition(n_out, F.col(KEY)).dropDuplicates([KEY])
                if self.dedup_policy is None:
                    # Piggyback the merge hints on the staging job via
                    # df.observe (zero extra scan, zero extra job): the exact
                    # post-dedup row count and the affected-bucket set fall
                    # out of the same pass that writes the delta. This
                    # removes the former bucket-discovery job from the
                    # per-batch serial floor — at a real batch cadence every
                    # driver-side barrier between scan and commit is pure
                    # serial time that caps the N->4N scaling efficiency.
                    from pyspark.sql import Observation

                    stage_obs = Observation(f"stage-{batch_id}-{id(self)}")
                    # the modulus the hint buckets are computed under: an
                    # OCC rebase may land this merge AFTER a racing
                    # split/merge_buckets commit changed the table's modulus
                    # — merge() matches the hints as zones at THIS modulus,
                    # which stays exact either way
                    stage_nb = self.table.n_buckets()
                    staged = staged.observe(
                        stage_obs,
                        F.count(F.lit(1)).alias("n"),
                        F.collect_set(self.table._bucket_expr(KEY)).alias("buckets"),
                    )
                staged.write.mode("overwrite").parquet(delta_path)
                _tlog("engine.stage_delta_write", _t)
                latest = self.spark.read.parquet(delta_path)

                # packed WAL wire format: the scan/LWW above never decoded
                # token arrays (binary blob per row); expand ONLY the winner
                # rows to the table's array<int32> via the Arrow kernel
                table_cols = {f.name for f in self.table.schema().fields}
                if "tokens_bin" in latest.columns and "tokens" in table_cols:
                    from rap_etl_spark.functions.tokens import unpack_tokens

                    latest = unpack_tokens(latest)

                if self.dedup_policy is not None and "tokens" in latest.columns:
                    from rap_etl_spark.operators.neardup import (
                        dedup_batch_tokens,
                        drop_existing_payloads,
                    )

                    batch_policy = (
                        "exact"
                        if self.dedup_policy == "exact-global"
                        else self.dedup_policy
                    )
                    latest = dedup_batch_tokens(
                        latest, policy=batch_policy, key=KEY
                    )
                    if self.dedup_policy == "exact-global":
                        latest = drop_existing_payloads(
                            latest, self.table.read(), key=KEY
                        )

                def _merge_once() -> CommitInfo:
                    # payload columns follow the table's CURRENT schema
                    # (schema evolution: an added column like `lang` must
                    # flow through). Recomputed per attempt: an OCC retry
                    # must merge against the REFRESHED manifest, and the
                    # version-conditional merge makes re-applying the same
                    # staged delta safe (c_v > o_v filters replays).
                    payload_cols = [
                        f.name
                        for f in self.table.schema().fields
                        if f.name != KEY and f.name in latest.columns
                    ]
                    payload = latest.select(KEY, "op", "lsn", *payload_cols)
                    # Merge hints came for free from the staging job's
                    # observation (exact post-dedup row count + affected
                    # bucket set — the staging dedup guarantees one row per
                    # key, so count(1) there IS the change-row count). With
                    # the hint, merge consumes the change frame exactly
                    # once and runs no discovery job — every removed
                    # driver-side barrier between scan and commit is serial
                    # time that caps the N->4N scaling efficiency. The
                    # observation is only attached when dedup_policy is off
                    # (it shrinks the key set after staging, which would
                    # make the hint a superset and the count an
                    # overstatement).
                    if stage_obs is not None:
                        got = stage_obs.get  # staging job already ran
                        hint_rows = int(got["n"])
                        if self.table.merge_mode() == "mor":
                            # MoR reads nothing, so it needs no
                            # affected-bucket set — just the ledger count
                            return self.table.merge(
                                payload, batch_id=batch_id, n_rows=hint_rows
                            )
                        return self.table.merge(
                            payload,
                            batch_id=batch_id,
                            affected_buckets={
                                int(b) for b in (got["buckets"] or [])
                            },
                            n_rows=hint_rows,
                            affected_buckets_nb=stage_nb,
                        )
                    return self.table.merge(payload, batch_id=batch_id)

                # Multi-writer OCC: losing the pointer CAS raises
                # CommitConflictError AFTER the loser's data files are
                # written (they become orphans; expire_snapshots sweeps
                # them). Rebase = refresh the manifest and re-run the
                # merge from the staged delta — cheap relative to the
                # event scan, and version-conditional, so correct even if
                # the winner touched the same keys. If the conflicting
                # writer committed THIS batch_id, the ledger makes the
                # retry a skip.
                for attempt in range(self.occ_retries + 1):
                    try:
                        info: CommitInfo = _merge_once()
                        break
                    except CommitConflictError:
                        if attempt == self.occ_retries:
                            raise
                        self.table.refresh()
            finally:
                self.table.fs.rmtree(delta_path)

            if q_obs is not None:
                # The observation fired with the first action over the
                # batch (winners count or staging write) — reading it here
                # is a dict lookup, not a job. sum() over zero rows is
                # NULL, hence the `or 0`. EXCEPT when the batch
                # short-circuited before any action scanned the observed
                # plan (empty batch, or EVERY row quarantined so the valid
                # set is empty and AQE propagates the empty relation past
                # the CollectMetrics node): Observation.get then has no
                # row to return and raises. Fall back to an explicit count
                # — one tiny job over exactly the rare degenerate batches,
                # and the only way an all-bad batch's dead letters get
                # counted (and written) at all.
                try:
                    n_quarantined = int(q_obs.get["bad"] or 0)
                except Exception:  # noqa: BLE001 - observation never fired
                    from rap_etl_spark.operators.quarantine import REASON_COL

                    n_quarantined = bad_src.filter(
                        F.col(REASON_COL).isNotNull()
                    ).count()
                if n_quarantined > 0:
                    from rap_etl_spark.operators.quarantine import (
                        REASON_COL,
                        write_quarantine,
                    )

                    write_quarantine(
                        bad_src.filter(F.col(REASON_COL).isNotNull()),
                        self.quarantine_dir,
                        batch_id,
                    )
            if self.count_input:
                input_rows = events.count()
            if self.lineage_dir is not None:
                self._write_lineage(events, batch_id, info)
            if self.auto_materialize_depth is not None and not info.skipped:
                deep = {
                    b
                    for b, d in self.table.delta_depth().items()
                    if d >= self.auto_materialize_depth
                }
                if deep:
                    _t = time.monotonic()
                    self.table.materialize_deltas(buckets=deep)
                    _tlog("engine.auto_materialize", _t)
            if self.auto_compact_files is not None and not info.skipped:
                frag = {
                    b
                    for b, n in self.table.files_per_bucket().items()
                    if n >= self.auto_compact_files
                }
                if frag:
                    _t = time.monotonic()
                    self.table.compact_buckets(frag)
                    _tlog("engine.auto_compact", _t)
            if self.auto_split_rows is not None and not info.skipped:
                mani = self.table._manifest()
                live = sum(
                    int(fe.get("rows", 0))
                    for fe in mani["files"]
                    if fe.get("kind") != "delta"
                )
                if live // max(int(mani["n_buckets"]), 1) >= self.auto_split_rows:
                    _t = time.monotonic()
                    self.table.split_buckets(2)
                    _tlog("engine.auto_split", _t)
        finally:
            if winners is not None:
                winners.unpersist()
            if multi_scan:
                events.unpersist()

        dt = time.monotonic() - t0
        # input_rows keeps meaning "rows delivered in the batch": the
        # post-filter count sees only valid rows, so dead letters are
        # added back on top.
        if input_rows >= 0:
            input_rows += n_quarantined
        m = BatchMetrics(
            batch_id,
            input_rows,
            info.rows_written,
            info.skipped,
            info.snapshot_id,
            dt,
            input_rows / dt if dt > 0 and input_rows > 0 else 0.0,
            quarantined_rows=n_quarantined,
        )
        self.metrics.append(m)
        return m

    def _write_lineage(self, events: DataFrame, batch_id: int, info: CommitInfo) -> None:
        """C9: per-partition lineage — offset (LSN) range, rows, snapshot.
        Written to lineage/batch=<id>/ with overwrite, so a retried batch
        rewrites (not duplicates) its lineage."""
        lineage = (
            events.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.min("lsn").alias("lsn_min"),
                F.max("lsn").alias("lsn_max"),
                F.count(F.lit(1)).alias("rows_applied"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("bigint"))
            .withColumn("snapshot_id", F.lit(info.snapshot_id))
            .withColumn("committed_at", F.current_timestamp())
            .select(
                "batch_id",
                "partition_id",
                "lsn_min",
                "lsn_max",
                "rows_applied",
                "snapshot_id",
                "committed_at",
            )
        )
        out = os.path.join(self.lineage_dir, f"batch={batch_id}")
        lineage.coalesce(1).write.mode("overwrite").parquet(out)

    def read_lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_dir)


def replay_log(
    spark: SparkSession,
    table: ManifestParquetTable,
    log_dir: str,
    lineage_dir: str | None = None,
    count_input: bool = True,
) -> list[BatchMetrics]:
    """Batch-replay an event log written by write_event_log (batch=<i>/
    partitions) in batch order — the batch-mode twin of the streaming tail."""
    engine = CdcEngine(
        spark, table, lineage_dir=lineage_dir, count_input=count_input
    )
    batches = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(log_dir) if d.startswith("batch=")
    )
    for b in batches:
        df = spark.read.parquet(os.path.join(log_dir, f"batch={b}"))
        engine.apply_batch(df, batch_id=b)
    return engine.metrics


def requeue_quarantine(
    spark: SparkSession,
    engine: "CdcEngine",
    quarantine_dir: str,
    batch_id: int,
    fixes: dict[str, str] | None = None,
) -> "BatchMetrics | None":
    """Replay-after-fix for the X89 dead-letter quarantine (X103): read
    un-requeued quarantine leaves, apply the caller's repair expressions
    (SQL snippets per column — e.g. ``{"n_tok": "size(tokens)"}`` for
    ntok_mismatch rows, the classic connector-bug repair), RE-classify
    with the same ``quarantine_reason`` gate, and push the now-valid rows
    through the ordinary exactly-once ``apply_batch`` under the caller's
    ``batch_id``. Rows STILL invalid after the fix stay dead.

    Exactly-once composition (nothing new to trust):

    - Quarantined events kept their ORIGINAL LSNs, so a late requeue is
      just out-of-order delivery — the LWW merge makes it convergent: a
      requeued event superseded meanwhile loses by version, one still
      current applies its final state.
    - The requeue itself commits through the table ledger under
      ``batch_id``; redelivering the same requeue is a skip. Reusing a
      committed ``batch_id`` for NEW dead-letter leaves raises
      ``ValueError`` before anything is written or marked — the ledger
      would skip them, and marking them would drop their rows.
    - The consumed leaf set is RECORDED FIRST: a per-batch_id pending
      manifest (``_requeue-pending-<id>``, written atomically through the
      table's ``TableFS`` like every requeue marker) lands
      before ``apply_batch``, and a rerun with the same batch_id replays
      exactly the recorded set — never a fresh listing. Without this, a
      crash between commit and marking would let dead-letter leaves
      written AFTER the commit be swept into the rerun's listing, skipped
      by the ledger, and then marked consumed without ever being applied.
    - Each recorded leaf is marked with a ``_requeued-<id>`` sentinel
      ONLY AFTER the apply commits, and marked leaves are excluded from
      later requeues; the manifest is removed last (the completion
      point). Crash anywhere → rerun with the same batch_id converges:
      manifest present → same leaf set, apply skips via the ledger,
      still-bad rewrite is an idempotent overwrite, marking and manifest
      removal complete. Markers are per-requeue-id, so the sequence
      requeue(5) → new dead letters → requeue(6) consumes each leaf
      exactly once.
    - Rows STILL invalid after the fix are rewritten into a fresh
      unmarked ``batch=<batch_id>`` leaf (post-fix values + their new
      reason) before the source leaves are marked — so a later requeue
      with a better ``--set`` expression can pick them up instead of
      "stays dead" meaning "dead forever".

    Scale: the quarantine is by construction a tiny fraction of the feed;
    this is one scan of the dead-letter set + one ordinary engine batch.
    Returns None when there is nothing to requeue (no unmarked leaves or
    no row passes re-classification — nothing commits in that case).
    """
    import json

    from rap_etl_spark.operators.quarantine import (
        REASON_COL,
        quarantine_reason,
        write_quarantine,
    )

    fs = engine.table.fs
    pending = os.path.join(quarantine_dir, f"_requeue-pending-{batch_id}")
    if fs.exists(pending):
        leaves = [
            d
            for d in json.loads(fs.read_text(pending))
            if fs.exists(os.path.join(quarantine_dir, d))
        ]
    else:
        leaves = [
            d
            for d in sorted(fs.listdir(quarantine_dir))
            if d.startswith("batch=")
            and not any(
                m.startswith("_requeued-")
                for m in fs.listdir(os.path.join(quarantine_dir, d))
            )
        ]
    if not leaves:
        return None
    # Quarantine leaves can straddle an upstream schema evolution (a
    # V1-era leaf has no `lang` and carries int32 tokens); the union must
    # widen to the superset with NULL fill + type coercion, not silently
    # drop new columns — otherwise a requeued post-evolution row would
    # reapply with its evolved fields nulled out and, tying on LSN,
    # overwrite good state. parquet mergeSchema refuses int->bigint
    # widening, so fold per-leaf frames through unionByName, whose
    # least-common-type coercion handles exactly the legal evolutions.
    dead = None
    for d in leaves:
        part = spark.read.parquet(os.path.join(quarantine_dir, d))
        dead = (
            part
            if dead is None
            else dead.unionByName(part, allowMissingColumns=True)
        )
    dead = dead.drop(REASON_COL)
    for col, expr in (fixes or {}).items():
        dead = dead.withColumn(col, F.expr(expr))
    reclass = dead.withColumn(REASON_COL, quarantine_reason(dead, key=KEY))
    good = reclass.filter(F.col(REASON_COL).isNull()).drop(REASON_COL)
    if good.limit(1).count() == 0:
        return None
    if not fs.exists(pending):
        if engine.table.is_committed(batch_id):
            # a fresh listing under an already-committed id would be
            # skipped by the ledger and then marked consumed: its rows
            # would be lost
            raise ValueError(
                f"requeue batch id {batch_id} is already committed; "
                "use a fresh batch id for new dead letters"
            )
        fs.write_text_atomic(pending, json.dumps(leaves))
    metrics = engine.apply_batch(good, batch_id=batch_id)
    still_bad = reclass.filter(F.col(REASON_COL).isNotNull())
    if still_bad.limit(1).count() > 0:
        # overwrite-mode write keeps the crash-rerun idempotent; the
        # fresh leaf is not in the recorded set, so it is neither
        # consumed nor marked by this requeue
        write_quarantine(still_bad, quarantine_dir, batch_id)
    for d in leaves:
        fs.write_text(os.path.join(quarantine_dir, d, f"_requeued-{batch_id}"), "")
    fs.remove(pending)
    return metrics


def assert_equivalent(t1: DataFrame, t2: DataFrame, payload_cols: list[str] | None = None) -> None:
    """C12 replay-equivalence gate: same keys, per-key payload equality
    (token-array equality + n_tok/source equality — BASELINE.json
    input_hint). Sort-insensitive: full outer join + payload-hash compare."""
    payload_cols = payload_cols or PAYLOAD_COLS
    a = t1.select(
        KEY, F.xxhash64(*[F.col(c) for c in payload_cols]).alias("_h1")
    )
    b = t2.select(
        KEY, F.xxhash64(*[F.col(c) for c in payload_cols]).alias("_h2")
    )
    j = a.join(b, on=KEY, how="full_outer")
    bad = j.filter(
        F.col("_h1").isNull() | F.col("_h2").isNull() | (F.col("_h1") != F.col("_h2"))
    )
    n_bad = bad.count()
    assert n_bad == 0, f"tables differ on {n_bad} keys; sample: {bad.limit(5).collect()}"


def initial_load(
    spark: SparkSession,
    table: ManifestParquetTable,
    docs: DataFrame,
    batch_id: int | None = None,
) -> CommitInfo:
    """Bootstrap the target table from a full snapshot (bucketed append)."""
    return table.append(cast_to_schema(docs, table.schema()), batch_id=batch_id)


def chunked_bootstrap(
    spark: SparkSession,
    table: ManifestParquetTable,
    select_chunk,
    n_chunks: int,
    log_batches,
    lsn_col: str = "lsn",
    first_batch_id: int = 0,
    chunk_lsn: int | None = None,
) -> list[dict]:
    """Pause-free chunked snapshot bootstrap (DBLog watermark algorithm,
    Netflix DBLog / Debezium incremental-snapshot shape): interleave small
    key-chunk SELECTs of the source with the live log tail, so a 100-TB
    source bootstraps WITHOUT ever pausing replication or holding one
    multi-hour consistent-read transaction.

    DBLog reconciles each chunk against the log window between a LOW and
    HIGH watermark: log events inside the window win over the chunk's rows
    for the same key. This engine's merge is already version-conditional
    (a change wins only on strictly-greater LSN), so the whole window rule
    collapses into one stamp: a chunk row is merged carrying the chunk's
    LOW watermark — the applied-log high-water LSN at the moment its
    SELECT was issued — as its LSN. Then, automatically:

    - keys last applied at ``lsn <= lo``: the chunk row (which reflects a
      source state at least that new) wins — the snapshot fills in.
    - keys applied from the log at ``lsn > lo`` (DBLog's "event inside
      the window"): the stored row survives the chunk merge — the log won.
    - events arriving AFTER the chunk landed carry ``lsn > lo`` and
      overwrite it — equal bytes if the chunk had already seen them,
      newer state otherwise. Either way replay converges.
    - deletes: the chunk SELECT never returns a deleted key, and a
      tombstone at ``lsn_d > lo`` outlives the chunk merge, so a chunk can
      neither resurrect nor miss a delete.

    Final state is therefore the plain global LWW of the log — independent
    of chunk count, chunk order, or where the interleave lands (the
    convergence oracle; see ``q_cdc_chunked_bootstrap``).

    ``select_chunk(chunk_id, low_watermark) -> DataFrame``: the consistent
    chunk read — in production a keyset-paginated JDBC SELECT issued while
    the tail keeps running (the source may be arbitrarily AHEAD of
    ``low_watermark``; correctness needs only that it is not behind it).
    ``log_batches``: iterable of ``(changes, hwm)`` — per-key LWW-folded
    change batches in log order; ``hwm`` is the batch's max LSN (WAL
    sources track offsets already; pass None to derive it with one
    column-pruned agg). Chunks and log batches alternate; each step is its
    own ledger-committed merge, so a crash resumes mid-bootstrap exactly
    like any other replay.

    ``chunk_lsn``: stamp every chunk at this FIXED LSN instead of the
    live applied watermark — the STATIC-SNAPSHOT mode, for when the
    source is a point-in-time snapshot taken at a known log position
    (the usual parquet-dump + log-suffix bootstrap) rather than a live
    ahead-of-the-watermark database. Correctness swaps guarantees: live
    mode needs each select at-or-after its low watermark; fixed mode
    needs the log to cover every event AFTER the snapshot position
    (overlap below it is harmless — version-conditional). Interleaving
    stays pause-free in both.
    """
    steps: list[dict] = []
    batch_id = first_batch_id
    applied_hwm = 0
    pending = list(range(n_chunks))
    schema = table.schema()
    log_iter = iter(log_batches)
    done_log = False
    while not done_log or pending:
        if not done_log:
            nxt = next(log_iter, None)
            if nxt is None:
                done_log = True
            else:
                changes, hwm = nxt
                if hwm is None and chunk_lsn is None:
                    # live mode needs the applied watermark; fixed-stamp
                    # mode never reads it, so skip the extra agg job
                    hwm = changes.agg(F.max(lsn_col)).first()[0]
                table.merge(changes, batch_id=batch_id)
                applied_hwm = max(applied_hwm, int(hwm if hwm is not None else 0))
                steps.append(
                    {"step": "log", "batch_id": batch_id, "hwm": applied_hwm}
                )
                batch_id += 1
        if pending:
            cid = pending.pop(0)
            lo = applied_hwm if chunk_lsn is None else chunk_lsn
            chunk = (
                cast_to_schema(select_chunk(cid, lo), schema)
                .withColumn(lsn_col, F.lit(lo).cast("long"))
                .withColumn("op", F.lit("I"))
            )
            table.merge(chunk, batch_id=batch_id)
            steps.append(
                {"step": "chunk", "batch_id": batch_id, "chunk": cid, "lo": lo}
            )
            batch_id += 1
    return steps


def fanout_apply(
    spark: SparkSession,
    events: DataFrame,
    tables: dict[str, ManifestParquetTable],
    batch_id: int,
    table_col: str = "_table",
    strict: bool = True,
    **engine_kwargs,
) -> dict[str, BatchMetrics]:
    """Route one change batch carrying a table-name column to multiple
    lake tables — the Debezium-server / multi-topic shape where a single
    WAL tail feeds every table of an upstream database.

    Exactly-once semantics are PER TABLE: each route commits through its
    own table's batch ledger under the shared ``batch_id``, so a crash
    between table commits leaves a partial batch that a full retry
    repairs — already-committed routes skip (ledger), missing routes
    apply. Retrying until all routes report success yields the same
    atomicity discipline as the single-table engine (the cross-table
    batch is atomic at the retry level, not the commit level — the same
    contract Kafka-connect sinks give, documented rather than pretended
    away).

    Scale: routes are applied in sorted-name order, each as a pushdown
    filter on ``table_col`` over the batch scan — lay the event log out
    partitioned by table (write_event_log partitionBy) and the filter
    becomes partition pruning, making per-route input O(route), not
    O(batch). ``strict=True`` spends one tiny distinct-names aggregate to
    refuse batches carrying unknown tables (route them through
    cdc.split_dlq instead when a quarantine is wanted).
    """
    if strict:
        names = {
            r[0]
            for r in events.select(table_col).distinct().collect()
        }
        unknown = names - set(tables)
        if unknown:
            raise ValueError(
                f"batch {batch_id} carries unrouted tables {sorted(unknown)}; "
                "pass strict=False or quarantine via cdc.split_dlq"
            )
    out: dict[str, BatchMetrics] = {}
    for name in sorted(tables):
        route = events.filter(F.col(table_col) == name).drop(table_col)
        eng = CdcEngine(spark, tables[name], **engine_kwargs)
        out[name] = eng.apply_batch(route, batch_id=batch_id)
    return out
