"""Core CDC operators: dedup (C1), last-writer-wins (C2), snapshot diff (C3).

Generalizes the reference's per-record pipeline (SURVEY.md §1.1): rap-etl
maps each publication record to a fresh RDF subgraph, diffs it against the
currently-published graph, and publishes only the delta; re-processing an
unchanged record yields an empty diff. Here: change events are deduplicated
by (doc_id, lsn) and reduced to the max-LSN winner per key; the engine's
version-conditional merge and batch ledger make re-applying a batch a no-op,
and ``snapshot_diff`` reconciles a full source snapshot into adds and
removes.

Scale notes:
- The engine (engine.py) runs one apply path: aggregate only (key, max lsn)
  — fixed-width buffers, map-side partial combine collapses Zipf-hot keys
  per task — then ``winner_probe`` fetches the winners' full rows, broadcast
  or shuffled by the observed winner count.
- ``lww_latest`` keeps three physical strategies as standalone operators
  (see its docstring); the naive max_by-with-payload aggregation is the
  WORST for token arrays — a variable-width agg buffer forces
  SortAggregate, sorting every payload.
- ``dedup_events`` is subsumed by the LWW reduction when duplicate
  deliveries carry identical payloads (they do, per the WAL contract) —
  the engine therefore runs one reduction, not two shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = "doc_id"
ORDER_COLS = ["lsn", "ingest_ts", "op"]  # total order => deterministic replay


def dedup_events(events: DataFrame) -> DataFrame:
    """C1: drop exact duplicate deliveries of one change event, keyed by
    (doc_id, lsn). Batch form; streaming form is
    dropDuplicatesWithinWatermark in streaming/tail.py."""
    return events.dropDuplicates([KEY, "lsn"])


def _payload_struct(events: DataFrame, key: str = KEY):
    cols = [c for c in events.columns if c != key]
    return F.struct(*[F.col(c) for c in cols])


def _order_struct(events: DataFrame):
    cols = [c for c in ORDER_COLS if c in events.columns]
    return F.struct(*[F.col(c) for c in cols])


def winner_probe(events: DataFrame, winners_rhs: DataFrame, key: str = KEY) -> DataFrame:
    """Fetch the full rows of the (key, lsn) winner set from `events`.

    Probes on ONE long key — xxhash64 of the pair — instead of the
    (string, long) compound: Spark then builds a LongHashedRelation (dense
    array probe) rather than a generic UnsafeRow-keyed map — measured 4x
    faster at 64M rows, and unlike the compound probe it scales with
    cores. Hash hits are re-verified with exact (key, lsn) equality, so a
    64-bit collision can admit no wrong row — the hash is only a fast
    path, never a correctness assumption.

    `winners_rhs` is DF[key, lsn]; wrap it in F.broadcast() BEFORE calling
    to pin the broadcast strategy (engine.py decides by winner count).
    """
    winners_h = winners_rhs.select(
        F.xxhash64(key, "lsn").alias("_h"),
        F.col(key).alias("_w_key"),
        F.col("lsn").alias("_w_lsn"),
    )
    return (
        events.withColumn("_h", F.xxhash64(key, "lsn"))
        .join(winners_h, on="_h", how="inner")
        .filter((F.col(key) == F.col("_w_key")) & (F.col("lsn") == F.col("_w_lsn")))
        .drop("_h", "_w_key", "_w_lsn")
    )


def lww_latest(events: DataFrame, key: str = KEY, strategy: str = "window") -> DataFrame:
    """C2: keep the max-LSN event per key (ties broken by ingest_ts then
    op — a total order, so replay under any partitioning is deterministic).

    Strategies (measured at 2M x 96-token events, local[32]):

    - "window": one shuffle by key + per-partition sort + row_number. No
      second scan, no broadcast assumption; skew handled by salting/AQE.
      Default — best all-round at scale.
    - "join": aggregate only max(lsn) per key (FIXED-WIDTH agg buffer →
      fast HashAggregate with map-side partial combine), then semi-join the
      winner (key, lsn) set back to fetch payloads. AQE converts the join
      to broadcast when the winner set is small. Two scans, but never
      moves token arrays through an aggregation buffer.
    - "maxby": single max_by(payload, order) aggregation. AVOID for array
      payloads: a variable-width aggregation buffer forces SortAggregate —
      Spark sorts every payload row (2-4x slower, GC-heavy). Kept as the
      semantically-obvious reference implementation.
    """
    if strategy == "maxby":
        cols = events.columns
        win = (
            events.groupBy(key)
            .agg(F.max_by(_payload_struct(events, key), _order_struct(events)).alias("_w"))
        )
        return win.select(
            key, *[F.col(f"_w.{c}").alias(c) for c in cols if c != key]
        ).select(*cols)
    if strategy == "join":
        winners = events.groupBy(key).agg(F.max("lsn").alias("lsn"))
        out = winner_probe(events, winners, key=key)
        # duplicate deliveries of the winner event are byte-identical;
        # keep one (cheap: runs on the already-reduced winner rows)
        return out.dropDuplicates([key, "lsn"])
    # "window"
    order = [F.col(c).desc() for c in ORDER_COLS if c in events.columns]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_latest_salted(events: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """C2 salted two-phase reduction (C5 pattern): phase 1 reduces per
    (doc_id, salt) — spreading a hot key over `salt_buckets` tasks — phase 2
    reduces the tiny per-key residue. Demonstrates explicit skew handling;
    equivalent to lww_latest."""
    cols = events.columns
    salted = events.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("lsn")), F.lit(salt_buckets))
    )
    p1 = salted.groupBy(KEY, "_salt").agg(
        F.max_by(_payload_struct(events), _order_struct(events)).alias("_w")
    )
    p1 = p1.select(KEY, *[F.col(f"_w.{c}").alias(c) for c in cols if c != KEY])
    p2 = p1.groupBy(KEY).agg(
        F.max_by(_payload_struct(p1), _order_struct(p1)).alias("_w")
    )
    return p2.select(KEY, *[F.col(f"_w.{c}").alias(c) for c in cols if c != KEY]).select(
        *cols
    )


def scd2_history(
    changes: DataFrame,
    key: str = KEY,
    lsn_col: str = "lsn",
    tracked: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension Type 2 from an ordered change stream.

    Collapses consecutive versions whose ``tracked`` attributes are
    unchanged (null-safely), then assigns each surviving version a validity
    range: ``valid_from`` = its LSN, ``valid_to`` = the next version's LSN
    (exclusive; NULL while current), ``is_current``. Output columns:
    key, tracked..., valid_from, valid_to, is_current.

    Scale: two window passes over ONE shuffle by key (both windows share
    the (key, lsn) partitioning+ordering, so Catalyst plans a single
    Exchange + Sort and evaluates the lag and lead in consecutive Window
    operators without re-shuffling). No payload moves through an agg
    buffer; rows only ever narrow. This is the standard warehouse
    dimension-history build (Kimball SCD2) expressed as a pure
    declarative plan — at 100 TB it is exactly one keyed shuffle.
    """
    tracked = tracked or [c for c in changes.columns if c not in (key, lsn_col)]
    w = Window.partitionBy(key).orderBy(F.col(lsn_col).asc())
    changed = F.lit(False)
    for c in tracked:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(lsn_col).over(w).isNull()
    versions = changes.select(key, lsn_col, *tracked).withColumn(
        "_keep", first | changed
    ).filter("_keep")
    w2 = Window.partitionBy(key).orderBy(F.col(lsn_col).asc())
    return versions.select(
        key,
        *tracked,
        F.col(lsn_col).alias("valid_from"),
        F.lead(lsn_col).over(w2).alias("valid_to"),
        F.lead(lsn_col).over(w2).isNull().alias("is_current"),
    )


def changefeed(
    changes: DataFrame,
    key: str = KEY,
    lsn_col: str = "lsn",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-feed with pre/post images (Delta CDF / Debezium
    envelope analogue, wide form): per key ordered by LSN, the first
    version emits ``change_type='insert'`` (preimages NULL), every later
    version emits ``'update'`` with ``<col>_pre = lag(col)`` alongside the
    post-image columns. One row per change event — downstream consumers
    that want Delta's two-row update_preimage/update_postimage split can
    posexplode, but the wide form keeps the feed join-free.

    Scale: a single shuffle by key; all lags share one window frame.
    """
    payload_cols = payload_cols or [
        c for c in changes.columns if c not in (key, lsn_col)
    ]
    w = Window.partitionBy(key).orderBy(F.col(lsn_col).asc())
    first = F.lag(lsn_col).over(w).isNull()
    return changes.select(
        key,
        lsn_col,
        F.when(first, F.lit("insert")).otherwise(F.lit("update")).alias("change_type"),
        *[F.lag(c).over(w).alias(f"{c}_pre") for c in payload_cols],
        *[F.col(c) for c in payload_cols],
    )


def lww_patch(
    events: DataFrame,
    key: str = KEY,
    lsn_col: str = "lsn",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Partial-update fold (Debezium/CDC "patch" semantics): an update
    event sets only the columns it carries; NULL means "unchanged". The
    fold keeps, PER COLUMN, the value at the highest LSN among events that
    actually set that column — equivalent to applying the events in LSN
    order with per-column coalesce, but computed as ONE fixed-width hash
    aggregate (``max_by(col, lsn IF col set)``; max_by skips rows whose
    ordering key is NULL, verified behavior) instead of a per-key
    sequential scan. Also emits ``lsn`` = the key's max LSN, for the
    downstream version-conditional merge.

    Scale: one shuffle by key with map-side partial combine; agg buffer is
    fixed-width per column (no payload sorting). The column-wise fold is
    what makes patch CDC viable at 10^10 events — a row-wise "replay in
    order" would force a SortAggregate over every payload.
    """
    payload_cols = payload_cols or [
        c for c in events.columns if c not in (key, lsn_col)
    ]
    aggs = [F.max(lsn_col).alias(lsn_col)] + [
        F.max_by(c, F.when(F.col(c).isNotNull(), F.col(lsn_col))).alias(c)
        for c in payload_cols
    ]
    return events.groupBy(key).agg(*aggs)


def lww_patch_with_deletes(
    events: DataFrame,
    key: str = KEY,
    lsn_col: str = "lsn",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Patch fold for batches that interleave partial updates AND deletes —
    the full in-order replay semantics, still with no per-row Python:

    1. one fixed-width agg finds each key's last delete LSN;
    2. the column-wise ``lww_patch`` fold runs over only the updates AFTER
       that delete (earlier patches are moot — they patched a row the
       delete then destroyed);
    3. keys whose last event is the delete emit a 'D' row at the delete's
       LSN; all others emit a 'U' row with the folded columns.

    Output: key, op, lsn, payload_cols — exactly the merge() contract (one
    row per key), so ``table.merge(fold, update_semantics='patch')``
    applies a mixed batch correctly.

    Scale: two keyed aggregates + one join, all shapes sized to the batch
    (the delete set is usually a small fraction and broadcasts under AQE).
    Equivalent to replaying each key's events in LSN order, proven by
    property test against a sequential reference fold.
    """
    payload_cols = payload_cols or [
        c for c in events.columns if c not in (key, lsn_col, "op")
    ]
    dels = (
        events.filter(F.col("op") == "D")
        .groupBy(key)
        .agg(F.max(lsn_col).alias("_del_lsn"))
    )
    ev = events.join(dels, on=key, how="left").withColumn(
        "_dl", F.coalesce(F.col("_del_lsn"), F.lit(-(1 << 62)))
    )
    folded = lww_patch(
        ev.filter((F.col("op") != "D") & (F.col(lsn_col) > F.col("_dl"))).select(
            key, lsn_col, *payload_cols
        ),
        key=key,
        lsn_col=lsn_col,
        payload_cols=payload_cols,
    ).withColumn("op", F.lit("U"))
    pure_dels = dels.join(folded.select(key), on=key, how="left_anti").select(
        F.col(key),
        F.col("_del_lsn").alias(lsn_col),
        *[F.lit(None).cast(events.schema[c].dataType).alias(c) for c in payload_cols],
        F.lit("D").alias("op"),
    )
    return folded.unionByName(pure_dels).select(key, "op", lsn_col, *payload_cols)


def payload_hash(df: DataFrame, payload_cols: list[str]):
    """Order-stable 64-bit content hash of a row's payload (C3/C5/F2).
    xxhash64 natively hashes arrays/structs JVM-side — no JSON round-trip."""
    return F.xxhash64(*[F.col(c) for c in payload_cols])


# --------------------------------------------------------------------------
# CDC connector surface: envelope decode, dead-letter split, lag monitor
# --------------------------------------------------------------------------
ENVELOPE_DDL_TMPL = (
    "op STRING, before STRUCT<{p}>, after STRUCT<{p}>, "
    "source STRUCT<lsn: BIGINT, table: STRING>, ts_ms BIGINT, _corrupt STRING"
)


def parse_debezium_envelope(
    df: DataFrame,
    env_col: str,
    payload_ddl: str,
    include_table: bool = False,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Decode a Debezium-style CDC envelope column into this engine's
    change-event shape (the wire format every log-based connector emits:
    {op: c|r|u|d, before, after, source:{lsn}, ts_ms}).

    op mapping: c/r -> I (insert/snapshot-read), u -> U, d -> D. The key
    comes from `after` for upserts and `before` for deletes (Debezium sends
    no after-image on a delete). Malformed envelopes surface in `_corrupt`
    (Spark's columnNameOfCorruptRecord idiom) instead of failing the batch —
    feed them to split_dlq. One JVM json parse per row, no Python; the
    payload stays inside the scan stage (zero exchanges).

    ``include_table=True`` additionally emits ``_table`` from
    ``source.table`` — exactly the routing column engine.fanout_apply
    consumes, so a single multi-table wire feed chains
    decode -> split_dlq -> fanout_apply with no extra pass.

    ``extra_cols`` passes through named INPUT columns unchanged (e.g. a
    wire-level ``schema_version`` stamp extracted upstream), so gates that
    classify on sideband metadata — registry.gate_envelopes — compose with
    the decode without a second parse.
    """
    ddl = ENVELOPE_DDL_TMPL.format(p=payload_ddl)
    j = df.withColumn(
        "_env",
        F.from_json(F.col(env_col), ddl, {"columnNameOfCorruptRecord": "_corrupt"}),
    )
    payload_cols = [
        f.split(":", 1)[0].strip() for f in payload_ddl.split(",")
    ]
    op = (
        F.when(F.col("_env.op") == "d", "D")
        .when(F.col("_env.op") == "u", "U")
        .when(F.col("_env.op").isin("c", "r"), "I")
    )
    key = F.coalesce(F.col(f"_env.after.{KEY}"), F.col(f"_env.before.{KEY}"))
    out = [
        key.alias(KEY),
        F.col("_env.source.lsn").alias("lsn"),
        op.alias("op"),
        *[
            F.col(f"_env.after.{c}").alias(c)
            for c in payload_cols
            if c != KEY
        ],
        F.col("_env.ts_ms").alias("ts_ms"),
        F.col("_env._corrupt").alias("_corrupt"),
    ]
    if include_table:
        out.insert(0, F.col("_env.source.table").alias("_table"))
    for c in extra_cols or []:
        out.append(F.col(c))
    return j.select(*out)


def emit_debezium_envelope(
    changes: DataFrame,
    payload_cols: list[str],
    table_name: str = "docs",
    lsn_col: str = "lsn",
    op_col: str = "op",
    ts_ms: "F.Column | None" = None,
    before_cols: list[str] | None = None,
) -> DataFrame:
    """The PRODUCER half of the connector surface: encode this engine's
    change-event shape back into the Debezium wire envelope
    ({op: c|u|d, before, after, source:{lsn, table}, ts_ms}), so a lake
    table is itself a CDC SOURCE for downstream consumers —
    ``table_changes -> emit -> topic`` is the outbound feed, and
    ``parse_debezium_envelope(emit_debezium_envelope(x)) == x`` is the
    tested inverse (`cdc_emit_envelope` oracles it by value).

    op mapping (inverse of parse): I -> c, U -> u, D -> d. ``after``
    carries the payload for upserts and is null for deletes; ``before``
    carries the key (plus ``before_cols`` preimage values when the caller
    has them — e.g. from table_changes' update_preimage rows) for deletes
    and updates. One JVM to_json per row inside the scan stage — zero
    exchanges, no Python. Null struct fields are emitted explicitly
    (ignoreNullFields=false) so consumers can distinguish "column went
    NULL" from "column absent", which Debezium semantics require.
    """
    opx = (
        F.when(F.col(op_col) == "D", "d")
        .when(F.col(op_col) == "U", "u")
        .otherwise("c")
    )
    after = F.when(
        F.col(op_col) != "D",
        F.struct(F.col(KEY), *[F.col(c) for c in payload_cols]),
    )
    bcols = before_cols or []
    if bcols and len(bcols) != len(payload_cols):
        raise ValueError(
            f"before_cols ({len(bcols)}) must match payload_cols "
            f"({len(payload_cols)}) one-to-one"
        )
    # deletes AND updates always carry a before-image (key-only when the
    # caller has no preimage values) — Debezium consumers key updates off
    # before.<pk>, so a null before on 'u' breaks them
    before = F.when(
        F.col(op_col).isin("D", "U"),
        F.struct(F.col(KEY), *[F.col(c).alias(t) for c, t in zip(bcols, payload_cols)]),
    )
    ts = ts_ms if ts_ms is not None else (F.col(lsn_col) * 1000)
    env = F.struct(
        opx.alias("op"),
        before.alias("before"),
        after.alias("after"),
        F.struct(
            F.col(lsn_col).alias("lsn"), F.lit(table_name).alias("table")
        ).alias("source"),
        ts.cast("long").alias("ts_ms"),
    )
    return changes.select(
        F.to_json(env, {"ignoreNullFields": "false"}).alias("env")
    )


def changefeed_envelopes(
    table, from_snapshot: str | None, payload_cols: list[str],
    table_name: str = "docs", to_snapshot: str | None = None,
) -> DataFrame:
    """Outbound CDC feed straight off the lake table: fold
    ``table_changes``' row-level diff into ONE Debezium envelope per
    (key, lsn) — see ``fold_changes_to_envelopes``. The fold is a key+lsn
    groupBy over only the changed buckets' diff rows (table_changes is
    already bucket-pruned), so feed cost tracks the change volume, not
    table size."""
    return fold_changes_to_envelopes(
        table.table_changes(from_snapshot, to_snapshot),
        payload_cols,
        table_name=table_name,
    )


def fold_changes_to_envelopes(
    ch: DataFrame, payload_cols: list[str], table_name: str = "docs"
) -> DataFrame:
    """Fold a changefeed frame (``_change_type``/``_change_lsn`` shape from
    ``table_changes``/``changes_for_batch``) into ONE Debezium envelope per
    (key, lsn): update_preimage/update_postimage pairs collapse into a
    single ``u`` envelope carrying BOTH images (the part inbound parsing
    never exercises), inserts become ``c`` with after only, deletes ``d``
    with before only."""
    pre = F.when(F.col("_change_type") == "update_preimage", 1).otherwise(0)
    img = F.struct(F.col(KEY), *[F.col(c) for c in payload_cols])
    folded = (
        ch.withColumn("_is_pre", pre)
        .groupBy(KEY, "_change_lsn")
        .agg(
            F.max_by("_change_type", 1 - F.col("_is_pre")).alias("_ct"),
            F.max_by(img, 1 - F.col("_is_pre")).alias("_post"),
            F.max_by(img, F.col("_is_pre")).alias("_maybe_pre"),
            F.max("_is_pre").alias("_has_pre"),
        )
    )
    opx = (
        F.when(F.col("_ct") == "delete", "d")
        .when(F.col("_has_pre") == 1, "u")
        .otherwise("c")
    )
    before = F.when(F.col("_has_pre") == 1, F.col("_maybe_pre")).when(
        F.col("_ct") == "delete", F.col("_post")
    )
    after = F.when(F.col("_ct") != "delete", F.col("_post"))
    env = F.struct(
        opx.alias("op"),
        before.alias("before"),
        after.alias("after"),
        F.struct(
            F.col("_change_lsn").alias("lsn"), F.lit(table_name).alias("table")
        ).alias("source"),
        (F.col("_change_lsn") * 1000).cast("long").alias("ts_ms"),
    )
    return folded.select(
        F.to_json(env, {"ignoreNullFields": "false"}).alias("env")
    )


def split_dlq(
    df: DataFrame, required: list[str], corrupt_col: str = "_corrupt"
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: route rows the pipeline must not crash on —
    unparseable envelopes (`corrupt_col` set) or envelopes missing a
    required field — to a quarantine frame with a `dlq_reason`, and return
    (good, dead). The ingest batch keeps flowing; the DLQ table is merge-
    able downstream for replay-after-fix. Pure narrow projection + filter:
    both frames reuse one scan, zero exchanges added."""
    reason = F.when(F.col(corrupt_col).isNotNull(), "malformed_json")
    for c in required:
        reason = reason.when(F.col(c).isNull(), f"missing_field:{c}")
    tagged = df.withColumn("dlq_reason", reason)
    good = tagged.filter(F.col("dlq_reason").isNull()).drop(
        "dlq_reason", corrupt_col
    )
    dead = tagged.filter(F.col("dlq_reason").isNotNull())
    return good, dead


def replication_lag(
    source: DataFrame,
    applied: DataFrame,
    part_col: str,
    lsn_col: str = "lsn",
    ts_col: str | None = None,
) -> DataFrame:
    """C10 companion — consumer-lag monitor: per source partition, the
    high-water LSN the source has produced vs the LSN the pipeline has
    applied, the number of outstanding events, and (if a timestamp column
    is given) the time lag in exact microseconds.

    Two fixed-width aggregates sized to the PARTITION count (map-side
    combine collapses each task to one row per partition) and one broadcast
    join — nothing scales with event volume but the two scans."""
    src_agg = [
        F.max(lsn_col).alias("source_max_lsn"),
        F.count(F.lit(1)).alias("source_events"),
    ]
    app_agg = [F.max(lsn_col).alias("applied_max_lsn")]
    if ts_col is not None:
        # parquet timestamps arrive NTZ; the session tz is pinned UTC
        # (session.py) so the cast is the exact UTC epoch
        ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        src_agg.append(F.max(ts_us).alias("_src_us"))
        app_agg.append(F.max(ts_us).alias("_app_us"))
    src = source.groupBy(part_col).agg(*src_agg)
    app = applied.groupBy(part_col).agg(*app_agg)
    lagged = (
        source.select(part_col, lsn_col)
        .join(F.broadcast(app), on=part_col, how="left")
        .filter(
            F.col("applied_max_lsn").isNull()
            | (F.col(lsn_col) > F.col("applied_max_lsn"))
        )
        .groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("lag_events"))
    )
    out = src.join(F.broadcast(app), on=part_col, how="left").join(
        F.broadcast(lagged), on=part_col, how="left"
    )
    cols = [
        F.col(part_col),
        "source_max_lsn",
        "applied_max_lsn",
        F.coalesce("lag_events", F.lit(0)).alias("lag_events"),
    ]
    if ts_col is not None:
        cols.append((F.col("_src_us") - F.col("_app_us")).alias("lag_us"))
    return out.select(*cols)


# --------------------------------------------------------------------------
# Full-snapshot reconciliation (the reference's add/remove publishing model)
# --------------------------------------------------------------------------
def snapshot_diff(
    snapshot: DataFrame,
    current: DataFrame,
    payload_cols: list[str],
    key: str = KEY,
) -> DataFrame:
    """Reconcile a FULL source snapshot against the current table state —
    the generalization of rap-etl's core publishing step (SURVEY.md §1.1:
    per-record subgraph diffed into `new_only` adds and `old_only`
    removes). Unlike a CDC winner batch, which leaves keys it does not
    carry untouched, a snapshot asserts the COMPLETE truth, so a key
    present in the table but absent from the snapshot is a delete:

      I  snapshot-only                      (reference `new_only` → add)
      D  table-only                         (reference `old_only` → remove)
      U  both present, payload hash differs (re-publish)
      N  both present, payload identical    (empty diff → no write)

    Returns (key, *payload_cols, action); payload columns are NULL on D
    rows (there is nothing to publish — only the key to retract).

    Scale: ONE full-outer shuffle join on the key — the table side is
    pruned to (key, xxhash64 payload) before the exchange, so only
    16 bytes/row of table state moves regardless of payload width (token
    arrays never shuffle). This is the floor for reconciliation: every
    key must meet its counterpart once. Downstream, N rows (the vast
    majority on a mostly-unchanged snapshot) are filtered before any
    write amplification."""
    s = snapshot.alias("s")
    t = (
        current.select(
            F.col(key).alias("_t_key"),
            payload_hash(current, payload_cols).alias("_cur_hash"),
        ).alias("t")
    )
    joined = s.join(t, on=F.col(f"s.{key}") == F.col("_t_key"), how="full_outer")
    s_present = F.col(f"s.{key}").isNotNull()
    t_present = F.col("_t_key").isNotNull()
    new_hash = payload_hash(s, [f"s.{c}" for c in payload_cols])
    action = (
        F.when(~s_present, F.lit("D"))
        .when(~t_present, F.lit("I"))
        .when(F.col("_cur_hash") != new_hash, F.lit("U"))
        .otherwise(F.lit("N"))
    )
    return joined.select(
        F.coalesce(F.col(f"s.{key}"), F.col("_t_key")).alias(key),
        *[F.col(f"s.{c}").alias(c) for c in payload_cols],
        action.alias("action"),
    )


def snapshot_changes(diff: DataFrame, sync_lsn: int, key: str = KEY) -> DataFrame:
    """Turn a `snapshot_diff` result into a version-stamped change batch for
    `ManifestParquetTable.merge`: N rows drop out (idempotency — an
    unchanged snapshot produces an EMPTY change set and therefore no table
    commit I/O beyond the manifest), I/U become upserts, D becomes a
    delete. Every change carries `sync_lsn` as its row version so a sync
    wins over bootstrap rows (NULL `_lsn`) and over any earlier sync, and
    a later CDC event with a higher LSN still beats the sync — snapshots
    and the WAL tail compose under one LWW order."""
    return (
        diff.filter(F.col("action") != "N")
        .withColumn("op", F.when(F.col("action") == "D", "D").otherwise("U"))
        .withColumn("lsn", F.lit(sync_lsn).cast("long"))
        .drop("action")
    )


def row_lineage(
    events: DataFrame, key: str = KEY, lsn_col: str = "lsn", op_col: str = "op"
) -> DataFrame:
    """Row-lineage view over a change log (X101 — the consumer-side shape
    of Iceberg v3 row lineage / Debezium's row-identity tracking): for
    every key whose FINAL state is live, emit

    - ``row_id``       — the LSN that created the row's current
      incarnation: the first non-delete event after the key's last
      applied delete. Stable across updates (updates keep the
      incarnation), reset by delete+reinsert (a new row identity, exactly
      Iceberg v3's semantics for a fresh insert), and — unlike Iceberg's
      commit-assigned ids — a pure function of the log, so replay at any
      batching yields the identical lineage (the engine's C12
      replay-equivalence discipline extends to identities).
    - ``last_updated_lsn`` — the winning LSN (the analogue of Iceberg's
      ``_last_updated_sequence_number``; equals the stored ``_lsn`` meta
      column of the merged table, which tests pin).
    - ``n_versions``   — updates applied to this incarnation (audit: how
      hot is this row).

    Keys whose final event is a delete drop out (their incarnation died).

    Plan shape (pinned in test_plan_shapes): the window aggregates
    (last-delete LSN, per-key max) use ``Window.partitionBy(key)`` with no
    ordering — a single hash Exchange of just (key, lsn, op), three narrow
    columns, never the payload — and the follow-up groupBy reuses that
    same hash partitioning, so the whole lineage view is ONE exchange
    end-to-end at any scale.
    """
    w = Window.partitionBy(key)
    lsn = F.col(lsn_col)
    is_del = F.col(op_col) == "D"
    tagged = events.select(key, lsn_col, op_col).withColumn(
        "_last_del", F.max(F.when(is_del, lsn)).over(w)
    )
    live = tagged.filter(
        (~is_del) & (lsn > F.coalesce(F.col("_last_del"), F.lit(-1)))
    )
    return live.groupBy(key).agg(
        F.min(lsn_col).alias("row_id"),
        F.max(lsn_col).alias("last_updated_lsn"),
        F.count(F.lit(1)).alias("n_versions"),
    )
