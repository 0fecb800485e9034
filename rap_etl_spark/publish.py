"""Downstream delta publishing — the generalization of the reference's
add/remove graph-diff publishing model (rap-etl computes a per-record
delta against the downstream system and pushes exactly that delta; see
SURVEY.md §0/§1 — the reference checkout is empty, so the binding
description is BASELINE.json's north_star: "generalizes rap-etl's
add/remove graph-diff publishing model (its sync-to-VIVO delta
computation per publication record)").

After a batch commits, its events (`batch_events`) are published to a
per-batch leaf under a downstream log directory. A commit that wrote its
own change rows publishes them: one scan and projection sized by the
batch, the way Delta Lake's change-data files and Iceberg's incremental
read serve a commit's own files. A copy-on-write merge, CoW DML
(``delete_where``/``update_where`` commit through ``merge``) included,
writes its change files beside the rewritten buckets in the same job
(exactly the rows the snapshot diff reports); a merge-on-read merge or
MoR DML commit's delta files are its change rows. Every other commit (a
deletion-vector delete, an append) publishes the bucket-pruned manifest
diff of its snapshot against the parent (`changes_for_batch`).
Exactly-once by construction:

- the leaf is named by batch_id, written to a temp dir, and ATOMICALLY
  renamed into place — readers never see a partial publish;
- republishing an already-published batch is a no-op (the rename target
  exists), so redelivered batches cannot double-publish;
- a crash between table-commit and publish is repaired by re-running
  publish for the committed batch (the ledger knows it; both feeds are
  derived from immutable snapshots, so the retry emits identical rows).

A downstream consumer replays the published deltas in batch order into
its own table (`apply_published`) and converges to the source state — the
sync-to-downstream contract, driven end-to-end in tests/test_publish.py.
A MoR batch's leaf also carries rows that lost to a stored newer version
and identical re-upserts; the downstream merge applies the same
version-conditional rule the source resolved them by, so they change
nothing there either.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from rap_etl_spark.fsio import list_batches
from rap_etl_spark.lake import META_DEL, META_LSN, ManifestParquetTable


def changes_to_events(changes: DataFrame, lsn_col: str = "_change_lsn") -> DataFrame:
    """Changefeed rows → CDC events: inserts/post-images become 'U'
    upserts, deletes become 'D', pre-images are dropped (the post-image
    carries the state). Pure projection — no shuffle."""
    return (
        changes.filter(F.col("_change_type") != "update_preimage")
        .withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .withColumn("lsn", F.coalesce(F.col(lsn_col), F.lit(0)))
        .drop("_change_type", "_change_lsn")
    )


def batch_events(table: ManifestParquetTable, batch_id: int) -> DataFrame:
    """One committed batch as CDC events ``(key, payload..., op, lsn)``.

    A commit that wrote its own change rows (``batch_delta_rows``: the
    change files of a CoW merge or CoW DML commit, the delta files of a
    MoR commit) yields
    those rows as a changefeed (a delete where ``_del`` is set, else an
    insert, versioned by ``_lsn``) — one scan and a projection. A CoW
    merge's rows are exactly its snapshot diff's events, deletes carrying
    the removed row; a MoR delete carries a NULL payload. Any other
    commit (a DV delete, an append) yields its snapshot diff. Both become events through
    ``changes_to_events``, so a payload column named ``op`` or ``lsn`` is
    replaced the same way on every path. All raise ValueError once the
    batch's snapshots are out of retention."""
    rows = table.batch_delta_rows(batch_id)
    if rows is None:
        changes = table.changes_for_batch(batch_id)
    else:
        changes = rows.select(
            table.key,
            *[c for c in rows.columns if c not in (table.key, META_LSN, META_DEL)],
            F.when(F.col(META_DEL), F.lit("delete"))
            .otherwise(F.lit("insert"))
            .alias("_change_type"),
            F.col(META_LSN).alias("_change_lsn"),
        )
    return changes_to_events(changes)


def atomic_publish(out_dir: str, leaf: str, write, count) -> dict:
    """The shared exactly-once leaf-publish protocol: write to a temp dir,
    count what was written, atomically rename into place. An existing
    destination (idempotent redelivery) and a lost rename race both report
    ``published=False``. ``write(tmp_path)`` materializes the payload;
    ``count(tmp_path)`` returns the row count recorded in the result."""
    dest = os.path.join(out_dir, leaf)
    if os.path.exists(dest):
        return {"published": False, "rows": 0, "dest": dest}
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f"_tmp-{uuid.uuid4().hex[:8]}")
    write(tmp)
    n = int(count(tmp))
    try:
        os.replace(tmp, dest)  # atomic publish; loser of a race cleans up
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return {"published": False, "rows": 0, "dest": dest}
    return {"published": True, "rows": n, "dest": dest}


def observed_rows(obs: Observation) -> int | None:
    """Row count a ``count(1) AS rows`` observation collected during the
    write it rode on, or None when it did not fire. The metrics reach the
    observation through Spark's listener bus just after the write
    returns; ``getRowOrEmpty`` waits up to 100 ms for them, where
    ``Observation.get`` would block for ever on one that never fires. An
    observation the optimizer pruned to an empty relation fires with a
    zero-length row, which also reads as None."""
    row = obs._jo.getRowOrEmpty()
    if not row.isDefined() or row.get().size() == 0:
        return None
    return int(row.get().getLong(0))


def publish_changes(
    table: ManifestParquetTable,
    batch_id: int,
    out_dir: str,
    fmt: str = "parquet",
) -> dict:
    """Publish one committed batch's events (``batch_events``) to
    `out_dir/batch=<id>`.

    A CoW merge or CoW DML commit publishes the change files it wrote,
    which hold its snapshot diff's rows (post-images, and deletes with
    their pre-image payload); a commit that only appended delta files (MoR
    merges and MoR DML) publishes the rows of those files, with NULL
    payloads on deletes, so its ``rows`` equals the ledger's
    ``event_count``; every other commit (a DV delete, an append)
    publishes its snapshot diff. Returns {"batch_id",
    "published", "rows"} — published=False when the leaf already exists
    (idempotent redelivery), plus "error" when the batch's snapshots are
    out of retention.
    `fmt="binlog"` writes a `.rapwal` segment dir via the custom
    DataSource instead of parquet — same atomic-rename publish either
    way."""
    if fmt not in ("parquet", "binlog"):
        raise ValueError(f"fmt must be 'parquet' or 'binlog', got {fmt!r}")
    dest = os.path.join(out_dir, f"batch={batch_id}")
    if os.path.exists(dest):
        return {"batch_id": batch_id, "published": False, "rows": 0}
    try:
        ev = batch_events(table, batch_id)
    except ValueError as e:
        # retention contract: the batch's snapshot pair was expired (or the
        # ledger pruned) before this publish ran — unrecoverable from this
        # table, but it must not kill the replay driving it; surfaced in
        # the summary so the operator sees the gap
        return {
            "batch_id": batch_id,
            "published": False,
            "rows": 0,
            "error": str(e),
        }
    # the leaf's row count comes from the write itself; the leaf is read
    # back only when the observation did not fire
    obs = Observation()
    ev = ev.observe(obs, F.count(F.lit(1)).alias("rows"))
    if fmt == "binlog":
        # the .rapwal wire carries exactly (op, doc_id, lsn, tokens,
        # source) — binlog publishing is for the tokenized-sequence table
        # shape; other schemas use parquet
        from rap_etl_spark.sources.binlog import register

        register(table.spark)
        wire = ["op", "doc_id", "lsn", "tokens", "source"]
        missing = [c for c in wire if c not in ev.columns]
        if missing:
            raise ValueError(
                f"binlog publish needs wire columns {missing}; use fmt='parquet'"
            )

        def write(tmp):
            ev.select(*wire).write.format("rap-etl-binlog").mode(
                "overwrite"
            ).save(tmp)

        def read_back(tmp):
            return table.spark.read.format("rap-etl-binlog").load(tmp)

    else:

        def write(tmp):
            ev.write.mode("overwrite").parquet(tmp)

        def read_back(tmp):
            return table.spark.read.parquet(tmp)

    def count(tmp):
        n = observed_rows(obs)
        return read_back(tmp).count() if n is None else n

    rep = atomic_publish(out_dir, f"batch={batch_id}", write, count)
    return {
        "batch_id": batch_id,
        "published": rep["published"],
        "rows": rep["rows"],
    }


def apply_published(
    downstream: ManifestParquetTable, log_dir: str, fmt: str = "parquet"
) -> list[dict]:
    """Consume a published delta log in batch order into `downstream`
    (idempotent per batch via the table ledger): the sync-to-downstream
    consumer loop. Returns one summary dict per batch directory."""
    out = []
    if fmt == "binlog":
        from rap_etl_spark.sources.binlog import register

        register(downstream.spark)
    for bid in list_batches(downstream.fs, log_dir):
        leaf = f"batch={bid}"
        if downstream.is_committed(bid):
            out.append({"batch_id": bid, "applied": 0, "skipped": True})
            continue
        if fmt == "binlog":
            from rap_etl_spark.sources.binlog import as_events

            ev = as_events(
                downstream.spark.read.format("rap-etl-binlog").load(
                    os.path.join(log_dir, leaf)
                )
            ).drop("ingest_ts")
        else:
            ev = downstream.spark.read.parquet(os.path.join(log_dir, leaf))
        info = downstream.merge(ev, batch_id=bid)
        out.append(
            {"batch_id": bid, "applied": info.rows_written, "skipped": False}
        )
    return out
