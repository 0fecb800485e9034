"""spark-submit entry point for the CDC engine.

The north-rule deployment shape is ``spark-submit --py-files`` on a
multi-executor cluster; this module is the submittable driver program. The
same commands run locally (it builds a session via session.get_spark when
no active SparkSession exists, e.g. under plain ``python -m``).

Packaging for a cluster::

    cd <repo> && zip -r rap_etl_spark.zip rap_etl_spark
    # launcher.py — build the session FIRST via the plain builder so
    # spark-submit's --master/--conf win (cli reuses the active session):
    #   from pyspark.sql import SparkSession
    #   import sys
    #   SparkSession.builder.getOrCreate()
    #   from rap_etl_spark.cli import main
    #   sys.exit(main())
    spark-submit --py-files rap_etl_spark.zip \
        --conf spark.sql.shuffle.partitions=<3x total cores> \
        launcher.py replay --table /shared/lake/docs --log /shared/wal/events

    (tests/test_spark_submit.py runs exactly this shape as a subprocess on
    local-cluster[2,2] — the engine code reaches the executors only via
    the --py-files zip.)

Storage note: ``ManifestParquetTable``'s metadata/commit I/O goes through
the ``fsio`` seam; the shipped ``PosixFS`` backend needs a
single-writer-host POSIX path (pointer swap = os.replace + flock), so a
cluster deployment points --table at a POSIX-mounted shared filesystem
(NFS/Lustre) or plugs an HDFS/S3 ``fsio`` backend (deployment matrix in
fsio.py/README); ``fsio.ObjectStoreFS`` pins the object-store commit
contract (conditional lock object, copy+delete rename) an S3 client
implements.

Subcommands::

    init     --table PATH [--buckets N] [--schema v1|v2] [--merge-mode cow|mor]
    replay   --table PATH --log DIR [--lineage DIR] [--batches a,b,...]
             [--format parquet|binlog]   (binlog --batches = segment indices)
             [--auto-split-rows N]       (self-widening bucket layout)
             [--occ-retries N]           (multi-writer CAS rebase depth)
             [--branch NAME]             (WAP: stage commits on a branch)
             [--publish DIR [--publish-format parquet|binlog]]
                                         (downstream delta publishing)
    stream   --table PATH --log DIR --checkpoint DIR [--max-files N]
             [--metrics JSONL] [--continuous]
             [--format parquet|binlog|envelope|topic]
             [--branch NAME]             (use a branch-specific checkpoint)
    branch   create|list|publish|drop --table PATH [--name NAME]
    tag      create|list|drop --table PATH [--name NAME] [--snapshot SID]
    compact  --table PATH [--tombstone-horizon LSN] [--keep-snapshots K]
             [--zorder COL,COL] [--max-rows-per-file N]
             [--materialize] [--rewrite-dvs RATIO]
             [--ledger-horizon BATCH] [--sort COL,COL]
    delete   --table PATH --where COND [--mode cow|mor|dv] [--batch-id N]
    update   --table PATH --where COND --set COL=EXPR [--set ...]
             [--mode cow|mor] [--batch-id N]
    rebucket --table PATH --buckets N                (eager full rewrite)
    split    --table PATH [--factor K] [--shrink]
                     (metadata-only bucket growth/shrink, lazy migration)
    vacuum   --table PATH [--keep N] [--grace SEC]   (expire + orphan GC only)
    profile  --table PATH [--exact]                  (per-column stats)
    status   --table PATH
    inspect  --table PATH (--files | --snapshots)   (metadata tables)
    query    --table PATH --sql SQL [--name VIEW] [--branch NAME]
             [--snapshot SID] [--out DIR]
    clone    --table PATH --dest PATH [--snapshot SID] [--mode hardlink|copy]
    export   --table PATH --out DIR --tokens-per-shard N
             [--weight-col n_tok] [--snapshot SID]   (training shards)
    changes  --table PATH (--batch ID | --from SID [--to SID]) [--out DIR]
    synth    --out DIR --events N [--sf DIR] [--batches K] [--packed]
             [--keys N] [--max-tok N] [--format parquet|binlog|topic]
                     (topic: --batches = topic partition count)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession


def _spark(app: str) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    from rap_etl_spark.session import get_spark

    return get_spark(app_name=app)


def cmd_init(args) -> int:
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.schemas import DOCS_SCHEMA, DOCS_SCHEMA_V2

    schema = DOCS_SCHEMA_V2 if args.schema == "v2" else DOCS_SCHEMA
    t = ManifestParquetTable.create(
        _spark("rap-etl-init"), args.table, schema, n_buckets=args.buckets,
        merge_mode=args.merge_mode,
    )
    print(json.dumps({"table": args.table, "snapshot": t.snapshot_id()}))
    return 0


def cmd_replay(args) -> int:
    import os

    from rap_etl_spark.engine import CdcEngine
    from rap_etl_spark.lake import ManifestParquetTable

    spark = _spark("rap-etl-replay")
    t = ManifestParquetTable(spark, args.table)
    if getattr(args, "branch", None):
        # WAP staging: replay onto the branch; `branch publish` promotes it
        t = (
            t.branch(args.branch)
            if args.branch in t.list_branches()
            else t.create_branch(args.branch)
        )
    engine = CdcEngine(
        spark,
        t,
        lineage_dir=args.lineage,
        auto_evolve=getattr(args, "auto_evolve", False),
        auto_split_rows=getattr(args, "auto_split_rows", None),
        quarantine_dir=getattr(args, "quarantine", None),
        occ_retries=getattr(args, "occ_retries", 2),
    )
    if args.format == "binlog":
        from rap_etl_spark.sources.binlog import _list_segments, as_events, register

        register(spark)
        segments = dict(enumerate(_list_segments(args.log)))

        def load(b):
            return as_events(
                spark.read.format("rap-etl-binlog")
                .option("path", segments[b])
                .load()
            )

        discovered = sorted(segments)
    else:

        def load(b):
            return spark.read.parquet(os.path.join(args.log, f"batch={b}"))

        discovered = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(args.log)
            if d.startswith("batch=")
        )
    if args.batches:
        batch_ids = [int(b) for b in args.batches.split(",")]
        unknown = [b for b in batch_ids if b not in set(discovered)]
        if unknown:
            kind = (
                "segment indices 0..%d" % (len(discovered) - 1)
                if args.format == "binlog" and discovered
                else "batch ids %s" % discovered
            )
            print(
                f"unknown --batches {unknown}; this log has {kind}",
                file=sys.stderr,
            )
            return 2
    else:
        batch_ids = discovered
    for b in batch_ids:
        m = engine.apply_batch(load(b), batch_id=b)
        rec = {
            "batch_id": m.batch_id,
            "applied_rows": m.applied_rows,
            "skipped": m.skipped,
            "snapshot": m.snapshot_id,
            "seconds": round(m.seconds, 3),
        }
        if getattr(args, "publish", None):
            # downstream delta publishing (publish.py): idempotent per
            # batch, so redelivered/skipped batches repair a missing
            # publish without ever double-publishing
            from rap_etl_spark.publish import publish_changes

            rec["publish"] = publish_changes(
                t, b, args.publish, fmt=args.publish_format
            )
        if getattr(args, "feed_topic", None):
            # outbound replication inline with the tail: each applied
            # batch's changefeed goes straight to the topic under the
            # feed-ledger idempotency contract — the apply→publish loop a
            # downstream replica follows live
            rec["feed"] = _feed_one_to_topic(
                t,
                str(b),
                lambda b=b: t.changes_for_batch(b),
                args.feed_topic,
                args.feed_partitions,
            )
        print(json.dumps(rec))
    return 0


def cmd_stream(args) -> int:
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.schemas import EVENTS_SCHEMA, EVENTS_SCHEMA_PACKED
    from rap_etl_spark.streaming import metrics as m
    from rap_etl_spark.streaming.tail import stream_tail

    if args.format in ("binlog", "envelope", "topic") and args.packed:
        print(
            "--packed is a parquet-WAL option; this format has its own wire",
            file=sys.stderr,
        )
        return 2
    if args.format == "envelope" and not args.payload_ddl:
        print("--format envelope requires --payload-ddl", file=sys.stderr)
        return 2
    spark = _spark("rap-etl-stream")
    t = ManifestParquetTable(spark, args.table)
    if getattr(args, "branch", None):
        # WAP staging for streams: micro-batches commit to the branch;
        # `branch publish` promotes the audited head. Use a branch-specific
        # checkpoint — offsets committed on one ref must not be reused on
        # another.
        t = (
            t.branch(args.branch)
            if args.branch in t.list_branches()
            else t.create_branch(args.branch)
        )
    listener = m.attach(spark, args.metrics) if args.metrics else None
    if args.format == "envelope":
        from rap_etl_spark.streaming.tail import stream_envelope_tail

        registry = None
        if getattr(args, "registry", None):
            from rap_etl_spark.sources.registry import SchemaRegistry

            registry = SchemaRegistry(args.registry)
        q = stream_envelope_tail(
            spark,
            args.log,
            args.checkpoint,
            t,
            payload_ddl=args.payload_ddl,
            dlq_dir=args.dlq,
            lineage_dir=args.lineage,
            max_files_per_trigger=args.max_files,
            available_now=not args.continuous,
            auto_evolve=args.auto_evolve,
            mv_dirs=getattr(args, "mv", None),
            registry=registry,
            registry_topic=getattr(args, "registry_topic", None) or "docs",
        )
    else:
        q = stream_tail(
            spark,
            args.log,
            args.checkpoint,
            t,
            lineage_dir=args.lineage,
            max_files_per_trigger=args.max_files,
            available_now=not args.continuous,
            schema=EVENTS_SCHEMA_PACKED if args.packed else EVENTS_SCHEMA,
            source=args.format,
            publish_dir=args.publish,
            publish_format=args.publish_format,
            auto_evolve=args.auto_evolve,
            quarantine_dir=getattr(args, "quarantine", None),
            mv_dirs=getattr(args, "mv", None),
        )
    q.awaitTermination()
    if listener is not None:
        # progress events are delivered on a separate listener-bus thread;
        # wait until the count is STABLE (no new events for ~0.6s), capped
        # at 5s — breaking on the first event would undercount multi-batch
        # streams
        import time

        stable, last = 0.0, -1
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            n = listener.totals()["batches"]
            if n == last and n > 0:
                stable += 0.2
                if stable >= 0.6:
                    break
            else:
                stable = 0.0
            last = n
            time.sleep(0.2)
        print(json.dumps(listener.totals()))
        m.detach(spark, listener)
    return 0


def cmd_compact(args) -> int:
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-compact"), args.table)
    if args.materialize:
        # targeted MoR maintenance only: fold stacked deltas, skip the
        # full-table rewrite
        info = t.materialize_deltas()
        print(json.dumps({"snapshot": info.snapshot_id, "skipped": info.skipped}))
        return 0
    if args.rewrite_dvs is not None:
        # targeted DV maintenance only: rewrite density-threshold files
        info = t.rewrite_deletion_vectors(min_deleted_ratio=args.rewrite_dvs)
        print(
            json.dumps(
                {
                    "snapshot": info.snapshot_id,
                    "rows_rewritten": info.rows_written,
                    "skipped": info.skipped,
                }
            )
        )
        return 0
    info = t.compact(
        tombstone_horizon_lsn=args.tombstone_horizon,
        expire_snapshots_keep=args.keep_snapshots,
        ledger_horizon_batch_id=args.ledger_horizon,
        sort_cols=args.sort.split(",") if args.sort else None,
        zorder=args.zorder.split(",") if args.zorder else None,
        max_rows_per_file=args.max_rows_per_file,
    )
    print(json.dumps({"snapshot": info.snapshot_id}))
    return 0


def cmd_blooms(args) -> int:
    """Key-bloom maintenance (the puffin-style point-lookup index): one
    incremental pass over files lacking a bloom sidecar."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-blooms"), args.table)
    info = t.build_key_blooms(fpp=args.fpp)
    print(
        json.dumps(
            {
                "snapshot": info.snapshot_id,
                "files_bloomed": info.rows_written,
                "skipped": info.skipped,
            }
        )
    )
    return 0


def cmd_delete(args) -> int:
    """DELETE FROM ... WHERE from the command line; `--mode dv` commits a
    deletion vector (no data rewrite, no tombstone delta)."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-delete"), args.table)
    info = t.delete_where(args.where, mode=args.mode, batch_id=args.batch_id)
    print(
        json.dumps(
            {
                "snapshot": info.snapshot_id,
                "rows_written": info.rows_written,
                "skipped": info.skipped,
            }
        )
    )
    return 0


def cmd_update(args) -> int:
    """UPDATE ... SET col=expr[,col=expr] WHERE from the command line."""
    from rap_etl_spark.lake import ManifestParquetTable

    assignments = {}
    for a in args.set:
        col, _, expr = a.partition("=")
        if not _:
            raise SystemExit(f"--set needs COL=EXPR, got {a!r}")
        assignments[col.strip()] = expr.strip()
    t = ManifestParquetTable(_spark("rap-etl-update"), args.table)
    info = t.update_where(
        args.where, assignments, mode=args.mode, batch_id=args.batch_id
    )
    print(
        json.dumps(
            {
                "snapshot": info.snapshot_id,
                "rows_written": info.rows_written,
                "skipped": info.skipped,
            }
        )
    )
    return 0


def cmd_rebucket(args) -> int:
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-rebucket"), args.table)
    info = t.rebucket(args.buckets)
    print(
        json.dumps(
            {
                "snapshot": info.snapshot_id,
                "n_buckets": t.n_buckets(),
                "skipped": info.skipped,
            }
        )
    )
    return 0


def cmd_split(args) -> int:
    """Grow the bucket count as a METADATA-ONLY commit (lake.split_buckets):
    pre-split files are matched by hash-layout residue and migrate lazily
    as merges/compactions touch them — the zero-rewrite alternative to
    `rebucket` when the table has outgrown its layout."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-split"), args.table)
    info = (
        t.merge_buckets(args.factor)
        if args.shrink
        else t.split_buckets(args.factor)
    )
    print(
        json.dumps(
            {
                "snapshot": info.snapshot_id,
                "n_buckets": t.n_buckets(),
                "migration": t.split_migration(),
            }
        )
    )
    return 0


def cmd_status(args) -> int:
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-status"), args.table)
    hist = t.history()
    print(
        json.dumps(
            {
                "snapshot": t.snapshot_id(),
                "schema": t.schema().simpleString(),
                "n_buckets": t.n_buckets(),
                "committed_batches": sorted(
                    t.committed_batches(), key=lambda b: (len(b), b)
                ),
                "snapshots": len(hist),
                "merge_mode": t.merge_mode(),
                "delta_depth_max": max(t.delta_depth().values(), default=0),
                "dirty_buckets": len(t.delta_depth()),
                # exact, metadata-only on clean tables (fast_count falls
                # back to a bucket-pruned scan only where tombstones or
                # un-materialized deltas make footer counts insufficient)
                "rows": t.fast_count(),
                # files still under a pre-split bucket modulus (0 unless
                # split_buckets ran and migration hasn't finished)
                "files_pre_split": t.split_migration()["files_pre_split"],
            }
        )
    )
    return 0


def cmd_restore(args) -> int:
    """Roll the table back to a prior snapshot (or an immutable tag) as a
    NEW commit — history and the batch ledger are preserved, so replay
    idempotence is unaffected. The operator's 'undo the bad batch' tool."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-restore"), args.table)
    sid = args.snapshot
    if sid is None and args.tag_name:
        sid = t.list_tags()[args.tag_name]
    info = t.rollback(sid)
    print(
        json.dumps(
            {
                "restored_to": sid,
                "new_snapshot": t.snapshot_id(),
                "skipped": info.skipped,
                "rows": t.fast_count(),
            }
        )
    )
    return 0


def cmd_branch(args) -> int:
    """WAP branch management: create/list/publish/drop (lake.py branches).
    Flow: `replay --branch audit` stages batches invisibly to main readers,
    `status`/queries on the branch audit them, `branch publish` fast-
    forwards main atomically (or `branch drop` abandons the staging)."""
    from rap_etl_spark.lake import ManifestParquetTable

    if args.action != "list" and not args.name:
        print("--name is required for create/publish/drop", file=sys.stderr)
        return 2
    t = ManifestParquetTable(_spark("rap-etl-branch"), args.table)
    if args.action == "create":
        b = t.create_branch(args.name)
        print(json.dumps({"branch": args.name, "base": b.snapshot_id()}))
    elif args.action == "publish":
        info = t.publish_branch(args.name)
        print(json.dumps({"published": args.name, "snapshot": info.snapshot_id}))
    elif args.action == "drop":
        t.drop_branch(args.name)
        print(json.dumps({"dropped": args.name}))
    else:  # list
        print(json.dumps(t.list_branches()))
    return 0


def cmd_vacuum(args) -> int:
    """Retention WITHOUT a rewrite: expire old snapshot manifests and
    sweep orphan data files (lake.expire_snapshots). The cheap scheduled
    half of maintenance — compact rewrites data, vacuum only reclaims."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-vacuum"), args.table)
    deleted = t.expire_snapshots(keep=args.keep, orphan_grace_sec=args.grace)
    print(json.dumps({"deleted_files": deleted, "snapshots": len(t.history())}))
    return 0


def cmd_profile(args) -> int:
    """Per-column quality stats of the table in one scan
    (operators/profiling.py; HLL distincts by default, --exact for
    small audits)."""
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.operators.profiling import profile

    t = ManifestParquetTable(_spark("rap-etl-profile"), args.table)
    for r in profile(t.read(), approx=not args.exact).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_tag(args) -> int:
    """Immutable snapshot tags (lake.py tags): create pins a snapshot
    against expire_snapshots forever; `query --snapshot <tagged sid>` or
    read_tag() reproduces it."""
    from rap_etl_spark.lake import ManifestParquetTable

    if args.action != "list" and not args.name:
        print("--name is required for create/drop", file=sys.stderr)
        return 2
    t = ManifestParquetTable(_spark("rap-etl-tag"), args.table)
    if args.action == "create":
        sid = t.create_tag(args.name, snapshot_id=args.snapshot)
        print(json.dumps({"tag": args.name, "snapshot": sid}))
    elif args.action == "drop":
        t.drop_tag(args.name)
        print(json.dumps({"dropped": args.name}))
    else:
        print(json.dumps(t.list_tags()))
    return 0


def cmd_inspect(args) -> int:
    """Metadata tables (the Iceberg `.files` / `.snapshots` analogues):
    JSON-lines of live data files (with zone maps and tombstone flags) or
    snapshot lineage. Driver-local metadata only — no Spark job."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-inspect"), args.table)
    df = t.snapshots_df() if args.snapshots else t.files_df()
    for r in df.collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_query(args) -> int:
    """Ad-hoc SQL over the lake table: registers the (branch/snapshot)
    read as a temp view (default name `t`) and runs --sql. Writes parquet
    to --out, else prints JSON-lines (first 100 rows)."""
    from rap_etl_spark.lake import ManifestParquetTable

    spark = _spark("rap-etl-query")
    t = ManifestParquetTable(spark, args.table)
    if getattr(args, "branch", None):
        t = t.branch(args.branch)
    view = args.name or "t"
    t.read(snapshot_id=args.snapshot).createOrReplaceTempView(view)
    out = spark.sql(args.sql)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "rows": spark.read.parquet(args.out).count()}))
    else:
        for r in out.limit(100).collect():
            print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_clone(args) -> int:
    """Zero-copy table clone (hard-linked shallow clone; lake.py clone)."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-clone"), args.table)
    c = t.clone(args.dest, snapshot_id=args.snapshot, mode=args.mode)
    print(
        json.dumps(
            {"clone": args.dest, "snapshot": c.snapshot_id(), "mode": args.mode}
        )
    )
    return 0


def cmd_export(args) -> int:
    """Training-shard export: deterministic fixed-token-budget shards over
    the table's key order (operators/sharding.py distributed prefix sum —
    no single-partition window), written partitioned by shard_id. Rows
    leave the prefix-sum pass already range-clustered, so the partitioned
    write adds no shuffle."""
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.operators.sharding import assign_shards, shard_stats

    spark = _spark("rap-etl-export")
    t = ManifestParquetTable(spark, args.table)
    df = t.read(snapshot_id=args.snapshot)
    if args.weight_col not in df.columns:
        print(f"weight column {args.weight_col!r} not in table schema",
              file=sys.stderr)
        return 2
    assigned = assign_shards(
        df,
        tokens_per_shard=args.tokens_per_shard,
        order_col=t.key,
        weight_col=args.weight_col,
        keep_columns=True,
    )
    assigned.write.mode("overwrite").partitionBy("shard_id").parquet(args.out)
    stats = shard_stats(
        _spark("rap-etl-export").read.parquet(args.out), args.weight_col
    ).collect()
    print(
        json.dumps(
            {
                "out": args.out,
                "n_shards": len(stats),
                "rows": int(sum(r["n_docs"] for r in stats)),
                "tokens": int(sum(r["total_tokens"] for r in stats)),
                "tokens_per_shard": args.tokens_per_shard,
            }
        )
    )
    return 0


def _feed_one_to_topic(t, tag: str, load, out: str, partitions: int) -> dict:
    """Publish one changefeed slice to a partitioned WAL topic with the
    feed-ledger idempotency contract (shared by `feed` and
    `replay --feed-topic`): already-fed tags are no-ops, retention-expired
    ones record a permanent skip marker, everything else appends segments
    then records the tag."""
    from rap_etl_spark.fsio import POSIX_FS
    from rap_etl_spark.publish import changes_to_events
    from rap_etl_spark.sources.topic import write_topic

    ledger_path = os.path.join(out, "_feed_ledger.json")

    def _done():
        return (
            json.loads(POSIX_FS.read_text(ledger_path))
            if POSIX_FS.exists(ledger_path)
            else []
        )

    if any(e.split("!", 1)[0] == tag for e in _done()):
        return {"out": out, "tag": tag, "published": False}
    try:
        ev = changes_to_events(load())
    except ValueError as e:
        # Only a PROVABLE retention expiry gets a permanent skip marker
        # ("<tag>!expired"): the batch is in the commit ledger but its
        # snapshot pair is gone — unrecoverable from this table, surfaced
        # exactly once, never retried forever (the operator repairs the
        # replica with snapshot_sync). Every other ValueError (batch not
        # committed yet — operator typo or a race with the replay — or a
        # bad snapshot id) is RECOVERABLE: surface it without recording
        # anything, so a corrected retry still feeds the data instead of
        # hitting a poisoned ledger entry.
        permanent = tag.isdigit() and t.is_committed(int(tag))
        if permanent:
            os.makedirs(out, exist_ok=True)
            POSIX_FS.write_text_atomic(
                ledger_path, json.dumps(_done() + [f"{tag}!expired"])
            )
        return {
            "out": out,
            "tag": tag,
            "published": False,
            "skipped_permanently": permanent,
            "error": str(e),
        }
    pubs = write_topic(ev, out, partitions)
    os.makedirs(out, exist_ok=True)
    POSIX_FS.write_text_atomic(ledger_path, json.dumps(_done() + [tag]))
    return {
        "out": out,
        "tag": tag,
        "published": True,
        "segments": {str(k): v for k, v in pubs.items()},
    }


def cmd_fsck(args) -> int:
    """Integrity audit (lake.fsck): manifest↔disk existence, per-file
    footer row counts vs manifest, bucket-residue routing, DV position
    bounds, and single-live-row-per-key. Exit 1 on any violation."""
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-fsck"), args.table)
    rep = t.fsck(deep=not args.shallow)
    print(json.dumps(rep))
    return 0 if rep["ok"] else 1


def cmd_bootstrap(args) -> int:
    """Chunked pause-free initial load (engine.chunked_bootstrap — the
    DBLog watermark algorithm in static-snapshot mode): a point-in-time
    source snapshot (--source parquet of live rows, taken at
    --snapshot-lsn) is merged in --chunks hash key-chunks INTERLEAVED
    with the log's batches — every step its own ledger commit, so the
    bootstrap is resumable from a crash and the table serves reads
    throughout. Chunk rows are stamped at --snapshot-lsn: any log event
    newer than the snapshot wins regardless of apply order; the log must
    cover everything after the snapshot position (overlap below it is
    harmless — version-conditional)."""
    from pyspark.sql import functions as F

    from rap_etl_spark.engine import chunked_bootstrap
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.operators.cdc import lww_latest

    spark = _spark("rap-etl-bootstrap")
    t = ManifestParquetTable(spark, args.table)
    snap = spark.read.parquet(args.source)
    n = args.chunks

    def select_chunk(cid, lo):
        return snap.filter(
            F.pmod(F.xxhash64("doc_id"), F.lit(n)) == cid
        )

    batch_ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(args.log)
        if d.startswith("batch=")
    )

    def batches():
        for b in batch_ids:
            ev = spark.read.parquet(os.path.join(args.log, f"batch={b}"))
            yield lww_latest(ev), None

    steps = chunked_bootstrap(
        spark, t, select_chunk, n, batches(), chunk_lsn=args.snapshot_lsn
    )
    print(
        json.dumps(
            {
                "table": args.table,
                "chunks": n,
                "log_batches": len(batch_ids),
                "steps": len(steps),
                "snapshot_lsn": args.snapshot_lsn,
                "snapshot": t.snapshot_id(),
            }
        )
    )
    return 0


def cmd_compact_topic(args) -> int:
    """X91: Kafka-style log compaction of a partitioned WAL topic —
    latest record per key survives, segment count (= stream offsets)
    preserved, tombstones kept unless --drop-tombstones."""
    from rap_etl_spark.sources.topic import compact_topic, register

    spark = _spark("rap-etl-compact-topic")
    register(spark)
    stats = compact_topic(
        spark, args.topic, drop_tombstones=args.drop_tombstones
    )
    print(json.dumps({str(p): s for p, s in sorted(stats.items())}))
    return 0


def cmd_mv(args) -> int:
    """X92: materialized views with incremental refresh. `mv create`
    bootstraps the view at the base table's current snapshot; `mv refresh`
    advances it from the changefeed (bucket-pruned incremental read, never
    a full-table recompute unless the cursor's snapshot was expired);
    `mv status` prints the commit file."""
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.mv import MaterializedView

    spark = _spark("rap-etl-mv")
    if args.action == "create":
        base = ManifestParquetTable(spark, args.table)
        mv = MaterializedView.create(
            spark, args.mv, base, json.loads(args.spec)
        )
        meta = mv._meta()
        print(json.dumps({"mv": args.mv, "cursor": meta["cursor"],
                          "version": meta["version"], "rows": meta["rows"]}))
        return 0
    mv = MaterializedView.load(spark, args.mv)
    if args.action == "refresh":
        info = mv.refresh()
        print(json.dumps({
            "skipped": info.skipped,
            "from": info.from_snapshot,
            "to": info.to_snapshot,
            "version": info.version,
            "rows": info.rows,
            "full_recompute": info.full_recompute,
        }))
        return 0
    print(json.dumps(mv._meta()))
    return 0


def cmd_feed(args) -> int:
    """Outbound replication feed: publish a committed batch's changes (or
    a snapshot range's) downstream.

    --format topic: engine wire shape into a partitioned WAL topic — a
    `stream --format topic` consumer on another table becomes a live
    replica. The topic transport is at-least-once on redelivery (a crash
    between the segment publish and the feed ledger update re-appends),
    and the consumer's version-conditional merge is idempotent per event,
    so the downstream STATE is exactly-once — the standard Kafka contract.
    A `_feed_ledger.json` in the topic dir skips already-published batch
    ids on the happy path.

    --format envelope: Debezium JSON-lines envelopes (one `u` per update
    carrying both images) into `<out>/batch=<id>` leaves with the same
    atomic-rename exactly-once publish as publish_changes — the feed for
    external, non-engine consumers."""
    from pyspark.sql import functions as F

    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.operators.cdc import fold_changes_to_envelopes

    spark = _spark("rap-etl-feed")
    t = ManifestParquetTable(spark, args.table)
    if args.format == "topic":
        if args.batch is not None:
            work = [(str(args.batch), lambda b=args.batch: t.changes_for_batch(b))]
        elif args.from_snapshot or args.to_snapshot:
            tag = args.to_snapshot or t.snapshot_id()
            work = [
                (
                    str(tag),
                    lambda: t.table_changes(args.from_snapshot, args.to_snapshot),
                )
            ]
        else:
            # catch-up mode: publish every committed batch the feed ledger
            # hasn't seen, in batch order — `feed` with no selector is
            # "sync the topic to the table's ledger now", so a cron'd feed
            # after each replay keeps downstream replicas current
            work = [
                (str(b), lambda b=b: t.changes_for_batch(b))
                for b in sorted(int(x) for x in t.committed_batches())
            ]
        for tag, load in work:
            print(
                json.dumps(
                    _feed_one_to_topic(t, tag, load, args.out, args.partitions)
                )
            )
        return 0
    try:
        if args.batch is not None:
            ch = t.changes_for_batch(args.batch)
            tag = args.batch
        else:
            ch = t.table_changes(args.from_snapshot, args.to_snapshot)
            tag = args.to_snapshot or t.snapshot_id()
    except ValueError as e:
        # retention gap: graceful JSON, exit 0 — same surfaced-not-fatal
        # contract as the topic branch and publish_changes (a scripted
        # catch-up loop must not halt on a condition the sibling format
        # treats as non-fatal)
        print(json.dumps({"out": args.out, "published": False, "error": str(e)}))
        return 0
    # envelope: JSON-lines leaf through the shared exactly-once protocol
    from rap_etl_spark.publish import atomic_publish

    payload = [f.name for f in t.schema().fields if f.name not in ("doc_id",)]
    env = fold_changes_to_envelopes(ch, payload, table_name=args.table_name)
    rep = atomic_publish(
        args.out,
        f"batch={tag}",
        lambda tmp: env.select(F.col("env").alias("value"))
        .write.mode("overwrite")
        .text(tmp),
        lambda tmp: spark.read.text(tmp).count(),
    )
    print(
        json.dumps(
            {"out": rep["dest"], "published": rep["published"], "rows": rep["rows"]}
        )
    )
    return 0


def cmd_changes(args) -> int:
    """Incremental CDC read: emit row-level changes for one committed
    batch (--batch) or between two snapshots (--from/--to). Writes parquet
    to --out, else prints a row-count + per-type summary."""
    from pyspark.sql import functions as F

    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(_spark("rap-etl-changes"), args.table)
    if args.batch is not None:
        ch = t.changes_for_batch(args.batch)
    else:
        ch = t.table_changes(args.from_snapshot, args.to_snapshot)
    if args.out:
        ch.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out}))
    else:
        counts = {
            r["_change_type"]: r["n"]
            for r in ch.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        print(json.dumps({"changes": counts, "total": sum(counts.values())}))
    return 0


def cmd_synth(args) -> int:
    from rap_etl_spark.sources.synth import synthesize_events, write_event_log

    if args.format in ("binlog", "topic") and args.packed:
        print("--packed is a parquet-WAL option; this format has its own wire",
              file=sys.stderr)
        return 2
    spark = _spark("rap-etl-synth")
    ev = synthesize_events(
        spark,
        args.sf,
        args.events,
        max_tok=args.max_tok,
        packed=args.packed,
        n_keys=args.keys,
    )
    if args.format == "binlog":
        from rap_etl_spark.sources.binlog import write_binlog_segments

        n = write_binlog_segments(
            ev.select("op", "doc_id", "lsn", "tokens", "source"),
            args.out,
            n_segments=args.batches,
        )
        print(json.dumps({"log": args.out, "events": args.events, "segments": n}))
        return 0
    if args.format == "topic":
        from rap_etl_spark.sources.topic import write_topic

        pub = write_topic(
            ev.select("op", "doc_id", "lsn", "tokens", "source"),
            args.out,
            n_partitions=args.batches,
        )
        print(
            json.dumps(
                {
                    "log": args.out,
                    "events": args.events,
                    "partitions": {str(k): v for k, v in pub.items()},
                }
            )
        )
        return 0
    write_event_log(ev, args.out, n_batches=args.batches, n_events=args.events)
    print(json.dumps({"log": args.out, "events": args.events}))
    return 0


def cmd_requeue(args) -> int:
    """Replay-after-fix (X103): re-ingest quarantined dead letters through
    the exactly-once engine after applying --set repair expressions."""
    from rap_etl_spark.engine import CdcEngine, requeue_quarantine
    from rap_etl_spark.lake import ManifestParquetTable

    fixes = {}
    for a in args.set or []:
        col, sep, expr = a.partition("=")
        if not sep:
            raise SystemExit(f"--set needs COL=EXPR, got {a!r}")
        fixes[col.strip()] = expr.strip()
    spark = _spark("rap-etl-requeue")
    t = ManifestParquetTable(spark, args.table)
    eng = CdcEngine(spark, t, lineage_dir=args.lineage)
    m = requeue_quarantine(
        spark, eng, args.quarantine, batch_id=args.batch_id, fixes=fixes
    )
    if m is None:
        print(json.dumps({"requeued": 0, "skipped": True}))
        return 0
    print(
        json.dumps(
            {
                "requeued": m.applied_rows,
                "batch_id": m.batch_id,
                "skipped": m.skipped,
                "snapshot": m.snapshot_id,
            }
        )
    )
    return 0


def cmd_registry(args) -> int:
    """Producer surface of the X100 schema registry: register a payload
    schema (DDL), list a topic's versions, or retire one — no Spark
    session needed (pure driver-side JSON)."""
    from rap_etl_spark.sources.registry import (
        IncompatibleSchemaError,
        SchemaRegistry,
        ddl_to_struct,
    )

    reg = SchemaRegistry(args.root)
    if args.action == "register":
        if not args.ddl:
            raise SystemExit("registry register needs --ddl")
        schema = ddl_to_struct(args.ddl)
        try:
            v = reg.register(args.topic, schema, mode=args.mode)
        except IncompatibleSchemaError as e:
            print(
                json.dumps({"error": "incompatible", "violations": e.violations})
            )
            return 3
        print(json.dumps({"topic": args.topic, "version": v}))
        return 0
    if args.action == "retire":
        if args.version is None:
            raise SystemExit("registry retire needs --version")
        reg.retire(args.topic, args.version)
        print(json.dumps({"topic": args.topic, "retired": args.version}))
        return 0
    doc = {
        "topic": args.topic,
        "compat": reg.compat_mode(args.topic),
        "versions": [
            {
                "v": v,
                "live": v in reg.accepted_versions(args.topic),
                "ddl": reg.get(args.topic, v).simpleString()[7:-1],
            }
            for v in reg.versions(args.topic)
        ],
    }
    print(json.dumps(doc))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="rap-etl-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("init")
    sp.add_argument("--table", required=True)
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--schema", choices=["v1", "v2"], default="v1")
    sp.add_argument("--merge-mode", choices=["cow", "mor"], default="cow")
    sp.set_defaults(fn=cmd_init)

    sp = sub.add_parser("replay")
    sp.add_argument("--table", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--lineage")
    sp.add_argument(
        "--quarantine",
        help="dead-letter dir: malformed events divert here with a reason "
        "column instead of poisoning the merge (engine.quarantine_dir)",
    )
    sp.add_argument("--batches")
    sp.add_argument("--format", choices=["parquet", "binlog"], default="parquet")
    sp.add_argument("--branch", help="stage the replay on a WAP branch")
    sp.add_argument("--publish", help="publish each batch's delta to this dir")
    sp.add_argument(
        "--publish-format", choices=["parquet", "binlog"], default="parquet"
    )
    sp.add_argument(
        "--feed-topic",
        help="feed each applied batch's changefeed into this WAL topic "
        "(inline outbound replication; same ledger contract as `feed`)",
    )
    sp.add_argument("--feed-partitions", type=int, default=4)
    sp.add_argument(
        "--auto-evolve",
        action="store_true",
        help="absorb upstream schema drift: nullable adds / type widenings "
        "in the event payload evolve the table before the merge",
    )
    sp.add_argument(
        "--auto-split-rows",
        type=int,
        help="double the bucket count (metadata-only split) whenever mean "
        "live rows per bucket reach this threshold",
    )
    sp.add_argument(
        "--occ-retries",
        type=int,
        default=2,
        help="rebase-and-retry depth for merges whose manifest CAS lost to "
        "a concurrent committer; raise it when several writer processes "
        "share one table (each conflict costs one manifest re-read, never "
        "a data rewrite)",
    )
    sp.set_defaults(fn=cmd_replay)

    sp = sub.add_parser("stream")
    sp.add_argument("--table", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--lineage")
    sp.add_argument("--max-files", type=int)
    sp.add_argument("--metrics")
    sp.add_argument("--packed", action="store_true")
    sp.add_argument("--continuous", action="store_true")
    sp.add_argument(
        "--format",
        choices=["parquet", "binlog", "envelope", "topic"],
        default="parquet",
        help="envelope = JSON-lines Debezium-style envelopes "
        "(requires --payload-ddl; malformed rows quarantine to --dlq); "
        "topic = partitioned .rapwal WAL (p=K dirs, vector offsets)",
    )
    sp.add_argument(
        "--payload-ddl",
        help="envelope payload schema, e.g. 'doc_id: STRING, price_c: BIGINT'",
    )
    sp.add_argument("--dlq", help="quarantine dir for malformed envelopes")
    sp.add_argument(
        "--registry",
        help="schema-registry root (X100): envelope rows whose wire-level "
        "schema_version is unregistered or retired quarantine to --dlq",
    )
    sp.add_argument(
        "--registry-topic",
        help="registry topic/subject to gate against (default: docs)",
    )
    sp.add_argument(
        "--quarantine",
        help="dead-letter dir for semantically malformed events "
        "(post-parse: bad op / null key / bad lsn / torn blob)",
    )
    sp.add_argument("--branch", help="stage the stream's commits on a WAP branch")
    sp.add_argument(
        "--mv",
        action="append",
        help="materialized view dir to refresh after each micro-batch "
        "(repeatable; cursor-based, so redelivery stays exactly-once)",
    )
    sp.add_argument("--publish", help="publish each micro-batch's delta here")
    sp.add_argument(
        "--publish-format", choices=["parquet", "binlog"], default="parquet"
    )
    sp.add_argument(
        "--auto-evolve",
        action="store_true",
        help="evolve the table for payload columns the stream carries that "
        "the table lacks (takes effect per restart: a running query's "
        "source schema is fixed)",
    )
    sp.set_defaults(fn=cmd_stream)

    sp = sub.add_parser("compact")
    sp.add_argument("--table", required=True)
    sp.add_argument("--tombstone-horizon", type=int)
    sp.add_argument("--keep-snapshots", type=int)
    sp.add_argument("--ledger-horizon", type=int)
    sp.add_argument("--sort")
    sp.add_argument("--zorder", help="two comma-separated columns: Morton layout")
    sp.add_argument("--max-rows-per-file", type=int)
    sp.add_argument("--materialize", action="store_true")
    sp.add_argument(
        "--rewrite-dvs",
        type=float,
        help="rewrite only files whose deletion-vector density >= RATIO",
    )
    sp.set_defaults(fn=cmd_compact)

    def _fpp(v: str) -> float:
        f = float(v)
        if not (0.0 < f < 1.0):
            raise argparse.ArgumentTypeError("fpp must be in (0, 1)")
        return f

    sp = sub.add_parser("blooms")
    sp.add_argument("--table", required=True)
    sp.add_argument("--fpp", type=_fpp, default=0.01)
    sp.set_defaults(fn=cmd_blooms)

    sp = sub.add_parser("delete")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True, help="SQL boolean condition")
    sp.add_argument("--mode", choices=["cow", "mor", "dv"])
    sp.add_argument("--batch-id", type=int, help="idempotency key")
    sp.set_defaults(fn=cmd_delete)

    sp = sub.add_parser("update")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True, help="SQL boolean condition")
    sp.add_argument(
        "--set",
        action="append",
        required=True,
        metavar="COL=EXPR",
        help="assignment, repeatable (EXPR is a SQL expression)",
    )
    sp.add_argument("--mode", choices=["cow", "mor"])
    sp.add_argument("--batch-id", type=int, help="idempotency key")
    sp.set_defaults(fn=cmd_update)

    sp = sub.add_parser("rebucket")
    sp.add_argument("--table", required=True)
    sp.add_argument("--buckets", type=int, required=True)
    sp.set_defaults(fn=cmd_rebucket)

    sp = sub.add_parser("split")
    sp.add_argument("--table", required=True)
    sp.add_argument("--factor", type=int, default=2)
    sp.add_argument("--shrink", action="store_true")
    sp.set_defaults(fn=cmd_split)

    sp = sub.add_parser("status")
    sp.add_argument("--table", required=True)
    sp.set_defaults(fn=cmd_status)

    sp = sub.add_parser("restore")
    sp.add_argument("--table", required=True)
    g = sp.add_mutually_exclusive_group(required=True)
    g.add_argument("--snapshot")
    g.add_argument("--tag", dest="tag_name")
    sp.set_defaults(fn=cmd_restore)

    sp = sub.add_parser("vacuum")
    sp.add_argument("--table", required=True)
    sp.add_argument("--keep", type=int, default=3)
    sp.add_argument("--grace", type=float, default=3600.0)
    sp.set_defaults(fn=cmd_vacuum)

    sp = sub.add_parser("profile")
    sp.add_argument("--table", required=True)
    sp.add_argument("--exact", action="store_true")
    sp.set_defaults(fn=cmd_profile)

    sp = sub.add_parser("tag")
    sp.add_argument("action", choices=["create", "list", "drop"])
    sp.add_argument("--table", required=True)
    sp.add_argument("--name")
    sp.add_argument("--snapshot")
    sp.set_defaults(fn=cmd_tag)

    sp = sub.add_parser("inspect")
    sp.add_argument("--table", required=True)
    g = sp.add_mutually_exclusive_group()
    g.add_argument("--files", action="store_true")
    g.add_argument("--snapshots", action="store_true")
    sp.set_defaults(fn=cmd_inspect)

    sp = sub.add_parser("query")
    sp.add_argument("--table", required=True)
    sp.add_argument("--sql", required=True)
    sp.add_argument("--name", help="temp-view name for the table (default t)")
    sp.add_argument("--branch", help="query a WAP branch instead of main")
    sp.add_argument("--snapshot", help="time-travel: query this snapshot id")
    sp.add_argument("--out", help="write result parquet here instead of printing")
    sp.set_defaults(fn=cmd_query)

    sp = sub.add_parser("clone")
    sp.add_argument("--table", required=True)
    sp.add_argument("--dest", required=True)
    sp.add_argument("--snapshot")
    sp.add_argument("--mode", choices=["hardlink", "copy"], default="hardlink")
    sp.set_defaults(fn=cmd_clone)

    sp = sub.add_parser("export")
    sp.add_argument("--table", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--tokens-per-shard", type=int, required=True)
    sp.add_argument("--weight-col", default="n_tok")
    sp.add_argument("--snapshot")
    sp.set_defaults(fn=cmd_export)

    sp = sub.add_parser("fsck")
    sp.add_argument("--table", required=True)
    sp.add_argument("--shallow", action="store_true")
    sp.set_defaults(fn=cmd_fsck)

    sp = sub.add_parser("bootstrap")
    sp.add_argument("--table", required=True)
    sp.add_argument("--source", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--chunks", type=int, default=8)
    sp.add_argument("--snapshot-lsn", type=int, default=0)
    sp.set_defaults(fn=cmd_bootstrap)

    sp = sub.add_parser("feed")
    sp.add_argument("--table", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--format", choices=["topic", "envelope"], default="topic")
    sp.add_argument("--batch", type=int)
    sp.add_argument("--from", dest="from_snapshot")
    sp.add_argument("--to", dest="to_snapshot")
    sp.add_argument("--partitions", type=int, default=4)
    sp.add_argument("--table-name", default="docs")
    sp.set_defaults(fn=cmd_feed)

    sp = sub.add_parser("changes")
    sp.add_argument("--table", required=True)
    sp.add_argument("--batch", type=int)
    sp.add_argument("--from", dest="from_snapshot")
    sp.add_argument("--to", dest="to_snapshot")
    sp.add_argument("--out")
    sp.set_defaults(fn=cmd_changes)

    sp = sub.add_parser("branch")
    sp.add_argument("action", choices=["create", "list", "publish", "drop"])
    sp.add_argument("--table", required=True)
    sp.add_argument("--name")
    sp.set_defaults(fn=cmd_branch)

    sp = sub.add_parser("mv")
    sp.add_argument("action", choices=["create", "refresh", "status"])
    sp.add_argument("--mv", required=True, help="materialized view dir")
    sp.add_argument("--table", help="base table (create only)")
    sp.add_argument(
        "--spec",
        help='view definition JSON, e.g. {"kind":"agg","group_cols":'
        '["source"],"sum_cols":["n_tok"]} (create only)',
    )
    sp.set_defaults(fn=cmd_mv)

    sp = sub.add_parser("compact-topic")
    sp.add_argument("--topic", required=True)
    sp.add_argument(
        "--drop-tombstones",
        action="store_true",
        help="also drop 'D' records (Kafka delete-retention expiry); "
        "default keeps tombstones so bootstrapping consumers see deletes",
    )
    sp.set_defaults(fn=cmd_compact_topic)

    sp = sub.add_parser("synth")
    sp.add_argument("--out", required=True)
    sp.add_argument("--events", type=int, required=True)
    sp.add_argument("--sf", default="/root/testdata/sf0.001")
    sp.add_argument("--batches", type=int, default=4)
    sp.add_argument("--packed", action="store_true")
    sp.add_argument("--keys", type=int)
    sp.add_argument("--max-tok", type=int, default=32)
    sp.add_argument(
        "--format", choices=["parquet", "binlog", "topic"], default="parquet"
    )
    sp.set_defaults(fn=cmd_synth)

    sp = sub.add_parser("requeue")
    sp.add_argument("--table", required=True)
    sp.add_argument("--quarantine", required=True, help="dead-letter dir")
    sp.add_argument("--batch-id", type=int, required=True)
    sp.add_argument(
        "--set",
        action="append",
        help="repair expression COL=SQL_EXPR (repeatable), e.g. "
        "n_tok=size(tokens); rows still invalid after repair stay dead",
    )
    sp.add_argument("--lineage")
    sp.set_defaults(fn=cmd_requeue)

    sp = sub.add_parser("registry")
    sp.add_argument("action", choices=["register", "list", "retire"])
    sp.add_argument("--root", required=True, help="registry root dir")
    sp.add_argument("--topic", required=True)
    sp.add_argument("--ddl", help="payload schema DDL (register)")
    sp.add_argument(
        "--mode",
        choices=["BACKWARD", "FORWARD", "FULL", "NONE"],
        help="set the topic's compat mode while registering",
    )
    sp.add_argument("--version", type=int, help="version to retire")
    sp.set_defaults(fn=cmd_registry)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
