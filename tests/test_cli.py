"""The spark-submit driver program (rap_etl_spark.cli) — the deployment
surface of the north rule (`spark-submit --py-files`). Runs in-process
against the session fixture (cli reuses the active SparkSession)."""

import json

import pytest
from pyspark.sql import functions as F

from rap_etl_spark.cli import main


def _run(capsys, *argv) -> list[dict]:
    assert main(list(argv)) == 0
    out = capsys.readouterr().out
    return [json.loads(ln) for ln in out.splitlines() if ln.startswith("{")]


def test_cli_full_lifecycle(spark, sf_small, tmp_path, capsys):
    log = str(tmp_path / "log")
    table = str(tmp_path / "t")

    rec = _run(capsys, "synth", "--out", log, "--events", "2000",
               "--sf", sf_small, "--batches", "2", "--packed")
    assert rec[-1]["events"] == 2000

    rec = _run(capsys, "init", "--table", table, "--buckets", "8")
    assert rec[-1]["snapshot"].startswith("00000000-")

    rec = _run(capsys, "replay", "--table", table, "--log", log)
    applied = [r for r in rec if "batch_id" in r]
    assert len(applied) == 2 and all(not r["skipped"] for r in applied)

    # redelivery of one batch is a metadata no-op
    rec = _run(capsys, "replay", "--table", table, "--log", log, "--batches", "1")
    assert rec[-1]["skipped"] is True

    rec = _run(capsys, "status", "--table", table)
    st = rec[-1]
    assert st["committed_batches"] == ["0", "1"]
    assert st["rows"] > 0
    assert "array<int>" in st["schema"]  # packed WAL expanded to array table

    # incremental CDC read surface: per-batch changes + snapshot-pair diff
    rec = _run(capsys, "changes", "--table", table, "--batch", "1")
    assert rec[-1]["total"] > 0 and "changes" in rec[-1]
    out_dir = str(tmp_path / "ch")
    rec = _run(capsys, "changes", "--table", table, "--batch", "1",
               "--out", out_dir)
    assert spark.read.parquet(out_dir).count() > 0

    rec = _run(capsys, "compact", "--table", table, "--sort", "doc_id")
    assert rec[-1]["snapshot"]

    rec = _run(capsys, "rebucket", "--table", table, "--buckets", "16")
    assert rec[-1]["n_buckets"] == 16 and not rec[-1]["skipped"]

    rec = _run(capsys, "status", "--table", table)
    assert rec[-1]["rows"] == st["rows"]  # maintenance preserves state


def test_cli_inspect_and_query(spark, sf_small, tmp_path, capsys):
    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "1000",
         "--sf", sf_small, "--batches", "1")
    _run(capsys, "init", "--table", table, "--buckets", "8")
    _run(capsys, "replay", "--table", table, "--log", log)

    files = _run(capsys, "inspect", "--table", table, "--files")
    assert files and all(f["rows"] > 0 and f["bytes"] > 0 for f in files)
    snaps = _run(capsys, "inspect", "--table", table, "--snapshots")
    assert len(snaps) == 2  # create + replay commit

    rec = _run(capsys, "query", "--table", table,
               "--sql", "SELECT count(*) AS n, count(DISTINCT doc_id) AS k FROM t")
    n_live = rec[-1]["n"]
    assert rec[-1]["k"] == n_live  # LWW table: one row per key
    # file rows are PHYSICAL (tombstones included); status rows is the
    # metadata-backed fast_count and must agree with the live SQL count
    assert n_live <= sum(f["rows"] for f in files)
    st = _run(capsys, "status", "--table", table)
    assert st[-1]["rows"] == n_live

    out_dir = str(tmp_path / "q")
    rec = _run(capsys, "query", "--table", table, "--out", out_dir,
               "--sql", "SELECT doc_id FROM t WHERE n_tok > 4")
    assert rec[-1]["rows"] == spark.read.parquet(out_dir).count()

    clone_dir = str(tmp_path / "c")
    rec = _run(capsys, "clone", "--table", table, "--dest", clone_dir)
    st = _run(capsys, "status", "--table", clone_dir)
    assert st[-1]["rows"] == n_live

    prof = _run(capsys, "profile", "--table", table)
    cols = {p["column"] for p in prof}
    assert {"doc_id", "n_tok", "source"} <= cols
    assert all(p["n_rows"] == n_live for p in prof)

    _run(capsys, "compact", "--table", table)
    rec = _run(capsys, "vacuum", "--table", table, "--keep", "1", "--grace", "0")
    assert rec[-1]["snapshots"] <= 2
    st2 = _run(capsys, "status", "--table", table)
    assert st2[-1]["rows"] == n_live  # vacuum reclaims, never mutates state


def test_cli_replay_with_publish(spark, sf_small, tmp_path, capsys):
    import os

    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    feed = str(tmp_path / "feed")
    _run(capsys, "synth", "--out", log, "--events", "1000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", table, "--buckets", "8")
    rec = _run(capsys, "replay", "--table", table, "--log", log,
               "--publish", feed)
    applied = [r for r in rec if "batch_id" in r]
    assert all(r["publish"]["published"] for r in applied)
    assert sorted(os.listdir(feed)) == ["batch=0", "batch=1"]

    # redelivery: batch skip AND publish no-op
    rec = _run(capsys, "replay", "--table", table, "--log", log,
               "--batches", "1", "--publish", feed)
    assert rec[-1]["skipped"] and not rec[-1]["publish"]["published"]

    # downstream consumer converges
    from rap_etl_spark.engine import assert_equivalent
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.publish import apply_published

    t = ManifestParquetTable(spark, table)
    d = ManifestParquetTable.create(
        spark, str(tmp_path / "dst"), t.schema(), n_buckets=8
    )
    apply_published(d, feed)
    assert_equivalent(t.read(), d.read())


def test_cli_export_training_shards(spark, sf_small, tmp_path, capsys):
    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "1500",
         "--sf", sf_small, "--batches", "1")
    _run(capsys, "init", "--table", table, "--buckets", "8")
    _run(capsys, "replay", "--table", table, "--log", log)

    out = str(tmp_path / "shards")
    rec = _run(capsys, "export", "--table", table, "--out", out,
               "--tokens-per-shard", "500")
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(spark, table)
    exported = spark.read.parquet(out)
    assert rec[-1]["rows"] == exported.count() == t.read().count()
    assert rec[-1]["n_shards"] >= 2
    # every shard except the straddler-tailed last stays near budget
    per = {r["shard_id"]: r["total_tokens"]
           for r in exported.groupBy("shard_id")
           .agg(F.sum("n_tok").alias("total_tokens")).collect()}
    max_w = max(r["n_tok"] for r in t.read().select("n_tok").collect())
    last = max(per)
    for sid, tot in per.items():
        assert tot < 500 + max_w
        if sid != last:
            assert tot > 500 - max_w

    # unknown weight column -> usable error
    assert main(["export", "--table", table, "--out", out,
                 "--tokens-per-shard", "10", "--weight-col", "nope"]) == 2


def test_cli_stream_to_wap_branch(spark, sf_small, tmp_path, capsys):
    """stream --branch stages micro-batch commits invisibly to main; branch
    publish fast-forwards main to the audited head."""
    from rap_etl_spark.lake import ManifestParquetTable

    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "1000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", table, "--buckets", "8")

    _run(capsys, "stream", "--table", table, "--log", log,
         "--checkpoint", str(tmp_path / "cp-audit"), "--branch", "audit")
    t = ManifestParquetTable(spark, table)
    assert t.read().count() == 0  # main untouched while staging
    staged = t.branch("audit").read().count()
    assert staged > 0

    rec = _run(capsys, "branch", "publish", "--table", table, "--name", "audit")
    assert rec[-1]["published"] if "published" in rec[-1] else True
    assert ManifestParquetTable(spark, table).read().count() == staged


def test_cli_binlog_lifecycle(spark, sf_small, tmp_path, capsys):
    """--format binlog end to end: synth writes .rapwal segments, replay
    applies one batch per segment, stream converges to the same state from
    a fresh table, redelivery is a metadata no-op."""
    log = str(tmp_path / "wal")
    table = str(tmp_path / "t")

    rec = _run(capsys, "synth", "--out", log, "--events", "2000",
               "--sf", sf_small, "--batches", "3", "--format", "binlog")
    n_segments = rec[-1]["segments"]
    assert n_segments >= 1

    _run(capsys, "init", "--table", table, "--buckets", "8")
    rec = _run(capsys, "replay", "--table", table, "--log", log,
               "--format", "binlog")
    applied = [r for r in rec if "batch_id" in r]
    assert len(applied) == n_segments and all(not r["skipped"] for r in applied)

    rec = _run(capsys, "replay", "--table", table, "--log", log,
               "--format", "binlog", "--batches", "0")
    assert rec[-1]["skipped"] is True

    rec = _run(capsys, "status", "--table", table)
    st = rec[-1]
    assert st["rows"] > 0

    # streamed tail of the same segments into a fresh table converges
    table2 = str(tmp_path / "t2")
    _run(capsys, "init", "--table", table2, "--buckets", "8")
    rec = _run(capsys, "stream", "--table", table2, "--log", log,
               "--checkpoint", str(tmp_path / "cp"), "--format", "binlog")
    from rap_etl_spark.engine import assert_equivalent
    from rap_etl_spark.lake import ManifestParquetTable

    assert_equivalent(
        ManifestParquetTable(spark, table).read(),
        ManifestParquetTable(spark, table2).read(),
    )

    # --packed is parquet-only, for synth AND stream
    assert main(["synth", "--out", log, "--events", "10", "--sf", sf_small,
                 "--format", "binlog", "--packed"]) == 2
    assert main(["stream", "--table", table, "--log", log,
                 "--checkpoint", str(tmp_path / "cp2"),
                 "--format", "binlog", "--packed"]) == 2
    # out-of-range segment index -> usable error, not a traceback
    assert main(["replay", "--table", table, "--log", log,
                 "--format", "binlog", "--batches", "99"]) == 2


def test_cli_envelope_stream(spark, tmp_path, capsys):
    """`stream --format envelope`: JSON-lines Debezium envelopes through
    the CLI into a docs table, malformed line quarantined to --dlq."""
    import os

    feed = tmp_path / "feed"
    feed.mkdir()
    lines = [
        '{"op":"c","before":null,"after":{"doc_id":"a","tokens":[1,2,3],'
        '"n_tok":3,"source":"s0"},"source":{"lsn":1,"table":"docs"},"ts_ms":1000}',
        '{"op":"u","before":null,"after":{"doc_id":"a","tokens":[4,5],'
        '"n_tok":2,"source":"s0"},"source":{"lsn":2,"table":"docs"},"ts_ms":2000}',
        '{"op":"c","before":null,"after":{"doc_id":"b","tokens":[9],'
        '"n_tok":1,"source":"s1"},"source":{"lsn":3,"table":"docs"},"ts_ms":3000}',
        '{"op":"d","before":{"doc_id":"b"},"after":null,'
        '"source":{"lsn":4,"table":"docs"},"ts_ms":4000}',
        '{"op":"u","truncated',
    ]
    (feed / "f0.jsonl").write_text("\n".join(lines) + "\n")
    table = str(tmp_path / "t")
    dlq = str(tmp_path / "dlq")

    _run(capsys, "init", "--table", table, "--buckets", "4")
    _run(
        capsys, "stream", "--table", table, "--log", str(feed),
        "--checkpoint", str(tmp_path / "cp"), "--format", "envelope",
        "--payload-ddl",
        "doc_id: STRING, tokens: ARRAY<INT>, n_tok: INT, source: STRING",
        "--dlq", dlq,
    )
    rec = _run(capsys, "status", "--table", table)
    assert rec[-1]["rows"] == 1  # a at lsn 2; b tombstoned
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(spark, table)
    row = t.read().collect()[0]
    assert (row["doc_id"], list(row["tokens"]), row["n_tok"]) == ("a", [4, 5], 2)
    bad = spark.read.parquet(os.path.join(dlq, "batch=0"))
    assert bad.count() == 1 and bad.collect()[0]["dlq_reason"] == "malformed_json"


def test_cli_envelope_requires_payload_ddl(tmp_path, capsys):
    assert main(
        ["stream", "--table", str(tmp_path / "t"), "--log", str(tmp_path / "l"),
         "--checkpoint", str(tmp_path / "cp"), "--format", "envelope"]
    ) == 2


def test_cli_restore_to_snapshot_and_tag(spark, sf_small, tmp_path, capsys):
    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "2000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", table, "--buckets", "4")
    _run(capsys, "replay", "--table", table, "--log", log, "--batches", "0")
    st1 = _run(capsys, "status", "--table", table)[-1]
    _run(capsys, "tag", "create", "--table", table, "--name", "good")
    _run(capsys, "replay", "--table", table, "--log", log)
    st2 = _run(capsys, "status", "--table", table)[-1]
    assert st2["committed_batches"] == ["0", "1"]

    rec = _run(capsys, "restore", "--table", table,
               "--snapshot", st1["snapshot"])[-1]
    assert rec["restored_to"] == st1["snapshot"]
    assert rec["rows"] == st1["rows"]
    st3 = _run(capsys, "status", "--table", table)[-1]
    # rollback un-commits batch 1: re-replay applies it again, same state
    assert st3["committed_batches"] == ["0"]

    # restore by tag resolves through list_tags
    _run(capsys, "replay", "--table", table, "--log", log)
    rec = _run(capsys, "restore", "--table", table, "--tag", "good")[-1]
    assert rec["restored_to"] == st1["snapshot"]
    assert rec["rows"] == st1["rows"]


def test_cli_split_then_replay_and_status(spark, sf_small, tmp_path, capsys):
    """`split` grows buckets metadata-only mid-stream; subsequent replay
    and status keep working, and status surfaces migration progress."""
    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "2000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", table, "--buckets", "4")
    _run(capsys, "replay", "--table", table, "--log", log, "--batches", "1")
    rows_before = _run(capsys, "status", "--table", table)[-1]["rows"]

    rec = _run(capsys, "split", "--table", table, "--factor", "2")
    assert rec[-1]["n_buckets"] == 8
    assert rec[-1]["migration"]["files_pre_split"] > 0

    # the split itself changes nothing observable
    st = _run(capsys, "status", "--table", table)[-1]
    assert st["rows"] == rows_before and st["n_buckets"] == 8

    # second batch merges across the mixed-modulus layout
    _run(capsys, "replay", "--table", table, "--log", log)
    st = _run(capsys, "status", "--table", table)[-1]
    assert st["committed_batches"] == ["0", "1"] and st["rows"] > 0


def test_cli_dml_delete_update_and_dv_rewrite(spark, sf_small, tmp_path, capsys):
    """The DML surface: delete (all three modes reachable; dv commits a
    deletion vector), update with repeated --set, compact --rewrite-dvs."""
    log, table = str(tmp_path / "log"), str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "2000",
         "--batches", "1", "--sf", sf_small)
    _run(capsys, "init", "--table", table, "--buckets", "8")
    _run(capsys, "replay", "--table", table, "--log", log)
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(spark, table)
    pre = t.read().count()
    kill = t.read().filter(F.col("n_tok") >= 8).count()
    rec = _run(capsys, "delete", "--table", table,
               "--where", "n_tok >= 8", "--mode", "dv", "--batch-id", "100")
    assert rec[-1]["rows_written"] > 0 and not rec[-1]["skipped"]
    t.refresh()  # the CLI committed through its own table handle
    assert t.read().count() == pre - kill
    assert any(fe.get("dv") for fe in t._manifest()["files"])
    # idempotent redelivery through the CLI
    rec = _run(capsys, "delete", "--table", table,
               "--where", "n_tok >= 8", "--mode", "dv", "--batch-id", "100")
    assert rec[-1]["skipped"]
    # update: two assignments, one SQL expression referencing a column
    rec = _run(capsys, "update", "--table", table,
               "--where", "n_tok <= 2",
               "--set", "source='tiny'", "--set", "n_tok=n_tok + 100")
    t.refresh()
    got = t.read().filter(F.col("source") == "tiny")
    assert got.count() > 0
    assert got.filter(F.col("n_tok") < 100).count() == 0
    # DV maintenance: threshold 0 materializes every masked file
    rec = _run(capsys, "compact", "--table", table, "--rewrite-dvs", "0.0")
    t.refresh()
    assert not rec[-1]["skipped"]
    assert not any(fe.get("dv") for fe in t._manifest()["files"])
    assert t.read().count() == pre - kill


def test_cli_feed_topic_replicates_downstream(spark, sf_small, tmp_path, capsys):
    """Outbound replication: feed each committed batch's changefeed into a
    partitioned WAL topic, tail the topic into a second table, and the
    replica converges to the source state. Redelivering a fed batch is a
    ledger no-op; the consumer's version-conditional merge makes even a
    raw re-append converge (at-least-once transport, exactly-once state)."""
    log = str(tmp_path / "log")
    src = str(tmp_path / "src")
    topic = str(tmp_path / "topic")
    replica = str(tmp_path / "replica")
    cp = str(tmp_path / "cp")

    _run(capsys, "synth", "--out", log, "--events", "3000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", src, "--buckets", "8")
    _run(capsys, "replay", "--table", src, "--log", log)

    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--format", "topic", "--batch", "0", "--partitions", "3")
    assert rec[-1]["published"] is True and rec[-1]["segments"]
    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--format", "topic", "--batch", "1", "--partitions", "3")
    assert rec[-1]["published"] is True
    # redelivery: feed ledger skips
    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--format", "topic", "--batch", "1", "--partitions", "3")
    assert rec[-1]["published"] is False

    _run(capsys, "init", "--table", replica, "--buckets", "4")
    _run(capsys, "stream", "--table", replica, "--log", topic,
         "--checkpoint", cp, "--format", "topic")

    from rap_etl_spark.lake import ManifestParquetTable

    s = ManifestParquetTable(spark, src).read()
    r = ManifestParquetTable(spark, replica).read()
    cols = ["doc_id", "n_tok", "source"]
    assert {tuple(x) for x in s.select(*cols).collect()} == {
        tuple(x) for x in r.select(*cols).collect()
    }
    assert s.count() == r.count()


@pytest.mark.parametrize("seeded", [2_000, 40_000])
def test_cli_topic_feed_of_a_mor_batch_reads_only_its_delta_files(
    spark, tmp_path, capsys, monkeypatch, seeded
):
    """`feed --format topic --batch` publishes a MoR batch from the delta
    files its commit wrote (``publish.batch_events``): the same 200-key
    batch reads the same files whatever the table size, and the topic
    carries one event per staged key."""
    import os

    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.schemas import DOCS_SCHEMA
    from rap_etl_spark.sources import topic as topic_mod

    src = str(tmp_path / "src")
    t = ManifestParquetTable.create(
        spark, src, DOCS_SCHEMA, n_buckets=4, merge_mode="mor"
    )

    def batch(lo, hi, step, lsn0):
        return spark.range(lo, hi, step).select(
            F.format_string("k%06d", "id").alias("doc_id"),
            F.lit("U").alias("op"),
            (F.col("id") + lsn0).alias("lsn"),
            F.array(F.col("id").cast("int")).alias("tokens"),
            F.lit(1).alias("n_tok"),
            F.lit("s").alias("source"),
        )

    t.merge(batch(0, seeded, 1, 0), batch_id=0)
    t.materialize_deltas()
    before = {fe["path"] for fe in t._manifest()["files"]}
    t.merge(batch(0, 2_000, 10, seeded), batch_id=1)
    written = [fe for fe in t._manifest()["files"] if fe["path"] not in before]
    assert written and all(fe["kind"] == "delta" for fe in written)

    fed = []
    real = topic_mod.write_topic

    def spy(ev, out, partitions):
        fed.append(ev)
        return real(ev, out, partitions)

    monkeypatch.setattr(topic_mod, "write_topic", spy)
    rec = _run(capsys, "feed", "--table", src, "--out", str(tmp_path / "topic"),
               "--format", "topic", "--batch", "1", "--partitions", "2")
    assert rec[-1]["published"] is True
    (ev,) = fed
    assert sorted(os.path.basename(p) for p in ev.inputFiles()) == sorted(
        os.path.basename(fe["path"]) for fe in written
    )
    assert ev.count() == 200


def test_cli_feed_envelope_parses_back(spark, sf_small, tmp_path, capsys):
    """Envelope feed: the batch=N JSON-lines leaf decodes with the inbound
    parser to exactly the batch's postimage change rows; republish is a
    no-op (leaf exists)."""
    log = str(tmp_path / "log")
    src = str(tmp_path / "src")
    out = str(tmp_path / "envfeed")

    _run(capsys, "synth", "--out", log, "--events", "1500",
         "--sf", sf_small, "--batches", "1")
    _run(capsys, "init", "--table", src, "--buckets", "4")
    _run(capsys, "replay", "--table", src, "--log", log)

    rec = _run(capsys, "feed", "--table", src, "--out", out,
               "--format", "envelope", "--batch", "0")
    assert rec[-1]["published"] is True and rec[-1]["rows"] > 0
    rec = _run(capsys, "feed", "--table", src, "--out", out,
               "--format", "envelope", "--batch", "0")
    assert rec[-1]["published"] is False

    from rap_etl_spark.operators.cdc import parse_debezium_envelope

    env = spark.read.text(f"{out}/batch=0").withColumnRenamed("value", "env")
    parsed = parse_debezium_envelope(
        env, "env", "doc_id: STRING, tokens: ARRAY<INT>, n_tok: INT, source: STRING"
    )
    assert parsed.filter(F.col("_corrupt").isNotNull()).count() == 0
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(spark, src)
    want = t.read().count()
    assert parsed.filter(F.col("op") == "I").count() + parsed.filter(
        F.col("op") == "U"
    ).count() == want == parsed.count()


def test_cli_bootstrap_chunked_converges(spark, sf_small, tmp_path, capsys):
    """cli bootstrap (DBLog static-snapshot mode): a point-in-time snapshot
    taken at the batch-0 boundary, merged in 3 hash chunks interleaved
    with the FULL log (overlap below the snapshot point included), must
    end byte-equal to a plain full replay — and rerunning the bootstrap
    is a ledger no-op."""
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.operators.cdc import lww_latest

    log = str(tmp_path / "log")
    snap_dir = str(tmp_path / "snap")
    t_boot = str(tmp_path / "tboot")
    t_ref = str(tmp_path / "tref")

    _run(capsys, "synth", "--out", log, "--events", "2400",
         "--sf", sf_small, "--batches", "2")

    b0 = spark.read.parquet(f"{log}/batch=0")
    snap_lsn = b0.agg(F.max("lsn")).first()[0]
    lww_latest(b0).filter(F.col("op") != "D").select(
        "doc_id", "tokens", "n_tok", "source"
    ).write.parquet(snap_dir)

    _run(capsys, "init", "--table", t_boot, "--buckets", "8")
    rec = _run(capsys, "bootstrap", "--table", t_boot, "--source", snap_dir,
               "--log", log, "--chunks", "3", "--snapshot-lsn", str(snap_lsn))
    assert rec[-1]["steps"] == 5  # 2 log batches + 3 chunks interleaved
    snap_after = rec[-1]["snapshot"]

    # crash-resume: the whole rerun replays as ledger no-ops
    rec = _run(capsys, "bootstrap", "--table", t_boot, "--source", snap_dir,
               "--log", log, "--chunks", "3", "--snapshot-lsn", str(snap_lsn))
    assert rec[-1]["snapshot"] == snap_after

    _run(capsys, "init", "--table", t_ref, "--buckets", "8")
    _run(capsys, "replay", "--table", t_ref, "--log", log)

    cols = ["doc_id", "n_tok", "source"]
    got = {tuple(r) for r in ManifestParquetTable(spark, t_boot).read().select(*cols).collect()}
    want = {tuple(r) for r in ManifestParquetTable(spark, t_ref).read().select(*cols).collect()}
    assert got == want and len(got) > 0


def test_cli_feed_catchup_syncs_ledger(spark, sf_small, tmp_path, capsys):
    """feed with no selector = catch-up: publishes every committed batch
    the feed ledger hasn't seen, in order; a second invocation is all
    no-ops; a new commit then feeds exactly the one new batch."""
    log = str(tmp_path / "log")
    src = str(tmp_path / "src")
    topic = str(tmp_path / "topic")

    _run(capsys, "synth", "--out", log, "--events", "2400",
         "--sf", sf_small, "--batches", "3")
    _run(capsys, "init", "--table", src, "--buckets", "4")
    _run(capsys, "replay", "--table", src, "--log", log, "--batches", "0,1")

    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2")
    assert [r["tag"] for r in rec] == ["0", "1"]
    assert all(r["published"] for r in rec)

    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2")
    assert all(not r["published"] for r in rec)

    _run(capsys, "replay", "--table", src, "--log", log, "--batches", "2")
    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2")
    published = [r for r in rec if r["published"]]
    assert [r["tag"] for r in published] == ["2"]


def test_cli_replication_topology_three_hops(spark, sf_small, tmp_path, capsys):
    """The whole deployment story composed: WAL replay into a source
    table; topic feed into a replica; the REPLICA's own changefeed as
    Debezium envelopes, parsed and merged into a third table. All three
    states must be identical — every hop preserves exactly-once state."""
    from pyspark.sql import types as T

    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.operators.cdc import lww_latest, parse_debezium_envelope

    log, src = str(tmp_path / "log"), str(tmp_path / "src")
    topic, rep = str(tmp_path / "topic"), str(tmp_path / "rep")
    env_out, third = str(tmp_path / "env"), str(tmp_path / "third")

    _run(capsys, "synth", "--out", log, "--events", "2000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", src, "--buckets", "8")
    _run(capsys, "replay", "--table", src, "--log", log)
    _run(capsys, "feed", "--table", src, "--out", topic, "--partitions", "2")
    _run(capsys, "init", "--table", rep, "--buckets", "4")
    _run(capsys, "stream", "--table", rep, "--log", topic,
         "--checkpoint", str(tmp_path / "cp"), "--format", "topic")

    # hop 3: replica's full changefeed as envelopes -> parse -> merge
    rec = _run(capsys, "feed", "--table", rep, "--out", env_out,
               "--format", "envelope")
    leaf = rec[-1]["out"]
    envs = spark.read.text(leaf).withColumnRenamed("value", "env")
    parsed = parse_debezium_envelope(
        envs, "env",
        "doc_id: STRING, tokens: ARRAY<INT>, n_tok: INT, source: STRING",
    ).drop("_corrupt", "ts_ms")
    t_rep = ManifestParquetTable(spark, rep)
    t3 = ManifestParquetTable.create(
        spark, third, t_rep.schema(), n_buckets=2
    )
    t3.merge(lww_latest(parsed), batch_id=0)

    cols = ["doc_id", "n_tok", "source"]
    states = [
        {tuple(r) for r in ManifestParquetTable(spark, p).read().select(*cols).collect()}
        for p in (src, rep, third)
    ]
    assert states[0] == states[1] == states[2] and len(states[0]) > 0


def test_cli_feed_catchup_marks_expired_batches_permanently(
    spark, sf_small, tmp_path, capsys
):
    """A batch whose commit snapshot was expired before it was ever fed is
    unrecoverable from this table: catch-up surfaces it ONCE with a
    permanent skip marker in the feed ledger, then never retries it —
    and still publishes every batch retention kept. A CoW batch feeds
    from the change files its commit snapshot lists, so keeping only the
    newest snapshot expires batches 0 and 1 and keeps batch 2."""
    from rap_etl_spark.lake import ManifestParquetTable

    log, src, topic = (
        str(tmp_path / "log"), str(tmp_path / "src"), str(tmp_path / "topic")
    )
    _run(capsys, "synth", "--out", log, "--events", "2400",
         "--sf", sf_small, "--batches", "3")
    _run(capsys, "init", "--table", src, "--buckets", "4")
    _run(capsys, "replay", "--table", src, "--log", log)

    ManifestParquetTable(spark, src).expire_snapshots(
        keep=1, orphan_grace_sec=0.0
    )
    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2")
    by_tag = {r["tag"]: r for r in rec}
    assert by_tag["0"]["skipped_permanently"] and by_tag["1"]["skipped_permanently"]
    assert by_tag["2"]["published"]

    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2")
    assert all(not r["published"] for r in rec)
    assert not any(r.get("skipped_permanently") for r in rec)


def test_cli_replay_feed_topic_inline(spark, sf_small, tmp_path, capsys):
    """replay --feed-topic: each applied batch's changefeed lands in the
    topic inline with the tail; a streamed replica converges; redelivered
    batches neither re-apply nor re-feed."""
    from rap_etl_spark.lake import ManifestParquetTable

    log, src = str(tmp_path / "log"), str(tmp_path / "src")
    topic, rep = str(tmp_path / "topic"), str(tmp_path / "rep")

    _run(capsys, "synth", "--out", log, "--events", "2000",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", src, "--buckets", "4")
    rec = _run(capsys, "replay", "--table", src, "--log", log,
               "--feed-topic", topic, "--feed-partitions", "2")
    applied = [r for r in rec if "batch_id" in r]
    assert all(r["feed"]["published"] for r in applied)

    rec = _run(capsys, "replay", "--table", src, "--log", log,
               "--feed-topic", topic, "--feed-partitions", "2",
               "--batches", "1")
    assert rec[-1]["skipped"] is True
    assert rec[-1]["feed"]["published"] is False

    _run(capsys, "init", "--table", rep, "--buckets", "4")
    _run(capsys, "stream", "--table", rep, "--log", topic,
         "--checkpoint", str(tmp_path / "cp"), "--format", "topic")
    cols = ["doc_id", "n_tok", "source"]
    s = {tuple(r) for r in ManifestParquetTable(spark, src).read().select(*cols).collect()}
    r = {tuple(r) for r in ManifestParquetTable(spark, rep).read().select(*cols).collect()}
    assert s == r and len(s) > 0


def test_cli_feed_uncommitted_batch_is_recoverable(spark, sf_small, tmp_path, capsys):
    """Feeding a batch that is not committed yet (typo or race with the
    replay) must NOT poison the feed ledger: the error surfaces, nothing
    is recorded, and once the batch commits the same feed succeeds."""
    log, src, topic = (
        str(tmp_path / "log"), str(tmp_path / "src"), str(tmp_path / "topic")
    )
    _run(capsys, "synth", "--out", log, "--events", "1600",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", src, "--buckets", "4")
    _run(capsys, "replay", "--table", src, "--log", log, "--batches", "0")

    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2", "--batch", "1")
    assert not rec[-1]["published"]
    assert rec[-1]["error"] and not rec[-1]["skipped_permanently"]

    _run(capsys, "replay", "--table", src, "--log", log, "--batches", "1")
    rec = _run(capsys, "feed", "--table", src, "--out", topic,
               "--partitions", "2", "--batch", "1")
    assert rec[-1]["published"] is True


def test_cli_blooms(spark, sf_small, tmp_path, capsys):
    """`blooms` maintenance subcommand: incremental build, then skipped
    rerun; lookups through the bloomed table still answer."""
    log = str(tmp_path / "log")
    table = str(tmp_path / "t")
    _run(capsys, "synth", "--out", log, "--events", "1500",
         "--sf", sf_small, "--batches", "2")
    _run(capsys, "init", "--table", table, "--buckets", "8")
    _run(capsys, "replay", "--table", table, "--log", log)
    rec = _run(capsys, "blooms", "--table", table)
    assert rec[-1]["files_bloomed"] > 0 and not rec[-1]["skipped"]
    rec = _run(capsys, "blooms", "--table", table)
    assert rec[-1]["skipped"] is True
    from rap_etl_spark.lake import ManifestParquetTable

    t = ManifestParquetTable(spark, table)
    keys = [r["doc_id"] for r in t.read().limit(3).collect()]
    assert t.lookup(keys).count() == len(keys)
