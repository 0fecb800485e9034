"""Downstream delta publishing (publish.py): exactly-once per-batch
publish + downstream replay convergence — the engine's generalization of
the reference's add/remove diff-publishing (sync-to-downstream) model."""

import os

import pytest
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable
from rap_etl_spark.publish import apply_published, publish_changes

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
        T.StructField("src", T.StringType()),
    ]
)


def mk(spark, path):
    return ManifestParquetTable.create(spark, path, SCHEMA, n_buckets=4)


def ch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, op string, lsn long, val long, src string"
    )


def _drive(spark, t):
    t.merge(ch(spark, [("a", "U", 1, 10, "w"), ("b", "U", 2, 20, "w")]), batch_id=0)
    t.merge(
        ch(spark, [("a", "U", 3, 11, "w"), ("c", "U", 4, 30, "x"),
                   ("b", "D", 5, None, None)]),
        batch_id=1,
    )


def test_publish_and_converge(spark, tmp_path):
    t = mk(spark, str(tmp_path / "src"))
    _drive(spark, t)
    log = str(tmp_path / "feed")
    for b in (0, 1):
        rec = publish_changes(t, b, log)
        assert rec["published"] and rec["rows"] > 0
    assert sorted(os.listdir(log)) == ["batch=0", "batch=1"]

    # idempotent republish
    assert publish_changes(t, 0, log)["published"] is False

    d = mk(spark, str(tmp_path / "dst"))
    res = apply_published(d, log)
    assert [r["skipped"] for r in res] == [False, False]
    src_state = {(r["doc_id"], r["val"]) for r in t.read().collect()}
    dst_state = {(r["doc_id"], r["val"]) for r in d.read().collect()}
    assert src_state == dst_state == {("a", 11), ("c", 30)}

    # re-consuming the feed is a ledger no-op
    res = apply_published(d, log)
    assert all(r["skipped"] for r in res)


def test_publish_repairs_after_partial(spark, tmp_path):
    """Crash between commit and publish: re-running publish for the
    committed batch emits identical rows (derived from immutable
    snapshots), completing the downstream feed."""
    t = mk(spark, str(tmp_path / "src"))
    _drive(spark, t)
    log = str(tmp_path / "feed")
    publish_changes(t, 0, log)  # batch 1's publish "crashed"
    publish_changes(t, 1, log)  # repair run
    d = mk(spark, str(tmp_path / "dst"))
    apply_published(d, log)
    assert {(r["doc_id"], r["val"]) for r in d.read().collect()} == {
        ("a", 11),
        ("c", 30),
    }


def _leaf_rows(spark, path, fmt="parquet"):
    """Rows a reader of a published leaf counts."""
    return spark.read.format(
        "rap-etl-binlog" if fmt == "binlog" else "parquet"
    ).load(path).count()


@pytest.mark.parametrize("observed", [True, False])
def test_publish_rows_match_the_written_leaf(spark, tmp_path, monkeypatch, observed):
    """``rows`` comes from an observation on the write, or from a read-back
    of the leaf when the observation did not fire. Either way it equals
    what a reader of the published leaf counts, for a normal batch and for
    one whose changes are empty (a re-upsert of identical rows)."""
    from rap_etl_spark import publish

    if not observed:
        monkeypatch.setattr(publish, "observed_rows", lambda obs: None)
    t = mk(spark, str(tmp_path / "src"))
    _drive(spark, t)
    t.merge(ch(spark, [("a", "U", 3, 11, "w")]), batch_id=2)
    assert t.changes_for_batch(2).count() == 0
    log = str(tmp_path / "feed")
    for b, n in ((1, 3), (2, 0)):  # batch 1: a upserted, c inserted, b deleted
        rec = publish_changes(t, b, log)
        assert rec["published"] and rec["rows"] == n
        assert _leaf_rows(spark, f"{log}/batch={b}") == n


def test_publish_unknown_batch_reported_not_raised(spark, tmp_path):
    t = mk(spark, str(tmp_path / "src"))
    rec = publish_changes(t, 9, str(tmp_path / "feed"))
    assert rec["published"] is False and "not in ledger" in rec["error"]
    with pytest.raises(ValueError, match="fmt must be"):
        publish_changes(t, 0, str(tmp_path / "feed"), fmt="bogus")


def test_publish_binlog_roundtrip(spark, tmp_path):
    """Tokenized-sequence shape over the .rapwal wire: publish binlog
    segments, downstream consumes them to the same state."""
    from rap_etl_spark.schemas import DOCS_SCHEMA

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "src"), DOCS_SCHEMA, n_buckets=4
    )
    ev = spark.createDataFrame(
        [("d1", "U", 1, [1, 2, 3], 3, "s0"), ("d2", "U", 2, [4], 1, "s1")],
        "doc_id string, op string, lsn long, tokens array<int>, n_tok int, source string",
    )
    t.merge(ev, batch_id=0)
    log = str(tmp_path / "feed")
    rec = publish_changes(t, 0, log, fmt="binlog")
    assert rec["published"] and rec["rows"] == 2
    assert _leaf_rows(spark, f"{log}/batch=0", fmt="binlog") == 2
    d = ManifestParquetTable.create(
        spark, str(tmp_path / "dst"), DOCS_SCHEMA, n_buckets=4
    )
    apply_published(d, log, fmt="binlog")
    assert {(r["doc_id"], tuple(r["tokens"])) for r in d.read().collect()} == {
        ("d1", (1, 2, 3)),
        ("d2", (4,)),
    }


def test_publish_after_retention_degrades(spark, tmp_path):
    """Snapshots expired before publish: the publish reports the gap
    instead of raising (a replay driving it must not die)."""
    t = mk(spark, str(tmp_path / "src"))
    _drive(spark, t)
    t.compact()
    t.expire_snapshots(keep=1, orphan_grace_sec=0)
    rec = publish_changes(t, 0, str(tmp_path / "feed"))
    assert rec["published"] is False and "error" in rec


def test_stream_publish_converges(spark, sf_small, tmp_path):
    """Streaming twin: stream_tail(publish_dir=...) publishes every
    micro-batch's delta; a downstream table consuming the feed converges
    to the streamed table's state."""
    from rap_etl_spark.cli import main as cli_main
    from rap_etl_spark.engine import assert_equivalent
    from rap_etl_spark.schemas import DOCS_SCHEMA
    from rap_etl_spark.streaming.tail import stream_tail

    log = str(tmp_path / "log")
    assert cli_main(["synth", "--out", log, "--events", "800",
                     "--sf", sf_small, "--batches", "2"]) == 0
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), DOCS_SCHEMA, n_buckets=4
    )
    feed = str(tmp_path / "feed")
    q = stream_tail(
        spark, log, str(tmp_path / "cp"), t,
        max_files_per_trigger=1, publish_dir=feed,
    )
    q.awaitTermination()
    assert len(os.listdir(feed)) >= 1
    d = ManifestParquetTable.create(
        spark, str(tmp_path / "dst"), DOCS_SCHEMA, n_buckets=4
    )
    apply_published(d, feed)
    assert_equivalent(t.read(), d.read())


def test_published_feed_is_streamable(spark, sf_small, tmp_path):
    """Cascade replication: source replay publishes the feed; a DOWNSTREAM
    stream_tail tails the feed directory itself (it is just an event log)
    into a second table and converges — source → feed → replica with
    exactly-once on both hops."""
    from rap_etl_spark.cli import main as cli_main
    from rap_etl_spark.engine import CdcEngine, assert_equivalent
    from rap_etl_spark.schemas import DOCS_SCHEMA
    from rap_etl_spark.streaming.tail import stream_tail

    log = str(tmp_path / "log")
    assert cli_main(["synth", "--out", log, "--events", "800",
                     "--sf", sf_small, "--batches", "2"]) == 0
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), DOCS_SCHEMA, n_buckets=4
    )
    eng = CdcEngine(spark, t)
    feed = str(tmp_path / "feed")
    for b in (0, 1):
        eng.apply_batch(spark.read.parquet(f"{log}/batch={b}"), batch_id=b)
        publish_changes(t, b, feed)

    d = ManifestParquetTable.create(
        spark, str(tmp_path / "replica"), DOCS_SCHEMA, n_buckets=4
    )
    q = stream_tail(
        spark, feed, str(tmp_path / "cp"), d,
        schema=t.read().schema.add("op", "string").add("lsn", "long"),
    )
    q.awaitTermination()
    assert_equivalent(t.read(), d.read())


def test_publish_converges_through_dv_delete(spark, tmp_path):
    """A deletion-vector delete must flow through the downstream feed: the
    changefeed emits 'delete' events for the masked rows (carrying the
    rows' original LSNs) and the downstream merge's same-LSN
    delete-wins tiebreak erases them — upstream and downstream states
    stay byte-equal."""
    t = mk(spark, str(tmp_path / "up"))
    _drive(spark, t)
    t.delete_where("val >= 30", mode="dv", batch_id=2)  # kills c
    for b in (0, 1, 2):
        assert publish_changes(t, b, str(tmp_path / "feed"))["published"]
    down = mk(spark, str(tmp_path / "down"))
    apply_published(down, str(tmp_path / "feed"))
    up_state = sorted(
        (r["doc_id"], r["val"], r["src"]) for r in t.read().collect()
    )
    down_state = sorted(
        (r["doc_id"], r["val"], r["src"]) for r in down.read().collect()
    )
    assert up_state == down_state == [("a", 11, "w")]


def test_observed_rows_is_none_for_a_pruned_observation(spark):
    """limit(0) lets the optimizer prune the observed plan to an empty
    relation: the observation fires with a zero-length row, which must read
    as "no count" (the caller then reads the leaf back), not raise."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from rap_etl_spark.publish import observed_rows

    obs = Observation("pruned-publish")
    (
        spark.range(100)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .limit(0)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    assert observed_rows(obs) is None
