"""Downstream delta publishing (publish.py): exactly-once per-batch
publish + downstream replay convergence — the engine's generalization of
the reference's add/remove diff-publishing (sync-to-downstream) model."""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable
from rap_etl_spark.publish import apply_published, batch_events, publish_changes

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
        T.StructField("src", T.StringType()),
    ]
)


def mk(spark, path, mode="cow"):
    return ManifestParquetTable.create(
        spark, path, SCHEMA, n_buckets=4, merge_mode=mode
    )


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


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_publish_and_converge(spark, tmp_path, mode):
    t = mk(spark, str(tmp_path / "src"), mode)
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


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_publish_repairs_after_partial(spark, tmp_path, mode):
    """Crash between commit and publish: re-running publish for the
    committed batch emits identical rows (derived from immutable
    snapshots), completing the downstream feed."""
    t = mk(spark, str(tmp_path / "src"), mode)
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


def test_publish_rows_of_a_mor_reupsert_is_its_delta_row(spark, tmp_path):
    """The MoR twin of the CoW ``(2, 0)`` case above: an identical
    re-upsert still commits one delta row, and a MoR batch publishes the
    delta files its commit wrote, so the leaf carries that row (the
    downstream merge's version rule makes it a no-op there). ``rows``
    equals the ledger's ``event_count`` and the leaf's read-back count."""
    t = mk(spark, str(tmp_path / "src"), "mor")
    _drive(spark, t)
    t.merge(ch(spark, [("a", "U", 3, 11, "w")]), batch_id=2)
    log = str(tmp_path / "feed")
    rec = publish_changes(t, 2, log)
    assert rec["published"] and rec["rows"] == 1
    assert t.committed_batches()["2"]["event_count"] == 1
    assert _leaf_rows(spark, f"{log}/batch=2") == 1


def _basenames(paths):
    return sorted(os.path.basename(p) for p in paths)


@pytest.mark.parametrize("seeded", [2_000, 40_000])
def test_mor_batch_events_read_only_the_commits_delta_files(spark, tmp_path, seeded):
    """A MoR batch's events come from exactly the delta files its commit
    wrote: the same 200-key batch reads the same files, whatever the table
    size, and not the base files of the buckets it touched."""
    t = mk(spark, str(tmp_path / "src"), "mor")
    t.merge(
        spark.range(seeded).select(
            F.format_string("k%06d", "id").alias("doc_id"),
            F.lit("U").alias("op"),
            F.col("id").alias("lsn"),
            F.col("id").alias("val"),
            F.lit("s").alias("src"),
        ),
        batch_id=0,
    )
    t.materialize_deltas()
    before = {fe["path"] for fe in t._manifest()["files"]}
    t.merge(
        spark.range(0, 2_000, 10).select(
            F.format_string("k%06d", "id").alias("doc_id"),
            F.lit("U").alias("op"),
            (F.col("id") + seeded).alias("lsn"),
            (F.col("id") + 1).alias("val"),
            F.lit("t").alias("src"),
        ),
        batch_id=1,
    )
    written = [fe for fe in t._manifest()["files"] if fe["path"] not in before]
    assert written and all(fe["kind"] == "delta" for fe in written)
    ev = batch_events(t, 1)
    assert _basenames(ev.inputFiles()) == _basenames(fe["path"] for fe in written)
    assert ev.columns == ["doc_id", "val", "src", "op", "lsn"]
    assert ev.count() == 200 == t.committed_batches()["1"]["event_count"]


def _state(t):
    return sorted((r["doc_id"], r["val"], r["src"]) for r in t.read().collect())


def _leaf(spark, path):
    return sorted(
        tuple(r) for r in spark.read.parquet(path).select(
            "doc_id", "val", "src", "op", "lsn"
        ).collect()
    )


def test_mor_feed_converges_through_late_events_and_maintenance(spark, tmp_path):
    """A MoR source's feed carries every row its delta commits wrote: a
    late event below the stored version, a delete of an absent key and an
    identical re-upsert included. CoW and MoR downstreams apply them with
    the same version-conditional rule the source resolves them by, so both
    converge to the source through DV deletes, ``materialize_deltas`` and
    ``expire_snapshots``. A re-publish after the batch's delta files were
    DV-masked and materialized emits the same rows."""
    src = mk(spark, str(tmp_path / "src"), "mor")
    feed = str(tmp_path / "feed")
    delta_batches = []

    def pub(b, delta=False):
        rec = publish_changes(src, b, feed)
        assert rec["published"], rec
        if delta:
            delta_batches.append(b)
            assert rec["rows"] == src.committed_batches()[str(b)]["event_count"]
            assert rec["rows"] == _leaf_rows(spark, f"{feed}/batch={b}")
        return rec

    src.merge(
        ch(spark, [(k, "U", 10 + i, i + 1, "w") for i, k in enumerate("abcde")]),
        batch_id=0,
    )
    pub(0, delta=True)
    src.merge(
        ch(spark, [
            ("a", "U", 5, 99, "late"),  # below the stored lsn 10: loses
            ("zz", "D", 20, None, None),  # delete of an absent key
            ("b", "U", 11, 2, "w"),  # identical re-upsert
            ("c", "U", 21, 31, "w"),
        ]),
        batch_id=1,
    )
    assert pub(1, delta=True)["rows"] == 4
    src.delete_where("val = 4", mode="dv", batch_id=2)  # kills d
    pub(2)
    src.materialize_deltas()
    src.expire_snapshots(keep=2, orphan_grace_sec=0)
    src.merge(
        ch(spark, [("e", "D", 30, None, None), ("f", "U", 31, 60, "x"),
                   ("a", "U", 32, 100, "x")]),
        batch_id=3,
    )
    pub(3, delta=True)
    src.update_where("val >= 60", {"src": "'y'"}, mode="mor", batch_id=4)
    pub(4, delta=True)
    src.delete_where("val = 100", mode="dv", batch_id=5)  # kills a
    pub(5)
    src.materialize_deltas()
    assert delta_batches == [0, 1, 3, 4]

    first = _leaf(spark, f"{feed}/batch=3")
    shutil.rmtree(f"{feed}/batch=3")
    assert publish_changes(src, 3, feed)["rows"] == 3
    assert _leaf(spark, f"{feed}/batch=3") == first

    want = _state(src)
    assert want == [("b", 2, "w"), ("c", 31, "w"), ("f", 60, "y")]
    for mode in ("cow", "mor"):
        down = mk(spark, str(tmp_path / f"down-{mode}"), mode)
        apply_published(down, feed)
        assert _state(down) == want, mode


def test_publish_unknown_batch_reported_not_raised(spark, tmp_path):
    t = mk(spark, str(tmp_path / "src"))
    rec = publish_changes(t, 9, str(tmp_path / "feed"))
    assert rec["published"] is False and "not in ledger" in rec["error"]
    with pytest.raises(ValueError, match="fmt must be"):
        publish_changes(t, 0, str(tmp_path / "feed"), fmt="bogus")


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_publish_binlog_roundtrip(spark, tmp_path, mode):
    """Tokenized-sequence shape over the .rapwal wire: publish binlog
    segments, downstream consumes them to the same state."""
    from rap_etl_spark.schemas import DOCS_SCHEMA

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "src"), DOCS_SCHEMA, n_buckets=4, merge_mode=mode
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


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_publish_converges_through_dv_delete(spark, tmp_path, mode):
    """A deletion-vector delete must flow through the downstream feed: the
    changefeed emits 'delete' events for the masked rows (carrying the
    rows' original LSNs) and the downstream merge's same-LSN
    delete-wins tiebreak erases them — upstream and downstream states
    stay byte-equal."""
    t = mk(spark, str(tmp_path / "up"), mode)
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


def _event_rows(df):
    from collections import Counter

    return Counter(tuple(r) for r in df.select("doc_id", "val", "src", "op", "lsn").collect())


def _keys_in_buckets(spark, t, buckets, n=40):
    """Keys ``k0``..``k<n>`` whose bucket at the table's modulus is in
    ``buckets``."""
    df = spark.range(n).select(F.format_string("k%d", "id").alias("doc_id"))
    return sorted(
        r["doc_id"]
        for r in df.select("doc_id", t._bucket_expr("doc_id").alias("b")).collect()
        if r["b"] in buckets
    )


def test_cow_batch_events_equal_the_snapshot_diff(spark, tmp_path):
    """A copy-on-write batch publishes exactly the rows the snapshot diff
    of its commit reports (``changes_to_events(changes_for_batch)``),
    payload of deletes included: inserts, updates, a late lower-``lsn``
    event, an identical re-upsert, deletes of a present and an absent key,
    patch updates, a hinted bootstrap into empty buckets, a CoW merge over
    MoR deltas, a merge after ``split_buckets`` that migrates old-modulus
    files, and a merge over a deletion-vector-masked file. CoW DML
    publishes its own change files the same way: a delete of an appended
    (unversioned) row, an update to the stored value (no rows), and DML
    after the split, over MoR deltas and over a masked file. A re-publish
    after the leaf was deleted writes identical rows."""
    from rap_etl_spark.publish import changes_to_events

    t = mk(spark, str(tmp_path / "src"))
    low = _keys_in_buckets(spark, t, {0, 1})
    high = _keys_in_buckets(spark, t, {2, 3})
    a, b, c, d, e = low[:5]
    cow = []

    def merge(rows, batch_id, **kw):
        t.merge(ch(spark, rows), batch_id=batch_id, **kw)
        cow.append(batch_id)

    # bootstrap into an empty table, with a delete of an absent key
    merge([(k, "U", i + 1, (i + 1) * 10, "w") for i, k in enumerate(low[:5])]
          + [("zz", "D", 9, None, None)], 0)
    merge([
        (a, "U", 20, 100, "u"),  # update
        (b, "U", 0, 999, "late"),  # below the stored lsn 2: loses
        (c, "U", 3, 30, "w"),  # identical re-upsert
        (d, "D", 21, None, None),  # delete of a present key
        ("yy", "D", 22, None, None),  # delete of an absent key
        (low[5], "U", 23, 90, "w"),  # insert
    ], 1)
    merge([(a, "U", 30, None, "p"), (e, "U", 31, 555, None)], 2,
          update_semantics="patch")
    merge([(k, "U", 40 + i, i, "h") for i, k in enumerate(high[:4])]
          + [(high[4], "D", 50, None, None)], 3,
          affected_buckets={2, 3}, n_rows=5)
    t.set_merge_mode("mor")
    t.merge(ch(spark, [(a, "U", 60, 7, "m"), (low[6], "U", 61, 8, "m"),
                       (b, "D", 62, None, None)]), batch_id=4)
    t.set_merge_mode("cow")
    merge([
        (a, "U", 60, 7, "m"),  # identical to the MoR delta row
        (low[6], "D", 70, None, None),  # delete of a MoR-inserted key
        (b, "U", 71, 2, "back"),  # re-insert over a MoR tombstone
        (c, "U", 72, 31, "w"),
    ], 5)
    t.split_buckets(2)
    merge([(c, "U", 80, 32, "s"), (e, "D", 81, None, None),
           (low[7], "U", 82, 1, "s")], 6)
    t.delete_where(F.col("doc_id") == high[0], mode="dv", batch_id=7)
    merge([(high[0], "U", 90, 5, "dv"), (high[1], "U", 91, 6, "dv")], 8)

    # copy-on-write DML, after the split
    def dml(op, batch_id, *args):
        getattr(t, op)(*args, mode="cow", batch_id=batch_id)
        cow.append(batch_id)

    t.append(
        spark.createDataFrame([(low[8], 3, "app")], "doc_id string, val long, src string"),
        batch_id=9,
    )
    dml("delete_where", 10, F.col("doc_id") == low[8])  # a NULL-_lsn row
    dml("update_where", 11, F.col("doc_id") == c, {"val": "val"})  # stored value
    dml("update_where", 12, "src IN ('s', 'w')", {"val": "val + 100"})
    # over buckets with MoR deltas
    t.merge(ch(spark, [(low[9], "U", 100, 9, "m2"), (a, "U", 101, 8, "m2")]),
            batch_id=13, mode="mor")
    dml("update_where", 14, "src = 'm2'", {"src": "'m3'"})
    t.merge(ch(spark, [(low[9], "U", 110, 10, "m4")]), batch_id=15, mode="mor")
    dml("delete_where", 16, "src = 'm4'")
    # over a deletion-vector-masked file: three fresh keys in one bucket
    fresh = [k for k in _keys_in_buckets(spark, t, {5}, n=200) if int(k[1:]) >= 40][:3]
    merge([(k, "U", 120 + i, i, "f") for i, k in enumerate(fresh)], 17)
    t.delete_where(F.col("doc_id") == fresh[0], mode="dv", batch_id=18)
    assert any(fe.get("dv") and fe["bucket"] == 5 for fe in t._manifest()["files"])
    dml("update_where", 19, "src = 'f'", {"val": "val * 10 + 1"})

    sizes = {}
    for bid in cow:
        want = _event_rows(changes_to_events(t.changes_for_batch(bid)))
        assert _event_rows(batch_events(t, bid)) == want, bid
        assert t.batch_delta_rows(bid) is not None, bid
        sizes[bid] = sum(want.values())
    assert sizes == {
        0: 5, 1: 3, 2: 2, 3: 4, 5: 3, 6: 3, 8: 2,
        10: 1, 11: 0, 12: 3, 14: 2, 16: 1, 17: 3, 19: 2,
    }
    assert _event_rows(batch_events(t, 10)) == {(low[8], 3, "app", "D", 0): 1}
    deletes = [r for r in _event_rows(batch_events(t, 1)) if r[3] == "D"]
    assert deletes == [(d, 40, "w", "D", 21)]

    feed = str(tmp_path / "feed")
    assert publish_changes(t, 1, feed)["rows"] == 3
    first = _leaf(spark, f"{feed}/batch=1")
    shutil.rmtree(f"{feed}/batch=1")
    t.compact()
    assert publish_changes(t, 1, feed)["rows"] == 3
    assert _leaf(spark, f"{feed}/batch=1") == first


@pytest.mark.parametrize("seeded", [2_000, 40_000])
def test_cow_batch_events_read_only_the_commits_change_files(spark, tmp_path, seeded):
    """A CoW batch's events come from exactly the change files its merge
    wrote beside the rewritten buckets: the same 200-key batch reads the
    same files, whatever the table size, and neither side of the buckets
    it rewrote."""
    t = mk(spark, str(tmp_path / "src"))
    t.merge(
        spark.range(seeded).select(
            F.format_string("k%06d", "id").alias("doc_id"),
            F.lit("U").alias("op"),
            F.col("id").alias("lsn"),
            F.col("id").alias("val"),
            F.lit("s").alias("src"),
        ),
        batch_id=0,
    )
    t.merge(
        spark.range(0, 2_000, 10).select(
            F.format_string("k%06d", "id").alias("doc_id"),
            F.lit("U").alias("op"),
            (F.col("id") + seeded).alias("lsn"),
            (F.col("id") + 1).alias("val"),
            F.lit("t").alias("src"),
        ),
        batch_id=1,
    )
    changes = t._manifest()["changes"]
    assert changes and sum(fe["rows"] for fe in changes) == 200
    data = {fe["path"] for fe in t._manifest()["files"]}
    assert not data & {fe["path"] for fe in changes}
    ev = batch_events(t, 1)
    assert _basenames(ev.inputFiles()) == _basenames(fe["path"] for fe in changes)
    assert ev.columns == ["doc_id", "val", "src", "op", "lsn"]
    assert ev.count() == 200

    # a CoW delete_where publishes the change files its commit wrote too
    t.delete_where("doc_id < 'k002000' AND val % 10 = 3", batch_id=2)
    changes = t._manifest()["changes"]
    assert changes and sum(fe["rows"] for fe in changes) == 200
    ev = batch_events(t, 2)
    assert _basenames(ev.inputFiles()) == _basenames(fe["path"] for fe in changes)
    dead = ev.collect()
    assert len(dead) == 200
    assert all(r["op"] == "D" and r["val"] % 10 == 3 and r["src"] == "s" for r in dead)


def test_cow_key_only_table_publishes_its_change_files(spark, tmp_path):
    """A table with no payload column merges and publishes: its rows
    compare by ``_lsn`` alone, so an insert and a delete publish and an
    identical re-upsert does not."""
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), T.StructType([T.StructField("doc_id", T.StringType())]),
        n_buckets=2,
    )
    rows = "doc_id string, op string, lsn long"
    t.merge(spark.createDataFrame([("a", "U", 1), ("b", "U", 2)], rows), batch_id=0)
    t.merge(
        spark.createDataFrame([("a", "D", 3), ("b", "U", 2), ("c", "U", 4)], rows),
        batch_id=1,
    )
    assert sorted(tuple(r) for r in batch_events(t, 1).collect()) == [
        ("a", "D", 3), ("c", "U", 4),
    ]
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["b", "c"]


def test_key_only_table_publishes_its_snapshot_diff(spark, tmp_path):
    """Commits with no recorded change rows (a DV delete, an append)
    publish their snapshot diff, which on a table with no payload column
    compares rows by ``_lsn`` alone; a CoW delete publishes its change
    files, the same rows. A replica fed the leaves converges."""
    key_only = T.StructType([T.StructField("doc_id", T.StringType())])
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), key_only, n_buckets=2)
    rows = "doc_id string, op string, lsn long"
    t.merge(
        spark.createDataFrame([("a", "U", 1), ("b", "U", 2), ("c", "U", 3)], rows),
        batch_id=0,
    )
    t.delete_where("doc_id = 'a'", mode="cow", batch_id=1)
    t.delete_where("doc_id = 'b'", mode="dv", batch_id=2)
    t.append(spark.createDataFrame([("d",)], "doc_id string"), batch_id=3)
    want = {
        1: [("a", "delete", 1)],
        2: [("b", "delete", 2)],
        3: [("d", "insert", None)],
    }
    feed = str(tmp_path / "feed")
    assert publish_changes(t, 0, feed)["rows"] == 3
    for b, rows_b in want.items():
        got = t.changes_for_batch(b).collect()
        assert sorted(tuple(r) for r in got) == rows_b
        assert publish_changes(t, b, feed)["rows"] == 1
    down = ManifestParquetTable.create(
        spark, str(tmp_path / "down"), key_only, n_buckets=2
    )
    apply_published(down, feed)
    assert sorted(r["doc_id"] for r in down.read().collect()) == ["c", "d"]
