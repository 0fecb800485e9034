"""Metadata-only introspection (lake.py fast_count / files_df /
snapshots_df): exact counts with zero jobs on clean tables, bucket-pruned
fallback only where tombstones or MoR deltas exist."""

import pytest
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
        T.StructField("src", T.StringType()),
    ]
)

ROWS = [(f"k{i}", i * 10, "wiki" if i % 2 else "crawl") for i in range(40)]


def mk(spark, path, merge_mode="cow"):
    t = ManifestParquetTable.create(
        spark, path, SCHEMA, n_buckets=4, merge_mode=merge_mode
    )
    t.append(
        spark.createDataFrame(ROWS, "doc_id string, val long, src string"),
        batch_id=0,
        assume_unique=True,
    )
    return t


def _forbid_scan(t, monkeypatch):
    def boom(*a, **kw):
        raise AssertionError("fast_count fell back to a scan on a clean table")

    monkeypatch.setattr(t, "_read_resolved", boom)


def test_fast_count_metadata_only_on_clean_table(spark, tmp_path, monkeypatch):
    t = mk(spark, str(tmp_path / "t"))
    assert t.read().count() == 40
    _forbid_scan(t, monkeypatch)
    assert t.fast_count() == 40


def test_fast_count_with_tombstones_then_compact(spark, tmp_path, monkeypatch):
    t = mk(spark, str(tmp_path / "t"))
    t.delete_where("val < 100")  # 10 tombstoned rows
    expected = t.read().count()
    assert expected == 30
    assert t.fast_count() == expected  # fallback path, still exact
    files = {r["has_dels"] for r in t.files_df().collect()}
    assert True in files  # tombstones detected from footers
    # compaction past the tombstone horizon drops them -> metadata-only again
    t.compact(tombstone_horizon_lsn=1 << 60)
    assert all(r["has_dels"] is False for r in t.files_df().collect())
    _forbid_scan(t, monkeypatch)
    assert t.fast_count() == expected


def test_fast_count_mor_deltas(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"), merge_mode="mor")
    ch = spark.createDataFrame(
        [("k1", "U", 100, 999, "wiki"), ("zz", "U", 101, 1, "books"),
         ("k2", "D", 102, None, None)],
        "doc_id string, op string, lsn long, val long, src string",
    )
    t.merge(ch, batch_id=1)
    assert t.fast_count() == t.read().count() == 40  # +1 insert, -1 delete
    t.materialize_deltas()
    t.compact(tombstone_horizon_lsn=1 << 60)
    assert t.fast_count() == 40


def test_files_df_shape(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"))
    rows = t.files_df().collect()
    assert len(rows) > 0
    assert sum(r["rows"] for r in rows) == 40
    assert all(r["kind"] == "base" and r["bytes"] > 0 for r in rows)
    assert all(r["min_key"] <= r["max_key"] for r in rows)
    assert {r["bucket"] for r in rows} <= {0, 1, 2, 3}


def test_snapshots_df_lineage(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([("zz9", 1, "b")], "doc_id string, val long, src string"),
        batch_id=1,
        assume_unique=True,
    )
    snaps = t.snapshots_df().orderBy("seq").collect()
    assert len(snaps) == 3  # create + 2 appends
    ids = [r["snapshot_id"] for r in snaps]
    parents = [r["parent"] for r in snaps]
    assert parents[1:] == ids[:-1]  # linear lineage
    assert snaps[-1]["snapshot_id"] == t.snapshot_id()


def test_fast_count_invariant_under_op_sequences(spark, tmp_path):
    """Stateful gate: fast_count() must equal read().count() after EVERY
    point in a mixed op sequence (append / merge with deletes / DML /
    compact / materialize / rebucket), in both merge modes — the metadata
    bookkeeping (per-file rows + has_dels) can never drift from the data."""
    import itertools

    seqs = {
        "cow": ["merge", "delete", "compact", "merge", "update", "rebucket"],
        "mor": ["merge", "delete", "merge", "materialize", "compact", "merge"],
    }
    for mode, ops in seqs.items():
        t = mk(spark, str(tmp_path / f"t-{mode}"), merge_mode=mode)
        lsn = itertools.count(100)
        bid = itertools.count(1)
        for i, op in enumerate(ops):
            if op == "merge":
                ch = spark.createDataFrame(
                    [
                        (f"k{i}", "U", next(lsn), 900 + i, "wiki"),
                        (f"new{i}", "U", next(lsn), i, "books"),
                        (f"k{i + 4}", "D", next(lsn), None, None),
                    ],
                    "doc_id string, op string, lsn long, val long, src string",
                )
                t.merge(ch, batch_id=next(bid))
            elif op == "delete":
                t.delete_where("val >= 380")
            elif op == "update":
                t.update_where("val < 20", {"val": "val + 1"})
            elif op == "compact":
                t.compact(tombstone_horizon_lsn=1 << 60)
            elif op == "materialize":
                t.materialize_deltas()
            elif op == "rebucket":
                t.rebucket(8)
            assert t.fast_count() == t.read().count(), (mode, i, op)


def test_files_df_and_snapshots_df_start_no_job(spark, tmp_path):
    """Both metadata tables are driver-side ``LocalRelation``s: collecting
    them runs no Spark job (a Python-RDD frame would run one per collect)."""
    t = mk(spark, str(tmp_path / "t"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    files = t.files_df().collect()
    snaps = t.snapshots_df().collect()
    assert set(tracker.getJobIdsForGroup()) == before
    assert sum(r["rows"] for r in files) == 40 and len(snaps) == 2
    t.read().count()  # the probe itself sees jobs
    assert set(tracker.getJobIdsForGroup()) != before
