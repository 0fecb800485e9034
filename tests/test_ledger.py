"""Batch ledger contract of every ledgered ManifestParquetTable write:
a commit records ``{snapshot_id, event_count}`` under its batch id, equal
to what the call returned, and a redelivery of the same batch id is a
skip that commits nothing."""

import os

import pytest
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)

BASE = [(f"k{i:02d}", i) for i in range(12)]
BATCH = 5


def changes(spark):
    return spark.createDataFrame(
        [("k01", "U", 10, 101), ("k02", "D", 11, None), ("k40", "I", 12, 40)],
        "doc_id string, op string, lsn long, val long",
    )


def _append(spark, t):
    return t.append(spark.createDataFrame(BASE, SCHEMA), batch_id=BATCH)


def _merge_cow_hints(spark, t):
    ch = changes(spark)
    hints = {
        r["_b"]
        for r in ch.select(t._bucket_expr("doc_id").alias("_b")).distinct().collect()
    }
    return t.merge(
        ch, batch_id=BATCH, affected_buckets=hints, n_rows=ch.count(), mode="cow"
    )


def _merge_cow_bootstrap(spark, t):
    return t.merge(changes(spark), batch_id=BATCH, mode="cow")


def _merge_mor(spark, t):
    return t.merge(changes(spark), batch_id=BATCH, mode="mor")


def _delete_rewrite(spark, t):
    return t.delete_where("val < 4", mode="cow", batch_id=BATCH)


def _delete_dv(spark, t):
    return t.delete_where("val < 4", mode="dv", batch_id=BATCH)


def _update(spark, t):
    return t.update_where("val >= 8", {"val": "val + 100"}, batch_id=BATCH)


CASES = {
    "append": (_append, False),
    "merge_cow_hints": (_merge_cow_hints, True),
    "merge_cow_bootstrap": (_merge_cow_bootstrap, False),
    "merge_mor": (_merge_mor, True),
    "delete_where": (_delete_rewrite, True),
    "delete_where_dv": (_delete_dv, True),
    "update_where": (_update, True),
}


@pytest.mark.parametrize("case", list(CASES))
def test_ledger_entry_and_redelivery_skip(spark, tmp_path, case):
    op, seeded = CASES[case]
    path = str(tmp_path / "t")
    t = ManifestParquetTable.create(spark, path, SCHEMA, n_buckets=4)
    if seeded:
        t.append(spark.createDataFrame(BASE, SCHEMA), batch_id=0)

    info = op(spark, t)
    assert not info.skipped and info.rows_written > 0
    assert t.committed_batches()[str(BATCH)] == {
        "snapshot_id": info.snapshot_id,
        "event_count": info.rows_written,
    }

    manifests = sorted(os.listdir(os.path.join(path, "manifests")))
    again = op(spark, t)
    assert again.skipped and again.rows_written == 0
    assert again.snapshot_id == info.snapshot_id
    assert t.snapshot_id() == info.snapshot_id
    assert sorted(os.listdir(os.path.join(path, "manifests"))) == manifests


def test_bucket_hint_without_row_count_is_refused(spark, tmp_path):
    """A bucket hint alone leaves the ledger without a change-row count, so
    merge refuses it before writing anything."""
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.append(spark.createDataFrame(BASE, SCHEMA), batch_id=0)
    before = t.snapshot_id()
    with pytest.raises(ValueError, match="n_rows"):
        t.merge(changes(spark), batch_id=BATCH, affected_buckets={0, 1, 2, 3})
    assert t.snapshot_id() == before
    assert not t.is_committed(BATCH)
