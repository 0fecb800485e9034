"""Predicate DML (`delete_where`/`update_where`) and snapshot `rollback`
on the lake table — the Iceberg/Delta DML-parity surface (GDPR erasure,
column scrub/backfill, restore). Both write modes must produce identical
observable state; deletes must null the payload and keep LWW semantics."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
        T.StructField("src", T.StringType()),
    ]
)

ROWS = [
    ("a", 10, "wiki"),
    ("b", -5, "crawl"),
    ("c", 30, "crawl"),
    ("d", -7, "wiki"),
    ("e", 50, "books"),
]


def mk_table(spark, path, merge_mode="cow"):
    t = ManifestParquetTable.create(
        spark, path, SCHEMA, n_buckets=4, merge_mode=merge_mode
    )
    t.append(
        spark.createDataFrame(ROWS, "doc_id string, val long, src string"),
        batch_id=0,
        assume_unique=True,
    )
    return t


def state(t):
    return {r["doc_id"]: (r["val"], r["src"]) for r in t.read().collect()}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_delete_where(spark, tmp_path, mode):
    t = mk_table(spark, str(tmp_path / mode), merge_mode=mode)
    info = t.delete_where("val < 0")
    assert info.rows_written == 2
    assert state(t) == {"a": (10, "wiki"), "c": (30, "crawl"), "e": (50, "books")}
    # payload is physically nulled on the tombstone, not merely filtered
    meta = t._read_resolved(t._manifest()["files"], t.schema(), with_meta=True)
    dead = meta.filter(F.col("_del")).select("doc_id", "val", "src").collect()
    assert {r["doc_id"] for r in dead} == {"b", "d"}
    assert all(r["val"] is None and r["src"] is None for r in dead)


def test_delete_where_string_and_column_conditions_match(spark, tmp_path):
    t1 = mk_table(spark, str(tmp_path / "s"))
    t2 = mk_table(spark, str(tmp_path / "c"))
    t1.delete_where("src = 'crawl'")
    t2.delete_where(F.col("src") == "crawl")
    assert (
        state(t1)
        == state(t2)
        == {"a": (10, "wiki"), "d": (-7, "wiki"), "e": (50, "books")}
    )


def test_delete_no_match_skips_commit(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    sid = t.snapshot_id()
    info = t.delete_where("val > 999")
    assert info.skipped and t.snapshot_id() == sid


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_where(spark, tmp_path, mode):
    t = mk_table(spark, str(tmp_path / mode), merge_mode=mode)
    info = t.update_where("val < 0", {"val": "0", "src": F.lit("scrubbed")})
    assert info.rows_written == 2
    assert state(t) == {
        "a": (10, "wiki"),
        "b": (0, "scrubbed"),
        "c": (30, "crawl"),
        "d": (0, "scrubbed"),
        "e": (50, "books"),
    }


def test_update_expressions_see_row_values(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    t.update_where("src = 'crawl'", {"val": "val * 2"})
    assert state(t)["b"] == (-10, "crawl")
    assert state(t)["c"] == (60, "crawl")


def test_update_rejects_bad_assignments(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="key column"):
        t.update_where("val < 0", {"doc_id": "'x'"})
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where("val < 0", {"nope": "1"})


# payload columns that share the names of a CDC frame's wire columns
WIRE_NAMED = T.StructType(
    SCHEMA.fields
    + [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType())]
)


@pytest.mark.parametrize("mode", ["cow", "mor"])
@pytest.mark.parametrize("schema", [SCHEMA, WIRE_NAMED], ids=["plain", "lsn_op_payload"])
def test_dml_keeps_lww_semantics(spark, tmp_path, schema, mode):
    """A DML patch keeps the row's _lsn, so later CDC events still win and
    a delete tombstone cannot be resurrected by an older event. The
    version is the row's ``_lsn`` even where the payload has columns named
    ``lsn``/``op``: a patch that sets payload ``lsn`` above the next
    event's version does not outvote that event."""
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), schema, n_buckets=4, merge_mode=mode
    )
    ch = spark.createDataFrame(
        [("a", "U", 5, 10, "wiki"), ("b", "U", 6, 20, "crawl")],
        "doc_id string, op string, lsn long, val long, src string",
    )
    t.merge(ch, batch_id=0)
    t.delete_where("doc_id = 'a'")
    patch = {"val": "99"}
    if "lsn" in schema.fieldNames():
        patch["lsn"] = "100"
    t.update_where("doc_id = 'b'", patch)
    # older event than a's original lsn 5: must NOT resurrect
    t.merge(
        spark.createDataFrame(
            [("a", "U", 4, 11, "wiki")],
            "doc_id string, op string, lsn long, val long, src string",
        ),
        batch_id=1,
    )
    # newer event than b's lsn 6: must override the patch
    t.merge(
        spark.createDataFrame(
            [("b", "U", 7, 21, "crawl")],
            "doc_id string, op string, lsn long, val long, src string",
        ),
        batch_id=2,
    )
    assert state(t) == {"b": (21, "crawl")}


def test_cow_delete_payload_lives_until_its_snapshot_expires(spark, tmp_path):
    """A CoW delete nulls the payload in the live files, and its change
    file keeps the removed row for publishing while the delete's commit
    snapshot is retained. Expiring past it leaves no data file, base or
    change, that holds the erased key with a payload."""
    import os

    t = mk_table(spark, str(tmp_path / "t"))
    t.merge(
        spark.createDataFrame(
            [("f", "U", 1, 60, "wiki")],
            "doc_id string, op string, lsn long, val long, src string",
        ),
        batch_id=1,
    )
    t.delete_where("doc_id = 'f'", batch_id=2)
    data = str(tmp_path / "t" / "data")

    def payload_copies(prefix):
        n = 0
        for fn in os.listdir(data):
            if fn.startswith(prefix) and fn.endswith(".parquet"):
                df = spark.read.parquet(os.path.join(data, fn))
                n += df.filter(
                    (F.col("doc_id") == "f")
                    & (F.col("val").isNotNull() | F.col("src").isNotNull())
                ).count()
        return n

    assert payload_copies("c") == 2  # the insert's and the delete's change rows
    t.merge(
        spark.createDataFrame(
            [("a", "U", 9, 11, "wiki")],
            "doc_id string, op string, lsn long, val long, src string",
        ),
        batch_id=3,
    )
    t.expire_snapshots(keep=1, orphan_grace_sec=0)
    assert payload_copies("b") == payload_copies("c") == 0
    assert "f" not in state(t)


def test_dml_idempotent_batch_id(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    t.delete_where("val < 0", batch_id=7)
    sid = t.snapshot_id()
    info = t.delete_where("val < 0", batch_id=7)
    assert info.skipped and t.snapshot_id() == sid


def test_cow_dml_touches_only_affected_buckets(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    before = {fe["path"]: fe["bucket"] for fe in t._manifest()["files"]}
    t.delete_where("doc_id = 'a'")
    after = {fe["path"]: fe["bucket"] for fe in t._manifest()["files"]}
    kept = set(before) & set(after)
    # buckets not containing 'a' keep their exact files
    a_bucket = {b for p, b in before.items() if p not in after}
    assert len(a_bucket) == 1
    assert {before[p] for p in kept} == set(before.values()) - a_bucket


def test_rollback_restores_state_and_ledger(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    sid_before = t.snapshot_id()
    st_before = state(t)
    ch = spark.createDataFrame(
        [("a", "U", 9, 99, "wiki"), ("f", "I", 10, 60, "books")],
        "doc_id string, op string, lsn long, val long, src string",
    )
    t.merge(ch, batch_id=1)
    assert t.is_committed(1)
    assert state(t) != st_before
    info = t.rollback(sid_before)
    assert not info.skipped
    assert state(t) == st_before
    assert not t.is_committed(1)  # un-committed: replay will re-apply
    # rollback is a commit, not history erasure: rolling forward works too
    t.merge(ch, batch_id=1)
    assert state(t)["a"] == (99, "wiki") and "f" in state(t)


def test_rollback_current_is_noop(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    assert t.rollback(t.snapshot_id()).skipped
