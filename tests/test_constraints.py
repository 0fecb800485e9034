"""Table CHECK constraints (lake.set_constraint): ingest-time validation
with SQL-standard NULL-passes semantics; violating batches are refused
atomically (no files published, no ledger entry)."""

import pytest
from pyspark.sql import types as T

from rap_etl_spark.lake import ConstraintViolationError, ManifestParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tok", T.LongType()),
        T.StructField("source", T.StringType()),
    ]
)


def mk_table(spark, path, **kw):
    return ManifestParquetTable.create(spark, path, SCHEMA, n_buckets=2, **kw)


def ch(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, op string, lsn long, n_tok long, source string"
    )


def test_violating_merge_is_refused_atomically(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    t.set_constraint("tok_positive", "n_tok > 0")
    sid = t.snapshot_id()
    with pytest.raises(ConstraintViolationError, match="tok_positive"):
        t.merge(ch(spark, [("a", "U", 1, 5, "w"), ("b", "U", 2, -1, "w")]), batch_id=0)
    assert t.snapshot_id() == sid  # nothing committed
    assert not t.is_committed(0)  # batch can be retried after fixing
    assert t.read().count() == 0


def test_clean_merge_passes_and_deletes_are_exempt(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"), merge_mode="mor")
    t.set_constraint("tok_positive", "n_tok > 0")
    t.set_constraint("known_source", "source IN ('wiki', 'crawl')")
    t.merge(ch(spark, [("a", "U", 1, 5, "wiki")]), batch_id=0)
    # delete tombstone carries NULL payload — must not trip the checks
    t.merge(ch(spark, [("a", "D", 2, None, None)]), batch_id=1)
    assert t.read().count() == 0


def test_null_payload_passes_check(spark, tmp_path):
    # SQL CHECK semantics: NULL predicate = pass
    t = mk_table(spark, str(tmp_path / "t"))
    t.set_constraint("tok_positive", "n_tok > 0")
    t.merge(ch(spark, [("a", "U", 1, None, "wiki")]), batch_id=0)
    assert t.read().count() == 1


def test_append_validates_too(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    t.set_constraint("tok_positive", "n_tok > 0")
    bad = spark.createDataFrame(
        [("a", -3, "wiki")], "doc_id string, n_tok long, source string"
    )
    with pytest.raises(ConstraintViolationError):
        t.append(bad, batch_id=0, assume_unique=True)


def test_drop_constraint_and_bad_expr(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    t.set_constraint("c1", "n_tok > 0")
    assert t.constraints() == {"c1": "n_tok > 0"}
    t.drop_constraint("c1")
    assert t.constraints() == {}
    with pytest.raises(ValueError):
        t.drop_constraint("c1")
    with pytest.raises(Exception):
        t.set_constraint("broken", "no_such_col >")
    assert "broken" not in t.constraints()


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_where_validates_constraints(spark, tmp_path, mode):
    """An ``update_where`` is checked like a merge: a post-image that
    breaks a constraint refuses the whole commit. A ``delete_where`` of
    rows that break a constraint added later still commits, because its
    tombstones are exempt."""
    t = mk_table(spark, str(tmp_path / "t"), merge_mode=mode)
    t.merge(ch(spark, [("a", "U", 1, 5, "wiki"), ("b", "U", 2, 6, "crawl")]), batch_id=0)
    t.set_constraint("pos", "n_tok > 0")
    sid = t.snapshot_id()
    with pytest.raises(ConstraintViolationError, match="pos"):
        t.update_where("doc_id = 'b'", {"n_tok": "-7"}, batch_id=1)
    assert t.snapshot_id() == sid and not t.is_committed(1)
    assert {r["doc_id"]: r["n_tok"] for r in t.read().collect()} == {"a": 5, "b": 6}

    t.update_where("doc_id = 'b'", {"n_tok": "n_tok + 1"}, batch_id=1)
    t.set_constraint("wiki_only", "source = 'wiki'")
    info = t.delete_where("source = 'crawl'", batch_id=2)
    assert not info.skipped and info.rows_written == 1
    assert {r["doc_id"]: r["n_tok"] for r in t.read().collect()} == {"a": 5}
