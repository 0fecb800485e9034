"""Every write-back path's manifest entries match the files they name.

Each data-rewriting commit (append, the three merge tails, the four
maintenance rewrites and both DML tails) records per-file statistics
from the parquet footer it just wrote. These tests recompute them with
``pyarrow.parquet`` from each new file, independently of the table code,
and cross-check row counts and key bounds against the file's rows."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rap_etl_spark.lake import META_DEL, ManifestParquetTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)
EVENTS = (
    "doc_id string, tokens array<int>, n_tok int, score double, "
    "source string, op string, lsn long"
)


def _events(spark, keys, lsn0, op="I"):
    return spark.createDataFrame(
        [
            (f"k{k:03d}", [k, k + 1], k % 7, k / 3.0, f"s{k % 3}", op, lsn0 + i)
            for i, k in enumerate(keys)
        ],
        EVENTS,
    )


def _changes(spark, lsn0):
    """Updates, deletes and inserts on the seeded key range."""
    up = _events(spark, range(0, 40, 3), lsn0, "U")
    dl = _events(spark, range(1, 40, 6), lsn0 + 100, "D")
    ins = _events(spark, range(40, 52), lsn0 + 200)
    return up.unionByName(dl).unionByName(ins)


def _table(spark, path, mode="cow", seeded=True):
    t = ManifestParquetTable.create(spark, path, SCHEMA, n_buckets=4, merge_mode=mode)
    if seeded:
        t.append(_events(spark, range(40), 1), batch_id=0)
        t.merge(_changes(spark, 1000), batch_id=1)
    return t


def _hinted_merge(t, spark):
    ch = _changes(spark, 5000)
    buckets = {r[0] for r in ch.select(t._bucket_expr("doc_id")).distinct().collect()}
    t.merge(ch, batch_id=2, affected_buckets=buckets, n_rows=ch.count())


def _mor_stack(t, spark):
    t.merge(_changes(spark, 5000), batch_id=2)


CASES = {
    "append": ("cow", True, lambda t, s: t.append(_events(s, range(60, 75), 9000), batch_id=2)),
    "merge_cow_hinted": ("cow", True, _hinted_merge),
    "merge_cow_bootstrap": ("cow", False, lambda t, s: t.merge(_changes(s, 1), batch_id=0)),
    "merge_mor": ("mor", True, _mor_stack),
    "compact": ("cow", True, lambda t, s: t.compact()),
    "compact_sort_cols": (
        "cow", True, lambda t, s: t.compact(sort_cols=["doc_id"], max_rows_per_file=4)
    ),
    "compact_zorder": ("cow", True, lambda t, s: t.compact(zorder=["n_tok", "score"])),
    "compact_buckets": ("cow", True, lambda t, s: t.compact_buckets({0, 2})),
    "materialize_deltas": (
        "mor", True, lambda t, s: (_mor_stack(t, s), t.materialize_deltas())
    ),
    "rebucket": ("cow", True, lambda t, s: t.rebucket(6)),
    "update_where_cow": (
        "cow", True, lambda t, s: t.update_where("n_tok <= 2", {"source": "'x'"}, mode="cow")
    ),
    "update_where_mor": (
        "mor", True, lambda t, s: t.update_where("n_tok <= 2", {"source": "'x'"}, mode="mor")
    ),
}


def _footer_stats(md) -> dict:
    """Leaf name -> [min, max] over every row group, for leaves whose
    every row group carries min/max statistics."""
    out = {}
    for ci, name in enumerate(md.schema.names):
        stats = [md.row_group(g).column(ci).statistics for g in range(md.num_row_groups)]
        if all(s is not None and s.has_min_max for s in stats):
            out[name] = [min(s.min for s in stats), max(s.max for s in stats)]
    return out


def _expected_entry(t, rel, nb, seq) -> dict:
    path = os.path.join(t.path, rel)
    md = pq.ParquetFile(path).metadata
    name = os.path.basename(rel)
    want = {
        "path": rel,
        "bucket": int(name[1:6]),
        "nb": nb,
        "schema_version": 0,
        "rows": md.num_rows,
    }
    stats = _footer_stats(md)
    lo, hi = stats.get("doc_id", (None, None))
    if isinstance(lo, str) and isinstance(hi, str):
        want["min_key"], want["max_key"] = lo, hi
    if META_DEL in stats:
        want["has_dels"] = bool(stats[META_DEL][1])
    col_stats = {
        c: b
        for c, b in stats.items()
        if c not in ("doc_id", META_DEL)
        and all(isinstance(v, (str, int, float)) and not isinstance(v, bool) for v in b)
    }
    if col_stats:
        want["col_stats"] = col_stats
    if name.startswith("d"):
        want["kind"], want["seq"] = "delta", seq
    return want


@pytest.mark.parametrize("case", sorted(CASES))
def test_new_entries_match_their_footers(spark, tmp_path, case):
    mode, seeded, op = CASES[case]
    t = _table(spark, str(tmp_path / "t"), mode, seeded)
    before = {fe["path"] for fe in t._manifest()["files"]}
    op(t, spark)
    m = t._manifest()
    new = [fe for fe in m["files"] if fe["path"] not in before]
    assert new, "the write-back wrote no file"
    for fe in new:
        assert fe == _expected_entry(t, fe["path"], t.n_buckets(), m["seq"])
        rows = pq.read_table(os.path.join(t.path, fe["path"]))
        assert fe["rows"] == rows.num_rows
        keys = rows.column("doc_id").to_pylist()
        assert (fe["min_key"], fe["max_key"]) == (min(keys), max(keys))
        assert fe["has_dels"] == any(rows.column(META_DEL).to_pylist())
    if case == "compact_zorder":
        assert "_zkey" not in pq.read_schema(os.path.join(t.path, new[0]["path"])).names
    assert t.fsck()["ok"]
    # every row the table serves comes from a file the manifest names
    assert t.read().agg(F.count(F.lit(1))).first()[0] == t.fast_count()
