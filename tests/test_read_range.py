"""Generalized zone maps + read_range file skipping (lake.py): exact
results with fewer files opened after a sorted, size-bounded compaction."""

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


def mk(spark, path, merge_mode="cow"):
    t = ManifestParquetTable.create(
        spark, path, SCHEMA, n_buckets=2, merge_mode=merge_mode
    )
    t.append(
        spark.createDataFrame(
            [(f"k{i:03d}", i, "s") for i in range(200)],
            "doc_id string, val long, src string",
        ),
        batch_id=0,
        assume_unique=True,
    )
    return t


def test_col_stats_recorded(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"))
    fe = t._manifest()["files"][0]
    cs = fe["col_stats"]
    # the payload columns: the key has min_key/max_key, _del has_dels,
    # and the appended rows' _lsn is all NULL, so it has no bounds
    assert sorted(cs) == ["src", "val"]
    assert cs["val"][0] >= 0 and cs["val"][1] <= 199
    assert cs["src"] == ["s", "s"]


NESTED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("element", T.LongType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ]
)


@pytest.mark.parametrize("legacy", [False, True])
def test_top_level_column_named_like_a_nested_leaf(spark, tmp_path, legacy):
    """A top-level ``element`` column beside the ``tokens`` array, whose
    parquet leaf is also named ``element``: the zone map records only the
    top-level column, and range reads and ``min_max`` stay exact. With
    ``legacy`` the entries carry the array's bounds under ``element``, as
    entries written before stats were keyed by column path do; reads must
    not trust them."""
    from pyspark.sql import functions as F

    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), NESTED, n_buckets=2)
    t.append(
        spark.range(100).select(
            F.format_string("k%03d", "id").alias("doc_id"),
            (F.col("id") + 1000).alias("element"),
            F.array((F.col("id") % 10).cast("int")).alias("tokens"),
        ),
        batch_id=0,
        assume_unique=True,
    )
    files = t._manifest()["files"]
    for fe in files:
        lo, hi = fe["col_stats"]["element"]
        assert 1000 <= lo <= hi <= 1099
        if legacy:
            fe["col_stats"]["element"] = [0, 9]
    for lo, hi in ((1010, 1019), (0, 9), (None, 1004)):
        got = sorted(r["doc_id"] for r in t.read_where({"element": (lo, hi)}).collect())
        want = t.read()
        if lo is not None:
            want = want.filter(F.col("element") >= lo)
        want = sorted(r["doc_id"] for r in want.filter(F.col("element") <= hi).collect())
        assert got == want
    agg = t.read().agg(F.min("element"), F.max("element")).first()
    vals, _ = t.min_max(["element"])
    assert vals["element"] == (agg[0], agg[1]) == (1000, 1099)


def test_read_range_exact_and_skips_files(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"))
    t.compact(sort_cols=["val"], max_rows_per_file=25)
    total_files = len(t._manifest()["files"])
    assert total_files >= 8  # 2 buckets x ~4 size-bounded files
    df = t.read_range("val", 50, 75)
    got = sorted(r["val"] for r in df.collect())
    assert got == list(range(50, 76))
    # file skipping is observable through the scan's input files
    assert 0 < len(df.inputFiles()) < total_files


def test_read_range_open_ended_and_no_stats_col(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"))
    assert t.read_range("val", lo=190).count() == 10
    assert t.read_range("val", hi=9).count() == 10
    # a column that never got stats (none exists here) -> falls back to
    # conservative full read; key-column ranges also work
    assert t.read_range("doc_id", "k010", "k019").count() == 10


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_range_sees_merged_changes(spark, tmp_path, mode):
    t = mk(spark, str(tmp_path / "t"), merge_mode=mode)
    t.compact(sort_cols=["val"], max_rows_per_file=25)
    ch = spark.createDataFrame(
        [("k060", "U", 1000, 2, "s"), ("zzz", "U", 1001, 60, "s"),
         ("k070", "D", 1002, None, None)],
        "doc_id string, op string, lsn long, val long, src string",
    )
    t.merge(ch, batch_id=1)
    got = {r["doc_id"]: r["val"] for r in t.read_range("val", 50, 75).collect()}
    assert "k060" not in got  # moved out of range by the update
    assert got.get("zzz") == 60  # new in-range row visible
    assert "k070" not in got  # deleted
    assert t.read_range("val", 2, 2).count() == 2  # k002 and updated k060


def test_zorder_compact_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after compact(zorder=[x, y]) BOTH single-column
    range reads skip files; after a plain sort by x, only x does — the
    measurable difference z-ordering exists to produce."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    rows = [(f"k{i:04d}", i % 64, (i * 37) % 64) for i in range(1024)]

    def build(path, **compact_kw):
        t = ManifestParquetTable.create(spark, path, schema, n_buckets=1)
        t.append(
            spark.createDataFrame(rows, "doc_id string, x long, y long"),
            batch_id=0,
            assume_unique=True,
        )
        t.compact(max_rows_per_file=64, **compact_kw)
        return t

    tz = build(str(tmp_path / "z"), zorder=["x", "y"])
    ts = build(str(tmp_path / "s"), sort_cols=["x"])
    total = len(tz._manifest()["files"])
    assert total >= 8

    # correctness: exact rows either way
    want = sorted(r[0] for r in rows if 8 <= r[1] <= 15)
    got = sorted(r["doc_id"] for r in tz.read_range("x", 8, 15).collect())
    assert got == want

    zx = len(tz.read_range("x", 8, 15).inputFiles())
    zy = len(tz.read_range("y", 8, 15).inputFiles())
    sx = len(ts.read_range("x", 8, 15).inputFiles())
    sy = len(ts.read_range("y", 8, 15).inputFiles())
    assert zx < total and zy < total  # z-order prunes BOTH dims
    assert sx < total
    assert zy < sy  # z-order prunes the NON-sort dim strictly better
    # zorder must not leak its sort key into the data files
    assert "_zkey" not in tz.read().columns


def test_zorder_compact_validation(spark, tmp_path):
    t = mk(spark, str(tmp_path / "t"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        t.compact(sort_cols=["val"], zorder=["val", "val"])
    with _pytest.raises(ValueError, match="exactly two"):
        t.compact(zorder=["val"])
