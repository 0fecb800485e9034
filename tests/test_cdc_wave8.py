"""SCD2 / changefeed / patch-CDC operators (operators/cdc.py wave 8) and
the lake's merge(update_semantics='patch') path."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable
from rap_etl_spark.operators.cdc import changefeed, lww_patch, scd2_history

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("bal", T.DoubleType()),
        T.StructField("seg", T.StringType()),
    ]
)


def ev(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, lsn long, bal double, seg string"
    )


def test_scd2_collapses_unchanged_and_ranges_abut(spark):
    changes = ev(
        spark,
        [
            ("a", 1, 1.0, "x"),
            ("a", 2, 1.0, "x"),  # unchanged -> collapsed
            ("a", 3, 2.0, "x"),  # bal changed -> new version
            ("a", 4, 2.0, None),  # null-safe change -> new version
            ("a", 5, 2.0, None),  # unchanged (null == null) -> collapsed
            ("b", 7, 9.0, "z"),
        ],
    )
    out = scd2_history(changes, key="doc_id", lsn_col="lsn").orderBy(
        "doc_id", "valid_from"
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        ("a", 1.0, "x", 1, 3, False),
        ("a", 2.0, "x", 3, 4, False),
        ("a", 2.0, None, 4, None, True),
        ("b", 9.0, "z", 7, None, True),
    ]


def test_scd2_single_shuffle(spark):
    changes = ev(spark, [("a", 1, 1.0, "x"), ("a", 2, 2.0, "x")])
    plan = (
        scd2_history(changes, key="doc_id", lsn_col="lsn")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both window passes must reuse ONE hashpartitioning(doc_id) exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_changefeed_pre_post(spark):
    changes = ev(spark, [("a", 1, 1.0, "x"), ("a", 3, 2.0, "y"), ("b", 2, 5.0, "z")])
    out = changefeed(changes, key="doc_id", lsn_col="lsn").orderBy("doc_id", "lsn")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        ("a", 1, "insert", None, None, 1.0, "x"),
        ("a", 3, "update", 1.0, "x", 2.0, "y"),
        ("b", 2, "insert", None, None, 5.0, "z"),
    ]


def test_lww_patch_per_column_winners(spark):
    events = ev(
        spark,
        [
            ("a", 1, 1.0, "x"),
            ("a", 2, None, "y"),  # sets seg only
            ("a", 3, 3.0, None),  # sets bal only
            ("b", 5, None, None),  # sets nothing
        ],
    )
    out = lww_patch(events, key="doc_id", lsn_col="lsn").orderBy("doc_id")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [("a", 3, 3.0, "y"), ("b", 5, None, None)]


def mk_table(spark, path, **kw):
    return ManifestParquetTable.create(spark, path, SCHEMA, n_buckets=4, **kw)


def chg(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, op string, lsn long, bal double, seg string"
    )


def test_patch_merge_keeps_unset_columns(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"))
    boot = spark.createDataFrame([("a", 1.0, "x"), ("b", 2.0, "y")], SCHEMA)
    t.append(boot, batch_id=0, assume_unique=True)
    t.merge(
        chg(spark, [("a", "U", 10, None, "PATCHED"), ("c", "U", 11, 7.0, None)]),
        batch_id=1,
        update_semantics="patch",
    )
    rows = {r["doc_id"]: (r["bal"], r["seg"]) for r in t.read().collect()}
    assert rows == {
        "a": (1.0, "PATCHED"),  # bal kept from bootstrap
        "b": (2.0, "y"),  # untouched survivor
        "c": (7.0, None),  # patch-insert on absent key: unset stays NULL
    }


def test_patch_merge_delete_still_tombstones(spark, tmp_path):
    # a delete must NOT coalesce old payload into the tombstone (no
    # resurrection through patch semantics)
    t = mk_table(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([("a", 1.0, "x")], SCHEMA), batch_id=0,
             assume_unique=True)
    t.merge(
        chg(spark, [("a", "D", 10, None, None)]),
        batch_id=1,
        update_semantics="patch",
    )
    assert t.read().count() == 0
    # and a LATER patch update re-inserts only what it carries
    t.merge(
        chg(spark, [("a", "U", 11, None, "BACK")]),
        batch_id=2,
        update_semantics="patch",
    )
    rows = [tuple(r) for r in t.read().collect()]
    assert rows == [("a", None, "BACK")]


def test_patch_merge_loses_to_newer_stored_row(spark, tmp_path):
    # version condition still applies under patch: an older patch can't
    # overwrite a newer stored row
    t = mk_table(spark, str(tmp_path / "t"))
    t.merge(chg(spark, [("a", "U", 20, 5.0, "new")]), batch_id=0)
    t.merge(
        chg(spark, [("a", "U", 10, 99.0, None)]),
        batch_id=1,
        update_semantics="patch",
    )
    rows = [tuple(r) for r in t.read().collect()]
    assert rows == [("a", 5.0, "new")]


def test_patch_requires_cow(spark, tmp_path):
    t = mk_table(spark, str(tmp_path / "t"), merge_mode="mor")
    with pytest.raises(ValueError, match="patch"):
        t.merge(
            chg(spark, [("a", "U", 1, 1.0, None)]),
            batch_id=0,
            update_semantics="patch",
        )
    with pytest.raises(ValueError, match="update_semantics"):
        t.merge(
            chg(spark, [("a", "U", 1, 1.0, None)]),
            batch_id=0,
            mode="cow",
            update_semantics="bogus",
        )


def _reference_fold(events):
    """Sequential in-LSN-order replay of patch/delete events, per key."""
    state = {}
    for doc_id, op, lsn, bal, seg in sorted(events, key=lambda e: e[2]):
        if op == "D":
            state[doc_id] = ("D", lsn, None, None)
        else:
            prev = state.get(doc_id)
            pbal = prev[2] if prev and prev[0] == "U" else None
            pseg = prev[3] if prev and prev[0] == "U" else None
            state[doc_id] = (
                "U",
                lsn,
                bal if bal is not None else pbal,
                seg if seg is not None else pseg,
            )
    # a trailing delete stays D; updates after a delete rebuild from empty
    return {
        k: (op, lsn, bal, seg) for k, (op, lsn, bal, seg) in state.items()
    }


def test_lww_patch_with_deletes_matches_sequential_replay(spark):
    import random

    from rap_etl_spark.operators.cdc import lww_patch_with_deletes

    rng = random.Random(7)
    events = []
    lsn = 0
    for _ in range(400):
        lsn += 1
        k = f"k{rng.randrange(12)}"
        if rng.random() < 0.15:
            events.append((k, "D", lsn, None, None))
        else:
            events.append(
                (
                    k,
                    "U",
                    lsn,
                    round(rng.uniform(0, 100), 2) if rng.random() < 0.6 else None,
                    rng.choice(["a", "b", "c"]) if rng.random() < 0.6 else None,
                )
            )
    rng.shuffle(events)  # delivery order must not matter
    df = spark.createDataFrame(
        events, "doc_id string, op string, lsn long, bal double, seg string"
    )
    out = {
        r["doc_id"]: (r["op"], r["lsn"], r["bal"], r["seg"])
        for r in lww_patch_with_deletes(df).collect()
    }
    # the fold's 'U' rows report max update lsn; reference tracks last
    # event lsn — align: for U keys compare payload + op only, lsn >= any D
    ref = _reference_fold(events)
    assert set(out) == set(ref)
    for k, (op, lsn_, bal, seg) in ref.items():
        assert out[k][0] == op, k
        if op == "U":
            assert out[k][2:] == (bal, seg), (k, out[k], ref[k])
        else:
            assert out[k][1] == lsn_, k


def test_data_files_carry_no_fixed_size_index(spark, tmp_path):
    """Data files carry no key index of their own (the sidecar blooms of
    ``build_key_blooms`` are the table's one): an ``append`` base file, a
    MoR delta and a CoW change file each stay within 4 KB of the same rows
    rewritten by a plain parquet write. A parquet bloom sized for 50k keys
    made every file ~64 KB larger, whatever its row count."""
    rows = spark.createDataFrame(
        [(f"k{i}", float(i), "s") for i in range(100)], SCHEMA
    )
    upd = chg(spark, [(f"k{i}", "U", 10, -1.0, "t") for i in range(0, 100, 7)])
    written = {}  # name -> data file path
    for mode in ("cow", "mor"):
        t = mk_table(spark, str(tmp_path / mode), merge_mode=mode)
        t.append(rows, batch_id=0, assume_unique=True)
        base = t._manifest()["files"][0]
        t.merge(upd, batch_id=1)
        m = t._manifest(refresh=True)
        if mode == "cow":
            written["base"] = os.path.join(t.path, base["path"])
            written["change"] = os.path.join(t.path, m["changes"][0]["path"])
        else:
            delta = next(fe for fe in m["files"] if fe.get("kind") == "delta")
            written["delta"] = os.path.join(t.path, delta["path"])
    for name, f in written.items():
        plain_dir = str(tmp_path / f"plain-{name}")
        spark.read.parquet(f).coalesce(1).write.mode("overwrite").parquet(plain_dir)
        plain = sum(
            os.path.getsize(os.path.join(plain_dir, p))
            for p in os.listdir(plain_dir)
            if p.endswith(".parquet")
        )
        assert abs(os.path.getsize(f) - plain) <= 4096, (name, os.path.getsize(f), plain)


# --- X101 row lineage -------------------------------------------------------


def test_row_lineage_incarnation_semantics(spark):
    """row_id is the first non-delete LSN after the last delete: stable
    across updates, reset by delete+reinsert, dead keys absent."""
    from rap_etl_spark.operators.cdc import row_lineage

    ev = spark.createDataFrame(
        [
            # a: insert, update, update -> one incarnation born at 1
            ("a", 1, "I"), ("a", 5, "U"), ("a", 9, "U"),
            # b: insert, delete, REINSERT, update -> reborn at 7
            ("b", 2, "I"), ("b", 4, "D"), ("b", 7, "I"), ("b", 8, "U"),
            # c: insert then delete -> dead, absent from the view
            ("c", 3, "I"), ("c", 6, "D"),
        ],
        "doc_id STRING, lsn LONG, op STRING",
    )
    out = {
        r["doc_id"]: (r["row_id"], r["last_updated_lsn"], r["n_versions"])
        for r in row_lineage(ev).collect()
    }
    assert out == {"a": (1, 9, 3), "b": (7, 8, 2)}


def test_row_lineage_matches_merged_table_lsn(spark, tmp_path):
    """Consistency with the lake: the view's keys equal the replayed
    table's keys, and last_updated_lsn equals the stored _lsn row version
    for every key — lineage and table state derive from one LWW order."""
    from pyspark.sql import types as T

    from rap_etl_spark.lake import META_LSN, ManifestParquetTable
    from rap_etl_spark.operators.cdc import lww_latest, row_lineage

    ev = spark.range(200).select(
        (F.col("id") % 37).cast("string").alias("doc_id"),
        (F.col("id") + 1).alias("lsn"),
        F.when((F.col("id") + 1) % 7 == 3, "D").otherwise("U").alias("op"),
        (F.col("id") * 10).alias("val"),
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("val", T.LongType()),
        ]
    )
    table = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), schema, n_buckets=4
    )
    for b, half in enumerate((ev.filter("lsn <= 100"), ev.filter("lsn > 100"))):
        table.merge(lww_latest(half), batch_id=b)
    stored = {
        r["doc_id"]: r[META_LSN]
        for r in table._read_resolved(
            table._manifest()["files"], table.schema(), with_meta=True
        )
        .filter(~F.col("_del"))
        .collect()
    }
    view = {
        r["doc_id"]: r["last_updated_lsn"]
        for r in row_lineage(ev.select("doc_id", "lsn", "op")).collect()
    }
    assert view == stored
