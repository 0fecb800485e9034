"""Progressive bucket splitting (lake.py `split_buckets`): n_buckets grows
by an integer factor as a METADATA-ONLY commit; pre-split files are matched
by hash-layout residue (`_BucketZones`) on every bucket-pruned path and
migrate lazily as ordinary writes touch them. The invariant throughout: a
table that splits mid-stream is observationally identical to one created at
the final bucket count — same state, same lookups, same changefeed, same
counts — while the split itself reads/writes zero data files."""

import random

import pytest
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable, _entry_nb

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)

KEYS = [f"k{i:03d}" for i in range(48)]


def mk_changes(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id string, op string, lsn long, val long"
    )


def gen_batches(seed=7, n_batches=4, per_batch=40):
    """Deterministic mixed insert/update/delete batches over KEYS with
    strictly increasing LSNs (one row per key per batch — merge contract)."""
    rng = random.Random(seed)
    lsn = 0
    batches = []
    for _ in range(n_batches):
        picked = rng.sample(KEYS, per_batch)
        rows = []
        for k in picked:
            lsn += 1
            if rng.random() < 0.15:
                rows.append((k, "D", lsn, None))
            else:
                rows.append((k, "U", lsn, lsn * 10))
        batches.append(rows)
    return batches


def expected_state(batches):
    live = {}
    version = {}
    for rows in batches:
        for k, op, lsn, val in rows:
            if lsn >= version.get(k, -1):
                version[k] = lsn
                if op == "D":
                    live.pop(k, None)
                else:
                    live[k] = val
    return live


def state(t):
    return {r["doc_id"]: r["val"] for r in t.read().collect()}


def moduli(t):
    m = t._manifest()
    return {_entry_nb(fe, int(m["n_buckets"])) for fe in m["files"]}


BATCHES = gen_batches()
EXPECT = expected_state(BATCHES)


def test_split_is_metadata_only_and_preserves_state(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    before_paths = {fe["path"] for fe in t._manifest()["files"]}
    before_state = state(t)
    before_count = t.fast_count()
    info = t.split_buckets(2)
    assert not info.skipped
    m = t._manifest()
    assert int(m["n_buckets"]) == 8
    # zero data churn: identical file set, only the manifest changed
    assert {fe["path"] for fe in m["files"]} == before_paths
    # every carried entry is stamped with its write-time modulus
    assert all(fe["nb"] == 4 for fe in m["files"])
    assert state(t) == before_state
    assert t.fast_count() == before_count


def test_split_factor_validation(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    with pytest.raises(ValueError):
        t.split_buckets(1)
    with pytest.raises(ValueError):
        t.split_buckets(2.5)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_across_split_matches_unsplit_control(spark, tmp_path, mode):
    control = ManifestParquetTable.create(
        spark, str(tmp_path / "c"), SCHEMA, n_buckets=8, merge_mode=mode
    )
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4, merge_mode=mode
    )
    for i, rows in enumerate(BATCHES):
        if i == 2:
            t.split_buckets(2)
        control.merge(mk_changes(spark, rows), batch_id=i)
        t.merge(mk_changes(spark, rows), batch_id=i)
    assert state(t) == state(control) == EXPECT
    assert t.fast_count() == control.fast_count() == len(EXPECT)


def test_double_split_three_live_moduli(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    t.split_buckets(2)
    t.merge(mk_changes(spark, BATCHES[1]), batch_id=1)
    t.split_buckets(2)
    t.merge(mk_changes(spark, BATCHES[2]), batch_id=2)
    t.merge(mk_changes(spark, BATCHES[3]), batch_id=3)
    assert int(t._manifest()["n_buckets"]) == 16
    # CoW merges migrate touched files, but with 48 keys over 4 original
    # buckets at least the untouched-fold files keep older moduli around
    assert moduli(t) <= {4, 8, 16}
    assert state(t) == EXPECT


def test_lookup_after_split_prunes_and_finds(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    t.split_buckets(4)  # 4 -> 16, all files pre-split
    live = expected_state(BATCHES[:1])
    probe = sorted(live)[:5]
    got = {r["doc_id"]: r["val"] for r in t.lookup(probe).collect()}
    assert got == {k: live[k] for k in probe}


def test_changefeed_across_split_keeps_preimages(spark, tmp_path):
    """The regression that motivates fold-grouping in table_changes: after
    a split, a MoR delta lands in a different raw bucket id than the
    pre-split base holding the key — per-raw-bucket grouping would read an
    empty old side and misreport the update as an insert."""
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, merge_mode="mor"
    )
    t.merge(
        mk_changes(spark, [(k, "U", i + 1, 100 + i) for i, k in enumerate(KEYS[:16])]),
        batch_id=0,
    )
    s0 = t.snapshot_id()
    t.split_buckets(8)  # 2 -> 16
    t.merge(
        mk_changes(spark, [(KEYS[0], "U", 999, 999), (KEYS[1], "D", 1000, None)]),
        batch_id=1,
    )
    ch = {
        (r["doc_id"], r["_change_type"]): r["val"]
        for r in t.table_changes(s0, t.snapshot_id()).collect()
    }
    assert ch == {
        (KEYS[0], "update_preimage"): 100,
        (KEYS[0], "update_postimage"): 999,
        (KEYS[1], "delete"): 101,
    }


@pytest.mark.parametrize("op", ["materialize", "compact"])
def test_maintenance_closure_over_mixed_moduli(spark, tmp_path, op):
    """materialize_deltas/compact_buckets on a post-split selection must
    pull the key-sharing closure: folding a coarse base without its finer
    sibling deltas would publish stale rows next to the deltas that
    supersede them."""
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, merge_mode="mor"
    )
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    t.split_buckets(4)  # 2 -> 8
    t.merge(mk_changes(spark, BATCHES[1]), batch_id=1)
    expect = expected_state(BATCHES[:2])
    # select one current-modulus bucket: the closure must expand through
    # the pre-split bases into every overlapping fine stack
    if op == "materialize":
        t.materialize_deltas(buckets={0})
    else:
        t.compact_buckets({0})
    assert state(t) == expect
    # full maintenance finishes the migration: everything at modulus 8
    t.compact_buckets(set(range(8)))
    assert moduli(t) == {8}
    assert t.split_migration()["files_pre_split"] == 0
    assert state(t) == expect
    assert t.delta_depth() == {}


def test_dml_after_split(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    t.split_buckets(2)
    expect = dict(expected_state(BATCHES[:1]))
    t.delete_where("val >= 300")
    expect = {k: v for k, v in expect.items() if v < 300}
    t.update_where("val < 50", {"val": "val + 1"})
    expect = {k: (v + 1 if v < 50 else v) for k, v in expect.items()}
    assert state(t) == expect
    assert t.fast_count() == len(expect)


def test_time_travel_and_rollback_across_split(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    s0 = t.snapshot_id()
    pre = state(t)
    t.split_buckets(2)
    t.merge(mk_changes(spark, BATCHES[1]), batch_id=1)
    # historical snapshot reads with ITS OWN modulus
    assert {r["doc_id"]: r["val"] for r in t.read(snapshot_id=s0).collect()} == pre
    # rollback un-splits: n_buckets and file list restored as a new commit
    t.rollback(s0)
    assert int(t._manifest()["n_buckets"]) == 4
    assert state(t) == pre
    # and the table keeps working after the rollback
    t.merge(mk_changes(spark, BATCHES[1]), batch_id=1)
    assert state(t) == expected_state(BATCHES[:2])


def test_read_range_exact_on_mixed_moduli(spark, tmp_path):
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, merge_mode="mor"
    )
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    t.split_buckets(4)
    t.merge(mk_changes(spark, BATCHES[1]), batch_id=1)
    expect = expected_state(BATCHES[:2])
    lo, hi = 100, 400
    got = {r["doc_id"]: r["val"] for r in t.read_range("val", lo, hi).collect()}
    assert got == {k: v for k, v in expect.items() if lo <= v <= hi}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merge_buckets_shrink_matches_control(spark, tmp_path, mode):
    control = ManifestParquetTable.create(
        spark, str(tmp_path / "c"), SCHEMA, n_buckets=4, merge_mode=mode
    )
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=8, merge_mode=mode
    )
    for i, rows in enumerate(BATCHES):
        if i == 2:
            t.merge_buckets(2)  # 8 -> 4, existing files now finer than root
        control.merge(mk_changes(spark, rows), batch_id=i)
        t.merge(mk_changes(spark, rows), batch_id=i)
    assert int(t._manifest()["n_buckets"]) == 4
    assert state(t) == state(control) == EXPECT
    assert t.fast_count() == len(EXPECT)


def test_merge_buckets_validation(spark, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=6)
    with pytest.raises(ValueError):
        t.merge_buckets(4)  # does not divide 6
    with pytest.raises(ValueError):
        t.merge_buckets(1)


def test_off_chain_moduli_stay_correct(spark, tmp_path):
    """split x3, shrink back, split x2: live moduli {4, 12, 8} are not
    mutually divisible — zone matching degrades to conservative overlap
    and every answer stays exact."""
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4, merge_mode="mor"
    )
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    t.split_buckets(3)  # 4 -> 12
    t.merge(mk_changes(spark, BATCHES[1]), batch_id=1)
    t.merge_buckets(3)  # 12 -> 4
    t.split_buckets(2)  # 4 -> 8
    t.merge(mk_changes(spark, BATCHES[2]), batch_id=2)
    t.merge(mk_changes(spark, BATCHES[3]), batch_id=3)
    assert state(t) == EXPECT
    assert t.fast_count() == len(EXPECT)
    live = expected_state(BATCHES)
    probe = sorted(live)[:4]
    assert {r["doc_id"]: r["val"] for r in t.lookup(probe).collect()} == {
        k: live[k] for k in probe
    }
    # eager finish still lands everything on the current modulus
    t.compact_buckets(set(range(8)))
    assert moduli(t) == {8}
    assert state(t) == EXPECT


def test_engine_auto_split_widens_layout(spark, tmp_path):
    """CdcEngine(auto_split_rows=N): the layout widens itself as the key
    universe grows — every commit checks mean live rows per bucket from
    manifest footer stats (zero jobs) and doubles the bucket count
    metadata-only when the threshold is reached. Final state must match a
    control engine with a fixed layout."""
    from rap_etl_spark.engine import CdcEngine

    def ev_df(rows):
        return mk_changes(spark, rows).withColumnRenamed("val", "val")

    ctrl_t = ManifestParquetTable.create(spark, str(tmp_path / "c"), SCHEMA, n_buckets=2)
    auto_t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=2)
    ctrl = CdcEngine(spark, ctrl_t, count_input=False)
    auto = CdcEngine(spark, auto_t, count_input=False, auto_split_rows=8)
    for i, rows in enumerate(BATCHES):
        ctrl.apply_batch(ev_df(rows), batch_id=i)
        auto.apply_batch(ev_df(rows), batch_id=i)
    # ~40 live keys over threshold 8 rows/bucket: 2 -> at least 8 buckets
    assert auto_t.n_buckets() >= 8
    assert ctrl_t.n_buckets() == 2
    assert state(auto_t) == state(ctrl_t) == EXPECT
    assert auto_t.fast_count() == len(EXPECT)


def test_merge_hints_survive_racing_split(spark, tmp_path):
    """The OCC-rebase race: merge hints are computed at staging time, a
    concurrent writer commits a split before the merge lands, the engine
    refreshes and retries. Interpreting the stale hint ids at the NEW
    modulus would both miss buckets and duplicate keys; passing the
    staging-time modulus (affected_buckets_nb) keeps the merge exact."""
    path = str(tmp_path / "t")
    t = ManifestParquetTable.create(spark, path, SCHEMA, n_buckets=4)
    t.merge(mk_changes(spark, BATCHES[0]), batch_id=0)
    ch = mk_changes(spark, BATCHES[1])
    # staging-time hint observation at modulus 4 (what the engine records)
    hints = {
        r["_b"]
        for r in ch.select(t._bucket_expr("doc_id").alias("_b")).distinct().collect()
    }
    # a second writer handle wins a split commit in between
    ManifestParquetTable(spark, path).split_buckets(2)
    t.refresh()  # the engine's rebase step
    t.merge(
        ch,
        batch_id=1,
        affected_buckets=hints,
        n_rows=ch.count(),
        affected_buckets_nb=4,
    )
    assert t.committed_batches()["1"]["event_count"] == len(BATCHES[1])
    assert state(t) == expected_state(BATCHES[:2])
    assert t.fast_count() == len(expected_state(BATCHES[:2]))
