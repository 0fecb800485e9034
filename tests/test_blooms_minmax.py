"""Per-file key bloom sidecars (lake.build_key_blooms) and the
metadata-only min/max aggregate (lake.min_max)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rap_etl_spark.lake import ManifestParquetTable, _bloom_geometry


SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("val", T.LongType()),
    ]
)


def _mk(spark, tmp_path, mode="mor", n=200, nb=4):
    t = ManifestParquetTable.create(
        spark, os.path.join(str(tmp_path), "t"), SCHEMA, n_buckets=nb,
        merge_mode=mode,
    )
    rows = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
        F.col("id").alias("val"),
        F.lit(1).alias("lsn"),
    )
    t.merge(rows, batch_id=0)
    return t


def test_bloom_geometry_monotone_and_capped():
    m1, k1 = _bloom_geometry(100, 0.01)
    m2, k2 = _bloom_geometry(100000, 0.01)
    assert m1 < m2 and m1 >= 1024
    assert (m1 & (m1 - 1)) == 0 and (m2 & (m2 - 1)) == 0
    mcap, _ = _bloom_geometry(10**9, 0.01)
    assert mcap == 1 << 23
    assert 1 <= k1 <= 16 and 1 <= k2 <= 16


def test_build_blooms_and_lookup_equivalence(spark, tmp_path):
    """Bloom-pruned lookup returns EXACTLY the unpruned answer for every
    probed key — present, absent, and updated-in-delta keys alike."""
    t = _mk(spark, tmp_path, mode="mor")
    # second batch: updates for a key slice land in delta files whose
    # [min,max] key range overlaps everything (the zone-map-blind case)
    upd = spark.range(0, 200, 7).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
        (F.col("id") + 1000).alias("val"),
        F.lit(2).alias("lsn"),
    )
    t.merge(upd, batch_id=1)
    info = t.build_key_blooms()
    assert not info.skipped
    probe = ["k0", "k7", "k13", "k199", "nope-1", "nope-2"]
    got = {r["doc_id"]: r["val"] for r in t.lookup(probe).collect()}
    assert got == {"k0": 1000, "k7": 1007, "k13": 13, "k199": 199}


def test_blooms_prune_zone_blind_files(spark, tmp_path):
    """The point of the feature: in a MoR stack whose delta key ranges
    span the bucket, the bloom must drop delta files that cannot hold the
    probed key while zone maps alone cannot."""
    t = _mk(spark, tmp_path, mode="mor", nb=1)
    # three delta generations over ONE bucket, disjoint key slices but
    # interleaved lexicographic ranges (zone maps won't separate them)
    for b, lo in ((1, 0), (2, 1), (3, 2)):
        upd = spark.range(lo, 200, 3).select(
            F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
            (F.col("id") + 1000 * b).alias("val"),
            F.lit(b + 1).alias("lsn"),
        )
        t.merge(upd, batch_id=b)
    # k3 lives in base + the b=1 delta (3 % 3 == 0) only
    probe_rows = spark.createDataFrame([("k3",)], "doc_id string").select(
        F.xxhash64("doc_id").alias("h1"),
        F.xxhash64("doc_id", F.lit(1)).alias("h2"),
    ).collect()
    mask = (1 << 64) - 1
    probes = [(probe_rows[0]["h1"] & mask, probe_rows[0]["h2"] & mask)]
    # no key index at all before the build (data files carry no parquet
    # bloom): every zone-blind file is kept and read, and the lookup is
    # still exact
    assert {r["doc_id"]: r["val"] for r in t.lookup(["k3"]).collect()} == {
        "k3": 1003
    }
    files = [
        fe for fe in t._manifest(refresh=True)["files"] if int(fe.get("rows", 0)) > 0
    ]
    assert t._prune_files_by_key(files, ["k3"], probes) == files
    t.build_key_blooms()
    m = t._manifest(refresh=True)
    files = [fe for fe in m["files"] if int(fe.get("rows", 0)) > 0]
    assert all("bloom" in fe for fe in files)
    kept = t._prune_files_by_key(files, ["k3"], probes)
    assert len(kept) < len(files), "bloom pruned nothing"
    # exactness: the winner version still comes back
    got = {r["doc_id"]: r["val"] for r in t.lookup(["k3"]).collect()}
    assert got == {"k3": 1003}


def test_blooms_incremental_and_new_files_conservative(spark, tmp_path):
    """A second build call only processes files added since the first;
    un-bloomed new files are kept by the probe (no false negatives)."""
    t = _mk(spark, tmp_path, mode="mor")
    info1 = t.build_key_blooms()
    assert info1.rows_written == len(
        [fe for fe in t._manifest(refresh=True)["files"] if fe.get("rows")]
    )
    # rerun with nothing new: skipped
    assert t.build_key_blooms().skipped
    # new delta after the bloom commit: lookup must still see its rows
    upd = spark.createDataFrame(
        [("k5", 9999, 10)], "doc_id string, val long, lsn long"
    )
    t.merge(upd, batch_id=7)
    got = {r["doc_id"]: r["val"] for r in t.lookup(["k5"]).collect()}
    assert got == {"k5": 9999}
    info2 = t.build_key_blooms()
    assert not info2.skipped and info2.rows_written >= 1


def test_blooms_survive_compaction_conservatively(spark, tmp_path):
    """Compaction rewrites entries without blooms — stale sidecars must
    not produce false negatives afterwards."""
    t = _mk(spark, tmp_path, mode="mor")
    t.merge(
        spark.createDataFrame(
            [("k1", 777, 5)], "doc_id string, val long, lsn long"
        ),
        batch_id=1,
    )
    t.build_key_blooms()
    t.compact()
    got = {r["doc_id"]: r["val"] for r in t.lookup(["k1", "k2"]).collect()}
    assert got == {"k1": 777, "k2": 2}


def test_min_max_metadata_only_on_clean_table(spark, tmp_path, monkeypatch):
    t = _mk(spark, tmp_path, mode="cow", n=500)
    # the fast path must answer without ANY read of data rows
    monkeypatch.setattr(
        t, "_read_resolved", lambda *a, **k: pytest.fail("fast path scanned")
    )
    vals, meta_only = t.min_max(["val"])
    assert meta_only is True
    assert vals == {"val": (0, 499)}


def test_min_max_falls_back_exact_when_superseded_max_exists(spark, tmp_path):
    """The case metadata CANNOT answer: the physical max value was
    superseded by a lower LWW winner sitting in a delta. Footer stats
    still say 10499; the exact answer is 499."""
    t = _mk(spark, tmp_path, mode="mor", n=500)
    t.merge(
        spark.createDataFrame(
            [("k499", 10499, 5)], "doc_id string, val long, lsn long"
        ),
        batch_id=1,
    )
    t.merge(
        spark.createDataFrame(
            [("k499", 499, 6)], "doc_id string, val long, lsn long"
        ),
        batch_id=2,
    )
    vals, meta_only = t.min_max(["val"])
    assert meta_only is False
    assert vals == {"val": (0, 499)}


def test_min_max_excludes_string_stats(spark, tmp_path):
    """String footer min/max may be truncated by the writer — the fast
    path must refuse them and fall back (exactness over speed)."""
    t = _mk(spark, tmp_path, mode="cow", n=50)
    vals, meta_only = t.min_max(["doc_id"])
    assert meta_only is False
    assert vals["doc_id"] == ("k0", "k9")  # lexicographic


def test_expire_snapshots_sweeps_orphan_bloom_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path, mode="mor", n=100)
    t.build_key_blooms()
    bdir = os.path.join(t.path, "blooms")
    assert t.fs.listdir(bdir)
    # compaction rewrites every entry (blooms drop); expiring history with
    # zero grace must sweep the now-unreferenced sidecars
    t.compact()
    t.expire_snapshots(keep=1, orphan_grace_sec=0.0)
    left = [f for f in t.fs.listdir(bdir) if f.endswith(".bloom")]
    assert left == []
    # table still answers correctly afterwards
    assert t.lookup(["k1"]).collect()[0]["val"] == 1


def test_expire_snapshots_grace_window_covers_every_orphan_kind(spark, tmp_path):
    """Data files, bloom sidecars and bucket-manifest pages share one grace
    window: a young orphan of any kind survives the sweep, and past the
    window every remaining file is referenced by a surviving root."""
    t = _mk(spark, tmp_path, mode="mor", n=100)
    t.build_key_blooms()
    t.merge(
        spark.range(50, 150).select(
            F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
            (F.col("id") * 10).alias("val"),
            F.lit(2).alias("lsn"),
        ),
        batch_id=1,
    )
    t.compact()
    t.build_key_blooms()
    some = t._manifest()["files"][0]["path"]
    t.fs.copy(os.path.join(t.path, some), os.path.join(t.path, "data", "orphan.parquet"))
    t.fs.write_text(os.path.join(t.path, "manifests", "bm-orphan.json"), "[]")
    want = sorted(t.read().collect())

    def listing():
        return {
            "data": {f for f in t.fs.listdir(os.path.join(t.path, "data")) if f.endswith(".parquet")},
            "blooms": {f for f in t.fs.listdir(os.path.join(t.path, "blooms")) if f.endswith(".bloom")},
            "bm": {f for f in t.fs.listdir(os.path.join(t.path, "manifests")) if f.startswith("bm-")},
        }

    before = listing()
    t.expire_snapshots(keep=1, orphan_grace_sec=3600)
    young = listing()
    assert "orphan.parquet" in young["data"]
    assert young["blooms"] == before["blooms"]
    assert young["bm"] == before["bm"]

    t.expire_snapshots(keep=1, orphan_grace_sec=0.0)
    referenced = {"data": set(), "blooms": set(), "bm": set()}
    mdir = os.path.join(t.path, "manifests")
    for fn in t.fs.listdir(mdir):
        if fn.startswith("manifest-"):
            man = t._load_manifest_file(os.path.join(mdir, fn))
            referenced["bm"] |= {name for name, _ in man["_bm_cache"].values()}
            for fe in man["files"]:
                referenced["data"].add(os.path.basename(fe["path"]))
                if fe.get("dv"):
                    referenced["data"].add(os.path.basename(fe["dv"]["path"]))
                if fe.get("bloom"):
                    referenced["blooms"].add(os.path.basename(fe["bloom"]["file"]))
    assert listing() == referenced
    assert referenced["blooms"] and len(referenced["blooms"]) < len(before["blooms"])
    assert sorted(t.read().collect()) == want
    assert t.fsck()["ok"]


def test_read_as_of_timestamp(spark, tmp_path):
    """AS-OF-timestamp resolution: strictly-monotonic committed_at_us
    makes same-second commits unambiguous; reads at each commit's stamp
    reproduce that commit's state, pre-table timestamps raise."""
    import pytest as _pytest

    t = _mk(spark, tmp_path, mode="cow", n=20)
    ts0 = t._manifest()["committed_at_us"]
    t.merge(
        spark.createDataFrame(
            [("k1", 111, 9)], "doc_id string, val long, lsn long"
        ),
        batch_id=1,
    )
    ts1 = t._manifest()["committed_at_us"]
    assert ts1 > ts0
    assert t.read_as_of(ts0).filter(F.col("doc_id") == "k1").collect()[0]["val"] == 1
    assert t.read_as_of(ts1).filter(F.col("doc_id") == "k1").collect()[0]["val"] == 111
    # "now" resolves to head; prehistory raises
    assert t.read_as_of(ts1 + 10**9).count() == 20
    with _pytest.raises(ValueError):
        t.snapshot_as_of(0)


def test_fsck_reports_missing_bloom_sidecar(spark, tmp_path):
    t = _mk(spark, tmp_path, mode="mor", n=50)
    t.build_key_blooms()
    assert t.fsck(deep=False)["ok"]
    bdir = os.path.join(t.path, "blooms")
    victim = [f for f in t.fs.listdir(bdir) if f.endswith(".bloom")][0]
    t.fs.remove(os.path.join(bdir, victim))
    rep = t.fsck(deep=False)
    assert not rep["ok"]
    assert any(e["check"] == "missing_bloom" for e in rep["errors"])
    # reads remain correct: the probe is conservative on a lost sidecar
    assert t.lookup(["k1"]).collect()[0]["val"] == 1


def test_bloom_blob_cache_is_bounded(spark, tmp_path, monkeypatch):
    t = _mk(spark, tmp_path, mode="mor", n=100)
    t.build_key_blooms()
    monkeypatch.setattr(type(t), "_BLOOM_CACHE_MAX", 2)
    m = t._manifest(refresh=True)
    bloomed = [fe for fe in m["files"] if fe.get("bloom")]
    assert len(bloomed) > 2
    probes = [(1, 2)]
    for fe in bloomed:
        t._bloom_hits(fe, probes)
    assert len(t._bloom_blob_cache) <= 2


def test_clone_carries_bloom_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path, mode="mor", n=60)
    t.build_key_blooms()
    c = t.clone(os.path.join(str(tmp_path), "c"))
    rep = c.fsck(deep=False)
    assert rep["ok"], rep["errors"]
    assert c.lookup(["k3"]).collect()[0]["val"] == 3


def test_truncated_bloom_blob_degrades_conservatively(spark, tmp_path):
    t = _mk(spark, tmp_path, mode="mor", n=60)
    t.build_key_blooms()
    bdir = os.path.join(t.path, "blooms")
    victim = [f for f in t.fs.listdir(bdir) if f.endswith(".bloom")][0]
    with open(os.path.join(bdir, victim), "wb") as f:
        f.write(b"\x00")  # shorter than m/8
    got = {r["doc_id"]: r["val"] for r in t.lookup(["k3", "k7"]).collect()}
    assert got == {"k3": 3, "k7": 7}


def test_build_key_blooms_rejects_bad_fpp(spark, tmp_path):
    t = _mk(spark, tmp_path, mode="cow", n=10)
    with pytest.raises(ValueError):
        t.build_key_blooms(fpp=0.0)
    with pytest.raises(ValueError):
        t.build_key_blooms(fpp=1.5)
