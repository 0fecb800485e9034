"""M1: end-to-end replay — synthesize a change log, apply through the engine,
assert final-state equivalence vs the naive oracle (the reference's
diff-then-assert pattern lifted to tables), plus exactly-once redelivery and
partitioning-independence properties."""

import os

import pytest
from pyspark.sql import functions as F

from rap_etl_spark import engine as engine_mod
from rap_etl_spark.engine import CdcEngine, assert_equivalent, replay_log
from rap_etl_spark.lake import ManifestParquetTable
from rap_etl_spark.operators.cdc import lww_latest, lww_latest_salted
from rap_etl_spark.schemas import DOCS_SCHEMA
from rap_etl_spark.sources.synth import synthesize_events, write_event_log

from .oracle import assert_frames_equal, naive_final_state

N_EVENTS = 4000


@pytest.fixture(scope="module")
def event_log(spark, sf_small, tmp_path_factory):
    d = tmp_path_factory.mktemp("log")
    ev = synthesize_events(spark, sf_small, N_EVENTS, max_tok=16)
    write_event_log(ev, str(d), n_batches=4, n_events=N_EVENTS)
    return str(d)


def test_synthesis_properties(spark, event_log):
    ev = spark.read.parquet(event_log)
    n = ev.count()
    assert n > N_EVENTS  # includes duplicate deliveries
    dups = n - ev.dropDuplicates(["doc_id", "lsn"]).count()
    assert 0.02 * N_EVENTS < dups < 0.10 * N_EVENTS
    # first event per key is an insert
    firsts = ev.groupBy("doc_id").agg(F.min("lsn").alias("lsn")).join(
        ev, on=["doc_id", "lsn"]
    )
    assert firsts.filter(F.col("op") != "I").count() == 0
    # deletes carry null payloads
    assert ev.filter((F.col("op") == "D") & F.col("tokens").isNotNull()).count() == 0
    # determinism: regenerating yields the identical log
    ev2 = synthesize_events(spark, spark.conf.get("spark.__dummy", None) or
                            "/root/testdata/sf0.001", N_EVENTS, max_tok=16)
    h1 = ev.selectExpr("bit_xor(xxhash64(op, doc_id, lsn, tokens, n_tok, source, ingest_ts)) h").first()["h"]
    h2 = ev2.selectExpr("bit_xor(xxhash64(op, doc_id, lsn, tokens, n_tok, source, ingest_ts)) h").first()["h"]
    assert h1 == h2


def test_replay_matches_oracle(spark, event_log, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), DOCS_SCHEMA, n_buckets=8)
    replay_log(spark, t, event_log, lineage_dir=str(tmp_path / "lineage"))
    got = t.read().toPandas()
    want = naive_final_state(spark.read.parquet(event_log).toPandas())
    assert_frames_equal(got, want)
    # lineage covers the full LSN range with correct row counts
    lin = spark.read.parquet(str(tmp_path / "lineage"))
    ev = spark.read.parquet(event_log)
    assert lin.agg(F.sum("rows_applied")).first()[0] == ev.count()
    assert lin.agg(F.min("lsn_min")).first()[0] == 0
    assert lin.agg(F.max("lsn_max")).first()[0] == N_EVENTS - 1


def test_redelivery_is_noop(spark, event_log, tmp_path):
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), DOCS_SCHEMA, n_buckets=8)
    engine = CdcEngine(spark, t)
    for b in range(4):
        engine.apply_batch(spark.read.parquet(f"{event_log}/batch={b}"), batch_id=b)
    sid = t.snapshot_id()
    # redeliver batches 1 and 3 (simulated at-least-once source)
    m1 = engine.apply_batch(spark.read.parquet(f"{event_log}/batch=1"), batch_id=1)
    m3 = engine.apply_batch(spark.read.parquet(f"{event_log}/batch=3"), batch_id=3)
    assert m1.skipped and m3.skipped
    assert t.snapshot_id() == sid
    want = naive_final_state(spark.read.parquet(event_log).toPandas())
    assert_frames_equal(t.read().toPandas(), want)


def test_convergence_under_different_batch_splits(spark, event_log, tmp_path):
    """LWW determinism: the same event set in different batch partitionings
    converges to the identical final state."""
    ev = spark.read.parquet(event_log)
    # split A: 2 batches by lsn; split B: one batch; split C: odd/even lsn
    t_a = ManifestParquetTable.create(spark, str(tmp_path / "a"), DOCS_SCHEMA, n_buckets=8)
    e_a = CdcEngine(spark, t_a)
    e_a.apply_batch(ev.filter(F.col("lsn") < N_EVENTS // 2), batch_id=0)
    e_a.apply_batch(ev.filter(F.col("lsn") >= N_EVENTS // 2), batch_id=1)
    t_b = ManifestParquetTable.create(spark, str(tmp_path / "b"), DOCS_SCHEMA, n_buckets=8)
    CdcEngine(spark, t_b).apply_batch(ev, batch_id=0)
    t_c = ManifestParquetTable.create(spark, str(tmp_path / "c"), DOCS_SCHEMA, n_buckets=8)
    e_c = CdcEngine(spark, t_c)
    # adversarial order: apply the *newer* half first, then the older half
    e_c.apply_batch(ev.filter(F.col("lsn") % 2 == 1), batch_id=0)
    e_c.apply_batch(ev.filter(F.col("lsn") % 2 == 0), batch_id=1)
    assert_equivalent(t_a.read(), t_b.read())
    assert_equivalent(t_b.read(), t_c.read())


def _batch_ids(event_log):
    return sorted(
        int(d.split("=")[1]) for d in os.listdir(event_log) if d.startswith("batch=")
    )


def test_lww_variants_agree(spark, event_log):
    ev = spark.read.parquet(event_log)
    a = lww_latest(ev, strategy="join")
    b = lww_latest(ev, strategy="window")
    c = lww_latest_salted(ev, salt_buckets=4)
    for other in (b, c):
        diff = a.select("doc_id", "lsn").exceptAll(other.select("doc_id", "lsn"))
        assert diff.count() == 0
    assert a.count() == b.count() == c.count()


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_default_engine_merges_staged_delta_with_hints(
    spark, event_log, tmp_path, merge_mode
):
    """The engine's one apply path: every batch is staged, and the merge
    gets the exact row count observed on the staging write (plus the
    affected-bucket set for CoW, which reads the buckets it rewrites). The
    table directory holds no staging entry after any batch."""
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), DOCS_SCHEMA, n_buckets=8, merge_mode=merge_mode
    )
    calls = []
    merge = t.merge

    def recording_merge(changes, **kwargs):
        calls.append(kwargs)
        return merge(changes, **kwargs)

    t.merge = recording_merge
    eng = CdcEngine(spark, t)
    for b in _batch_ids(event_log):
        batch = spark.read.parquet(f"{event_log}/batch={b}")
        eng.apply_batch(batch, batch_id=b)
        kw = calls[-1]
        assert kw["batch_id"] == b
        assert kw["n_rows"] == batch.select("doc_id").distinct().count()
        if merge_mode == "cow":
            assert kw["affected_buckets"]
            assert kw["affected_buckets"] <= set(range(8))
        else:
            assert "affected_buckets" not in kw
        assert not [e for e in os.listdir(t.path) if e.startswith("_staging")]
    assert len(calls) == len(_batch_ids(event_log))
    want = naive_final_state(spark.read.parquet(event_log).toPandas())
    assert_frames_equal(t.read().toPandas(), want)


def test_replay_with_shuffled_winner_join(spark, event_log, tmp_path, monkeypatch):
    """BROADCAST_KEY_LIMIT=1 forces the shuffled (non-broadcast) winner
    join — the path large cluster batches (>5M keys) take — which must
    produce the identical final state."""
    monkeypatch.setattr(engine_mod, "BROADCAST_KEY_LIMIT", 1)
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "tsj"), DOCS_SCHEMA, n_buckets=8
    )
    eng = CdcEngine(spark, t, count_input=False)
    for b in _batch_ids(event_log):
        eng.apply_batch(
            spark.read.parquet(f"{event_log}/batch={b}"), batch_id=b
        )
    want = naive_final_state(spark.read.parquet(event_log).toPandas())
    assert_frames_equal(t.read().toPandas(), want)
