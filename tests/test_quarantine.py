"""X89 dead-letter quarantine: classifier, engine diversion, idempotency.

The classifier is a pure Catalyst expression (operators/quarantine.py), so
a clean batch costs zero extra jobs — the engine learns "any bad rows?"
from a df.observe counter on the staging pass. These tests pin the
classification contract (reasons, order), the engine-level divert/apply
split, exactly-once DLQ rewrites on redelivery, and that a clean batch
leaves no dead-letter directory at all.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

from rap_etl_spark.engine import CdcEngine
from rap_etl_spark.lake import ManifestParquetTable
from rap_etl_spark.operators.quarantine import (
    REASON_COL,
    quarantine_reason,
    read_quarantine,
)


SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("n_tok", T.IntegerType()),
    ]
)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "op string, doc_id string, lsn long, tokens array<int>, n_tok int"
    )


def test_classifier_reasons_and_order(spark):  # noqa: F811
    ev = _events(
        spark,
        [
            ("U", "a", 1, [1, 2], 2),        # valid
            ("X", "b", 2, [1], 1),           # bad_op
            ("U", None, 3, [1], 1),          # null_key
            ("U", "", 4, [1], 1),            # null_key (empty)
            ("U", "c", -5, [1], 1),          # bad_lsn
            ("U", "d", 6, [1, 2, 3], 2),     # ntok_mismatch
            ("X", None, -7, [9], 3),         # all four, classifier order
            ("D", "e", 8, None, None),       # delete: null payload is valid
        ],
    )
    got = {
        r["lsn"]: r["why"]
        for r in ev.select(
            "lsn", quarantine_reason(ev).alias("why")
        ).collect()
    }
    assert got[1] is None
    assert got[2] == "bad_op"
    assert got[3] == "null_key"
    assert got[4] == "null_key"
    assert got[-5] == "bad_lsn"
    assert got[6] == "ntok_mismatch"
    assert got[-7] == "bad_op,null_key,bad_lsn,ntok_mismatch"
    assert got[8] is None


def test_classifier_packed_blob(spark):  # noqa: F811
    ev = spark.createDataFrame(
        [
            ("U", "a", 1, bytes(8), 2),   # valid: 8 bytes = 2 int32
            ("U", "b", 2, bytes(7), 2),   # torn_blob (7 % 4 != 0)
            ("U", "c", 3, bytes(8), 3),   # ntok_mismatch (2 != 3)
            ("D", "d", 4, None, None),    # delete: valid
        ],
        "op string, doc_id string, lsn long, tokens_bin binary, n_tok int",
    )
    got = {
        r["lsn"]: r["why"]
        for r in ev.select("lsn", quarantine_reason(ev).alias("why")).collect()
    }
    assert got[1] is None
    assert got[2] == "torn_blob"
    assert got[3] == "ntok_mismatch"
    assert got[4] is None


def test_engine_diverts_and_applies(spark, tmp_path):  # noqa: F811
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    ev = _events(
        spark,
        [
            ("U", "a", 1, [1], 1),
            ("U", "a", 2, [1], 1),          # LWW winner for a
            ("X", "a", 3, [1], 1),          # bad op MUST NOT win LWW
            ("U", None, 4, [1], 1),
            ("U", "b", -1, [1], 1),
        ],
    )
    m = eng.apply_batch(ev, batch_id=0)
    assert m.quarantined_rows == 3
    assert m.input_rows == 5          # delivered = valid + dead letters
    state = {r["doc_id"]: r["lsn"] for r in t.read().collect()}
    # 'a' wins at lsn=2 (the bad lsn=3 event was diverted); 'b' never lands
    assert state == {"a": 2}
    dead = read_quarantine(spark, qdir)
    got = {r["lsn"]: r[REASON_COL] for r in dead.collect()}
    assert got == {3: "bad_op", 4: "null_key", -1: "bad_lsn"}
    assert set(dead.columns) >= {"op", "doc_id", "lsn", REASON_COL, "batch"}


def test_clean_batch_writes_nothing(spark, tmp_path):  # noqa: F811
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    m = eng.apply_batch(
        _events(spark, [("U", "a", 1, [1], 1), ("U", "b", 2, [2], 1)]),
        batch_id=0,
    )
    assert m.quarantined_rows == 0
    assert t.read().count() == 2
    assert not os.path.exists(qdir)  # no dead letters -> no dir, no job


def test_empty_batch_with_quarantine_on(spark, tmp_path):  # noqa: F811
    """Regression: an empty batch short-circuits before any action scans
    the observed plan, so Observation.get raises — the engine must fall
    back to a direct count, not crash."""
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    m = eng.apply_batch(_events(spark, []), batch_id=0)
    assert m.applied_rows == 0 and m.quarantined_rows == 0
    assert not os.path.exists(qdir)


def test_all_bad_batch_still_writes_dlq(spark, tmp_path):  # noqa: F811
    """Regression: when EVERY row is quarantined the valid set is empty
    and AQE propagates the empty relation past the CollectMetrics node —
    the observation never fires, but the dead letters must still be
    counted AND written (this is precisely the batch an operator most
    needs the DLQ for)."""
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    m = eng.apply_batch(
        _events(spark, [("X", None, -1, [1], 9), ("Z", "", -2, [1], 9)]),
        batch_id=0,
    )
    assert m.applied_rows == 0 and m.quarantined_rows == 2
    assert m.input_rows == 2
    assert t.read().count() == 0
    dead = read_quarantine(spark, qdir)
    assert dead.count() == 2


def test_redelivery_rewrites_identical_dlq(spark, tmp_path):  # noqa: F811
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    qdir = str(tmp_path / "dlq")
    ev = _events(spark, [("U", "a", 1, [1], 1), ("X", "b", 2, [1], 1)])
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    eng.apply_batch(ev, batch_id=0)
    first = sorted(r["lsn"] for r in read_quarantine(spark, qdir).collect())
    # redelivery: the ledger skips the merge BEFORE classification runs,
    # so the DLQ is untouched — and a fresh engine re-applying the same
    # batch id is also a no-op end to end
    m2 = CdcEngine(spark, t, quarantine_dir=qdir).apply_batch(ev, batch_id=0)
    assert m2.skipped
    again = sorted(r["lsn"] for r in read_quarantine(spark, qdir).collect())
    assert first == again == [2]


def test_quarantine_off_is_passthrough(spark, tmp_path):  # noqa: F811
    # default None: malformed rows flow to the merge exactly as before
    # (upstream hygiene is the operator's problem) — no behavior change
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), SCHEMA, n_buckets=4)
    eng = CdcEngine(spark, t)
    m = eng.apply_batch(
        _events(spark, [("U", "a", 1, [1], 1), ("U", "a", 3, [1], 9)]),
        batch_id=0,
    )
    assert m.quarantined_rows == 0
    assert {r["lsn"] for r in t.read().collect()} == {3}


def test_cli_replay_quarantine(spark, tmp_path):  # noqa: F811
    # the --quarantine flag threads through to the engine
    from rap_etl_spark import cli

    log = tmp_path / "log"
    _events(
        spark,
        [("U", "a", 1, [1], 1), ("X", "bad", 2, [1], 1), ("U", "b", 3, [2], 1)],
    ).write.parquet(str(log / "batch=0"))
    cli.main(
        ["init", "--table", str(tmp_path / "t"), "--buckets", "4", "--schema", "v1"]
    )
    cli.main(
        [
            "replay",
            "--table",
            str(tmp_path / "t"),
            "--log",
            str(log),
            "--quarantine",
            str(tmp_path / "dlq"),
        ]
    )
    dead = read_quarantine(spark, str(tmp_path / "dlq"))
    assert [r["lsn"] for r in dead.collect()] == [2]
    t = ManifestParquetTable(spark, str(tmp_path / "t"))
    assert {r["doc_id"] for r in t.read().collect()} == {"a", "b"}


# --- X103 requeue (replay-after-fix) ---------------------------------------


def test_requeue_after_fix_applies_and_marks(spark, tmp_path):  # noqa: F811
    """Poisoned rows (ntok_mismatch) quarantine, a --set style repair
    re-ingests them exactly-once with their ORIGINAL LSNs (late-delivery
    convergence), unfixable rows stay dead, consumed leaves are marked so
    a second requeue is a no-op."""
    from rap_etl_spark.engine import requeue_quarantine

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4
    )
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    ev = _events(
        spark,
        [
            ("U", "a", 1, [1, 2], 2),        # valid
            ("U", "b", 2, [1, 2, 3], 99),    # ntok_mismatch -> dead
            ("U", "a", 3, [7], 99),          # dead; on requeue must BEAT lsn=1
            ("X", "c", 4, [1], 1),           # bad_op: no fix can save it
        ],
    )
    m = eng.apply_batch(ev, batch_id=0)
    assert m.quarantined_rows == 3
    assert {r["doc_id"]: r["lsn"] for r in t.read().collect()} == {"a": 1}

    m2 = requeue_quarantine(
        spark, eng, qdir, batch_id=100, fixes={"n_tok": "size(tokens)"}
    )
    assert m2 is not None and not m2.skipped
    state = {r["doc_id"]: (r["lsn"], r["n_tok"]) for r in t.read().collect()}
    # a's requeued lsn=3 superseded the live lsn=1; b entered repaired
    assert state == {"a": (3, 1), "b": (2, 3)}
    # second requeue: leaves are marked, nothing to do, no commit
    assert requeue_quarantine(spark, eng, qdir, batch_id=101) is None
    # the unfixable row is still in the DLQ record (audit is append-only)
    dead = read_quarantine(spark, qdir)
    assert {r["lsn"] for r in dead.collect()} == {2, 3, 4}


def test_requeue_consumes_new_leaves_only(spark, tmp_path):  # noqa: F811
    """requeue(N) marks only the leaves it consumed; dead letters arriving
    AFTER it are picked up by the next requeue under a fresh batch id."""
    from rap_etl_spark.engine import requeue_quarantine

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4
    )
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    eng.apply_batch(
        _events(spark, [("U", "a", 1, [1, 2], 9)]), batch_id=0
    )
    assert requeue_quarantine(
        spark, eng, qdir, batch_id=100, fixes={"n_tok": "size(tokens)"}
    ) is not None
    eng.apply_batch(
        _events(spark, [("U", "b", 2, [5], 9)]), batch_id=1
    )
    m = requeue_quarantine(
        spark, eng, qdir, batch_id=101, fixes={"n_tok": "size(tokens)"}
    )
    assert m is not None and m.applied_rows == 1
    state = {r["doc_id"]: r["n_tok"] for r in t.read().collect()}
    assert state == {"a": 2, "b": 1}


def test_requeue_crash_rerun_marks_only_recorded_leaves(spark, tmp_path):  # noqa: F811
    """Crash-recovery soundness: a rerun with the same batch_id must
    consume the leaf set RECORDED in the pending manifest, not a fresh
    listing — dead letters arriving between the crashed commit and the
    rerun would otherwise be ledger-skipped yet marked consumed (rows
    silently lost)."""
    import json

    from pyspark.sql import functions as F

    from rap_etl_spark.engine import requeue_quarantine

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4
    )
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    eng.apply_batch(_events(spark, [("U", "a", 1, [1, 2], 9)]), batch_id=0)
    # Simulate requeue(100) crashing right after its ledger commit: the
    # pending manifest exists, the repaired rows are committed, but no
    # leaf carries a marker yet.
    pending = os.path.join(qdir, "_requeue-pending-100")
    with open(pending, "w") as f:
        json.dump(["batch=0"], f)
    fixed = (
        spark.read.parquet(os.path.join(qdir, "batch=0"))
        .drop(REASON_COL)
        .withColumn("n_tok", F.expr("size(tokens)"))
    )
    eng.apply_batch(fixed, batch_id=100)
    # a NEW dead letter lands between the crash and the rerun
    eng.apply_batch(_events(spark, [("U", "b", 2, [5], 9)]), batch_id=1)
    # rerun: ledger-skips the apply, marks ONLY the recorded batch=0
    m = requeue_quarantine(
        spark, eng, qdir, batch_id=100, fixes={"n_tok": "size(tokens)"}
    )
    assert m is not None and m.skipped
    assert not os.path.exists(pending)
    assert os.path.exists(os.path.join(qdir, "batch=0", "_requeued-100"))
    assert not any(
        x.startswith("_requeued")
        for x in os.listdir(os.path.join(qdir, "batch=1"))
    )
    # the new leaf is still requeue-able under a fresh id
    m2 = requeue_quarantine(
        spark, eng, qdir, batch_id=101, fixes={"n_tok": "size(tokens)"}
    )
    assert m2 is not None and m2.applied_rows == 1
    state = {r["doc_id"]: r["n_tok"] for r in t.read().collect()}
    assert state == {"a": 2, "b": 1}


def test_requeue_reusing_committed_id_refuses_new_leaves(spark, tmp_path):  # noqa: F811
    """A completed requeue's batch id is in the ledger: reusing it for dead
    letters that arrived later must refuse before marking them, since the
    ledger would skip the apply and the marker would drop their rows."""
    import pytest

    from rap_etl_spark.engine import requeue_quarantine

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4
    )
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    fix = {"n_tok": "size(tokens)"}
    eng.apply_batch(_events(spark, [("U", "a", 1, [1, 2], 9)]), batch_id=0)
    assert requeue_quarantine(spark, eng, qdir, batch_id=101, fixes=fix) is not None
    eng.apply_batch(_events(spark, [("U", "b", 2, [5], 9)]), batch_id=1)
    with pytest.raises(ValueError, match="already committed"):
        requeue_quarantine(spark, eng, qdir, batch_id=101, fixes=fix)
    assert not any(
        x.startswith("_requeued")
        for x in os.listdir(os.path.join(qdir, "batch=1"))
    )
    assert not os.path.exists(os.path.join(qdir, "_requeue-pending-101"))
    m = requeue_quarantine(spark, eng, qdir, batch_id=102, fixes=fix)
    assert m is not None and m.applied_rows == 1
    state = {r["doc_id"]: r["n_tok"] for r in t.read().collect()}
    assert state == {"a": 2, "b": 1}


def test_requeue_still_invalid_rows_stay_requeueable(spark, tmp_path):  # noqa: F811
    """Rows a requeue could NOT repair are rewritten into a fresh
    unmarked leaf, so a later requeue with a better fix picks them up —
    'stays dead' is not 'dead forever'."""
    from rap_etl_spark.engine import requeue_quarantine

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4
    )
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    eng.apply_batch(
        _events(
            spark,
            [
                ("U", "a", 1, [1, 2], 9),  # ntok_mismatch: n_tok fix saves it
                ("X", "c", 4, [1], 1),     # bad_op: n_tok fix cannot
            ],
        ),
        batch_id=0,
    )
    m = requeue_quarantine(
        spark, eng, qdir, batch_id=100, fixes={"n_tok": "size(tokens)"}
    )
    assert m is not None and m.applied_rows == 1
    # the unfixable row moved to a fresh unmarked leaf under the requeue id
    assert os.path.isdir(os.path.join(qdir, "batch=100"))
    assert not any(
        x.startswith("_requeued")
        for x in os.listdir(os.path.join(qdir, "batch=100"))
    )
    # a second requeue with the RIGHT fix repairs it
    m2 = requeue_quarantine(
        spark, eng, qdir, batch_id=101, fixes={"op": "'U'"}
    )
    assert m2 is not None and m2.applied_rows == 1
    state = {r["doc_id"]: r["lsn"] for r in t.read().collect()}
    assert state == {"a": 1, "c": 4}


def test_cli_requeue(spark, tmp_path):  # noqa: F811
    from rap_etl_spark.cli import main

    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4
    )
    qdir = str(tmp_path / "dlq")
    eng = CdcEngine(spark, t, quarantine_dir=qdir)
    eng.apply_batch(
        _events(spark, [("U", "a", 1, [1, 2], 9)]), batch_id=0
    )
    assert main(
        ["requeue", "--table", str(tmp_path / "t"), "--quarantine", qdir,
         "--batch-id", "100", "--set", "n_tok=size(tokens)"]
    ) == 0
    t2 = ManifestParquetTable(spark, str(tmp_path / "t"))
    assert {r["n_tok"] for r in t2.read().collect()} == {2}
    # idempotent redelivery of the same requeue
    assert main(
        ["requeue", "--table", str(tmp_path / "t"), "--quarantine", qdir,
         "--batch-id", "100", "--set", "n_tok=size(tokens)"]
    ) == 0
