"""Tests of the benchmark's own logic: span arithmetic, event-log folding,
batch classification, order statistics, the oracle and failure counting.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
None of these start Spark.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import data, stats, trace
from perfbench.run import Pass

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures")


def span(sid, name, parent, start, end):
    return {"id": sid, "name": name, "parent": parent, "run": "t", "start": start, "end": end}


# ---------- spans ----------


def test_self_time_subtracts_children_once():
    spans = [
        span(0, "engine.apply_batch", None, 0.0, 10.0),
        span(1, "lake.merge", 0, 2.0, 5.0),
        span(2, "lake.delta_depth", 0, 4.0, 6.0),  # overlaps the merge: counted once
        span(3, "lake.materialize", 0, 8.0, 12.0),  # runs past the parent: clipped
        span(4, "lake.read", 1, 3.0, 4.0),  # grandchild: already inside the merge
    ]
    kids = trace.children(spans)

    def self_time(sid):
        return trace.length(trace.self_intervals(spans[sid], kids[sid]))

    assert self_time(0) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(1) == pytest.approx(2.0)
    assert self_time(4) == pytest.approx(1.0)
    assert trace.subtree(spans, 1) == {1, 4}


def test_interval_subtract_and_union():
    assert trace.union([(3, 4), (0, 1), (0.5, 2), (2, 2)]) == [(0, 2), (3, 4)]
    assert trace.subtract([(0, 10)], [(1, 2), (1.5, 3), (9, 11)]) == [(0, 1), (3, 9)]
    assert trace.length(trace.subtract([(0, 1)], [(0, 1)])) == 0


def test_tracer_nests_and_patched_restores():
    class Lake:
        def merge(self, x):
            return x + 1

    tr = trace.Tracer("t")
    original = Lake.merge
    with trace.patched(tr, [(Lake, "merge", "lake.merge")]):
        with tr.span("engine.apply_batch"):
            assert Lake().merge(1) == 2
    assert Lake.merge is original
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("engine.apply_batch", None),
        ("lake.merge", 0),
    ]
    assert tr.count("lake.merge") == 1


def test_tracer_cost_leaves_out_the_span_body():
    tr = trace.Tracer("t")
    with tr.span("engine.apply_batch"):
        time.sleep(0.05)
    assert 0.0 < tr.cost_s < 0.05


# ---------- event log ----------


def test_fold_recorded_event_log():
    """A Spark 4.1.2 log of two jobs run under span 7 and two without a span,
    trimmed to the fields the fold reads."""
    events = trace.read_event_log(FIXTURE)
    jobs, tasks = trace.fold_event_log(events)
    assert jobs == {7: 2}
    assert len(tasks) == 6 and sum(t["span"] == 7 for t in tasks) == 3
    mine = trace.costs({7}, jobs, tasks, [])
    assert mine["jobs"] == 2
    assert mine["run_s"] == pytest.approx((233 + 229 + 79) / 1000)
    assert mine["cpu_s"] == pytest.approx((168596778 + 98244303 + 78498071) / 1e9)
    assert mine["gc_s"] == pytest.approx(0.022)
    assert mine["shuffle_write_bytes"] == 724
    assert mine["input_rows"] == 1000  # "Records Read", where "Bytes Read" says 0
    # one second of wall time; tasks of any span ran for 0.339 + 0.107 + 0.033 s of it
    t0 = 1792193278.0
    idle = trace.costs({7}, jobs, tasks, [(t0, t0 + 1.0)])["driver_only_s"]
    assert idle == pytest.approx(1.0 - 0.339 - 0.107 - 0.033, abs=1e-6)


# ---------- statistics and batch classes ----------


def test_median_and_percentile_rule():
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile([5.0], 99) == 5.0
    # the highest percentile with at least ten samples beyond it
    assert stats.tail_quantile(19) is None
    assert stats.tail_quantile(20) == 50.0
    assert stats.tail_quantile(100) == 90.0
    assert stats.tail_quantile(200) == 95.0
    assert stats.tail_quantile(1000) == 99.0
    assert stats.summary(xs) == {"n": 100, "p50": 50.5, "p90": 90.0}
    with pytest.raises(ValueError):
        stats.median([])


def test_split_commits_separates_maintenance_batches():
    batches = [
        {"apply_s": 1.0, "inline_maint": False, "maint_s": None},
        {"apply_s": 3.0, "inline_maint": True, "maint_s": None},
        {"apply_s": 1.2, "inline_maint": False, "maint_s": 0.5},
        {"apply_s": 4.0, "inline_maint": True, "maint_s": 0.25},
    ]
    ordinary, maint = stats.split_commits(batches)
    assert ordinary == [1.0]
    assert maint == [3.0, 1.7, 4.25]


# ---------- oracle and input fingerprint ----------


def blob(tokens):
    return b"".join(int(t).to_bytes(4, "little", signed=True) for t in tokens)


def write_log(root, batches):
    schema = pa.schema(
        [
            ("op", pa.string()),
            ("doc_id", pa.string()),
            ("lsn", pa.int64()),
            ("tokens_bin", pa.binary()),
            ("n_tok", pa.int32()),
            ("source", pa.string()),
        ]
    )
    for b, rows in enumerate(batches):
        os.makedirs(os.path.join(root, f"batch={b}"))
        cols = list(zip(*rows))
        pq.write_table(
            pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema),
            os.path.join(root, f"batch={b}", "part-0.parquet"),
        )


LOG = [
    [
        ("I", "doc-1", 1, blob([5, 6, 7]), 3, "src0"),
        ("I", "doc-2", 2, blob([9]), 1, "src1"),
        ("I", "doc-3", 3, blob([1, 2]), 2, "src2"),
        ("I", "doc-3", 3, blob([1, 2]), 2, "src2"),  # duplicate delivery
    ],
    [
        ("U", "doc-1", 4, blob([8, 8]), 2, "src3"),
        ("D", "doc-2", 5, None, None, None),
        ("U", "doc-3", 6, blob([50256, 0, 3]), 3, "src2"),
    ],
]


def test_oracle_replays_last_writer_and_drops_deletes(tmp_path):
    write_log(str(tmp_path), LOG)
    first = data.oracle_state(str(tmp_path), [0])
    assert sorted(first["doc_id"]) == ["doc-1", "doc-2", "doc-3"]
    both = data.oracle_state(str(tmp_path), [0, 1]).set_index("doc_id")
    assert sorted(both.index) == ["doc-1", "doc-3"]
    assert both.loc["doc-1", "n_tok"] == 2 and both.loc["doc-1", "source"] == "src3"
    d1, d2 = data.token_digests([blob([8, 8]), blob([50256, 0, 3])])
    assert both.loc["doc-1", "d1"] == d1[0] and both.loc["doc-3", "d2"] == d2[1]


def test_token_digests_match_reference_loop():
    seqs = [[], [1], [50256, 7, 0, 42], list(range(64))]
    d1, d2 = data.token_digests([blob(s) for s in seqs] + [None])
    for i, seq in enumerate(seqs + [[]]):
        for base, got in zip(data.DIGEST_BASES, (d1, d2)):
            acc = 0
            for t in seq:
                acc = (acc * base + t) % data.DIGEST_MOD
            assert got[i] == acc


@pytest.mark.parametrize(
    "plant",
    [
        lambda df: df.assign(d1=df["d1"].where(df["doc_id"] != "doc-3", 12345)),
        lambda df: df.assign(source=df["source"].where(df["doc_id"] != "doc-1", "srcX")),
        lambda df: df[df["doc_id"] != "doc-1"],
        lambda df: pd.concat([df, pd.DataFrame([["doc-2", 1, "src1", 9, 9]], columns=df.columns)]),
        lambda df: pd.concat([df, df.iloc[:1]]),
    ],
    ids=["tokens", "source", "missing-key", "deleted-key-alive", "duplicate-key"],
)
def test_oracle_rejects_planted_wrong_row(tmp_path, plant):
    write_log(str(tmp_path), LOG)
    expected = data.oracle_state(str(tmp_path), [0, 1])
    assert data.compare(expected, expected.copy()) == []
    assert data.compare(expected, plant(expected.copy()))


def test_fingerprint_is_order_independent_and_sees_duplicates(tmp_path):
    import duckdb

    write_log(str(tmp_path / "a"), LOG)
    write_log(str(tmp_path / "b"), [LOG[1], LOG[0]])
    write_log(str(tmp_path / "c"), [LOG[0][:3], LOG[1]])  # one duplicate fewer
    with duckdb.connect() as con:
        fps = [
            data.fingerprint(con, [data.batch_files(str(tmp_path / d), b) for b in (0, 1)])
            for d in "abc"
        ]
    assert fps[0] == fps[1]
    assert fps[0]["rows"] == 7 and fps[0]["distinct_keys"] == 3
    assert fps[2]["checksum"] != fps[0]["checksum"]


# ---------- log description ----------


def test_describe_log_is_seeded(tmp_path):
    """The same seed gives the same metadata; lookup keys are distinct keys
    live after the seed batch."""
    write_log(str(tmp_path), LOG)
    first = data.describe_log(str(tmp_path), 2, seed=9, n_lookup=2)
    assert data.describe_log(str(tmp_path), 2, seed=9, n_lookup=2) == first
    assert first["batch_rows"] == [4, 3]
    assert first["fingerprint"]["rows"] == 7
    keys = first["lookup_keys"]
    assert len(set(keys)) == 2 and set(keys) <= {"doc-1", "doc-2", "doc-3"}


# ---------- failure counting ----------


def test_publish_error_counts_as_failed_operation():
    res = Pass()
    results = {
        3: {"batch_id": 3, "published": False, "rows": 0, "error": "snapshot expired"},
        4: {"batch_id": 4, "published": False, "rows": 0},
        5: {"batch_id": 5, "published": True, "rows": 7},
    }
    for b, r in results.items():
        res.record_publish(b, *res.attempt(f"publish_changes({b})", lambda r=r: (r, 0.5)))
    assert (res.attempted, res.failed) == (3, 2)
    assert res.publish_s == [0.5] and res.publish_rows == [7]


def test_raised_exception_counts_as_failed_operation():
    res = Pass()

    def boom():
        raise RuntimeError("commit conflict")

    assert res.attempt("apply_batch(0)", boom) is None
    assert res.attempt("lookup(0)", lambda: 0.25) == 0.25
    assert (res.attempted, res.failed) == (2, 1)
    assert "commit conflict" in res.errors[0]
