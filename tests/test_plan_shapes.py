"""Plan-shape assertions (SURVEY.md §4): pushdown, pruning, join strategy,
aggregation kind, Arrow-only Python. A regression here is a performance bug
even when results stay correct."""

from pyspark.sql import functions as F

from rap_etl_spark.operators.cdc import lww_latest
from rap_etl_spark.operators.relational import (
    q_agg_pricing_summary,
    q_filter_pred,
    q_join_broadcast,
    q_scan_lineitem,
    q_topk_orders,
)
from rap_etl_spark.plans.explain import (
    agg_kinds,
    count_exchanges,
    formatted_plan,
    has_pushed_filter,
    join_kinds,
    read_columns,
)


def test_filter_pushdown_reaches_scan(spark, sf_oracle):
    df = q_filter_pred(spark, sf_oracle)
    assert has_pushed_filter(df, "LessThan(l_quantity,24")


def test_column_pruning(spark, sf_oracle):
    df = q_scan_lineitem(spark, sf_oracle)
    cols = read_columns(df)
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity"}
    # the 11-column table is NOT fully read for a 3-column projection
    assert "l_extendedprice" not in cols


def test_small_dim_broadcasts(spark, sf_oracle):
    df = q_join_broadcast(spark, sf_oracle)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_agg_uses_hash_aggregate(spark, sf_oracle):
    df = q_agg_pricing_summary(spark, sf_oracle)
    kinds = agg_kinds(df)
    assert "HashAggregate" in kinds
    assert "SortAggregate" not in kinds


def test_topk_avoids_global_sort(spark, sf_oracle):
    plan = formatted_plan(q_topk_orders(spark, sf_oracle))
    assert "TakeOrderedAndProject" in plan


def test_lww_join_strategy_keeps_fixed_width_agg(spark, sf_small):
    """The winner aggregation must stay HashAggregate (fixed-width max(lsn)
    buffer); arrays flowing through an agg buffer would force SortAggregate
    — the regression this engine explicitly designs against."""
    from rap_etl_spark.sources.synth import synthesize_events

    ev = synthesize_events(spark, sf_small, 500, max_tok=4)
    df = lww_latest(ev, strategy="join")
    kinds = agg_kinds(df)
    assert "HashAggregate" in kinds
    plan = formatted_plan(df)
    assert "partial_max" in plan  # map-side combine present


def test_merge_plan_reads_only_affected_buckets(spark, sf_small, tmp_path):
    """Bucket pruning: a merge touching one key reads one bucket's file(s),
    not the whole table (checked via the manifest-selected file list)."""
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.schemas import DOCS_SCHEMA

    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), DOCS_SCHEMA, n_buckets=16)
    rows = [(f"doc-{i}", [1], 1, "s") for i in range(200)]
    t.append(spark.createDataFrame(rows, DOCS_SCHEMA), batch_id=0)
    m = t._manifest()
    ch = spark.createDataFrame(
        [("doc-3", "U", 99, [9], 1, "s")],
        "doc_id string, op string, lsn long, tokens array<int>, n_tok int, source string",
    )
    bucket = ch.select(t._bucket_expr("doc_id").alias("b")).first()["b"]
    affected = [fe for fe in m["files"] if fe["bucket"] == bucket]
    untouched = [fe for fe in m["files"] if fe["bucket"] != bucket]
    assert len(affected) >= 1 and len(untouched) >= 10
    t.merge(ch, batch_id=1)
    m2 = t._manifest()
    # untouched buckets kept their exact files (no rewrite, no read needed)
    kept = {fe["path"] for fe in m2["files"]}
    assert all(fe["path"] in kept for fe in untouched)


def test_packed_winners_scan_prunes_blob(spark, sf_small):
    """Packed WAL: the winners aggregation (max lsn per key) must not read
    the tokens_bin blob column — pruning to (doc_id, lsn) is what makes the
    first pass ~free at 10^10-event scale."""
    from rap_etl_spark.sources.synth import synthesize_events

    ev = synthesize_events(spark, sf_small, 500, max_tok=4, packed=True)
    import tempfile

    d = tempfile.mkdtemp(prefix="rap-etl-plan-") + "/log"
    ev.write.mode("overwrite").parquet(d)
    logdf = spark.read.parquet(d)
    winners = logdf.groupBy("doc_id").agg(F.max("lsn").alias("lsn"))
    cols = read_columns(winners)
    assert "tokens_bin" not in cols, cols
    assert "doc_id" in cols and "lsn" in cols


def test_packed_winner_probe_broadcasts_winners(spark, sf_small):
    """The LWW payload fetch is the production winner_probe join (single
    xxhash64 long key + exact re-check) against a broadcast winner set:
    the multi-GB event scan must never shuffle (only the tiny winner set
    moves). This asserts the exact join shape engine.apply_batch builds."""
    from pyspark.sql import functions as F2

    from rap_etl_spark.operators.cdc import winner_probe
    from rap_etl_spark.sources.synth import synthesize_events

    ev = synthesize_events(spark, sf_small, 500, max_tok=4, packed=True)
    w = ev.groupBy("doc_id").agg(F2.max("lsn").alias("lsn"))
    latest = winner_probe(ev, F2.broadcast(w))
    kinds = join_kinds(latest)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds
    plan = formatted_plan(latest)
    # the join key is the single xxhash64 long (LongHashedRelation probe),
    # and the winner side reaches the join via a broadcast exchange
    assert "xxhash64" in plan
    assert "BroadcastExchange" in plan


def test_embed_neardup_no_cartesian(spark, sf_oracle):
    """Near-dup candidate generation must never plan an all-pairs product:
    candidates come from the (band, bucket) equi-join."""
    from rap_etl_spark.operators.pipeline_queries import q_embed_neardup

    df = q_embed_neardup(spark, sf_oracle)
    kinds = join_kinds(df)
    assert kinds, "expected joins in the near-dup plan"
    assert all("Cartesian" not in k and "NestedLoop" not in k for k in kinds)


def test_lm_score_vocab_broadcasts(spark, sf_oracle):
    """The unigram-LM scoring join must broadcast the tiny vocab frame,
    not shuffle the exploded word table against it."""
    from rap_etl_spark.operators.pipeline_queries import q_text_lm_score

    df = q_text_lm_score(spark, sf_oracle)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds
    assert "SortMergeJoin" not in kinds


def test_zorder_key_is_jvm_only(spark, sf_oracle):
    """The Morton key is one codegen'd expression: no Python eval, no
    exchange — a pure scan+project."""
    from rap_etl_spark.operators.tpch_queries3 import q_fn_zorder

    df = q_fn_zorder(spark, sf_oracle)
    plan = formatted_plan(df)
    assert "Python" not in plan and "BatchEval" not in plan
    assert count_exchanges(df) == 0


def test_mor_clean_read_has_no_resolution_shuffle(spark, tmp_path):
    """A read of a pure-CoW (or fully materialized) table must bypass the
    MoR resolver entirely: no aggregate, no exchange — just the scan.
    Dirty buckets add exactly one HashAggregate branch for the resolved
    subset; clean buckets keep streaming shuffle-free."""
    from pyspark.sql import types as T

    from rap_etl_spark.lake import ManifestParquetTable

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), schema, n_buckets=2, merge_mode="mor"
    )
    ch = spark.createDataFrame(
        [("a", "U", 1, 10), ("b", "U", 2, 20)],
        "doc_id string, op string, lsn long, v long",
    )
    t.merge(ch, batch_id=0)
    dirty_plan = formatted_plan(t.read())
    # resolver active while dirty (max_by over a struct ordering key plans
    # as SortAggregate/ObjectHashAggregate depending on version)
    assert "Aggregate" in dirty_plan
    t.materialize_deltas()
    clean_plan = formatted_plan(t.read())
    assert "Aggregate" not in clean_plan
    assert count_exchanges(t.read()) == 0


def test_token_chunk_is_narrow_jvm_map(spark, sf_oracle):
    """Chunking must be a pure map stage: no shuffle, no Python eval."""
    from rap_etl_spark.operators.pipeline_queries import q_token_chunk

    df = q_token_chunk(spark, sf_oracle)
    plan = formatted_plan(df)
    assert "Python" not in plan and "BatchEval" not in plan
    assert count_exchanges(df) == 0


def test_decontaminate_broadcasts_eval_ngrams(spark, sf_oracle):
    """The training corpus must stream through a broadcast probe of the
    (small) eval n-gram set — the corpus itself is never shuffled; the
    only corpus-side exchange is the per-doc match count."""
    from rap_etl_spark.operators.pipeline_queries import q_decontaminate

    plan = formatted_plan(q_decontaminate(spark, sf_oracle))
    assert "BroadcastHashJoin" in plan


def test_posting_list_caps_before_collect(spark, sf_oracle):
    """Round-2 VERDICT scale bug: collect_list-then-slice buffered the FULL
    posting list per word (O(corpus) for a stop word). The fixed plan must
    (a) cap rows per word BEFORE the aggregate — Spark materializes the
    rank filter as a WindowGroupLimit below the Window — and (b) reuse the
    word hash partitioning for the final agg: exactly two exchanges
    (distinct, then word), none between the window and the collect."""
    from rap_etl_spark.operators.pipeline_queries import q_posting_list

    df = q_posting_list(spark, sf_oracle)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert count_exchanges(df) == 2


def test_read_range_type_mismatch_keeps_file(spark, tmp_path):
    """A caller bound whose type mismatches a file's JSON-restored col_stats
    must degrade to 'keep the file' (pruning is an optimization), not raise
    TypeError (ADVICE r2)."""
    from pyspark.sql import types as T

    from rap_etl_spark.lake import ManifestParquetTable

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("val", T.StringType()),
        ]
    )
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), schema, n_buckets=2)
    t.append(
        spark.createDataFrame(
            [(f"k{i}", f"v{i}") for i in range(20)], "doc_id string, val string"
        ),
        batch_id=0,
        assume_unique=True,
    )
    # int bounds against string stats: the driver-side prune (overlaps())
    # runs inside read_range — it must not raise TypeError and must keep
    # every file. Executing the residual filter is the caller's problem
    # (Spark ANSI cast semantics), so only the plan is built here.
    df = t.read_range("val", 1, 2)
    assert df is not None
    got = {r["val"] for r in t.read_range("val", "v1", "v1").collect()}
    assert got == {"v1"}


# --------------------------------------------------------------------------
# round 3: connector surface + non-distributive IVM plan pins
# --------------------------------------------------------------------------
def test_envelope_decode_is_zero_exchange(spark):
    """parse_debezium_envelope + split_dlq must stay scan-stage work: no
    Exchange anywhere — the decode never justifies a shuffle."""
    from rap_etl_spark.operators.cdc import parse_debezium_envelope, split_dlq

    df = spark.createDataFrame([("{}",)], ["env"])
    parsed = parse_debezium_envelope(df, "env", "doc_id: STRING, price_c: BIGINT")
    good, dead = split_dlq(parsed, required=["doc_id", "lsn"])
    assert count_exchanges(good) == 0
    assert count_exchanges(dead) == 0


def test_replication_lag_broadcasts_watermarks(spark):
    """The O(partitions) aggregates must broadcast into the outstanding-
    event probe — the full source never shuffles on the join key."""
    from rap_etl_spark.operators.cdc import replication_lag

    src = spark.range(1000).select(
        (F.col("id") % 5).cast("string").alias("part"), F.col("id").alias("lsn")
    )
    out = replication_lag(src, src.filter(F.col("lsn") < 500), part_col="part")
    kinds = join_kinds(out)
    assert kinds and all("Broadcast" in k for k in kinds)


def test_minmax_ivm_dirty_probe_is_broadcast_semi(spark):
    """maintain_minmax's fact re-aggregation must probe via a broadcast
    LEFT SEMI join (only dirty groups' rows survive the scan), never a
    shuffled join of the fact table."""
    from rap_etl_spark.operators.incremental import maintain_minmax

    fact = spark.range(1000).select(
        (F.col("id") % 7).alias("grp"), F.col("id").alias("v")
    )
    base = fact.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    ch = spark.createDataFrame(
        [(0, 994, "delete")], ["grp", "v", "_change_type"]
    )
    out = maintain_minmax(base, ch, fact, ["grp"], "v")
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_dv_masked_read_broadcasts_and_fast_path_clean_files(spark, tmp_path):
    """The deletion-vector mask must be a BROADCAST anti-join (the DV side
    is deleted positions, never data-sized) with no exchange added on the
    data side; files without a DV keep the plain-scan fast path (no join,
    no metadata columns)."""
    from pyspark.sql import types as T

    from rap_etl_spark.lake import ManifestParquetTable

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = ManifestParquetTable.create(spark, str(tmp_path / "t"), schema, n_buckets=2)
    t.append(
        spark.createDataFrame([(f"k{i}", i) for i in range(50)], schema),
        batch_id=0,
        assume_unique=True,
    )
    clean_plan = formatted_plan(t.read())
    assert "Join" not in clean_plan and "row_index" not in clean_plan
    t.delete_where("v % 7 = 0", mode="dv", batch_id=1)
    masked = t.read()
    plan = formatted_plan(masked)
    kinds = join_kinds(masked)
    assert any("BroadcastHashJoin" in k or "BroadcastNestedLoop" in k for k in kinds), kinds
    assert "LeftAnti" in plan
    # mask adds no exchange beyond the broadcast itself
    assert "Exchange hashpartitioning" not in plan


def test_sessionize_single_exchange(spark, sf_oracle):
    """Gaps-and-islands must cost ONE shuffle: the lag window and the
    running-sum window share (key, ts) ordering, so Catalyst plans both
    over a single hashpartitioning exchange."""
    from rap_etl_spark.operators.relational import q_win_sessionize

    df = q_win_sessionize(spark, sf_oracle)
    plan = formatted_plan(df)
    # one exchange for the windows + one for the final groupBy, no more
    assert count_exchanges(df) <= 2
    assert "CartesianProduct" not in plan


def test_exact_substring_no_cartesian_and_text_never_joins(spark, sf_oracle):
    """The window self-join runs on 32-byte md5 fingerprints: no
    cartesian product, and the document text column is projected away
    before any exchange (only fingerprints shuffle)."""
    from rap_etl_spark.operators.pipeline_queries import (
        q_exact_substring_pairs,
    )

    df = q_exact_substring_pairs(spark, sf_oracle)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every exchange's output is fingerprint/id-shaped, never the text
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_bm25_topk_avoids_global_sort(spark, sf_oracle):
    """Round-4 verdict item 2: bm25's top-20 must be TakeOrderedAndProject
    (per-partition heaps), not a row_number over an unpartitioned window
    that sorts every matching doc on one task. The residual rank window
    runs over only the 20-row limit result and is partitioned (by a
    constant), so no unpartitioned-window node remains in the plan."""
    from rap_etl_spark.operators.pipeline_queries import q_bm25_search

    df = q_bm25_search(spark, sf_oracle)
    plan = formatted_plan(df)
    import re

    # the rank Window's direct child is the TakeOrderedAndProject — i.e.
    # it consumes the 20-row top-k result, never the full scored set
    assert re.search(
        r"Window \(\d+\)\s*\n\s*\+- TakeOrderedAndProject", plan
    ), plan


def test_heavy_hitters_topk_avoids_global_sort(spark, sf_oracle):
    """Same shape pin as bm25: the sketch-merge top-k takes its k rows
    via TakeOrderedAndProject with the rank window directly above it."""
    from rap_etl_spark.operators.sketches import q_sketch_heavy_hitters

    plan = formatted_plan(q_sketch_heavy_hitters(spark, sf_oracle))
    import re

    assert re.search(
        r"Window \(\d+\)\s*\n\s*\+- TakeOrderedAndProject", plan
    ), plan


def test_ntile_no_global_window(spark, sf_oracle):
    """Round-4 verdict item 3: ntile(4) must not lower to a global
    unpartitioned window (single-partition sort of all orders). The
    re-plan is range-exchange + mapInPandas prefix-scan + closed-form
    tile arithmetic — no Window node and no SinglePartition exchange."""
    from rap_etl_spark.operators.relational import q_win_ntile

    df = q_win_ntile(spark, sf_oracle)
    plan = formatted_plan(df)
    assert "(1) Window" not in plan  # no Window operator at all
    import re

    assert not re.search(r"\(\d+\) Window\b", plan)
    assert "Exchange SinglePartition" not in plan
    # the range exchange lives inside the persisted ranged projection
    # (InMemoryTableScan); the visible tail is the narrow prefix-scan
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" in plan
    # correctness of the closed form vs F.ntile on a tiny slice
    from pyspark.sql import Window as W

    o = spark.read.parquet(f"{sf_oracle}/orders.parquet").limit(997)
    expected = {
        (r["o_orderkey"], r["tile"])
        for r in o.select(
            "o_orderkey",
            F.ntile(4)
            .over(W.orderBy("o_totalprice", "o_orderkey"))
            .alias("tile"),
        ).collect()
    }
    # re-run the closed form over the same 997-row slice via global_rank
    from rap_etl_spark.operators.sharding import global_rank

    ranked, n = global_rank(
        o.select("o_orderkey", "o_totalprice"),
        ["o_totalprice", "o_orderkey"],
        rank_col="_rnk",
    )
    assert n == 997
    q, rem = divmod(n, 4)
    cut = rem * (q + 1)
    tile = F.expr(
        f"cast(case when _rnk <= {cut} then (_rnk - 1) div {q + 1} + 1"
        f" else {rem} + (_rnk - 1 - {cut}) div {max(q, 1)} + 1 end as int)"
    )
    got = {
        (r["o_orderkey"], r["tile"])
        for r in ranked.select("o_orderkey", tile.alias("tile")).collect()
    }
    assert got == expected


def test_row_lineage_single_exchange(spark, sf_oracle):
    """X101: the no-order window (last-delete LSN) and the follow-up
    groupBy hash-partition on the same key, so the whole lineage view is
    ONE exchange — and only (key, lsn, op) ever moves, never a payload."""
    from rap_etl_spark.operators.cdc_queries import q_row_lineage

    df = q_row_lineage(spark, sf_oracle)
    assert count_exchanges(df) == 1
    cols = read_columns(df)
    assert "o_totalprice" not in cols and "o_comment" not in cols


def _python_rdd_nodes(df) -> list[str]:
    """Python-RDD frames (``spark.createDataFrame(<list>)``) plan as
    ``LogicalRDD`` and execute as ``Scan ExistingRDD``: every run starts
    Python worker tasks, whatever the row count."""
    df.collect()
    qe = df._jdf.queryExecution()
    plans = qe.optimizedPlan().toString() + qe.executedPlan().toString()
    return [n for n in ("LogicalRDD", "ExistingRDD") if n in plans]


def test_mor_serve_path_has_no_python_rdd_frames(spark, tmp_path):
    """On an MoR table where every bucket holds a delta (no clean branch),
    reads, lookups (hit and miss) and the per-batch changefeed stay in the
    JVM end to end, and the lookup's bucket probe folds on the driver
    without a job."""
    from pyspark.sql import types as T

    from rap_etl_spark.lake import ManifestParquetTable

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), schema, n_buckets=2, merge_mode="mor"
    )
    keys = [f"k{i}" for i in range(20)]
    for b in (0, 1):
        t.merge(
            spark.range(20).select(
                F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
                F.lit("U").alias("op"),
                (F.col("id") + 100 * b).alias("lsn"),
                (F.col("id") + b).alias("v"),
            ),
            batch_id=b,
        )
    assert set(t.delta_depth()) == {0, 1}
    for df in (
        t.read(),
        t.lookup(keys[:3]),
        t.lookup(["absent-key"]),
        t.changes_for_batch(1),
    ):
        assert _python_rdd_nodes(df) == []
    assert t.read().count() == 20 and t.lookup(["absent-key"]).count() == 0

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    hit = t.lookup(keys[:3])
    assert set(tracker.getJobIdsForGroup()) == before
    assert sorted(r["v"] for r in hit.collect()) == [1, 2, 3]
    assert set(tracker.getJobIdsForGroup()) != before  # the probe sees jobs


def test_lake_and_publish_build_frames_only_through_local_frame():
    """``lake.local_frame`` is the one place the table layer turns Python
    rows into a DataFrame; a ``createDataFrame`` call anywhere else in
    ``lake.py`` or ``publish.py`` brings Python-RDD frames back."""
    import ast
    import inspect

    from rap_etl_spark import lake, publish

    def calls(node, fn=None):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield fn
        for child in ast.iter_child_nodes(node):
            yield from calls(child, fn)

    found = {
        mod.__name__: list(calls(ast.parse(inspect.getsource(mod))))
        for mod in (lake, publish)
    }
    assert found == {lake.__name__: ["local_frame"], publish.__name__: []}


def test_ledger_written_in_one_place_and_engine_takes_one_table_type():
    """``ManifestParquetTable._commit`` is the one writer of the batch
    ledger entry and ``_skipped`` the one builder of the redelivery skip;
    the engine and the streaming tails know no other table type. (The
    ``IcebergTable`` call-sequence record keeps its own TBLPROPERTIES
    ledger and is no engine backend.)"""
    import ast
    import inspect
    import pathlib

    from rap_etl_spark import lake

    def owners(node, scope=()):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef)):
            scope = (*scope, node.name)
        if isinstance(node, ast.Constant) and node.value == "event_count":
            yield ("event_count", scope)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "is_committed"
        ):
            yield ("is_committed", scope)
        for child in ast.iter_child_nodes(node):
            yield from owners(child, scope)

    found = sorted(set(owners(ast.parse(inspect.getsource(lake)))))
    assert found == [
        ("event_count", ("IcebergTable", "merge")),
        ("event_count", ("ManifestParquetTable", "_commit")),
        ("is_committed", ("IcebergTable", "merge")),
        ("is_committed", ("ManifestParquetTable", "_skipped")),
    ]

    pkg = pathlib.Path(lake.__file__).parent
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        assert "LakeTable" not in src, py
        if py.name != "lake.py":
            assert "IcebergTable" not in src, py
    engine = (pkg / "engine.py").read_text()
    assert "isinstance(self.table" not in engine and "tempfile" not in engine
    assert "hasattr(table" not in (pkg / "streaming" / "tail.py").read_text()


def test_one_write_back_path_and_one_storage_seam():
    """``ManifestParquetTable`` writes data back through one helper, folds
    footer statistics once and ages orphans once; the engine's staging and
    requeue I/O go through the table's ``TableFS``, with no second
    filesystem seam in the package."""
    import ast
    import inspect
    import pathlib

    from rap_etl_spark import engine, lake

    def scopes(node, needle, scope=()):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef)):
            scope = (*scope, node.name)
        if needle(node):
            yield scope
        for child in ast.iter_child_nodes(node):
            yield from scopes(child, needle, scope)

    tree = ast.parse(inspect.getsource(lake))

    def method_call(name):
        return lambda n: (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "self"
            and n.func.attr == name
        )

    assert sorted(scopes(tree, method_call("_write_data_files"))) == [
        ("ManifestParquetTable", "_rewrite"),
        ("ManifestParquetTable", "rewrite_deletion_vectors"),
    ]
    assert list(
        scopes(tree, lambda n: isinstance(n, ast.Attribute) and n.attr == "has_min_max")
    ) == [("ManifestParquetTable", "_footer_stats")]
    src = inspect.getsource(lake.ManifestParquetTable.expire_snapshots)
    assert src.count("getmtime(") == 1

    pkg = pathlib.Path(lake.__file__).parent
    for py in pkg.rglob("*.py"):
        assert "hadoop_fs_" not in py.read_text(), py
    requeue = inspect.getsource(engine.requeue_quarantine)
    for raw in ("open(", "os.listdir", "os.replace", "os.remove"):
        assert raw not in requeue, raw


def test_row_dml_commits_through_merge():
    """Predicate DML has no write-back path of its own: ``delete_where``
    and ``update_where`` hand their post-images to the shared tail
    ``_dml_commit``, which commits them with ``merge`` and never rewrites
    files or writes the ledger itself."""
    import ast
    import inspect
    import textwrap

    from rap_etl_spark.lake import ManifestParquetTable

    def self_calls(name):
        src = textwrap.dedent(inspect.getsource(getattr(ManifestParquetTable, name)))
        return {
            n.func.attr
            for n in ast.walk(ast.parse(src))
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "self"
        }

    writers = {"_rewrite", "_commit", "_write_data_files", "_write_manifest"}
    calls = {n: self_calls(n) for n in ("delete_where", "update_where", "_dml_commit")}
    for name, got in calls.items():
        assert not got & writers, (name, got)
    assert "merge" in calls["_dml_commit"]
    for name in ("delete_where", "update_where"):
        assert "_dml_commit" in calls[name] and "merge" not in calls[name], name


def test_mor_batch_events_plan_is_scan_and_project(spark, tmp_path):
    """A MoR batch publishes the delta files its commit wrote: the events
    frame plans as a scan and a projection, with no join, aggregate or
    exchange (the snapshot diff it replaces joins both sides of every
    touched bucket). ``publish.py`` reaches that diff, through
    ``changes_for_batch``, from ``batch_events`` only."""
    import ast
    import inspect

    from pyspark.sql import types as T

    from rap_etl_spark import publish
    from rap_etl_spark.lake import ManifestParquetTable

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    t = ManifestParquetTable.create(
        spark, str(tmp_path / "t"), schema, n_buckets=2, merge_mode="mor"
    )
    for b in (0, 1):
        t.merge(
            spark.range(20).select(
                F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
                F.lit("D" if b else "U").alias("op"),
                (F.col("id") + 100 * b).alias("lsn"),
                F.col("id").alias("v"),
            ),
            batch_id=b,
        )
    df = publish.batch_events(t, 1)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for node in ("Join", "Aggregate", "Repartition"):
        assert node not in optimized, optimized
    plan = formatted_plan(df)
    assert "Exchange" not in plan and "Join" not in plan, plan
    # deletes carry a NULL payload, like the table's own tombstones
    assert df.filter((F.col("op") == "D") & F.col("v").isNull()).count() == 20

    def scopes(node, scope=()):
        if isinstance(node, ast.FunctionDef):
            scope = (*scope, node.name)
        if isinstance(node, ast.Attribute) and node.attr == "changes_for_batch":
            yield scope
        for child in ast.iter_child_nodes(node):
            yield from scopes(child, scope)

    assert list(scopes(ast.parse(inspect.getsource(publish)))) == [("batch_events",)]


def _cow_table(spark, path):
    from pyspark.sql import types as T

    from rap_etl_spark.lake import ManifestParquetTable

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("v", T.LongType())]
    )
    return ManifestParquetTable.create(spark, path, schema, n_buckets=2)


def _cow_batch(spark, b, op="U"):
    return spark.range(20).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"),
        F.lit(op).alias("op"),
        (F.col("id") + 100 * b).alias("lsn"),
        (F.col("id") + b).alias("v"),
    )


def test_cow_batch_events_plan_is_scan_and_project(spark, tmp_path):
    """A CoW batch publishes the change files its merge wrote: the events
    frame plans as a scan and a projection, with no join, aggregate or
    exchange. Deletes carry the row they removed, as the snapshot diff
    reports them."""
    from rap_etl_spark import publish

    t = _cow_table(spark, str(tmp_path / "t"))
    for b in (0, 1):
        t.merge(_cow_batch(spark, b, "D" if b else "U"), batch_id=b)
    df = publish.batch_events(t, 1)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for node in ("Join", "Aggregate", "Repartition"):
        assert node not in optimized, optimized
    plan = formatted_plan(df)
    assert "Exchange" not in plan and "Join" not in plan, plan
    dead = df.filter(F.col("op") == "D").collect()
    assert len(dead) == 20 and all(r["v"] is not None for r in dead)


def test_hinted_cow_merge_starts_no_extra_job(spark, tmp_path):
    """Writing a CoW merge's change rows rides its one write: a hinted
    merge over existing buckets starts as many Spark jobs as it did before
    change files existed."""
    t = _cow_table(spark, str(tmp_path / "t"))
    t.merge(_cow_batch(spark, 0), batch_id=0)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    t.merge(_cow_batch(spark, 1), batch_id=1, affected_buckets={0, 1}, n_rows=20)
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert len(jobs) == 4, sorted(jobs)


def test_one_data_file_scan_and_no_manifest_swap():
    """``ManifestParquetTable._read_files`` is the one data-file scan in
    ``lake.py``: Spark's ``_metadata`` file path and row index are read
    nowhere else, and every other parquet read is of DV files
    (``_dv_frame`` and the DV commit's staging read-back). A snapshot
    read passes its manifest to the scan instead of swapping it into
    ``_manifest_cache``, which only its owners write."""
    import ast
    import inspect

    from rap_etl_spark import lake

    src = inspect.getsource(lake)
    tree = ast.parse(src)
    table = "ManifestParquetTable"

    def scopes(node, needle, scope=()):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef)):
            scope = (*scope, node.name)
        if needle(node):
            yield scope
        for child in ast.iter_child_nodes(node):
            yield from scopes(child, needle, scope)

    def metadata_col(n):
        return isinstance(n, ast.Constant) and isinstance(n.value, str) and any(
            c in n.value for c in ("_metadata.file_path", "_metadata.row_index")
        )

    def parquet_read(n):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
            return False
        if n.func.attr != "parquet":
            return False
        node = n.func.value
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute) and node.attr == "read":
                return True
            node = node.func if isinstance(node, ast.Call) else node.value
        return False

    def cache_write(n):
        targets = (
            n.targets
            if isinstance(n, ast.Assign)
            else [n.target] if isinstance(n, (ast.AugAssign, ast.AnnAssign)) else []
        )
        return any(
            isinstance(t, ast.Attribute) and t.attr == "_manifest_cache" for t in targets
        )

    assert set(scopes(tree, metadata_col)) == {(table, "_read_files")}
    assert sorted(scopes(tree, parquet_read)) == [
        (table, "_delete_where_dv"),
        (table, "_dv_frame"),
        (table, "_read_files"),
    ]
    assert set(scopes(tree, cache_write)) == {
        (table, "__init__"),
        (table, "_manifest"),
        (table, "_write_manifest"),
    }
    assert "_read_files_of" not in src
