#!/usr/bin/env python3
"""CDC replay benchmark for rap_etl_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload hot_replay --seed 1 --seconds 15 --trace 0

One process runs one workload in ``local[nproc]`` through the package's
public API (``CdcEngine.apply_batch``, ``ManifestParquetTable`` reads and
maintenance, ``publish.publish_changes``). After the session starts it
generates the seeded log (``data.py``), sets up three seeded tables and
warms every timed operation up on the first. On the last table every
timed batch is then committed and published; point lookups follow the
batches inside a round, and a full scan, then ledger pruning and snapshot
expiry, close each round of ``maint_every`` batches. Batches run in whole
rounds until the log's timed batches run out or ``--seconds`` have
passed. The final table is then checked against an independent oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts Spark
with its event log on, runs the same pass with spans around the calls
into each layer, and prints the per-layer metrics, including the share
of the pass spent opening and closing spans. The last stdout line is the
result JSON; the line before it holds the input fingerprint, the host
and every sample.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.monotonic()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
SETUP_REPS = 3
DRIVER_MEM = "3g"


@dataclasses.dataclass(frozen=True)
class Workload:
    """Log and table parameters of one workload; why each exists is in
    BENCHMARK.json and METRICS.md."""

    name: str
    n_keys: int
    events_per_batch: int
    # timed batches; the log adds the seed batch before them and the
    # warm-up batch after them
    n_batches: int
    merge_mode: str
    n_buckets: int
    materialize_depth: int | None
    maint_every: int
    # point lookups and full scans beside the commits; every workload
    # publishes every batch
    reads: bool = True
    lookup_keys: int = 3
    max_tok: int = 32

    def log_params(self) -> dict:
        return {
            "n_keys": self.n_keys,
            "n_events": self.events_per_batch * (self.n_batches + 2),
            "n_batches": self.n_batches + 2,
            "max_tok": self.max_tok,
            "lookup_keys": self.lookup_keys,
        }


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="hot_replay",
            n_keys=5_000,
            events_per_batch=40_000,
            n_batches=3,
            merge_mode="cow",
            n_buckets=4,
            materialize_depth=None,
            maint_every=3,
            reads=False,
        ),
        Workload(
            name="tail_serve",
            n_keys=1_000_000,
            events_per_batch=10_000,
            n_batches=2,
            merge_mode="mor",
            n_buckets=4,
            materialize_depth=2,
            maint_every=2,
        ),
    )
}


def prepare_env(work: str) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work`` and
    size the driver heap for a small host; must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, event_log: str | None = None):
    from rap_etl_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4.1 defaults to zstd, which nothing here can decode
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log,
            }
        )
    return get_spark("perfbench", cpus=nproc(), extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM the gateway launched; the Python
    workers it started end with it. After ``spark.stop()`` alone the JVM
    keeps running, orphaned, for seconds after this process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> float:
    """Sum of each live process's peak RSS (VmHWM) over this process, the
    JVM and the Python workers: an upper bound on the tree's peak."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user and system, reaped children included) used so far
    by this process and every process under it: the JVM and the Python
    workers. Unlike wall time, it leaves out time the hypervisor gave to
    other machines."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                ticks += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def timed(fn):
    """Run ``fn``; return its result, its wall seconds and the tree CPU
    seconds used meanwhile."""
    cpu, t = tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t, tree_cpu_s() - cpu


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host so far: steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat", encoding="utf-8") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def host_info(spark) -> dict:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": nproc(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": DRIVER_MEM,
    }


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclasses.dataclass
class Pass:
    batches: list = dataclasses.field(default_factory=list)
    publish_s: list = dataclasses.field(default_factory=list)
    publish_rows: list = dataclasses.field(default_factory=list)
    lookup_s: list = dataclasses.field(default_factory=list)
    scan_s: list = dataclasses.field(default_factory=list)
    shapes: list = dataclasses.field(default_factory=list)
    files_written: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list = dataclasses.field(default_factory=list)
    wall: tuple = (0.0, 0.0)
    steal_frac: float = 0.0
    check_s: float = 0.0
    ingest_cpu_s: float = 0.0  # tree CPU during commits and prune/expire
    serve_cpu_s: float = 0.0  # tree CPU during publish, lookups and scans
    table: object = None
    applied_ids: list = dataclasses.field(default_factory=list)  # seed batch included

    def attempt(self, what: str, fn):
        """Run one operation; an exception fails it and is reported, not
        raised, so the run still reports what it measured."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted and printed
            self.fail(f"{what}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    def record_publish(self, batch: int, result: dict, seconds: float) -> None:
        """``publish_changes`` reports failure in its result, not by raising:
        an ``error`` or ``published: False`` on a first delivery fails it."""
        if result.get("error") or not result.get("published"):
            self.fail(f"publish_changes({batch}) returned {result}")
        else:
            self.publish_s.append(seconds)
            self.publish_rows.append(result["rows"])

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:500])


def run_pass(
    spark, wl: Workload, meta: dict, seconds: float, batches: list[int], seeded, tracer,
    shapes: bool,
) -> Pass:
    """Commit and publish ``batches`` (1, 2, ...) one by one on the
    ``seeded`` (table, engine) pair from ``seeded_table``. Point lookups
    follow every batch inside a round; scans and then prune/expire close
    each round of ``maint_every`` batches. No round starts once ``seconds``
    have passed."""
    from rap_etl_spark.publish import publish_changes

    res = Pass(applied_ids=[0])
    table, engine = seeded
    res.table = table
    if wl.materialize_depth is not None:
        table.materialize_deltas()  # rounds start from a table with no deltas
    feed = os.path.join(table.path, "..", "feed")
    keys = meta["lookup_keys"]
    t0, wall0, ticks0 = time.monotonic(), time.time(), cpu_ticks()

    def live_paths() -> set:
        return {r.path for r in table.files_df().select("path").collect()}

    for b in batches:
        events = spark.read.parquet(os.path.join(meta["log"], f"batch={b}"))
        rec = {"batch": b, "events": meta["batch_rows"][b], "inline_maint": False, "maint_s": None}
        before = live_paths() if shapes else None
        n_mat = tracer.count("lake.materialize")

        def commit():
            with tracer.span("engine.apply_batch"):
                return timed(lambda: engine.apply_batch(events, batch_id=b))

        got = res.attempt(f"apply_batch({b})", commit)
        if got is None:
            break
        m, rec["apply_s"], rec["apply_cpu_s"] = got
        res.ingest_cpu_s += rec["apply_cpu_s"]
        rec["applied"] = m.applied_rows
        rec["inline_maint"] = tracer.count("lake.materialize") > n_mat
        res.batches.append(rec)
        res.applied_ids.append(b)
        if shapes:
            res.files_written += len(live_paths() - before)

        def publish():
            with tracer.span("publish.publish_changes"):
                return timed(lambda: publish_changes(table, b, feed))

        got = res.attempt(f"publish_changes({b})", publish)
        if got is not None:
            r, dt, cpu = got
            res.serve_cpu_s += cpu
            res.record_publish(b, r, dt)

        def lookup():
            with tracer.span("lake.lookup"):
                return timed(lambda: force(table.lookup(keys)))

        if b % wl.maint_every:
            if shapes:
                res.shapes.append(table_shape(table))
            got = res.attempt(f"lookup({b})", lookup) if wl.reads else None
            if got is not None:
                res.lookup_s.append(got[1])
                res.serve_cpu_s += got[2]
            continue

        def scan():
            with tracer.span("lake.scan"):
                return timed(lambda: force(table.read()))

        got = res.attempt(f"scan({b})", scan) if wl.reads else None
        if got is not None:
            res.scan_s.append(got[1])
            res.serve_cpu_s += got[2]

        def expire():
            with tracer.span("lake.expire"):
                return timed(lambda: (table.prune_ledger(b), table.expire_snapshots(keep=3)))

        got = res.attempt(f"expire({b})", expire)
        if got is not None:
            rec["maint_s"], rec["maint_cpu_s"] = got[1], got[2]
            res.ingest_cpu_s += got[2]
        if time.monotonic() - t0 >= seconds:
            break
    res.wall = (wall0, time.time())
    ticks1 = cpu_ticks()
    res.steal_frac = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    return res


def table_shape(table) -> dict:
    mdir = os.path.join(table.path, "manifests")
    return {
        "delta_depth_max": max(table.delta_depth().values(), default=0),
        "live_files": sum(table.files_per_bucket().values()),
        "manifest_bytes": sum(os.path.getsize(f) for f in glob.glob(os.path.join(mdir, "*"))),
    }


def seeded_table(spark, wl: Workload, meta: dict, path: str):
    """Create a table and commit the log's batch 0 to it, as a user would
    set one up. Returns (seconds that took, table, engine)."""
    from rap_etl_spark.engine import CdcEngine
    from rap_etl_spark.lake import ManifestParquetTable
    from rap_etl_spark.schemas import DOCS_SCHEMA

    events = spark.read.parquet(os.path.join(meta["log"], "batch=0"))

    def create():
        table = ManifestParquetTable.create(
            spark, os.path.join(path, "table"), DOCS_SCHEMA,
            n_buckets=wl.n_buckets, merge_mode=wl.merge_mode,
        )
        engine = CdcEngine(
            spark, table, count_input=False, auto_materialize_depth=wl.materialize_depth
        )
        engine.apply_batch(events, batch_id=0)
        return table, engine

    (table, engine), wall, cpu = timed(create)
    return wall, cpu, table, engine


def warm_up(spark, wl: Workload, meta: dict, table, engine) -> dict:
    """Run every operation of the timed loop once on a throwaway seeded
    table, untimed, so that the first timed round finds them compiled: a
    commit of the log's last batch, which merges into the seeded rows, then
    publish, lookup, materialize, scan, prune and expire; lookup and scan
    only where the workload reads. Returns each step's wall seconds."""
    from rap_etl_spark.publish import publish_changes

    events = spark.read.parquet(os.path.join(meta["log"], f"batch={wl.n_batches + 1}"))
    steps = {
        "apply_batch": lambda: engine.apply_batch(events, batch_id=1),
        "publish": lambda: publish_changes(table, 1, os.path.join(table.path, "..", "feed")),
        "lookup": lambda: force(table.lookup(meta["lookup_keys"])),
        "materialize": table.materialize_deltas,
        "scan": lambda: force(table.read()),
        "expire": lambda: (table.prune_ledger(1), table.expire_snapshots(keep=3)),
    }
    if not wl.reads:
        del steps["lookup"], steps["scan"]
    took = {}
    for name, fn in steps.items():
        t = time.perf_counter()
        fn()
        took[name] = round(time.perf_counter() - t, 3)
    return took


def check(res: Pass, meta: dict) -> list[str]:
    """Final table against the oracle over the batches the pass applied."""
    from perfbench import data

    t = time.perf_counter()
    res.attempted += 1
    try:
        problems = data.compare(
            data.oracle_state(meta["log"], res.applied_ids), data.table_state(res.table)
        )
    except Exception as e:  # noqa: BLE001 - a check that cannot run fails the run
        traceback.print_exc(file=sys.stderr)
        problems = [f"check raised {type(e).__name__}: {e}"]
    if problems:
        res.fail("final state differs from oracle: " + "; ".join(problems))
    res.check_s = time.perf_counter() - t
    return problems


def end_to_end(
    res: Pass, setup: tuple[float, float], rss_mb: float
) -> tuple[dict, dict]:
    """(the metrics BENCHMARK.json bounds, the wall-time metrics printed
    beside them without a bound). ``setup`` is (CPU, wall) seconds. Wall
    time swings with the CPU time the hypervisor takes for other machines,
    so it cannot hold a bound on a shared host; CPU time and table shape
    can."""
    from perfbench import stats

    ordinary, maint = stats.split_commits(res.batches)
    table = res.table
    live_bytes = table.files_df().agg({"bytes": "sum"}).collect()[0][0] or 0
    n_events = sum(b["events"] for b in res.batches)
    bounded = {
        "setup_s": (setup[0], "s"),
        "ingest_cpu_us_per_event": (res.ingest_cpu_s / max(n_events, 1) * 1e6, "us/event"),
        "serve_cpu_s_per_batch": (res.serve_cpu_s / max(len(res.batches), 1), "s/batch"),
        "table_bytes_per_row": (live_bytes / max(table.fast_count(), 1), "bytes/row"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    wall = {
        "setup_wall_s": (setup[1], "s"),
        "ingest_eps": (ingest_eps(res), "events/s"),
        "commit_p50_s": (stats.median(ordinary), "s"),
        "maint_commit_p50_s": (stats.median(maint), "s"),
        "publish_p50_s": (stats.median(res.publish_s), "s"),
    }
    if res.lookup_s:
        wall["lookup_p50_s"] = (stats.median(res.lookup_s), "s")
    if res.scan_s:
        wall["scan_s"] = (stats.median(res.scan_s), "s")
    return bounded, wall


def per_layer(res: Pass, tracer, events: list[dict], session_s: float) -> dict:
    """Fold the traced pass's spans and event log into per-layer numbers."""
    from perfbench import trace

    # spans of the timed batches only, not of the seed commit
    spans = [s for s in tracer.spans if s["end"] is not None and s["start"] >= res.wall[0]]
    jobs, tasks = trace.fold_event_log(events)
    kids = trace.children(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def ids(name: str, deep: bool = False) -> set:
        out = set()
        for s in by.get(name, []):
            out |= trace.subtree(spans, s["id"]) if deep else {s["id"]}
        return out

    def ivs(name: str) -> list:
        return [(s["start"], s["end"]) for s in by.get(name, [])]

    def total(name: str) -> float:
        return sum(e - s for s, e in ivs(name))

    def per_call(name: str) -> float:
        return total(name) / len(by[name]) if by.get(name) else 0.0

    n = max(len(res.batches), 1)
    n_events = sum(b["events"] for b in res.batches)
    applied = sum(b["applied"] for b in res.batches)
    apply_spans = by.get("engine.apply_batch", [])
    engine_self = [iv for s in apply_spans for iv in trace.self_intervals(s, kids[s["id"]])]
    eng = trace.costs(ids("engine.apply_batch"), jobs, tasks, engine_self)
    merge = trace.costs(ids("lake.merge", deep=True), jobs, tasks, ivs("lake.merge"))
    written = trace.costs(
        ids("lake.merge", deep=True) | ids("lake.materialize", deep=True), jobs, tasks, []
    )
    lookup = trace.costs(ids("lake.lookup", deep=True), jobs, tasks, [])
    scan = trace.costs(ids("lake.scan", deep=True), jobs, tasks, [])
    pub = trace.costs(ids("publish.publish_changes", deep=True), jobs, tasks, [])
    wall = (res.wall[1] - res.wall[0]) * nproc()

    def mean_shape(k: str) -> float:
        return sum(s[k] for s in res.shapes) / max(len(res.shapes), 1)

    return {
        "session.start_s": (session_s, "s"),
        "engine.apply_s": (total("engine.apply_batch") / n, "s"),
        "engine.self_s": (trace.length(engine_self) / n, "s"),
        "engine.self_frac": (
            trace.length(engine_self) / max(total("engine.apply_batch"), 1e-9), "fraction"
        ),
        "engine.jobs_per_batch": (eng["jobs"] / n, "jobs"),
        "engine.input_rows_per_event": (eng["input_rows"] / max(n_events, 1), "rows/event"),
        "engine.cpu_s": (eng["cpu_s"] / n, "s"),
        "engine.gc_s": (eng["gc_s"] / n, "s"),
        "engine.shuffle_write_bytes": (eng["shuffle_write_bytes"] / n, "bytes"),
        "engine.driver_only_s": (eng["driver_only_s"] / n, "s"),
        "engine.win_ratio": (applied / max(n_events, 1), "fraction"),
        "lake.merge_s": (total("lake.merge") / n, "s"),
        "lake.merge_cpu_s": (merge["cpu_s"] / n, "s"),
        "lake.merge_driver_only_s": (merge["driver_only_s"] / n, "s"),
        "lake.bytes_written_per_applied_row": (
            written["output_bytes"] / max(applied, 1), "bytes/row"
        ),
        "lake.files_written_per_batch": (res.files_written / n, "files"),
        "lake.materialize_s": (per_call("lake.materialize"), "s"),
        "lake.expire_s": (per_call("lake.expire"), "s"),
        "lake.delta_depth_max": (mean_shape("delta_depth_max"), "files"),
        "lake.live_files": (mean_shape("live_files"), "files"),
        "lake.manifest_bytes": (mean_shape("manifest_bytes"), "bytes"),
        "lake.lookup_input_rows": (
            lookup["input_rows"] / max(len(by.get("lake.lookup", [])), 1), "rows"
        ),
        "lake.scan_input_rows": (
            scan["input_rows"] / max(len(by.get("lake.scan", [])), 1), "rows"
        ),
        "publish.input_rows": (
            pub["input_rows"] / max(len(by.get("publish.publish_changes", [])), 1), "rows"
        ),
        "publish.rows_per_batch": (
            sum(res.publish_rows) / max(len(res.publish_rows), 1), "rows"
        ),
        "spark.executor_busy_frac": (
            sum(t["run_s"] for t in tasks if res.wall[0] <= t["start"] <= res.wall[1])
            / max(wall, 1e-9),
            "fraction",
        ),
        "trace.overhead_frac": (tracer.cost_s / max(res.wall[1] - res.wall[0], 1e-9), "fraction"),
    }


def ingest_eps(res: Pass) -> float:
    busy = sum(b["apply_s"] + (b["maint_s"] or 0.0) for b in res.batches)
    return sum(b["events"] for b in res.batches) / busy if busy else 0.0


def samples(res: Pass) -> dict:
    from perfbench import stats

    ordinary, maint = stats.split_commits(res.batches)
    series = {
        "commit_s": ordinary,
        "maint_commit_s": maint,
        "publish_s": res.publish_s,
        "lookup_s": res.lookup_s,
        "scan_s": res.scan_s,
    }
    return {
        "summary": {k: stats.summary(v) for k, v in series.items() if v},
        "batches": res.batches,
        "publish_s": res.publish_s,
        "lookup_s": res.lookup_s,
        "scan_s": res.scan_s,
        "wall_s": res.wall[1] - res.wall[0],
        "ingest_cpu_s": res.ingest_cpu_s,
        "serve_cpu_s": res.serve_cpu_s,
        "steal_frac": res.steal_frac,
        "check_s": res.check_s,
        "errors": res.errors,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    sys.path.insert(0, ROOT)
    from rap_etl_spark.lake import ManifestParquetTable  # fails outside a checkout

    from perfbench import data, stats, trace

    prepare_env(os.path.join(run_dir, "env"))

    batches = list(range(1, wl.n_batches + 1))
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    t = time.perf_counter()
    spark = start_spark(run_dir, event_log=event_dir)
    session_s = time.perf_counter() - t
    session_cpu_s = tree_cpu_s()  # interpreter start included
    phases = {"started": T_START, "session": time.monotonic()}
    try:
        t = time.perf_counter()
        meta = data.make_log(spark, os.path.join(run_dir, "input"), args.seed, wl.log_params())
        log_s = time.perf_counter() - t
        phases["log"] = time.monotonic()
        # the first set-up's table gets the warm-up, so the later set-ups
        # run warm and the median is a warm one; the last set-up's table is
        # the one the pass times
        preps, prep_cpu = [], []
        for i in range(SETUP_REPS):
            took, cpu, *seeded = seeded_table(spark, wl, meta, os.path.join(run_dir, f"setup{i}"))
            preps.append(took)
            prep_cpu.append(cpu)
            if i == 0:
                warm_s = warm_up(spark, wl, meta, *seeded)
                phases["warm"] = time.monotonic()
        phases["setup"] = time.monotonic()
        # CPU: the wall time of a cold JVM start swings by half with steal
        setup = (session_cpu_s + stats.median(prep_cpu), session_s + stats.median(preps))
        host = host_info(spark)

        # the traced run wraps the lake's internal calls too and tags every
        # job with its span; the untraced run only counts materializations
        tracer = trace.Tracer(run_id, spark.sparkContext if args.trace else None)
        targets = [(ManifestParquetTable, "materialize_deltas", "lake.materialize")]
        if args.trace:
            targets += [
                (ManifestParquetTable, "merge", "lake.merge"),
                (ManifestParquetTable, "delta_depth", "lake.delta_depth"),
            ]
        with trace.patched(tracer, targets):
            res = run_pass(spark, wl, meta, args.seconds, batches, seeded, tracer, bool(args.trace))
        phases["timed"] = time.monotonic()
        rss_mb = peak_rss_mb()  # before the oracle adds its own memory
        problems = check(res, meta)
        phases["checked"] = time.monotonic()
        detail = {"pass": samples(res)}
        if args.trace:
            stop_spark(spark)  # flushes the event log
            spark = None
            metrics = per_layer(res, tracer, trace.read_event_log(event_dir), session_s)
            detail["spans"] = len(tracer.spans)
            unbounded = {}
        else:
            metrics, unbounded = end_to_end(res, setup, rss_mb)
    finally:
        if spark is not None:
            stop_spark(spark)
    phases["stopped"] = time.monotonic()

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "input": {"fingerprint": meta["fingerprint"], "batch_rows": meta["batch_rows"]},
        "setup": {"session_s": session_s, "set_up_s": preps, "session_cpu_s": session_cpu_s, "set_up_cpu_s": prep_cpu, "log_s": log_s, "warm_up_s": warm_s},
        "phases_s": {k: round(v - T_START, 2) for k, v in phases.items()},
        "problems": problems,
        "failed_frac": res.failed / res.attempted,
        "samples": detail,
        "metrics": {k: v for k, (v, _) in {**metrics, **unbounded}.items()},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6g} {unit}")
    print(
        f"{'failed_frac':40s} {res.failed / res.attempted:14.6g} fraction "
        f"({res.failed}/{res.attempted})"
    )
    if unbounded:
        print("wall time, without a bound (it swings with host CPU steal):")
    for name, (value, unit) in unbounded.items():
        print(f"{name:40s} {value:14.6g} {unit}")
    print(json.dumps({"perfbench": record}))
    print(
        json.dumps(
            {
                "correct": not problems and res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
