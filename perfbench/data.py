"""Seeded event logs with input fingerprints, and the final-state oracle.

Logs come from the package's own load generator
(``sources.synth.synthesize_events`` + ``write_event_log``, packed wire
format). Every run generates its log in its own Spark session, after the
session has started and before set-up, so generating is neither timed nor
part of set-up, and every run reaches set-up having done the same work: a
log cache would leave the measured process in a different state on a hit
than on a miss, and a child process to generate it would pay a second JVM
start. Each log carries a fingerprint (delivered rows, distinct keys, and an
order-independent checksum of ``(doc_id, lsn)``) so that a change to the
generator shows as changed input rather than as a speed-up.

The oracle replays the log with DuckDB (last writer by ``lsn`` per key,
deletes removed) and compares the live key set and, per key, ``n_tok``,
``source`` and the token sequence with the table. Tokens are compared by a
pair of polynomial digests that the oracle computes in NumPy from the
packed little-endian blob and the table side computes in Spark SQL from
the ``array<int>`` column, so neither side goes through the engine's
last-writer-wins path.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

DIGEST_MOD = 2147483647  # 2^31 - 1: acc * base + token stays below 2^52
DIGEST_BASES = (1000003, 999983)


def batch_files(log_dir: str, batch: int) -> str:
    return os.path.join(log_dir, f"batch={batch}", "*.parquet")


def make_log(spark, out: str, seed: int, params: dict) -> dict:
    """Generate the log for ``seed`` and ``params`` under ``out`` and return
    its metadata: the log path, per-batch delivered rows, the fingerprint
    and the seeded lookup key set (drawn from keys live after batch 0).

    ``params``: n_keys, n_events, n_batches, max_tok, lookup_keys."""
    from rap_etl_spark.sources.synth import synthesize_events, write_event_log

    events = synthesize_events(
        spark,
        "",
        params["n_events"],
        max_tok=params["max_tok"],
        packed=True,
        n_keys=params["n_keys"],
        seed=seed,
        staging_dir=os.path.join(out, "stage"),
    )
    log = os.path.join(out, "log")
    write_event_log(events, log, params["n_batches"], params["n_events"])
    shutil.rmtree(os.path.join(out, "stage"))
    return {"log": log, **describe_log(log, params["n_batches"], seed, params["lookup_keys"])}


def describe_log(log_dir: str, n_batches: int, seed: int, n_lookup: int) -> dict:
    """Per-batch delivered rows, the log fingerprint and seeded lookup keys."""
    files = [batch_files(log_dir, b) for b in range(n_batches)]
    with duckdb.connect() as con:
        rows = [
            con.execute("SELECT count(*) FROM read_parquet(?)", [f]).fetchone()[0]
            for f in files
        ]
        fp = fingerprint(con, files)
        first = [
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM read_parquet(?) GROUP BY doc_id "
                "HAVING arg_max(op, lsn) <> 'D' ORDER BY doc_id",
                [files[0]],
            ).fetchall()
        ]
    rng = np.random.default_rng(seed)
    keys = sorted(rng.choice(first, size=min(n_lookup, len(first)), replace=False).tolist())
    return {"batch_rows": rows, "fingerprint": fp, "lookup_keys": keys}


def fingerprint(con, files: list[str]) -> dict:
    """Delivered rows, distinct keys and an order-independent checksum of
    (doc_id, lsn): the sum of per-row MD5 prefixes, modulo 2^64. A sum
    rather than an XOR, so duplicate deliveries do not cancel out."""
    n, keys, csum = con.execute(
        "SELECT count(*), count(DISTINCT doc_id), "
        "sum(md5_number_lower(doc_id || ':' || lsn::VARCHAR)) % 18446744073709551616 "
        "FROM read_parquet(?)",
        [files],
    ).fetchone()
    return {"rows": int(n), "distinct_keys": int(keys), "checksum": f"{int(csum):016x}"}


def token_digests(blobs: list[bytes | None]) -> tuple[np.ndarray, np.ndarray]:
    """Polynomial digests of packed ``<i4`` token blobs, one pair per blob:
    Horner's rule ``acc = (acc * base + token) % DIGEST_MOD`` from 0."""
    lens = np.array([0 if b is None else len(b) // 4 for b in blobs], dtype=np.int64)
    flat = np.frombuffer(b"".join(b for b in blobs if b), dtype="<i4").astype(np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)
    out = []
    for base in DIGEST_BASES:
        acc = np.zeros(len(blobs), dtype=np.int64)
        for i in range(int(lens.max(initial=0))):
            live = lens > i
            acc[live] = (acc[live] * base + flat[starts[live] + i]) % DIGEST_MOD
        out.append(acc)
    return out[0], out[1]


def oracle_state(log_dir: str, batches: list[int]) -> pd.DataFrame:
    """Expected live rows after applying ``batches``: per key the event with
    the highest lsn; keys whose last event is a delete are absent."""
    with duckdb.connect() as con:
        tbl = con.execute(
            "SELECT doc_id, n_tok, source, tokens_bin FROM ("
            "  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) AS rn"
            "  FROM read_parquet(?)"
            ") WHERE rn = 1 AND op <> 'D'",
            [[batch_files(log_dir, b) for b in batches]],
        ).arrow()
    d1, d2 = token_digests(tbl.column("tokens_bin").to_pylist())
    return pd.DataFrame(
        {
            "doc_id": tbl.column("doc_id").to_pylist(),
            "n_tok": tbl.column("n_tok").to_numpy(zero_copy_only=False).astype(np.int64),
            "source": tbl.column("source").to_pylist(),
            "d1": d1,
            "d2": d2,
        }
    )


def table_state(table) -> pd.DataFrame:
    """The table's live rows in the oracle's shape, digested in Spark SQL."""
    from pyspark.sql import functions as F

    def digest(base: int):
        return F.expr(
            f"aggregate(tokens, cast(0 as bigint), "
            f"(acc, x) -> (acc * {base} + x) % {DIGEST_MOD})"
        )

    pdf = (
        table.read()
        .select(
            "doc_id",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            "source",
            digest(DIGEST_BASES[0]).alias("d1"),
            digest(DIGEST_BASES[1]).alias("d2"),
        )
        .toPandas()
    )
    return pdf.astype({"n_tok": "int64", "d1": "int64", "d2": "int64"})


def compare(expected: pd.DataFrame, actual: pd.DataFrame, limit: int = 5) -> list[str]:
    """Mismatches between two states (empty when equal): missing keys,
    unexpected keys, duplicate keys, and per-key column differences."""
    problems = []
    dups = actual["doc_id"][actual["doc_id"].duplicated()]
    if len(dups):
        problems.append(f"{len(dups)} duplicate keys in table, e.g. {dups.iloc[0]!r}")
    j = expected.merge(
        actual.drop_duplicates("doc_id"),
        on="doc_id",
        how="outer",
        suffixes=("_exp", "_act"),
        indicator=True,
    )
    for side, label in (("left_only", "missing from table"), ("right_only", "not expected")):
        keys = j.loc[j["_merge"] == side, "doc_id"]
        if len(keys):
            problems.append(f"{len(keys)} keys {label}, e.g. {keys.iloc[0]!r}")
    both = j[j["_merge"] == "both"]
    for col in ("n_tok", "source", "d1", "d2"):
        bad = both[both[f"{col}_exp"] != both[f"{col}_act"]]
        if len(bad):
            r = bad.iloc[0]
            problems.append(
                f"{len(bad)} keys differ in {col}, e.g. {r['doc_id']!r}: "
                f"expected {r[f'{col}_exp']!r}, table {r[f'{col}_act']!r}"
            )
    return problems[:limit]
