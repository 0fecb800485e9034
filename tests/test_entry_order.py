"""Driver re-verification order of ``__spark_entry__.queries()``: the
driver checks only the first 50 keys a round, so after the flagship keys
the registry leads with the keys whose last hash-confirmed round is the
oldest. Reads the committed CORRECTNESS_r*.json files; needs no Spark."""

import glob
import json
import os
import re

import __spark_entry__ as entrymod

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_confirmed() -> dict[str, int]:
    """Latest round that confirmed each key: a hash match, or a rows-only
    pass while the key still has no oracle."""
    oracled = set(entrymod.oracle_sql())
    last: dict[str, int] = {}
    for p in glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", p).group(1))
        with open(p) as f:
            for k, v in json.load(f).items():
                if v.get("hash_match") or (
                    v.get("err") == "no_oracle" and k not in oracled
                ):
                    last[k] = max(last.get(k, 0), rnd)
    return last


def test_first_fifty_keys_are_the_stalest():
    last = _last_confirmed()
    first = list(entrymod.queries())[:50]
    assert first[:2] == ["cdc_merge", "publish_roundtrip"]
    stale = [k for k in first if last.get(k, 0) in (1, 2)]
    assert len(stale) >= 45, {k: last.get(k) for k in first}


def test_order_after_flagship_is_oldest_confirmation_first():
    last = _last_confirmed()
    keys = list(entrymod.queries())[2:]
    rounds = [last.get(k, 0) for k in keys]
    assert rounds == sorted(rounds)
