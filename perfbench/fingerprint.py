"""Order-insensitive result fingerprints, and the stored table of them.

A fingerprint is ``"<rows>:<hash>"``: the row count, then the sum modulo
2**64 of one 64-bit hash per row, so row order does not matter. Before
hashing, each row is normalised: columns are taken in name order,
floats and decimals are printed to 9 significant digits (so last-bit
differences between engines do not count), timestamps become naive UTC
ISO strings, and arrays, structs and maps are normalised element-wise.

Run as a script to rebuild ``fingerprints.json`` next to this file::

    python3 perfbench/fingerprint.py

Each benchmarked builder is fingerprinted twice: once from its DuckDB
oracle in ``plans.ORACLE`` (where one exists) and once from this tree's
Spark result. The stored value is the oracle's when the two agree, and
the tree's otherwise; ``source`` records which, and ``oracle_mismatch``
lists the builders whose Spark result disagrees with their oracle.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
STORE = os.path.join(HERE, "fingerprints.json")


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return "0" if f == 0 else format(f, ".9g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((repr(_norm(k)), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def fingerprint(columns: list[str], rows) -> str:
    """Fingerprint of a result given its column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: (columns[i].lower(), i))
    total = 0
    n = 0
    for row in rows:
        key = repr(tuple(_norm(row[i]) for i in order)).encode()
        total += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")
        n += 1
    return f"{n}:{total % 2**64:016x}"


def load() -> dict:
    with open(STORE) as fh:
        return json.load(fh)


def duckdb_views(con, data_dir: str) -> None:
    """Register every source table of ``data_dir`` as a DuckDB view."""
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name).replace("'", "''")
            con.execute(
                f"CREATE OR REPLACE VIEW {name[:-8]} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )


def duckdb_fingerprint(con, sql: str) -> str:
    cur = con.execute(sql)
    return fingerprint([d[0] for d in cur.description], cur.fetchall())


def _refresh() -> None:
    import run

    data_dir = run.prepare()
    from gazelle_plugin_spark.plans import all_oracles, all_queries

    dirs = run.tmp_dirs()
    try:
        store = _fingerprint_all(run, data_dir, dirs, all_queries(), all_oracles())
    finally:
        shutil.rmtree(dirs["run"], ignore_errors=True)
    with open(STORE, "w") as fh:
        json.dump(store, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _fingerprint_all(run, data_dir, dirs, queries, oracles) -> dict:
    import duckdb

    spark = run.start_session(dirs)
    con = duckdb.connect()
    duckdb_views(con, data_dir)
    store: dict = {"data": run.DATA_NAME, "ops": {}, "oracle_mismatch": []}
    names = dict.fromkeys(n for ops in run.WORKLOADS.values() for n in ops)
    for name in names:
        runs = []
        for _ in range(2):
            df = queries[name](spark, data_dir)
            runs.append(fingerprint(df.columns, df.collect()))
        if runs[0] != runs[1]:
            raise SystemExit(f"{name}: result differs between two runs: {runs}")
        entry = {"fingerprint": runs[0], "source": "tree"}
        if name in oracles:
            oracle = duckdb_fingerprint(con, oracles[name])
            if oracle == runs[0]:
                entry["source"] = "duckdb-oracle"
            else:
                store["oracle_mismatch"].append(name)
                entry["oracle_fingerprint"] = oracle
        store["ops"][name] = entry
        print(name, entry, file=sys.stderr)
    run.stop_session(spark)
    return store


if __name__ == "__main__":
    _refresh()
