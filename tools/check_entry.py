"""Local simulation of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at the given sf next to
its ``oracle_sql()`` DuckDB twin and compares row count, sorted column
names, and an order-insensitive value hash (floats rounded to 9
significant-ish decimals before hashing — the driver is assumed to be
at least this strict, so exact match here is the bar).

Every run also hashes each Spark result alone. ``--hashes`` compares
those hashes with ``ORACLE_HASHES.json`` (keyed by the sf directory's
name) and names every query whose result changed; with no query
arguments it runs exactly the queries the file records for that sf.
``--write-hashes`` records them instead. Query arguments may be
shell-style patterns (``'kg_*'``). Spark runs at
``local[$SPARK_GRAFT_CPUS]`` (default: the process's CPU affinity).

Usage: python tools/check_entry.py [--hashes | --write-hashes]
                                   [sf_dir] [query ...]
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
HASH_FILE = os.path.join(ROOT, "ORACLE_HASHES.json")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def value_hash(pdf) -> str:
    """Order-insensitive hash: sort columns by name, stringify rows
    (floats repr'd exactly), sort rows, md5."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for t in pdf.itertuples(index=False):
        parts = []
        for v in t:
            if isinstance(v, float):
                parts.append(repr(round(v, 9)))
            else:
                parts.append(str(v))
        rows.append("\x1f".join(parts))
    rows.sort()
    return hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def main():
    mode = sys.argv.pop(1) if sys.argv[1:2] in (["--hashes"],
                                                ["--write-hashes"]) else None
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    pats = sys.argv[2:]
    sf_key = os.path.basename(os.path.normpath(sf_dir))
    pinned = {}
    if os.path.exists(HASH_FILE):
        with open(HASH_FILE) as f:
            pinned = json.load(f)
    if mode == "--hashes" and not pats:
        pats = sorted(pinned.get(sf_key, {}))
    spark_hashes: dict[str, str] = {}

    def selected(name):
        return not pats or any(fnmatch.fnmatchcase(name, p) for p in pats)

    # kg oracles read the materialized fixture world for this sf
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entry
    from fashion_knowledge_graph_spark.session import get_spark

    spark = get_spark("check-entry")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entry.queries(), entry.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if not selected(name):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name:28s} spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        spark_hashes[name] = value_hash(spdf)
        if name not in oracles:
            status = "ROWS" if len(spdf) >= 0 else "FAIL"
            print(f"{status}  {name:28s} rows={len(spdf)}  "
                  f"({time.time()-t0:.1f}s, rows-only)")
            n_rowsonly += 1
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name:28s} oracle error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok_rows = len(spdf) == len(opdf)
        ok_cols = sorted(spdf.columns) == sorted(opdf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(spdf) == value_hash(opdf)
        if ok_hash:
            print(f"PASS  {name:28s} rows={len(spdf)} ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name:28s} rows {len(spdf)}/{len(opdf)} "
                  f"cols_ok={ok_cols} hash_ok={ok_hash}")
            if ok_cols and ok_rows:
                cols = sorted(spdf.columns)
                s1 = {tuple(r) for r in spdf[cols].astype(str).itertuples(index=False)}
                s2 = {tuple(r) for r in opdf[cols].astype(str).itertuples(index=False)}
                for d in list(s1 - s2)[:3]:
                    print("    spark-only:", d)
                for d in list(s2 - s1)[:3]:
                    print("    oracle-only:", d)
            else:
                print("    spark cols:", sorted(spdf.columns))
                print("    oracle cols:", sorted(opdf.columns))
            n_fail += 1
    print(f"== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail ==")
    spark.stop()
    if mode == "--write-hashes":
        pinned[sf_key] = dict(sorted(
            {**pinned.get(sf_key, {}), **spark_hashes}.items()))
        with open(HASH_FILE, "w") as f:
            json.dump(dict(sorted(pinned.items())), f, indent=1)
            f.write("\n")
        print(f"== recorded {len(spark_hashes)} hashes for {sf_key} ==")
    elif mode == "--hashes":
        want = pinned.get(sf_key, {})
        changed = sorted(n for n in set(want) | set(spark_hashes)
                         if selected(n) and want.get(n) != spark_hashes.get(n))
        for n in changed:
            print(f"CHANGED  {n:28s} {want.get(n)} -> {spark_hashes.get(n)}")
        same = sum(want.get(n) == h for n, h in spark_hashes.items())
        print(f"== {same} hashes unchanged, {len(changed)} changed ==")
        n_fail += len(changed)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
