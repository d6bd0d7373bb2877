#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir>
           [--use-hints] [--max-temp SIZE] [--emit PATH]

Loads each <verify_out_dir>/<name> parquet (Spark result), runs the matching
SQL from oracle_sql.json in DuckDB over the <sf_dir> parquet tables, sorts
columns by name and rows by all columns, and reports row/schema/value
matches. Dev tooling only — the real gate is the driver's CORRECTNESS_r{N}.

Round-19 flags (after the 10x scale probe spilled >72 GB and the driver's
CORRECTNESS artifact landed empty two rounds running):
  --use-hints   read oracle_hints.json (written by graft.Verify next to
                oracle_sql.json): per hinted query, run its setup DDL once
                (materializes a shared CTE chain to a temp table — DuckDB
                inlines WITH chains per reference, so e.g. pipe4's shared
                `att` re-evaluates 8x inlined) and replay the hinted SQL
                instead. Identical results by construction; use at sf >=
                0.1-scale probes. Identical setup strings are executed once.
  --max-temp    cap DuckDB's spill (SET max_temp_directory_size), default
                48GiB — a runaway replay now fails its own query instead of
                exhausting the volume (which transiently broke a CONCURRENT
                writer during the round-18 probe). Best-effort on older
                duckdb builds.
  --emit        also write a driver-shape correctness artifact: {name:
                {"rows_match", "schema_match", "hash_match", "err"}} —
                the belt-and-braces evidence copy committed per round while
                the driver-side artifact chain is unreliable.

Every result line ends with the query's time split: seconds loading
Spark's output, running the DuckDB oracle SQL, and in canon plus the
compare. The run ends with the ten slowest queries by total time.

Strictness (round 2): the round-1 version allowed 1e-9 relative tolerance
and type-insensitive string compare, which reported "ALL OK" while the
driver's hash compare failed 12 DECIMAL-typed queries. The compare is now
representation-exact, modeled on a canonical-string hasher:
  - column dtypes must match (so DECIMAL vs DOUBLE is a schema fail here,
    not a silent value pass);
  - each cell must match in Python type name AND canonical repr — no
    numeric tolerance. NaN==NaN is allowed (both render 'nan'), but
    -0.0 vs 0.0, Decimal('1.4000') vs Decimal('1.4'), 1 vs 1.0, and
    '1' vs 1 all fail, mirroring how a value hasher would see them.
"""
import json
import math
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def values_equal(a, b) -> bool:
    """Exact representation compare: type name + canonical repr."""
    if a is None and b is None:
        return True
    if type(a).__name__ != type(b).__name__:
        return False
    if isinstance(a, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return repr(a) == repr(b)  # bit-exact incl. -0.0 vs 0.0
    return str(a) == str(b)


def main(out_dir: str, sf_dir: str, use_hints: bool = False,
         max_temp: str = "48GiB", emit: str = None) -> int:
    import os
    con = duckdb.connect()
    try:
        con.execute(f"SET max_temp_directory_size='{max_temp}'")
    except Exception as e:  # older duckdb: warn, never block the compare
        print(f"WARN: max_temp_directory_size unsupported ({e})")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    hints = {}
    if use_hints and os.path.exists(f"{out_dir}/oracle_hints.json"):
        hints = json.load(open(f"{out_dir}/oracle_hints.json"))
        print(f"using hints for {len(hints)} queries")
    setups_done = set()
    report = {}
    n_fail = 0
    timings = {}  # name -> (load_s, oracle_s, compare_s)

    def record(name, rows=True, schema=True, values=True, err=None):
        report[name] = {"rows_match": rows, "schema_match": schema,
                        "hash_match": rows and schema and values,
                        "err": err}

    for name, sql in sorted(oracle.items()):
        t_load = t_oracle = t_compare = 0.0

        def split():
            timings[name] = (t_load, t_oracle, t_compare)
            return (f"  [load {t_load:.2f}s oracle {t_oracle:.2f}s "
                    f"compare {t_compare:.2f}s]")

        if name in hints:
            h = hints[name]
            if h["setup"] not in setups_done:
                con.execute(h["setup"])
                setups_done.add(h["setup"])
            sql = h["sql"]
        t0 = time.perf_counter()
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            t_load = time.perf_counter() - t0
            t0 = time.perf_counter()
            want = con.sql(sql).df()
            t_oracle = time.perf_counter() - t0
        except Exception as e:
            print(f"FAIL {name}: load/exec error: {e}{split()}")
            record(name, rows=False, schema=False, values=False, err=str(e))
            n_fail += 1
            continue
        t0 = time.perf_counter()
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            t_compare = time.perf_counter() - t0
            print(f"FAIL {name}: columns {list(g.columns)} != "
                  f"{list(w.columns)}{split()}")
            record(name, schema=False, values=False)
            n_fail += 1
            continue
        if [str(t) for t in g.dtypes] != [str(t) for t in w.dtypes]:
            t_compare = time.perf_counter() - t0
            print(f"FAIL {name}: dtypes {list(map(str, g.dtypes))} "
                  f"!= {list(map(str, w.dtypes))}{split()}")
            record(name, schema=False, values=False)
            n_fail += 1
            continue
        if len(g) != len(w):
            t_compare = time.perf_counter() - t0
            print(f"FAIL {name}: rows {len(g)} != {len(w)}{split()}")
            record(name, rows=False, values=False)
            n_fail += 1
            continue
        bad = None
        for c in g.columns:
            gv, wv = g[c].tolist(), w[c].tolist()
            for i, (x, y) in enumerate(zip(gv, wv)):
                if not values_equal(x, y):
                    bad = (c, i, x, y)
                    break
            if bad:
                break
        t_compare = time.perf_counter() - t0
        if bad:
            c, i, x, y = bad
            print(f"FAIL {name}: col {c} row {i}: "
                  f"spark={x!r} ({type(x).__name__}) "
                  f"duck={y!r} ({type(y).__name__}){split()}")
            record(name, values=False)
            n_fail += 1
        else:
            print(f"OK   {name}: {len(g)} rows x {len(g.columns)} cols"
                  f"{split()}")
            record(name)
    slowest = sorted(timings.items(), key=lambda kv: -sum(kv[1]))[:10]
    print("slowest queries (total = load + oracle + compare):")
    for name, (a, b, c) in slowest:
        print(f"  {a + b + c:8.2f}s  {name}  "
              f"[load {a:.2f}s oracle {b:.2f}s compare {c:.2f}s]")
    if emit:
        with open(emit, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"driver-shape artifact -> {emit}")
    print(f"{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'} "
          f"({len(oracle)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("--use-hints", action="store_true")
    ap.add_argument("--max-temp", default="48GiB")
    ap.add_argument("--emit", default=None)
    a = ap.parse_args()
    sys.exit(main(a.out_dir, a.sf_dir, a.use_hints, a.max_temp, a.emit))
