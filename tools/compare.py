#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [skipName,...]

The optional third arg skips named queries; queries whose Spark dump is
absent from <verifyOutDir> are skipped silently when a filter dumped only
a subset.

Runs each oracle SQL from <verifyOutDir>/oracle_sql.json in DuckDB with the
sfDir parquet tables registered as views, loads the Spark result parquet from
<verifyOutDir>/<name>/, sorts columns by name and rows by all values, and
compares cell-by-cell EXACTLY — floats included (both engines are expressed
to run bit-identical arithmetic; rounding in the queries themselves is the
only tolerance). On mismatch the first differing sorted row pair is printed
so the magnitude of a drift is visible.

When <verifyOutDir>/oracle_prereq.json names a query, its alternate
TERMINATING oracle form is used instead: the prerequisite relation is
materialized iteratively in Python (e.g. the Laguerre RSI recursion — the
laguerre_proto.scala_rsi transliteration validated bit-exact against both
the Scala loop and the recursive SQL at sf0.01) and registered before the
alternate SQL runs. This is what lets q47 run at sf0.1, where the
self-contained recursive-CTE oracle does not finish in practical time.
"""
import glob
import json
import math
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def materialize_prereq(con, spec):
    """Register spec['table'] computed iteratively per spec['kind'];
    returns a cleanup closure."""
    kind = spec["kind"]
    if kind != "laguerre_regime":
        raise ValueError(f"unknown prereq kind: {kind}")
    from itertools import groupby
    import pandas as pd
    import laguerre_proto
    # thresholds come from the spec (SparkEntry's single Scala definition),
    # never a local copy that could silently drift
    ld, lu = float(spec["level_down"]), float(spec["level_up"])
    rows = con.execute(spec["input_sql"]).fetchall()
    out = []
    for _, grp in groupby(rows, key=lambda r: r[0]):
        g = list(grp)
        rs = laguerre_proto.scala_rsi(
            [r[3] for r in g], [r[4] for r in g], [r[5] for r in g])
        for r, v in zip(g, rs):
            out.append((r[0], r[1], r[2],
                        0 if v < ld else (2 if v > lu else 1)))
    df = pd.DataFrame(out, columns=["event_type", "ts_us", "event_id", "regime"])
    con.register(spec["table"], df)
    return lambda: con.unregister(spec["table"])


def limit_to_machine(con):
    """Caps DuckDB at 60 % of the machine's memory and half its cores.
    Uncapped, DuckDB sizes itself for the whole machine, and at sf0.1 the
    kernel's OOM killer ended a run with no summary line. At 40 %, q119's
    oracle fails at sf0.01 with DuckDB's own out-of-memory error."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    con.execute(f"SET memory_limit='{int(kb * 0.6) // 1024}MB'")
    con.execute(f"SET threads={max(1, len(os.sched_getaffinity(0)) // 2)}")


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    skip = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else set()
    con = duckdb.connect()
    limit_to_machine(con)
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    try:
        prereq = json.load(open(f"{out_dir}/oracle_prereq.json"))
    except FileNotFoundError:
        prereq = {}
    # Verify records every query that THREW in failures.json (and clears
    # that query's dump dir before running, so no stale parquet survives);
    # without this, a crashed query's missing dump was indistinguishable
    # from a filtered dev run and counted as a silent skip — a regression
    # masked as a green gate (r13 review)
    try:
        verify_failures = json.load(open(f"{out_dir}/failures.json"))
    except FileNotFoundError:
        verify_failures = {}
    n_pass = n_fail = n_skip = 0
    for name, sql in sorted(oracle.items()):
        if name in skip:
            print(f"SKIP {name} (requested)", flush=True)
            n_skip += 1
            continue
        if name in verify_failures:
            print(f"FAIL {name}: query threw during Verify: "
                  f"{verify_failures[name]}", flush=True)
            n_fail += 1
            continue
        if not glob.glob(f"{out_dir}/{name}/*.parquet"):
            # a filtered Verify run dumped only a subset — not a failure
            n_skip += 1
            continue
        cleanup = None
        note = ""
        try:
            if name in prereq:
                cleanup = materialize_prereq(con, prereq[name])
                sql = prereq[name]["oracle_sql"]
                note = f" [precomputed {prereq[name]['kind']}]"
            want = con.execute(sql).fetch_df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}", flush=True)
            n_fail += 1
            continue
        finally:
            if cleanup:
                cleanup()
        try:
            got = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetch_df()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e}", flush=True)
            n_fail += 1
            continue
        want = want.reindex(sorted(want.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(want.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}", flush=True)
            n_fail += 1
            continue
        if len(want) != len(got):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}", flush=True)
            n_fail += 1
            continue
        wrows = sorted([tuple(str(norm(v)) for v in r)
                        for r in want.itertuples(index=False)])
        grows = sorted([tuple(str(norm(v)) for v in r)
                        for r in got.itertuples(index=False)])
        if wrows == grows:
            print(f"PASS {name} ({len(want)} rows){note}", flush=True)
            n_pass += 1
        else:
            bad = sum(1 for a, b in zip(wrows, grows) if a != b)
            print(f"FAIL {name}: {bad}/{len(wrows)} sorted rows differ", flush=True)
            for a, b in list(zip(wrows, grows))[:2000]:
                if a != b:
                    print(f"   oracle: {a}\n   spark : {b}", flush=True)
                    break
            n_fail += 1
    # the oracle loop only sees names present in oracle_sql.json; a query
    # registered without an oracle ("omit for non-SQL-expressible ops")
    # that THREW during Verify would otherwise revert to a silent skip —
    # every failures.json entry must surface as a FAIL row (r14 advice)
    for name in sorted(set(verify_failures) - set(oracle)):
        if name in skip:
            # a skipped crashed query must still appear in the summary —
            # mirroring the main loop's SKIP accounting (r14 advice)
            print(f"SKIP {name} (requested)", flush=True)
            n_skip += 1
            continue
        print(f"FAIL {name}: query threw during Verify (no oracle row): "
              f"{verify_failures[name]}", flush=True)
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} skipped")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
