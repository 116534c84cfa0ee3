#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's output
against DuckDB oracles on the same parquet tables and diff values.

Usage: python tools/check.py <sfDir> <verifyOutDir> [receiptJsonPath]

Each query is timed in two parts: the DuckDB oracle execution and the
Python row compare. The ten slowest queries are printed after the
pass/fail total.

When a third argument is given, a machine-readable receipt of the run
(per-query pass/fail + reasons, per-query seconds, versions, totals) is
written there —
committed per round so the round stays signed even if the driver's own
CORRECTNESS artifact comes back empty (round-18: the gate passed but the
artifact was `{}`).
"""
import json
import math
import sys
import time

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def diff(got, exp):
    """None when the Spark result equals the oracle's, else the reason."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    g = got.select(gcols).to_pylist()
    e = exp.select(ecols).to_pylist()
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    bad = None
    maxdiff = 0.0
    for i, (rg, re_) in enumerate(zip(g, e)):
        for c in gcols:
            a, b = norm(rg[c]), norm(re_[c])
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float):
                d = abs(a - b)
                maxdiff = max(maxdiff, d)
                if d > 0:
                    bad = bad or (i, c, a, b)
            else:
                bad = bad or (i, c, a, b)
    if bad:
        i, c, a, b = bad
        exact = "EXACT-MISMATCH" if maxdiff == 0 else f"maxdiff={maxdiff:.3e}"
        return f"row {i} col {c}: {a!r} != {b!r} ({exact})"
    return None


def main(sf_dir, out_dir, receipt_path=None):
    # version stamp: oracle semantics can shift across duckdb releases and
    # Spark float formatting across JDKs — make every gate run attributable
    import platform
    versions = f"duckdb={duckdb.__version__} python={platform.python_version()}"
    print(f"versions: {versions}")
    results = {}
    # per query: seconds in the DuckDB oracle and in the Python row compare
    seconds = {}
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        import glob
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result written")
            results[name] = "FAIL: no spark result written"
            n_fail += 1
            continue
        got = pq.read_table(files[0])
        t0 = time.perf_counter()
        try:
            exp = con.sql(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            results[name] = f"FAIL: oracle error {e}"
            n_fail += 1
            continue
        t1 = time.perf_counter()
        reason = diff(got, exp)
        seconds[name] = {"duckdb": round(t1 - t0, 3),
                         "compare": round(time.perf_counter() - t1, 3)}
        if reason:
            print(f"FAIL {name}: {reason}")
            results[name] = f"FAIL: {reason}"
            n_fail += 1
        else:
            print(f"PASS {name} ({exp.num_rows} rows)")
            results[name] = f"PASS ({exp.num_rows} rows)"
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    slowest = sorted(seconds.items(), key=lambda kv: -sum(kv[1].values()))[:10]
    print("slowest (duckdb s + compare s):")
    for name, s in slowest:
        print(f"  {name}: {s['duckdb']:.3f} + {s['compare']:.3f}")
    if receipt_path:
        json.dump({"versions": versions, "sf_dir": sf_dir,
                   "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                   "pass": n_pass, "fail": n_fail, "results": results,
                   "seconds": seconds},
                  open(receipt_path, "w"), indent=1, sort_keys=True)
        print(f"receipt -> {receipt_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))
