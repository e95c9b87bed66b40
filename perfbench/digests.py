#!/usr/bin/env python3
"""Regenerate the read workloads' expected result digests.

    python3 perfbench/digests.py [--sf 0.01]

Run from the root of a checkout. Generates the inputs at the scale factor,
asks the harness for the oracle SQL of every `star_olap` and `pipeline`
entry (`graft.SparkEntry.oracleSql`), runs each oracle in DuckDB, and
writes perfbench/digests_sf<sf>.tsv: name, row count, digest. Every entry
has an oracle; the dump fails for one that has none. Several oracles take
tens of seconds, which is why this runs once and its output is committed
instead of running on every benchmark run.

The canonical form mirrors tools/check_oracle.py's (columns sorted by name,
decimals through float, NaN as NULL) with doubles compared by their bits;
Digest.scala implements the same form for Spark's results.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import struct
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "True" if v else "False"
    if isinstance(v, float):
        return "d:" + struct.pack(">d", v).hex()
    if isinstance(v, decimal.Decimal):
        return cell(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, str):
        return v
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(tbl):
    cols = sorted(tbl.column_names)
    rows = tbl.select(cols).to_pylist()
    hashes = sorted(hashlib.sha1("\x1f".join(cell(r[c]) for c in cols).encode()).hexdigest()
                    for r in rows)
    return len(rows), hashlib.sha256(
        (",".join(cols) + "\n" + "\n".join(hashes)).encode()).hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    classpath = run.build()
    work = os.path.join(run.BUILD, "digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    run.generate(data, args.sf)
    dump = os.path.join(work, "oracles.json")
    if run.jvm(classpath, work, ["--mode", "dump", "--data", data, "--out", dump],
               timeout=1800) != 0:
        raise SystemExit("perfbench: oracle dump failed")
    with open(dump) as fh:
        entries = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    lines = [f"# expected results at sf{args.sf:g}; regenerate with: "
             f"python3 perfbench/digests.py --sf {args.sf:g}"]
    for name, sql in entries.items():
        t0 = time.monotonic()
        n, d = digest(con.sql(sql).arrow())
        run.log(f"{name}: {n} rows, oracle {time.monotonic() - t0:.1f} s")
        lines.append(f"{name}\t{n}\t{d}")
    out = os.path.join(run.HERE, f"digests_sf{args.sf:g}.tsv")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    run.log(f"wrote {out}")


if __name__ == "__main__":
    main()
