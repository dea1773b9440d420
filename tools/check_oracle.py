#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry AND its ``oracle_sql()`` via DuckDB on the
same parquet, compare row count + schema + order-insensitive values.

Usage: python tools/check_oracle.py [--json OUT] [sf_dir] [query ...]

``--json OUT`` also writes the run as JSON: the git sha (and whether the
tree had uncommitted changes), the sf dir, and per query its status
(``pass``, ``fail`` or ``rows-only``), Spark row count, Spark and DuckDB
seconds, any mismatch details, its ``closure``: the
``locus_spark.queries.closure_hash`` of the code and oracle it ran, and its
``oracle_sha256``: the sha256 of its oracle SQL text (null without one), so
diffing two runs names the rows whose oracle text changed.  A
passing row vouches for that hash when the run is committed as
``ORACLE_*.json``, which is what orders ``queries()`` for the correctness
harness's bounded check window.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import pathlib
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from locus_spark.queries import closure_hash  # noqa: E402
from locus_spark.session import get_spark  # noqa: E402
from locus_spark.sources.derived import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if problems:
        return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for col in a.columns:
        av, bv = a[col].to_numpy(), b[col].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            exact = np.array_equal(av.astype(np.float64), bv.astype(np.float64))
            if not exact:
                close = np.allclose(
                    av.astype(np.float64), bv.astype(np.float64), rtol=1e-12, atol=0
                )
                problems.append(
                    f"float col '{col}' differs ({'close' if close else 'FAR'}); "
                    f"first mismatch idx="
                    f"{int(np.argmax(av.astype(np.float64) != bv.astype(np.float64)))}"
                )
        else:
            if not np.array_equal(av, bv):
                problems.append(f"col '{col}' differs")
    return problems


def git_state() -> dict:
    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=REPO, capture_output=True, text=True, check=False
        ).stdout.strip()

    return {"sha": git("rev-parse", "HEAD"), "dirty": bool(git("status", "--porcelain"))}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--json", type=pathlib.Path, help="also write the run here")
    args, sys.argv[1:] = ap.parse_known_args()  # the rest: [sf_dir] [query ...]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check_oracle", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        oracle = oracles.get(name)
        row = {"name": name, "closure": closure_hash(name),
               "oracle_sha256": oracle and hashlib.sha256(oracle.encode()).hexdigest(),
               "status": "fail", "rows": None,
               "spark_s": None, "duckdb_s": None, "problems": []}
        results.append(row)
        t0 = time.perf_counter()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            row["problems"] = [f"spark raised {type(exc).__name__}: {exc}"]
            print(f"FAIL {name}: {row['problems'][0]}")
            failures += 1
            continue
        row["spark_s"] = round(time.perf_counter() - t0, 3)
        row["rows"] = len(spark_pdf)
        if oracle is None:
            row["status"] = "rows-only"
            print(f"rows-only {name}: {len(spark_pdf)} rows")
            continue
        t0 = time.perf_counter()
        try:
            duck_pdf = con.execute(oracle).df()
        except Exception as exc:  # noqa: BLE001
            row["problems"] = [f"duckdb raised {type(exc).__name__}: {exc}"]
            print(f"FAIL {name}: {row['problems'][0]}")
            failures += 1
            continue
        row["duckdb_s"] = round(time.perf_counter() - t0, 3)
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            failures += 1
            row["problems"] = problems
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            row["status"] = "pass"
            print(f"PASS {name}: {len(spark_pdf)} rows")
    spark.stop()
    if args.json:
        args.json.write_text(json.dumps({
            **git_state(),
            "sf_dir": sf_dir,
            "passed": sum(r["status"] == "pass" for r in results),
            "failed": failures,
            "queries": results,
        }, indent=1) + "\n")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
