#!/usr/bin/env python
"""Self-check of the driver contract: run every ``queries()`` entry
that has an ``oracle_sql()`` twin and compare row count, column names,
and an order-insensitive value hash (columns sorted by name, rows
sorted, values stringified) — a local mirror of the driver's
CORRECTNESS gate.

Driver-faithful fetch: both sides go through **pandas** (Spark
``toPandas()``, DuckDB ``.df()``), because that is where the driver's
type coercions happen — DuckDB HUGEINT (any ``sum`` over BIGINT)
becomes float64 in pandas, and the canonicalizer below renders floats
and ints DIFFERENTLY ("3.000000" vs "3") so that drift fails here
before it fails in the driver. The r4 ``sequence_pack`` red row
shipped precisely because the old checker used ``fetchall()`` (HUGEINT
→ Python int → green locally, red in the driver).

Usage:
    python tools/check_oracles.py [query ...]
    python tools/check_oracles.py --json SELFCHECK_r05.json   # full contract artifact
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from decimal import Decimal

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(v) -> str:
    """Type-sensitive canonical string. Floats (incl. integral ones)
    format as %.6f while ints format bare, so an int-vs-float type
    drift between engine and oracle changes the hash — the integral-
    typed assertion the r4 post-mortem called for."""
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NULL" if math.isnan(v) else f"{float(v):.6f}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        s = format(v, "f")
        return s.rstrip("0").rstrip(".") if "." in s else s
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_rows(df) -> tuple[list[str], list[tuple]]:
    """pandas frame -> (columns, row tuples) with NaT/None normalized."""
    import pandas as pd

    cols = list(df.columns)
    rows = []
    for row in df.itertuples(index=False, name=None):
        rows.append(tuple(None if v is pd.NaT else v for v in row))
    return cols, rows


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(canon_rows).encode()).hexdigest()


def _kind(dtype) -> str:
    return getattr(dtype, "kind", "O")


def main() -> None:
    import duckdb

    import __spark_entry__ as entry
    from smartglass_ocr_spark.session import get_spark

    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: check_oracles.py [--json OUT.json] [query ...]")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2 :]
    wanted = args
    qs, oracles = entry.queries(), entry.oracle_sql()
    unknown = [w for w in wanted if w not in qs]
    if unknown:
        known = ", ".join(sorted(qs))
        sys.exit(f"unknown query name(s) {unknown}; queries: {known}")
    spark = get_spark("oracle-check", cpus=8, shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    failures = []
    report: dict[str, dict] = {}
    try:
        for name, fn in qs.items():
            if wanted and name not in wanted:
                continue
            # same hygiene perfbench's contract_suite applies between
            # queries: operators with caller-owned persists otherwise
            # accumulate cached blocks across the sweep. At the top of
            # the iteration so every branch below, `continue`s
            # included, starts clean.
            spark.catalog.clearCache()
            try:
                if name not in oracles:
                    # rows-only check, mirroring the driver's weaker
                    # gate — also when the name was EXPLICITLY asked
                    # for (silently skipping it would read as a green
                    # oracle check that never ran)
                    if json_path or name in wanted:
                        n = fn(spark, SF_DIR).count()
                        report[name] = {
                            "rows_match": None,
                            "schema_match": None,
                            "hash_match": None,
                            "spark_rows": n,
                            "oracle_rows": None,
                            "err": "no_oracle",
                        }
                        print(f"....  {name}: no_oracle, spark_rows={n}")
                    continue
                sdf = fn(spark, SF_DIR).toPandas()
                ddf = con.sql(oracles[name]).df()
            except Exception as exc:  # record, keep sweeping
                msg = f"{type(exc).__name__}: {exc}"
                print(f"ERR   {name}: {msg.splitlines()[0][:200]}")
                failures.append(name)
                report[name] = {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": None,
                    "oracle_rows": None,
                    "err": msg[:500],
                }
                continue
            scols, srows = frame_rows(sdf)
            dcols, drows = frame_rows(ddf)
            ok_n = len(srows) == len(drows)
            ok_c = sorted(scols) == sorted(dcols)
            ok_h = ok_c and value_hash(scols, srows) == value_hash(dcols, drows)
            status = "OK" if (ok_n and ok_c and ok_h) else "FAIL"
            print(
                f"{status:4} {name}: rows {len(srows)}/{len(drows)} "
                f"cols={'=' if ok_c else scols} hash={'=' if ok_h else 'MISMATCH'}"
            )
            if status != "OK":
                failures.append(name)
                if ok_c:  # diagnose dtype drift per shared column
                    sd = {c: _kind(sdf[c].dtype) for c in scols}
                    dd = {c: _kind(ddf[c].dtype) for c in dcols}
                    drift = {
                        c: (sd[c], dd[c]) for c in scols if sd[c] != dd[c]
                    }
                    if drift:
                        print(f"     dtype drift (spark, oracle): {drift}")
            report[name] = {
                "rows_match": ok_n,
                "schema_match": ok_c,
                "hash_match": ok_h,
                "spark_rows": len(srows),
                "oracle_rows": len(drows),
                "err": None,
            }
    finally:
        spark.stop()
    if json_path:
        with open(json_path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_path} ({len(report)} rows)")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all oracles green")


if __name__ == "__main__":
    main()
