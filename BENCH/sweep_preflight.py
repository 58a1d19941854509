"""Oracle parity of driver queries at $SPARK_GRAFT_ORACLE_SF_DIR (default
sf0.01): each query's rows against its DuckDB oracle in one warm session,
one JSON line per query with its wall and match, then a summary line.

An integer argument runs the FIRST n queries() entries (50 by default);
names run those queries.

Run: python BENCH/sweep_preflight.py [n | query...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from warc_metadata_sidecar_spark import driver_queries as dq
from warc_metadata_sidecar_spark.session import build_session

SF = dq._oracle_sf_dir(None)


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, bool, bool]:
    rows = len(sdf) == len(odf)
    scols = sorted(sdf.columns)
    schema = scols == sorted(odf.columns)
    if not (rows and schema):
        return rows, schema, False
    a = sdf[scols].sort_values(scols).reset_index(drop=True)
    b = odf[scols].sort_values(scols).reset_index(drop=True)
    try:
        b = b.astype(a.dtypes.to_dict())
    except (TypeError, ValueError):
        pass
    # float columns compare at round-6 like the driver / tests/_canon —
    # raw equality flags last-ulp twin noise (classifier_train 4e-19,
    # crawl_rounds priority 1e-16) that the real gate absorbs
    for c in scols:
        if a[c].dtype.kind == "f":
            a[c] = a[c].round(6)
            b[c] = b[c].round(6)
    a = a.sort_values(scols).reset_index(drop=True)
    b = b.sort_values(scols).reset_index(drop=True)
    return rows, schema, a.equals(b)


def main() -> None:
    spark = build_session("sweep-preflight")
    qs = dq.queries()
    oracles = dq.oracle_sql()
    con = duckdb.connect()
    for t in dq.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    args = sys.argv[1:] or ["50"]
    names = list(qs)[: int(args[0])] if args[0].isdigit() else args
    bad, total = [], 0.0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF).toPandas()
            odf = con.sql(oracles[name]).df()
            rows, schema, match = compare(sdf, odf)
            err = None
        except Exception as e:  # noqa: BLE001
            rows = schema = match = False
            err = str(e)[:200]
        wall = round(time.time() - t0, 2)
        total += wall
        ok = rows and schema and match and not err
        if not ok:
            bad.append(name)
        print(json.dumps({"q": name, "sf": SF, "ok": ok, "wall": wall, "err": err}), flush=True)
    print(
        json.dumps({"n": len(names), "failures": bad, "total_sec": round(total, 1)}),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
