"""Driver-style comparison of queries() vs oracle_sql() — reusable harness.

Mirrors what the grading driver does at sf=0.01: run the Spark query and the
DuckDB oracle, compare row count, schema (column names), and an
order-insensitive value hash (columns sorted by name, rows sorted, values
canonicalized).
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _canon_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_signature(df: pd.DataFrame) -> tuple[int, tuple, int]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        tuple(_canon_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    return len(df), tuple(cols), hash(tuple(rows))


def run_duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con.execute(sql).fetchdf()


def compare_one(spark, name: str, qfn, sql: str | None):
    sdf = qfn(spark, SF_DIR)
    pdf_s = sdf.toPandas()
    if sql is None:
        return {"name": name, "status": "rows_only", "rows": len(pdf_s)}
    pdf_o = run_duck(sql)
    ns, cs, hs = frame_signature(pdf_s)
    no, co, ho = frame_signature(pdf_o)
    ok = (ns == no) and (cs == co) and (hs == ho)
    out = {"name": name, "status": "MATCH" if ok else "MISMATCH",
           "rows": ns, "oracle_rows": no}
    if not ok:
        out["spark_cols"] = cs
        out["oracle_cols"] = co
        out["count_match"] = ns == no
        out["schema_match"] = cs == co
    return out


def main(only: list[str] | None = None):
    # the checkout this script belongs to, for this process and its workers
    root = str(Path(__file__).resolve().parents[1])
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import __spark_entry__ as entry
    from lsh_spark.session import get_spark

    spark = get_spark("oracle_compare", cores=16, shuffle_partitions=16)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, qfn in qs.items():
        if only and name not in only:
            continue
        try:
            res = compare_one(spark, name, qfn, oracles.get(name))
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "status": "ERROR", "error": str(e)[:500]}
        print(res, flush=True)
        if res["status"] in ("MISMATCH", "ERROR"):
            failures.append(res)
    spark.stop()
    print(f"\n{len(failures)} failures")
    return failures


if __name__ == "__main__":
    main(sys.argv[1:] or None)
