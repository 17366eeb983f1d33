"""Local replica of the driver's correctness harness.

Runs each __spark_entry__ queries()[name] on Spark and oracle_sql()[name]
on DuckDB over the same sf dir, compares row count + order-insensitive
value hash (columns sorted by name, rows sorted, values stringified).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v) -> str:
    import decimal
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "NULL"
    if isinstance(v, float):
        # do NOT strip the fractional part entirely: an int64 on one
        # side vs a float64 on the other (e.g. DuckDB HUGEINT→float64)
        # must FAIL here like it fails in the driver's stricter
        # normalizer (learned from the r01 q_text_stats red row)
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        "\x1f".join(norm_cell(v) for v in rec) for rec in df.itertuples(index=False)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def main(
    sf_dir: str = "/root/testdata/sf0.01",
    only: list[str] | None = None,
    json_out: str | None = None,
):
    import __spark_entry__ as entrymod
    from skewer_spark.session import build_session

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            results[name] = {"err": f"spark: {type(e).__name__}: {e}"}
            n_fail += 1
            continue
        dt_spark = time.time() - t0
        if name not in oracles:
            print(f"rows-only {name}: {len(sdf)} rows ({dt_spark:.1f}s)")
            results[name] = {"spark_rows": len(sdf), "rows_only": True}
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            results[name] = {"err": f"duckdb: {e}"}
            n_fail += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(map(str.lower, sdf.columns)) == sorted(map(str.lower, odf.columns))
        odf.columns = [c.lower() for c in odf.columns]
        sdf.columns = [c.lower() for c in sdf.columns]
        ok_hash = ok_cols and frame_hash(sdf) == frame_hash(odf)
        status = "OK  " if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            n_fail += 1
        results[name] = {
            "rows_match": ok_rows,
            "schema_match": ok_cols,
            "hash_match": bool(ok_hash),
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": None,
        }
        print(f"{status} {name}: rows {len(sdf)}/{len(odf)} cols_ok={ok_cols} "
              f"hash_ok={ok_hash} ({dt_spark:.1f}s)")
        if status == "FAIL" and ok_cols:
            merged_cols = sorted(sdf.columns)
            a = sdf[merged_cols].copy()
            b = odf[merged_cols].copy()
            for c in merged_cols:
                a[c] = a[c].map(norm_cell)
                b[c] = b[c].map(norm_cell)
            a = a.sort_values(merged_cols).reset_index(drop=True)
            b = b.sort_values(merged_cols).reset_index(drop=True)
            diff = a.compare(b) if len(a) == len(b) else None
            if diff is not None and not diff.empty:
                print(diff.head(5).to_string())
            elif len(a) != len(b):
                onlya = pd.concat([a, b, b]).drop_duplicates(keep=False)
                print("rows only in one side (sample):")
                print(onlya.head(5).to_string())
    spark.stop()
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
        print(f"wrote {json_out} ({len(results)} queries)")
    print("FAILURES:", n_fail)
    return n_fail


if __name__ == "__main__":
    argv = sys.argv[1:]
    json_out = None
    sf_dir = "/root/testdata/sf0.01"
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if "--sf" in argv:
        i = argv.index("--sf")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    only = argv or None
    sys.exit(1 if main(sf_dir, only=only, json_out=json_out) else 0)
