"""Correctness gates.

Expectations come from code that shares nothing with the pipeline:
transcript totals from ``tests/oracle.py`` (a row-at-a-time
re-implementation of parse, enrich and route), library results from
``__spark_entry__.oracle_sql()`` on DuckDB.  Outputs are read back with
pyarrow, never through Spark, so a gate cannot agree with the engine by
sharing its bugs.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DROPPED_SINK = "_dropped"


def expected_counts(rows: pd.DataFrame) -> dict[str, Counter]:
    """Per-sink and filter totals of the deduplicated input."""
    from tests.oracle import enrich_route_row

    sinks: Counter = Counter()
    filt: Counter = Counter()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    uniq = rows.drop_duplicates(["conv_id", "turn_idx"])[cols]
    for rec in uniq.itertuples(index=False):
        ts = rec.ts.tz_convert(None).to_pydatetime()
        r = enrich_route_row({
            "conv_id": rec.conv_id, "turn_idx": int(rec.turn_idx),
            "role": rec.role, "text": rec.text, "tool": rec.tool, "ts": ts,
        })
        filt[(r["filter_status"], r["role"])] += 1
        for s in r["sinks"]:
            sinks[s] += 1
        if r["filter_status"] == "DROPPED":
            sinks[DROPPED_SINK] += 1
    return {"sinks": sinks, "filter": filt}


def _sink_files(sinks_dir: str):
    """(sink name, parquet file) for every file under a ``sink=`` partition."""
    for f in glob.glob(os.path.join(sinks_dir, "**", "sink=*", "*.parquet"),
                       recursive=True):
        yield next(p[5:] for p in f.split(os.sep) if p.startswith("sink=")), f


def sink_rows(sinks_dir: str) -> Counter:
    """Rows per sink, from parquet footers."""
    out: Counter = Counter()
    for sink, f in _sink_files(sinks_dir):
        out[sink] += pq.ParquetFile(f).metadata.num_rows
    return out


def _table(path: str) -> pd.DataFrame:
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return ds.dataset(files, format="parquet").to_table().to_pandas()


def filter_counts(agg_dir: str) -> Counter:
    t = _table(os.path.join(agg_dir, "filter_counts"))
    return Counter({(r.filter_status, r.role): int(r.n_messages)
                    for r in t.itertuples(index=False)})


def diff(name: str, got: Counter, want: Counter) -> list[str]:
    """Human-readable mismatches (empty when equal)."""
    keys = sorted(set(got) | set(want), key=str)
    bad = [k for k in keys if got.get(k, 0) != want.get(k, 0)]
    return [f"{name}[{k}]: got {got.get(k, 0)}, want {want.get(k, 0)}"
            for k in bad[:5]]


# --- library queries: the DuckDB oracle comparison ---------------------

def parquet_bytes(df: pd.DataFrame) -> int:
    """Size of ``df`` written as one parquet file."""
    import pyarrow as pa

    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), buf)
    return buf.getvalue().size


def oracle_frame(sql: str, data_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for f in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        return con.execute(sql).df()
    finally:
        con.close()


def query_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Columns, row count, then the order-insensitive value hash of
    ``tools/check_oracles.py``."""
    from tools.check_oracles import frame_hash

    got = got.rename(columns=str.lower)
    want = want.rename(columns=str.lower)
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if frame_hash(got) != frame_hash(want):
        return "value hash differs"
    return None
