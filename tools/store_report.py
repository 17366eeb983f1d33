"""Per-table, per-column byte report of a pipeline store.

Reads only parquet footers (pyarrow metadata), never the data.  For each
table of the store (``routed``, each ``sinks`` destination, ``_staged``)
it prints the file count, the bytes of the files and of their footers,
then one line per column: compressed bytes summed over every row group
of every file, and the encodings parquet recorded for its chunks.

    python3 tools/store_report.py OUT_DIR

``OUT_DIR`` is a ``run_flat`` or ``run_pipeline`` output directory; the
``bucket=`` level of a bucketed store is summed over.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
from dataclasses import dataclass, field

import pyarrow.parquet as pq


@dataclass
class TableReport:
    files: int = 0
    file_bytes: int = 0
    footer_bytes: int = 0
    # column path → compressed bytes / encodings seen in any chunk
    column_bytes: dict[str, int] = field(default_factory=dict)
    encodings: dict[str, set[str]] = field(default_factory=dict)

    def add(self, path: str) -> None:
        meta = pq.ParquetFile(path).metadata
        self.files += 1
        self.file_bytes += os.path.getsize(path)
        self.footer_bytes += meta.serialized_size
        for rg in range(meta.num_row_groups):
            group = meta.row_group(rg)
            for i in range(group.num_columns):
                col = group.column(i)
                name = col.path_in_schema
                self.column_bytes[name] = (
                    self.column_bytes.get(name, 0)
                    + col.total_compressed_size)
                self.encodings.setdefault(name, set()).update(col.encodings)


def _parquet_files(root: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True))


def store_tables(out_dir: str) -> dict[str, list[str]]:
    """Table name → its parquet files, for every table present."""
    tables = {}
    routed = _parquet_files(os.path.join(out_dir, "routed"))
    if routed:
        tables["routed"] = routed
    sinks: dict[str, list[str]] = {}
    for f in _parquet_files(os.path.join(out_dir, "sinks")):
        m = re.search(r"/sink=([^/]+)/", f)
        if m:
            sinks.setdefault(f"sinks/{m.group(1)}", []).append(f)
    tables.update(sorted(sinks.items()))
    staged = _parquet_files(os.path.join(out_dir, "_staged"))
    if staged:
        tables["_staged"] = staged
    return tables


def report(out_dir: str) -> dict[str, TableReport]:
    out = {}
    for name, files in store_tables(out_dir).items():
        rep = TableReport()
        for f in files:
            rep.add(f)
        out[name] = rep
    return out


def render(reports: dict[str, TableReport]) -> str:
    lines = []
    for name, rep in reports.items():
        lines.append(f"{name}: {rep.files} files, {rep.file_bytes:,} B, "
                     f"footers {rep.footer_bytes:,} B")
        for col, n in rep.column_bytes.items():
            enc = ",".join(sorted(rep.encodings[col]))
            lines.append(f"  {col:<24} {n:>12,} B  {enc}")
    total = sum(r.file_bytes for r in reports.values())
    lines.append(f"total: {total:,} B")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    args = ap.parse_args()
    if not os.path.isdir(args.out_dir):
        ap.error(f"{args.out_dir} is not a directory")
    print(render(report(args.out_dir)))


if __name__ == "__main__":
    main()
