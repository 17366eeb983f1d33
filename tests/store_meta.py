"""Parquet footer reads shared by the store-form tests."""

from __future__ import annotations

import pyarrow.parquet as pq


def ts_encodings(path: str) -> set[str]:
    """The encodings of a parquet file's ``ts`` chunks, from its footer."""
    meta = pq.ParquetFile(path).metadata
    i = meta.schema.names.index("ts")
    return {e for rg in range(meta.num_row_groups)
            for e in meta.row_group(rg).column(i).encodings}
