"""Seeded input generation.

Everything a workload reads is written here from ``--seed`` before any
timing starts; the program under test only ever sees the parquet files.

* Transcript tables come from ``skewer_spark.synth.transcripts_df``
  (FIXTURES.md mix, conversation 0 owns 10% of turns).  The seed picks
  which ~2% of turns are redelivered as exact duplicates, the row order
  and the split of rows between files.
* The library tables (``documents``, ``events``) follow parameters
  measured on the project's fixed test tables (see README): a 30-word
  vocabulary, 10-100 words per document, 5% of documents copies of
  another one, and a month of events from one user per ~67 events.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TURNS_PER_CONV = 50
DUP_SHARE = 0.02

TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])

# the synth mix's "now" column is 2026-01-01 + row seq seconds
_BASE_TS = pd.Timestamp("2026-01-01 00:00:00", tz="UTC")


def synth_turns(spark, n_turns: int) -> pd.DataFrame:
    """The synth table in generation order (``seq`` ascending)."""
    from skewer_spark.synth import transcripts_df

    pdf = transcripts_df(
        spark, max(n_turns // TURNS_PER_CONV, 2), TURNS_PER_CONV,
        shuffle=False, partitions=4,
    ).toPandas()
    ts = pd.to_datetime(pdf["ts"])
    if ts.dt.tz is None:
        ts = ts.dt.tz_localize("UTC")
    pdf["ts"] = ts
    pdf["seq"] = ((ts - _BASE_TS) // pd.Timedelta(seconds=1)).astype(np.int64)
    pdf["turn_idx"] = pdf["turn_idx"].astype(np.int32)
    return pdf.sort_values("seq", kind="stable").reset_index(drop=True)


def _write(pdf: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(
        pdf[TRANSCRIPT_ARROW.names], preserve_index=False
    ).cast(TRANSCRIPT_ARROW)
    pq.write_table(table, path)


def batch_transcripts(spark, path: str, n_turns: int, seed: int,
                      n_files: int = 4) -> pd.DataFrame:
    """Shuffled table with seeded redeliveries in ``n_files`` files whose
    sizes the seed varies by up to ±10%.  The file count stays fixed at
    one per core: Spark packs small files into scan tasks by size, so
    other counts give a task count that flips with the seed's sizes.

    Returns the rows written (duplicates included) for the oracle."""
    rng = np.random.default_rng(seed)
    base = synth_turns(spark, n_turns)
    dups = base.iloc[np.sort(rng.choice(len(base), int(len(base) * DUP_SHARE),
                                        replace=False))]
    rows = pd.concat([base, dups], ignore_index=True)
    rows = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
    sizes = rng.uniform(0.9, 1.1, n_files)
    cuts = np.round(np.cumsum(sizes) / sizes.sum() * len(rows)).astype(int)
    for i, (lo, hi) in enumerate(zip(np.r_[0, cuts[:-1]], cuts)):
        _write(rows.iloc[lo:hi], os.path.join(path, f"part-{i:05d}.parquet"))
    return rows


VOCAB = (
    "a the row key value table part hash join scan merge batch window "
    "spark column order group filter query data stream line sort agg "
    "small big fast slow customer vector"
).split()
DOC_DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def documents(path: str, n_docs: int, seed: int) -> None:
    """10-100 uniform words per document.  5% of the documents, picked
    anywhere in the table, are then replaced by the text of another
    document (which may already be such a copy) plus the word ``dup``."""
    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(VOCAB, int(n))) for n in rng.integers(10, 101, n_docs)]
    for i in np.sort(rng.choice(n_docs, round(n_docs * DOC_DUP_SHARE), replace=False)):
        src = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    pdf = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "documents.parquet"))


def events(path: str, n_events: int, seed: int) -> None:
    """A month of events, time-ordered, from ``3 * n_events // 200`` users."""
    rng = np.random.default_rng(seed)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    pdf = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(3 * n_events // 200, 2), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "events.parquet"))
