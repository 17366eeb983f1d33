"""End-to-end pipeline driver: parse → enrich → route → fan-out → aggregate,
resumable per conversation-hash bucket.

Execution model (SURVEY.md §3.1 "Spark trace", §4.2):

1. **Stage (ingest pass)** — one shuffle: the raw transcript table is
   bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` and written
   ``partitionBy(bucket)``.  This is the Store-ingest analog
   (``/root/reference/store/store.go:1136-1178``) and what an Iceberg
   table bucketed by conv_id gives for free; it buys *file-level
   partition pruning* for every later wave, so resuming bucket k never
   re-reads the other buckets — the property that matters at 100 TB.
   Within each bucket, files are split by a turn-level salt so a hot
   conversation (10% of all rows on one key) spreads across tasks for
   the narrow stages.
2. **Per-bucket wave** — scan only ``bucket=k`` files → vectorized
   parse (narrow) → dedup + turn rank (one shuffle) → enrich and route
   (narrow) → write the routed table → re-read it for ONE
   ``partitionBy(sink)`` fan-out write (ingest-once /
   reference-per-destination, ``store/store.go:1161-1177``) → two
   aggregate scans of the sink files → manifest commit (the ACK).  A
   killed run leaves un-committed buckets; a rerun into the same
   ``out_dir`` processes exactly those (a full rerun takes a fresh
   ``out_dir``).  A bucket no conversation hashed to has no staged
   files and is committed with zero rows.
3. **Finalize** — the per-bucket partial aggregate tables are merged
   into the final metric tables: counts are summed, and the one
   distinct count (``incoming_counts.n_convs``) is the union of the
   buckets' HLL sketches.

:func:`write_outputs` is the one write path for a slice.  The
streaming job (``streaming.pipeline``) calls it for each micro-batch
with ``sub="batch=<id>"``, so a micro-batch is a bucket (with no turn
rank: the stream does not rank), and :func:`finalize_aggregates`
merges ``batch=`` partials as it merges ``bucket=`` ones.  An empty
slice writes no aggregate partial.

uid dedup inside a bucket is globally correct because the uid is a
function of (conv_id, turn_idx) and conv_id determines the bucket —
dedup never needs a global shuffle.

The store holds nothing a reader can rebuild from the other columns
(``enrich.strip_derived``): neither the routed nor the sink files carry
``uid``, routed files carry no ``time_generated`` (always ``ts``), a
routed ``msgid`` backfilled from the uid is stored as ``""``, and a
``time_reported`` equal to ``ts`` is stored as NULL in both.  Readers
recompute all of them (``enrich.restore_derived``; routed readers also
``enrich.with_time_generated``), so a raw parquet reader gets ``uid``,
``time_generated``, the backfilled ``msgid`` and the defaulted
``time_reported`` only through :func:`read_routed` and :func:`read_sink`.

The routed and sink tables are written with Parquet v2 data pages
(:func:`store_writer`, also used by :func:`compact_sinks`), whose
``ts`` chunks are DELTA_BINARY_PACKED; how much that saves depends on
the gaps between a conversation's timestamps (see :func:`store_writer`).
The ``_staged`` table keeps v1 pages; its rows are hash-scattered, and
v2 makes it larger.  A raw reader of the store must support v2 data
pages (pyarrow and DuckDB do).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from skewer_spark.operators.aggregate import (
    metric_grouping_sets,
    windowed_counts_from_labeled,
)
from skewer_spark.operators.enrich import (
    dedup_and_rank, enrich, restore_derived, strip_derived,
    with_time_generated,
)
from skewer_spark.operators.parse import parse_transcripts
from skewer_spark.operators.route import route
from skewer_spark.plans import checkpoint as ckpt

# the routed table keeps full message fidelity; sink files are
# Kafka-message-shaped (store/dests/kafkadest.go:78-108: key, partition,
# topic, value=encoded, timestamp=time_reported) plus the join/test keys.
# No derived key: uid is a function of (conv_id, turn_idx), so read_sink
# recomputes it rather than reading it from disk, and the Kafka timestamp
# time_reported is stored NULL where it equals ts (write_outputs).
SINK_COLUMNS = [
    "conv_id", "turn_idx", "role", "tool", "ts", "severity",
    "severity_name", "filter_status", "parse_ok", "parser_name",
    "topic", "partition_key", "partition_number", "time_reported", "encoded",
]

AGG_TABLES = ("filter_counts", "sink_counts", "windowed_counts",
              "parse_error_counts", "incoming_counts")


def store_writer(df: DataFrame) -> DataFrameWriter:
    """The one writer for the routed and sink tables: Parquet v2 data
    pages (a per-write option, so no session conf changes).  parquet-mr
    delta-packs INT64 only in v2 pages, and strings get DELTA_BYTE_ARRAY
    where the dictionary falls back (routed ``message``: +17%).

    The gain rests on the gaps between a conversation's timestamps.
    ``synth.transcripts_df`` sets ``ts`` = base + row seq seconds, so
    within a conversation ``ts`` steps by a constant and its deltas
    pack to about a bit a row: the seed-1 ``flat_store`` store shrinks
    10%.  With irregular microsecond gaps (the same input with a
    0-1 s jitter per turn, or exponential gaps of mean 20 s) the ``ts``
    chunks changed by -9% to +14% per table, and routed plus sinks
    shrank about 3%, all of it from ``time_reported``: those inputs
    store it in full, and its values, parsed from the synthetic text,
    still step by a constant.  Without it v2 was about 0.5% larger.

    ``stage_input``'s ``_staged`` table does not use it: it is
    hash-scattered by (bucket, salt), where v2 pages measured larger."""
    return df.write.option("parquet.writer.version", "v2")


def bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


# Content-bearing columns sealed at rest alongside the sinks' encoded
# payloads (finding: sealing only `encoded` left full plaintext copies
# of every message in routed/ and _staged/).  Routing/metric metadata
# (severity, topic, hostname, ts, …) stays clear BY DESIGN — the
# Parquet-modular-encryption / Iceberg column-key pattern: partition
# pruning, resume bookkeeping and count metrics must work without the
# key, while message content must not be recoverable from the store.
SEALED_CONTENT_COLUMNS = ("text", "message", "structured", "properties_json")


def _staged_nonce_basis():
    """Deterministic per-row nonce basis for the staged table (uid is
    not derived yet at ingest): (conv_id, turn_idx) is the table's
    primary key.  F.concat propagates NULLs so a null key fails loud in
    seal_col instead of reusing a keystream."""
    return F.concat(
        F.col("conv_id").cast("string"), F.lit("|"),
        F.col("turn_idx").cast("string"),
    )


def seal_content_cols(df: DataFrame, secret: bytes, salt_prefix: str,
                      uid_col="uid") -> DataFrame:
    """Seal every present content column; per-column salt so one row's
    columns never share a (key, nonce) pair."""
    from skewer_spark.functions.crypto import seal_col

    for c in SEALED_CONTENT_COLUMNS:
        if c in df.columns:
            df = df.withColumn(
                c, seal_col(c, uid_col, secret,
                            salt_col=F.lit(f"{salt_prefix}:{c}"))
            )
    return df


def open_content_cols(df: DataFrame, secret: bytes) -> DataFrame:
    """Revive sealed content columns (binary boxes → utf-8 strings)."""
    from skewer_spark.functions.crypto import open_col

    for c in SEALED_CONTENT_COLUMNS:
        if c in df.columns:
            df = df.withColumn(c, open_col(c, secret).cast("string"))
    return df


def stage_input(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int,
    files_per_bucket: int = 8,
    secret: bytes | None = None,
) -> str:
    """Ingest pass: bucket the raw table for partition-pruned waves."""
    staged = os.path.join(out_dir, "_staged")
    if os.path.exists(os.path.join(staged, "_SUCCESS")):
        return staged
    df = spark.read.parquet(input_path)
    if secret is not None:
        # the staged copy is part of the store: seal its content too
        df = seal_content_cols(df, secret, "staged",
                               uid_col=_staged_nonce_basis())
    df = df.withColumn("bucket", bucket_col(n_buckets))
    # salt the intra-bucket layout so one hot conv spans several files
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(files_per_bucket))
    # v1 pages, not store_writer's v2: the (bucket, salt) exchange
    # scatters conversations, so ts does not rise within a file, and
    # v2 pages measured 2.8% larger here (8 buckets)
    (
        df.repartition(n_buckets * files_per_bucket, F.col("bucket"), salt)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged)
    )
    return staged


def build_routed(df: DataFrame) -> DataFrame:
    """The logical plan for one slice of transcripts → routed rows.

    dedup + turn rank share one skew-safe shuffle (dedup_and_rank);
    parse runs before it so the UDF work is spread over the scan's even
    partitioning rather than the conv-keyed (skewed) layout."""
    parsed = parse_transcripts(df).drop("text")
    # raw line dropped post-parse — the reference Store also persists
    # only the parsed message (protobuf), not the raw bytes
    return route(enrich(dedup_and_rank(parsed)))


def write_outputs(
    spark: SparkSession,
    routed,
    out_dir: str,
    sub: str = "",
    secret: bytes | None = None,
) -> tuple[int, int]:
    """Materialize one slice in Store mode (badger durable queue analog,
    store/store.go): the full-fidelity routed table is written once,
    then the sink fan-out and aggregates read it back with column
    pruning.  Lineage keeps every parsed field.

    The metrics come from the sink parquet: every message lands in
    exactly one CANONICAL sink (firehose / rejects / _dropped audit),
    so counter metrics never rescan the input.
    """
    from skewer_spark.operators.route import (
        CANONICAL_SINKS, DROPPED_SINK, with_sink_labels,
    )
    from skewer_spark.sinks.encoders import encoded_by_sink

    from concurrent.futures import ThreadPoolExecutor

    routed_path = os.path.join(out_dir, "routed", sub)
    if secret is not None:
        # the routed table keeps full message fidelity — sealed
        # mode must not leave it as a plaintext copy of everything
        # the sinks seal (content columns boxed per (uid, column);
        # metadata stays clear, see SEALED_CONTENT_COLUMNS)
        routed = seal_content_cols(routed, secret, "routed")
    # No shuffle between dedup_and_rank's window and this write: its
    # tasks hold rows sorted by (conv_id, turn_idx), so each file comes
    # out clustered by conversation and compresses to less.  Partition
    # size stays bounded because the window keys on (conv_id,
    # turn_idx div 8192).  The derived columns are stripped after the
    # seal, whose nonces are keyed on uid.
    store_writer(strip_derived(routed)).mode("overwrite").parquet(routed_path)
    src = spark.read.parquet(routed_path)
    if secret is not None:
        # the fan-out encoders need plaintext back (one open per
        # bucket — the cost of not storing cleartext)
        src = open_content_cols(src, secret)
    src = with_time_generated(restore_derived(src))

    sinks_path = os.path.join(out_dir, "sinks", sub)
    labeled = with_sink_labels(src, include_dropped=True).withColumn(
        "encoded", encoded_by_sink()
    )
    if secret is not None:
        # encryption at rest (store/store.go:617-635 secretbox analog):
        # the stored payload is sealed nonce||tag||ct keyed per
        # (uid, sink) — the sink salt matters: fan-out gives the SAME
        # uid a different encoding per sink, and an unsalted per-uid
        # nonce would reuse one keystream across those plaintexts
        # (two-time pad).  Deterministic per row, so bucket reruns stay
        # byte-identical (resume idempotence).  Metrics/aggregates
        # never touch `encoded`, so the rest of this function is
        # unchanged.
        from skewer_spark.functions.crypto import seal_col

        labeled = labeled.withColumn(
            "encoded", seal_col("encoded", "uid", secret, salt_col="sink")
        )
    # the sink store form: SINK_COLUMNS stripped of what read_sink
    # rebuilds, one sink= directory per destination
    store_writer(
        strip_derived(labeled.select(*SINK_COLUMNS, "sink"))
    ).partitionBy("sink").mode("overwrite").parquet(sinks_path)
    if not any(d.startswith("sink=") for d in os.listdir(sinks_path)):
        # an empty slice (a no-data micro-batch) leaves no sink=
        # directory to read back: it has no counts to write
        return 0, 0

    sinks_p = spark.read.option("basePath", sinks_path).parquet(sinks_path)
    canonical = sinks_p.filter(F.col("sink").isin(*CANONICAL_SINKS))

    def _windowed():
        # per-destination hourly rollup (excludes the _dropped audit)
        # no coalesce(1): it would run the final aggregation of every
        # window group in a single task (serial tail); finalize
        # re-aggregates the partials anyway
        windowed_counts_from_labeled(
            sinks_p.filter(F.col("sink") != DROPPED_SINK)
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "agg", "windowed_counts", sub)
        )

    def _metrics():
        # every counter-style metric in ONE scan of the canonical sinks
        # via grouping sets; result is tiny → written driver-side.
        return metric_grouping_sets(canonical).toPandas()

    # both jobs read the (small-column) sink parquet — run concurrently
    # so planning/commit phases overlap
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_win = ex.submit(_windowed)
        f_gs = ex.submit(_metrics)
        f_win.result()
        gs = f_gs.result()
    fc = (
        gs[gs["gid"] == 3][["filter_status", "role", "n_messages"]]
        .reset_index(drop=True)
    )
    perr_src = gs[(gs["gid"] == 12) & (gs["parse_ok"] == False)]  # noqa: E712
    perr = perr_src[["parser_name", "n_messages"]].rename(
        columns={"n_messages": "n_errors"}
    ).reset_index(drop=True)
    inc = gs[gs["gid"] == 11][
        ["role", "n_messages", "convs_hll"]
    ].reset_index(drop=True)
    for name, pdf_out in (
        ("filter_counts", fc),
        ("parse_error_counts", perr),
        ("incoming_counts", inc),
    ):
        _write_pandas_parquet(pdf_out, os.path.join(out_dir, "agg", name, sub),
                              _AGG_ARROW_SCHEMAS[name])

    n_rows = int(fc["n_messages"].sum())
    n_pass = int(fc.loc[fc["filter_status"] == "PASS", "n_messages"].sum())
    return n_rows, n_pass


_AGG_ARROW_SCHEMAS = {
    "filter_counts": pa.schema(
        [("filter_status", pa.string()), ("role", pa.string()),
         ("n_messages", pa.int64())]
    ),
    "parse_error_counts": pa.schema(
        [("parser_name", pa.string()), ("n_errors", pa.int64())]
    ),
    "incoming_counts": pa.schema(
        [("role", pa.string()), ("n_messages", pa.int64()),
         ("convs_hll", pa.binary())]
    ),
}


def _write_pandas_parquet(pdf, path: str, schema) -> None:
    """Write a tiny driver-side partial with an EXPLICIT arrow schema.

    Without it, a bucket whose partial is EMPTY (e.g. zero parse errors)
    lets pyarrow infer a different physical type for the same column
    than its sibling buckets, and the finalize scan fails with a parquet
    type mismatch (hit by the 3-bucket spark-submit resume test)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    table = table.select(schema.names).cast(schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def process_bucket(
    spark: SparkSession, staged: str, out_dir: str, bucket: int,
    secret: bytes | None = None,
) -> tuple[int, int]:
    path = os.path.join(staged, f"bucket={bucket}")
    if not os.path.isdir(path):
        # no conversation hashed to this bucket: nothing to read
        return 0, 0
    src = spark.read.parquet(path)
    if secret is not None:
        src = open_content_cols(src, secret)
    routed = build_routed(src)
    return write_outputs(spark, routed, out_dir, f"bucket={bucket}",
                         secret=secret)


ENCRYPTION_MARKER = "_encryption.json"


def _check_store_encryption(out_dir: str, secret: bytes | None) -> None:
    """Pin the store's at-rest mode at first write.

    Without this, a crashed run that sealed buckets 0..k could resume
    on a host where SKEWER_BOX_SECRET is unset (or mistyped) and write
    the remaining buckets in plaintext — one store silently mixing
    sealed and clear payloads.  The marker records sealed yes/no plus
    the key fingerprint (a domain-separated hash, reveals nothing);
    every later attempt must present the same mode + key or fail fast
    BEFORE writing anything.
    """
    import json

    from skewer_spark.functions.crypto import key_fingerprint

    path = os.path.join(out_dir, ENCRYPTION_MARKER)
    fp = key_fingerprint(secret) if secret is not None else None
    if os.path.exists(path):
        with open(path) as f:
            mode = json.load(f)
        if bool(mode.get("sealed")) != (secret is not None):
            raise ValueError(
                f"store {out_dir!r} was started "
                f"{'SEALED' if mode.get('sealed') else 'UNENCRYPTED'} but "
                f"this attempt has SKEWER_BOX_SECRET "
                f"{'unset' if secret is None else 'set'}; refusing to mix "
                "sealed and plaintext buckets in one store"
            )
        if mode.get("sealed") and mode.get("key_fp") != fp:
            raise ValueError(
                f"store {out_dir!r} is sealed with key "
                f"{mode.get('key_fp')} but this attempt's secret "
                f"fingerprints as {fp}: wrong SKEWER_BOX_SECRET"
            )
        return
    os.makedirs(out_dir, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"sealed": secret is not None, "key_fp": fp}, f)
    os.replace(tmp, path)


def _read_store_encryption(out_dir: str) -> dict | None:
    import json

    path = os.path.join(out_dir, ENCRYPTION_MARKER)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    run_id: str | None = None,
) -> dict:
    run_id = run_id or uuid.uuid4().hex[:12]
    # fail fast, not after n_buckets of work: a run_id that already
    # snapshotted would be rejected by commit_snapshot at the end
    if run_id in ckpt.snapshotted_run_ids(spark, out_dir):
        raise ValueError(
            f"run_id {run_id!r} already snapshotted in {out_dir!r}; "
            "use a fresh run_id per attempt"
        )
    # encryption at rest rides SKEWER_BOX_SECRET (64 hex chars) — the
    # spark-submit deploy path turns it on without an API change, like
    # the reference's session-secret handshake (store/store.go:617-635).
    # The mode check runs BEFORE stage_input: the guard's contract is
    # "fail fast before writing anything", and staging is a write
    # (sealed staging also needs the secret).
    from skewer_spark.functions.crypto import secret_from_env

    secret = secret_from_env()
    _check_store_encryption(out_dir, secret)
    staged = stage_input(spark, input_path, out_dir, n_buckets,
                         secret=secret)
    done = ckpt.committed_buckets(spark, out_dir)

    processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        with ckpt.Stopwatch() as sw:
            n_rows, n_pass = process_bucket(spark, staged, out_dir, b,
                                            secret=secret)
        ckpt.commit_bucket(spark, out_dir, run_id, b, n_rows, n_pass, sw.ms)
        processed += 1
        if fail_after is not None and processed >= fail_after:
            raise RuntimeError(f"injected failure after {processed} buckets")

    finalize_aggregates(spark, out_dir)
    ckpt.commit_snapshot(spark, out_dir, run_id)
    man = ckpt.read_manifest(spark, out_dir)
    total = man.agg(F.sum("n_rows")).collect()[0][0]
    return {"run_id": run_id, "buckets": n_buckets, "rows": int(total or 0)}


_AGG_KEYS = {
    "filter_counts": ["filter_status", "role"],
    "windowed_counts": ["window_start", "sink", "severity_name", "tool"],
    "parse_error_counts": ["parser_name"],
    "incoming_counts": ["role"],
}


def finalize_aggregates(spark: SparkSession, out_dir: str) -> None:
    """Merge the slices' partials — ``bucket=`` (``run_pipeline``),
    ``batch=`` (``streaming.pipeline``, one per micro-batch) or the one
    unpartitioned slice of ``run_flat`` — into ``agg_final``.  Counts
    are sums; ``incoming_counts.n_convs`` is the estimate of the union
    of the slices' HLL sketches, so a conversation spread over several
    slices counts once.  Partials that still carry a per-slice
    ``n_convs`` column finalize alike: it is not read.  sink_counts is
    the (sink, severity_name) rollup of the merged windowed table."""
    for name, keys in _AGG_KEYS.items():
        src = os.path.join(out_dir, "agg", name)
        try:
            df = spark.read.option("basePath", src).parquet(src)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            continue
        if name == "parse_error_counts":
            agg = [F.sum("n_errors").alias("n_errors")]
        elif name == "incoming_counts":
            # n_convs from the union of the slices' HLL sketches: right
            # under any slicing, micro-batches included, where a sum of
            # per-slice distinct counts counts a conversation once per
            # slice it spans
            agg = [F.sum("n_messages").alias("n_messages"),
                   F.hll_sketch_estimate(F.hll_union_agg("convs_hll"))
                    .cast("bigint").alias("n_convs")]
        else:
            agg = [F.sum("n_messages").alias("n_messages")]
        (
            df.groupBy(*keys)
            .agg(*agg)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "agg_final", name))
        )
    wfin = os.path.join(out_dir, "agg_final", "windowed_counts")
    try:
        wdf = spark.read.parquet(wfin)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return
    (
        wdf.groupBy("sink", "severity_name")
        .agg(F.sum("n_messages").alias("n_messages"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "agg_final", "sink_counts"))
    )


def run_flat(spark: SparkSession, input_path: str, out_dir: str) -> int:
    """Single-slice pipeline (no checkpoint waves) — the bench shape:
    scan → parse → enrich → route → routed table → one-pass fan-out +
    aggregates.  Returns routed row count."""
    src = spark.read.parquet(input_path)
    routed = build_routed(src)
    # Store mode measured faster AND better-scaling than the fused
    # single-pass on local[N] (the mega-stage saturates memory
    # bandwidth at high core counts); it is also the full-lineage path.
    n_rows, _ = write_outputs(spark, routed, out_dir, "")
    return n_rows


def _check_read_mode(out_dir: str, secret: bytes | None) -> None:
    """run_pipeline stores carry the at-rest marker: refuse the two
    silent failure shapes (ciphertext handed downstream as content;
    plaintext "decrypted" with a key)."""
    mode = _read_store_encryption(out_dir)
    if mode is None:
        return
    if mode.get("sealed") and secret is None:
        raise ValueError(
            f"store {out_dir!r} is sealed at rest (key "
            f"{mode.get('key_fp')}); pass secret= to read it"
        )
    if not mode.get("sealed") and secret is not None:
        raise ValueError(
            f"store {out_dir!r} is not sealed; drop the secret= argument"
        )


def read_routed(
    spark: SparkSession, out_dir: str, secret: bytes | None = None
) -> DataFrame:
    """Read the full-fidelity routed table (all parsed/enriched
    columns; ``uid``, ``time_generated``, the backfilled ``msgid`` and
    the defaulted ``time_reported`` recomputed);
    ``secret`` revives content columns sealed at rest (fail loud on a
    missing or superfluous key)."""
    _check_read_mode(out_dir, secret)
    path = os.path.join(out_dir, "routed")
    df = spark.read.option("basePath", path).parquet(path)
    if secret is not None:
        df = open_content_cols(df, secret)
    return with_time_generated(restore_derived(df))


def read_sink(
    spark: SparkSession, out_dir: str, name: str,
    secret: bytes | None = None,
) -> DataFrame:
    """Read one destination's rows (partition-pruned on sink=; ``uid``
    and the defaulted ``time_reported`` recomputed); ``secret`` opens
    payloads sealed at rest (fail-loud on tamper)."""
    _check_read_mode(out_dir, secret)
    path = os.path.join(out_dir, "sinks")
    df = (
        spark.read.option("basePath", path).parquet(path)
        .filter(F.col("sink") == name)
    )
    if secret is not None:
        from skewer_spark.functions.crypto import open_col

        df = df.withColumn("encoded", open_col("encoded", secret))
    return restore_derived(df)


def read_sink_asof(
    spark: SparkSession,
    out_dir: str,
    name: str,
    snapshot_id: str,
    secret: bytes | None = None,
) -> DataFrame:
    """Time-travel read: one destination's rows AS OF a snapshot.

    Visibility comes from the snapshot's member list (the Iceberg
    manifest-list analog written at commit time), never from clocks:
    buckets committed after the snapshot — including a crashed run's
    buckets that no snapshot ever covered — are invisible.  The filter
    is on the ``bucket`` partition column, so the scan prunes to the
    member buckets' directories (at 10^5 buckets the literal ``isin``
    stays a few-KB predicate; beyond that, join against
    ``read_snapshot_members`` instead)."""
    visible = ckpt.buckets_asof(spark, out_dir, snapshot_id)
    df = read_sink(spark, out_dir, name, secret=secret)
    if "bucket" not in df.columns:
        raise ValueError(
            "time-travel needs the bucketed store layout "
            "(run_pipeline); this out_dir has no bucket= partitions"
        )
    return df.filter(F.col("bucket").isin(visible))


def read_sink_diff(
    spark: SparkSession,
    out_dir: str,
    name: str,
    from_snapshot_id: str,
    to_snapshot_id: str,
    secret: bytes | None = None,
) -> DataFrame:
    """Incremental read: one destination's rows appended BETWEEN two
    snapshots — the Iceberg incremental-scan analog, and the cheap way
    to feed downstream consumers (index refresh, metric backfill,
    export) without rescanning 10^12 rows of history.

    ``from`` must be an ancestor of ``to`` on the lineage chain
    (``parent_snapshot_id`` walk) — diffing across divergent or
    reversed histories is a caller bug and raises rather than returning
    a silently-wrong row set.  The diff itself is pure bucket-set
    membership (buckets are append-granular, like Iceberg data files),
    so the scan prunes to exactly the new buckets' directories;
    ``replace`` snapshots in between (compaction) rewrite bytes but
    never membership, so they do not pollute the diff.
    """
    chain = {
        r.snapshot_id: r.parent_snapshot_id
        for r in ckpt._read_snapshots_or_empty(spark, out_dir)
    }
    if to_snapshot_id not in chain:
        raise ValueError(f"unknown snapshot {to_snapshot_id!r}")
    cur, seen = to_snapshot_id, set()
    while cur is not None and cur not in seen:
        if cur == from_snapshot_id:
            break
        seen.add(cur)
        cur = chain.get(cur)
    else:
        raise ValueError(
            f"{from_snapshot_id!r} is not an ancestor of "
            f"{to_snapshot_id!r}; incremental reads need a linear "
            "lineage between the two snapshots"
        )
    new_buckets = sorted(
        set(ckpt.buckets_asof(spark, out_dir, to_snapshot_id))
        - set(ckpt.buckets_asof(spark, out_dir, from_snapshot_id))
    )
    df = read_sink(spark, out_dir, name, secret=secret)
    if "bucket" not in df.columns:
        raise ValueError(
            "incremental reads need the bucketed store layout "
            "(run_pipeline); this out_dir has no bucket= partitions"
        )
    return df.filter(F.col("bucket").isin(new_buckets))


def _sink_leaves(path: str) -> dict[str, int]:
    """``bucket=/sink=`` leaf directory (relative to ``path``) → number
    of parquet files in it."""
    leaves = {}
    for d, _, files in os.walk(path):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            leaves[os.path.relpath(d, path)] = n
    return leaves


def compact_sinks(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    files_per_partition: int = 1,
) -> str | None:
    """Small-file compaction — the Iceberg ``rewrite_data_files``
    maintenance analog.  Per-bucket waves write one parquet file per
    task, so a 10^5-bucket × 4-sink store accumulates O(buckets ×
    sinks × tasks) small files; scans then pay per-file open cost.
    This rewrites each ``bucket=/sink=`` leaf that holds more than
    ``files_per_partition`` files down to that many, with IDENTICAL
    rows (no re-encode, no re-encrypt — bytes move, content doesn't),
    then commits a ``replace`` snapshot so lineage records the rewrite.
    Leaves already that compact are not read or touched; when every
    leaf is, nothing is written or committed and the current head
    snapshot id (None before the first snapshot) is returned.

    Each rewritten leaf is swapped by two renames through
    ``_sinks_precompact``, which is atomic-enough on a local/HDFS
    filesystem; on an object store this step is exactly what the
    Iceberg metadata swap replaces — documented, not hidden.
    """
    import shutil

    # fail fast, BEFORE the rewrite and the destructive swap: a reused
    # run_id would only be rejected by commit_snapshot at the very end —
    # after the backup was already deleted — leaving an unrecorded
    # rewrite with no lineage row and nothing to roll back to
    snaps = ckpt._read_snapshots_or_empty(spark, out_dir)
    if any(r.run_id == run_id for r in snaps):
        raise ValueError(
            f"run_id {run_id!r} already snapshotted in {out_dir!r}; "
            "use a fresh run_id per compaction"
        )
    old = os.path.join(out_dir, "_sinks_precompact")
    if os.path.exists(old):
        raise RuntimeError(
            f"leftover {old} from a crashed compaction — each leaf is "
            "swapped by its own two renames; a leaf that sinks/ also "
            "holds was already compacted, so its backup there can be "
            "removed; restore the others to sinks/ before compacting"
        )
    path = os.path.join(out_dir, "sinks")
    leaves = _sink_leaves(path)
    if not os.path.isdir(path) or any(
        not os.path.basename(leaf).startswith("sink=") for leaf in leaves
    ):
        raise ValueError(f"{path} is not a sink store")
    todo = sorted(leaf for leaf, n in leaves.items()
                  if n > files_per_partition)
    if not todo:
        head = max(snaps, key=lambda r: (r.seq, r.snapshot_id), default=None)
        return head.snapshot_id if head is not None else None
    # the leaves' own key=value levels, so each rewritten leaf lands at
    # the path it is swapped back into
    part_cols = [seg.split("=", 1)[0] for seg in todo[0].split(os.sep)]
    df = spark.read.option("basePath", path).parquet(
        *[os.path.join(path, leaf) for leaf in todo])
    tmp = os.path.join(out_dir, "_sinks_compacting")
    # hash-repartition on the partition columns puts each leaf's rows in
    # ONE task → one output file per leaf; files_per_partition > 1 adds
    # a deterministic per-turn salt so big leaves split into exactly
    # that many files
    keys = [F.col(c) for c in part_cols]
    if files_per_partition > 1:
        keys.append(F.pmod(F.xxhash64("conv_id", "turn_idx"),
                           F.lit(files_per_partition)))
    # the exchange (and its salt) scatters conversations; restore the
    # store's conversation order within each file, and write it in the
    # store's page form
    store_writer(
        df.repartition(len(todo) * files_per_partition, *keys)
        .sortWithinPartitions(*part_cols, "conv_id", "turn_idx")
    ).mode("overwrite").partitionBy(*part_cols).parquet(tmp)
    for leaf in todo:
        os.makedirs(os.path.dirname(os.path.join(old, leaf)), exist_ok=True)
        os.rename(os.path.join(path, leaf), os.path.join(old, leaf))
        if os.path.isdir(os.path.join(tmp, leaf)):  # else: no rows
            os.rename(os.path.join(tmp, leaf), os.path.join(path, leaf))
    shutil.rmtree(old)
    shutil.rmtree(tmp)
    return ckpt.commit_snapshot(spark, out_dir, run_id, operation="replace")
