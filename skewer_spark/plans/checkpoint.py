"""Per-partition checkpoint / lineage manifest (SURVEY.md §2.6, §4.3).

Replaces the reference's badger durable queue (Ready → Sent → ACK,
``/root/reference/store/store.go:141-167, 1136-1470``) with the batch
contract: a conversation-hash **bucket** is the unit of work; a bucket's
rows count as delivered only once its sink files are fully written and
a manifest row is committed (the ACK).  A rerun skips committed buckets
and reprocesses the rest — combined with the deterministic uid this
gives effectively-once delivery (dominates the reference's
at-least-once + ULID dedup).

The manifest is an append-only parquet directory of single-row commits:
``(run_id, bucket, n_rows, n_pass, wall_ms, committed_at_run)``.
On Iceberg this would be the snapshot log; the parquet layout keeps the
identical semantics without the runtime jar.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("n_rows", T.LongType(), False),
    T.StructField("n_pass", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
])


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def committed_buckets(spark: SparkSession, out_dir: str) -> set[int]:
    path = manifest_path(out_dir)
    try:
        rows = spark.read.schema(MANIFEST_SCHEMA).parquet(path).select("bucket").collect()
    except AnalysisException as e:
        # only a missing manifest means "nothing committed"; a corrupt
        # one must not send every bucket back through the pipeline
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()
    return {r.bucket for r in rows}


def commit_bucket(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    bucket: int,
    n_rows: int,
    n_pass: int,
    wall_ms: int,
) -> None:
    df = spark.createDataFrame(
        [(run_id, bucket, n_rows, n_pass, wall_ms)], MANIFEST_SCHEMA
    )
    df.coalesce(1).write.mode("append").parquet(manifest_path(out_dir))


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path(out_dir))


# ---------------------------------------------------------------------------
# snapshot summaries — the Iceberg snapshot-log analog (north rule:
# "lineage and metrics emitted per Iceberg snapshot").  One row per
# completed run: what Iceberg records as snapshot.summary
# ("added-records", "total-records", operation, ...).  Each snapshot has
# its OWN id (``snapshot_id`` = "s{seq}-{run_id}") distinct from the
# run_id that stamps bucket manifest rows: run_ids are user-suppliable
# and reusable across a crash+resume, snapshot ids are not — so the
# parent chain (``parent_snapshot_id``, like Iceberg's
# parent-snapshot-id) can never self-loop, and the monotonically
# increasing ``seq`` makes parent selection deterministic even when two
# snapshots share a ``committed_at_ms``.  snapshot → run_id → buckets →
# sink files remains a walkable lineage chain.
# ---------------------------------------------------------------------------

SNAPSHOT_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("run_id", T.StringType(), False),
    T.StructField("parent_snapshot_id", T.StringType(), True),
    T.StructField("operation", T.StringType(), False),
    T.StructField("buckets_committed", T.IntegerType(), False),
    T.StructField("buckets_total", T.IntegerType(), False),
    T.StructField("added_rows", T.LongType(), False),
    T.StructField("added_pass", T.LongType(), False),
    T.StructField("total_rows", T.LongType(), False),
    T.StructField("wall_ms", T.LongType(), False),
    T.StructField("committed_at_ms", T.LongType(), False),
])


def snapshot_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshots")


# one row per (snapshot, bucket): WHICH committed buckets a snapshot
# covers — the Iceberg manifest-list analog (a snapshot points at the
# concrete data-file set; time travel never needs timestamps or clock
# ordering).  n_buckets rows per snapshot: tiny even at 10^5 buckets.
MEMBERS_SCHEMA = T.StructType([
    T.StructField("snapshot_id", T.StringType(), False),
    T.StructField("seq", T.IntegerType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("run_id", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), False),
])


def members_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_snapshot_members")


def read_snapshot_members(spark: SparkSession, out_dir: str) -> DataFrame:
    # distinct: commit_snapshot writes members BEFORE the snapshot row,
    # so a crash between the two followed by a same-run_id retry (legal:
    # the crash never snapshotted) re-appends the identical member rows
    # under the recomputed snapshot_id.  Buckets are immutable, so the
    # re-append is always a full-row duplicate — distinct is exact.
    return (
        spark.read.schema(MEMBERS_SCHEMA)
        .parquet(members_path(out_dir))
        .distinct()
    )


def buckets_asof(
    spark: SparkSession, out_dir: str, snapshot_id: str
) -> list[int]:
    """Buckets visible at ``snapshot_id`` — exactly the set its member
    list recorded at commit time (crashed-run buckets that were never
    covered by a snapshot stay invisible, matching Iceberg's
    uncommitted-data semantics)."""
    if not any(
        r.snapshot_id == snapshot_id
        for r in _read_snapshots_or_empty(spark, out_dir)
    ):
        raise ValueError(f"unknown snapshot {snapshot_id!r} in {out_dir!r}")
    # commit_snapshot writes the members file only when the member list
    # is non-empty, so a store whose history is all empty/noop snapshots
    # has no members dir at all — that is "zero visible buckets", not an
    # error (mirrors _read_snapshots_or_empty's missing-path case)
    if not os.path.isdir(members_path(out_dir)):
        return []
    rows = (
        read_snapshot_members(spark, out_dir)
        .filter(F.col("snapshot_id") == snapshot_id)
        .select("bucket")
        .collect()
    )
    # an empty-store snapshot legitimately has zero members
    return sorted(r.bucket for r in rows)


def snapshotted_run_ids(spark: SparkSession, out_dir: str) -> set[str]:
    """run_ids that already own a snapshot in this out_dir."""
    snaps = _read_snapshots_or_empty(spark, out_dir)
    return {r.run_id for r in snaps}


def _read_snapshots_or_empty(spark: SparkSession, out_dir: str) -> list:
    """Snapshot rows, or [] iff the snapshot dir doesn't exist yet.

    Only the missing-path case maps to "no history" — a corrupted
    snapshot dir must surface, not silently produce an orphan snapshot
    (ADVICE r02)."""
    path = snapshot_path(out_dir)
    if not os.path.isdir(path):
        return []
    return read_snapshots(spark, out_dir).collect()


def commit_snapshot(
    spark: SparkSession, out_dir: str, run_id: str,
    operation: str | None = None,
) -> str:
    """Append one snapshot-summary row derived from the manifest.

    ``parent_snapshot_id`` is the previous snapshot (linear history); a
    resume run's snapshot records only the buckets ITS run_id committed
    as ``added_*`` while ``total_rows`` covers the table.  A run_id
    that already snapshotted is REJECTED: its bucket rows are already
    accounted in that snapshot's ``added_*``, so a second snapshot
    under the same run_id would double-attribute them (a resume of a
    *crashed* attempt reuses the run_id legally — the crash never
    snapshotted).  Also writes the snapshot's MEMBER list (every
    manifest bucket visible at commit time — the Iceberg manifest-list
    analog that makes time-travel reads exact).  ``operation``
    overrides the append/noop auto-label (compaction passes
    ``"replace"``, Iceberg's rewrite operation).  Returns the new
    snapshot_id."""
    import pyspark.sql.functions as F

    prev = _read_snapshots_or_empty(spark, out_dir)
    if any(r.run_id == run_id for r in prev):
        raise ValueError(
            f"run_id {run_id!r} already has a snapshot in {out_dir!r}; "
            "pick a fresh run_id per attempt (resume of a crashed run "
            "may reuse its run_id only because the crash never "
            "snapshotted)"
        )
    # deterministic parent: highest seq wins; snapshot_id breaks the
    # (impossible-in-one-driver, but cheap to guard) seq tie
    head = max(prev, key=lambda r: (r.seq, r.snapshot_id), default=None)
    seq = (head.seq + 1) if head is not None else 1
    snapshot_id = f"s{seq:06d}-{run_id}"

    # an empty store (no manifest yet) legitimately snapshots as a
    # zero-member noop — the Iceberg analog of snapshotting a table
    # before its first append; missing-path only, a corrupted manifest
    # still raises
    if os.path.isdir(manifest_path(out_dir)):
        man = read_manifest(spark, out_dir)
        members = man.select("bucket", "run_id", "n_rows").collect()
        stats = man.groupBy().agg(
            F.sum("n_rows").alias("tot"),
            F.sum(F.when(F.col("run_id") == run_id, F.col("n_rows"))
                  .otherwise(F.lit(0))).alias("added"),
            F.sum(F.when(F.col("run_id") == run_id, F.col("n_pass"))
                  .otherwise(F.lit(0))).alias("added_pass"),
            F.sum(F.when(F.col("run_id") == run_id, F.col("wall_ms"))
                  .otherwise(F.lit(0))).alias("wall"),
            F.count("*").alias("n_total"),
            F.sum((F.col("run_id") == run_id).cast("int")).alias("n_mine"),
        ).collect()[0]
        n_mine, n_total = int(stats.n_mine or 0), int(stats.n_total or 0)
        added, added_pass = int(stats.added or 0), int(stats.added_pass or 0)
        tot, wall = int(stats.tot or 0), int(stats.wall or 0)
    else:
        members = []
        n_mine = n_total = added = added_pass = tot = wall = 0
    row = [(
        snapshot_id, seq, run_id,
        head.snapshot_id if head is not None else None,
        operation or ("append" if n_mine else "noop"),
        n_mine, n_total, added, added_pass, tot, wall,
        int(time.time() * 1000),
    )]
    # member list FIRST, snapshot row last: the snapshot row is the
    # commit point (buckets_asof checks it), so a crash between the two
    # writes leaves only an orphaned member list, never a snapshot
    # whose member query comes back empty
    if members:
        mrows = [
            (snapshot_id, seq, int(m.bucket), m.run_id, int(m.n_rows))
            for m in members
        ]
        spark.createDataFrame(mrows, MEMBERS_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(members_path(out_dir))
    spark.createDataFrame(row, SNAPSHOT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(snapshot_path(out_dir))
    return snapshot_id


def read_snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.schema(SNAPSHOT_SCHEMA).parquet(snapshot_path(out_dir))


class Stopwatch:
    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def __exit__(self, *a):
        self.ms = int((time.monotonic() - self.t0) * 1000)
        return False
