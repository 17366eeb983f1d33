"""Snapshot time-travel reads + small-file compaction (the Iceberg
manifest-list / rewrite_data_files analogs over the bucket store;
north rule: "lineage and metrics emitted per Iceberg snapshot").
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skewer_spark.plans import checkpoint as ckpt
from skewer_spark.plans import job
from skewer_spark.synth import transcripts_df
from tests.store_meta import ts_encodings


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A store with two snapshots: runA commits 2 of 4 buckets then
    crashes (never auto-snapshots); an operator checkpoints that
    partial state as s1; runB resumes, finishes, and snapshots s2."""
    tmp = tmp_path_factory.mktemp("tt")
    inp = str(tmp / "in")
    out = str(tmp / "out")
    transcripts_df(spark, 20, 20).write.parquet(inp)

    with pytest.raises(RuntimeError):
        job.run_pipeline(spark, inp, out, n_buckets=4, fail_after=2,
                         run_id="runA")
    # snapshot the partial state under its own id (operator-driven
    # checkpoint of a half-loaded table — legal: runA never snapshotted)
    s1 = ckpt.commit_snapshot(spark, out, "runA")
    job.run_pipeline(spark, inp, out, n_buckets=4, run_id="runB")
    snaps = {r.run_id: r for r in ckpt.read_snapshots(spark, out).collect()}
    return {"inp": inp, "out": out, "s1": s1,
            "s2": snaps["runB"].snapshot_id}


def test_asof_sees_only_member_buckets(spark, store):
    out = store["out"]
    b1 = ckpt.buckets_asof(spark, out, store["s1"])
    b2 = ckpt.buckets_asof(spark, out, store["s2"])
    assert len(b1) == 2 and len(b2) == 4 and set(b1) < set(b2)

    full = job.read_sink(spark, out, "sink_firehose")
    asof1 = job.read_sink_asof(spark, out, "sink_firehose", store["s1"])
    asof2 = job.read_sink_asof(spark, out, "sink_firehose", store["s2"])
    n_full, n1, n2 = full.count(), asof1.count(), asof2.count()
    assert n1 < n2 == n_full
    # as-of rows are exactly the full rows from the visible buckets
    expect1 = full.filter(F.col("bucket").isin(b1)).count()
    assert n1 == expect1


def test_asof_unknown_snapshot_raises(spark, store):
    with pytest.raises(ValueError, match="unknown snapshot"):
        job.read_sink_asof(spark, store["out"], "sink_firehose", "s-nope")


def test_snapshot_members_lineage(spark, store):
    """Member lists chain snapshot → bucket → run_id: s1 covers only
    runA's buckets; s2 covers runA's AND runB's."""
    m = ckpt.read_snapshot_members(spark, store["out"]).collect()
    by_snap: dict = {}
    for r in m:
        by_snap.setdefault(r.snapshot_id, set()).add((r.bucket, r.run_id))
    runs1 = {run for _, run in by_snap[store["s1"]]}
    runs2 = {run for _, run in by_snap[store["s2"]]}
    assert runs1 == {"runA"} and runs2 == {"runA", "runB"}


def _sink_fingerprint(spark, out):
    """(row count, xor of row hashes) of a store's sinks."""
    df = spark.read.option("basePath", f"{out}/sinks").parquet(f"{out}/sinks")
    return (
        df.count(),
        df.agg(
            F.bit_xor(
                F.xxhash64("conv_id", "turn_idx", "sink", "encoded", "bucket")
            ).alias("h")
        ).collect()[0].h,
    )


def test_compaction_preserves_rows_and_records_replace(spark, store):
    out = store["out"]

    # fragment the store first (the tiny fixture writes one file per
    # leaf already): rewrite with a 4-way salt so each bucket=/sink=
    # leaf holds ~4 small files — the state a 10^5-task production run
    # leaves behind
    frag = os.path.join(out, "_sinks_frag")
    src = spark.read.option("basePath", f"{out}/sinks").parquet(
        f"{out}/sinks"
    )
    (
        src.repartition(80, "bucket", "sink",
                        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(4)))
        .write.mode("overwrite").partitionBy("bucket", "sink").parquet(frag)
    )
    import shutil

    shutil.rmtree(os.path.join(out, "sinks"))
    os.rename(frag, os.path.join(out, "sinks"))

    before = _sink_fingerprint(spark, out)
    n_files_before = len(
        glob.glob(os.path.join(out, "sinks", "**", "*.parquet"),
                  recursive=True)
    )
    assert n_files_before > 20  # fragmentation took
    # the raw fragmenting rewrite wrote v1 pages (PLAIN ts)
    assert all("DELTA_BINARY_PACKED" not in ts_encodings(f)
               for f in glob.glob(os.path.join(out, "sinks", "**", "*.parquet"),
                                  recursive=True))
    sid = job.compact_sinks(spark, out, run_id="compact1")
    after = _sink_fingerprint(spark, out)
    files_after = glob.glob(os.path.join(out, "sinks", "**", "*.parquet"),
                            recursive=True)
    n_files_after = len(files_after)
    assert after == before  # byte-level content identical
    assert n_files_after < n_files_before  # actually compacted
    # the salted fragments lost conversation order; compaction restores
    # it, and writes the store's v2 pages (delta-packed ts)
    for f in files_after:
        assert "DELTA_BINARY_PACKED" in ts_encodings(f), f
        t = pq.read_table(f, columns=["conv_id", "turn_idx"])
        keys = list(zip(t["conv_id"].to_pylist(), t["turn_idx"].to_pylist()))
        assert keys == sorted(keys), f
    snap = (
        ckpt.read_snapshots(spark, out)
        .filter(F.col("snapshot_id") == sid)
        .collect()[0]
    )
    assert snap.operation == "replace"
    # time travel still works post-compaction (member buckets survive
    # as partition values in the rewritten layout)
    asof1 = job.read_sink_asof(spark, out, "sink_firehose", store["s1"])
    assert asof1.count() > 0


def test_compaction_fails_fast_on_bad_preconditions(spark, store):
    """Precondition failures must surface BEFORE the rewrite/swap: a
    reused run_id or a crashed prior attempt's leftover backup would
    otherwise be detected only after the old data was deleted."""
    out = store["out"]
    # reused run_id (runB already owns a snapshot) — rejected up front,
    # store untouched
    before = sorted(
        glob.glob(os.path.join(out, "sinks", "**", "*.parquet"),
                  recursive=True)
    )
    with pytest.raises(ValueError, match="already snapshotted"):
        job.compact_sinks(spark, out, run_id="runB")
    assert sorted(
        glob.glob(os.path.join(out, "sinks", "**", "*.parquet"),
                  recursive=True)
    ) == before
    # leftover _sinks_precompact from a crashed swap — refuse to run
    leftover = os.path.join(out, "_sinks_precompact")
    os.makedirs(leftover)
    try:
        with pytest.raises(RuntimeError, match="crashed compaction"):
            job.compact_sinks(spark, out, run_id="compact2")
    finally:
        os.rmdir(leftover)


def test_compaction_rejects_a_store_without_sink_leaves(spark, tmp_path):
    """The layout check runs before the nothing-to-compact return: a
    sinks/ whose leaves hold one file each but carry no sink= level is
    refused, not answered with the head snapshot."""
    leaf = tmp_path / "out" / "sinks" / "bucket=0"
    leaf.mkdir(parents=True)
    pq.write_table(pa.table({"conv_id": [1], "turn_idx": [0]}),
                   str(leaf / "part-0.parquet"))
    with pytest.raises(ValueError, match="not a sink store"):
        job.compact_sinks(spark, str(tmp_path / "out"), run_id="c1")


def test_compaction_rewrites_only_fragmented_leaves(spark, store):
    """Leaves already at files_per_partition are neither read nor
    rewritten; with none left to compact, compact_sinks writes and
    commits nothing and answers the head snapshot."""
    out = store["out"]
    sinks = os.path.join(out, "sinks")

    def mtimes():
        return {
            f: os.stat(f).st_mtime_ns
            for f in glob.glob(os.path.join(sinks, "**", "*.parquet"),
                               recursive=True)
        }

    def snapshots():
        return ckpt.read_snapshots(spark, out).collect()

    # one file per leaf (a no-op if an earlier compaction got there)
    job.compact_sinks(spark, out, run_id="compact_pre")
    before, snaps = mtimes(), snapshots()
    head = max(snaps, key=lambda r: r.seq).snapshot_id
    assert job.compact_sinks(spark, out, run_id="compact_noop") == head
    assert mtimes() == before
    assert len(snapshots()) == len(snaps)

    # split the biggest leaf's file in two: only that leaf is rewritten
    big = max(before, key=os.path.getsize)
    leaf = os.path.dirname(big)
    t = pq.ParquetFile(big).read()
    assert t.num_rows >= 2
    os.remove(big)
    pq.write_table(t.slice(0, t.num_rows // 2), os.path.join(leaf, "a.parquet"))
    pq.write_table(t.slice(t.num_rows // 2), os.path.join(leaf, "b.parquet"))
    fp = _sink_fingerprint(spark, out)
    job.compact_sinks(spark, out, run_id="compact_one")
    after = mtimes()
    assert _sink_fingerprint(spark, out) == fp
    assert len(snapshots()) == len(snaps) + 1
    assert {f: m for f, m in after.items() if os.path.dirname(f) != leaf} \
        == {f: m for f, m in before.items() if os.path.dirname(f) != leaf}
    assert len([f for f in after if os.path.dirname(f) == leaf]) == 1


def test_asof_on_empty_store_returns_no_buckets(spark, tmp_path):
    """A snapshot over an empty manifest has zero members and no
    members file on disk; buckets_asof must answer [] (not crash on
    the missing path)."""
    out = str(tmp_path / "empty_store")
    sid = ckpt.commit_snapshot(spark, out, "empty-run")
    assert ckpt.buckets_asof(spark, out, sid) == []


def test_incremental_diff_between_snapshots(spark, store):
    out = store["out"]
    b1 = set(ckpt.buckets_asof(spark, out, store["s1"]))
    b2 = set(ckpt.buckets_asof(spark, out, store["s2"]))
    diff = job.read_sink_diff(
        spark, out, "sink_firehose", store["s1"], store["s2"]
    )
    assert {r.bucket for r in diff.select("bucket").distinct().collect()} \
        == b2 - b1
    # asof(from) + diff == asof(to), row-exactly
    n_from = job.read_sink_asof(spark, out, "sink_firehose", store["s1"]).count()
    n_to = job.read_sink_asof(spark, out, "sink_firehose", store["s2"]).count()
    assert n_from + diff.count() == n_to
    # self-diff is empty; reversed direction is a lineage error
    assert job.read_sink_diff(
        spark, out, "sink_firehose", store["s1"], store["s1"]
    ).count() == 0
    with pytest.raises(ValueError, match="not an ancestor"):
        job.read_sink_diff(
            spark, out, "sink_firehose", store["s2"], store["s1"]
        )
    with pytest.raises(ValueError, match="unknown snapshot"):
        job.read_sink_diff(
            spark, out, "sink_firehose", store["s1"], "s-nope"
        )


def test_member_rows_dedup_on_crash_retry(spark, tmp_path):
    """commit_snapshot writes members BEFORE the snapshot row, so a
    crash between the two followed by a same-run_id retry re-appends
    identical member rows under the recomputed snapshot_id.  The read
    path must collapse them: buckets_asof returns each bucket once and
    member aggregates don't double-count."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    transcripts_df(spark, 8, 10).write.parquet(inp)
    res = job.run_pipeline(spark, inp, out, n_buckets=2, run_id="rA")
    snap = {r.run_id: r.snapshot_id
            for r in ckpt.read_snapshots(spark, out).collect()}["rA"]

    # simulate the retry's duplicate append: identical full rows
    members = ckpt.read_snapshot_members(spark, out)
    n = members.count()
    members.write.mode("append").parquet(ckpt.members_path(out))

    assert ckpt.read_snapshot_members(spark, out).count() == n
    vis = ckpt.buckets_asof(spark, out, snap)
    assert vis == sorted(set(vis)) == [0, 1]
    assert res["buckets"] == 2
