"""Kill-and-resume: a run that dies after k of n buckets must, after a
resume, produce byte-identical outputs to a never-failed run
(SURVEY.md §5.2 item 4; reference semantics: Sent→Ready reset on
restart + ULID dedup, store/store.go:887-941)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from skewer_spark.plans import job
from skewer_spark.synth import transcripts_df


def _sink_fingerprint(spark, out):
    """Order-insensitive content hash of all sink rows."""
    df = spark.read.option("basePath", f"{out}/sinks").parquet(f"{out}/sinks")
    row = (
        df.select(
            F.sha2(F.concat_ws("\x1f", "conv_id", "turn_idx", "sink",
                               "topic", "encoded"), 256)
            .alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)"))
             .alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    return (str(row["s"]), row["n"])


def _agg_final(spark, out):
    return {
        name: sorted(spark.read.parquet(f"{out}/agg_final/{name}").collect(),
                     key=repr)
        for name in job.AGG_TABLES
    }


def _routed_ts_types(out):
    types = set()
    for f in glob.glob(f"{out}/routed/bucket=*/*.parquet"):
        schema = pq.ParquetFile(f).schema
        types.add(schema.column(schema.names.index("ts")).physical_type)
    return types


TS_TYPE = "spark.sql.parquet.outputTimestampType"


@pytest.mark.parametrize("crash_ts_type", [None, "INT96"],
                         ids=["default", "int96"])
def test_crash_resume_byte_equal(spark, tmp_path, crash_ts_type):
    """``int96``: the crashed attempt writes the INT96 timestamps of
    stores made before the INT64 default, and the resume finishes the
    store under the default — one store holding both physical types."""
    inp = str(tmp_path / "in")
    transcripts_df(spark, 20, 20).write.parquet(inp)

    # reference run: no failure
    out_ref = str(tmp_path / "ref")
    job.run_pipeline(spark, inp, out_ref, n_buckets=4, run_id="ref")

    # crashed run: dies after 2 buckets, then resumes
    out_cr = str(tmp_path / "crash")
    default_ts_type = spark.conf.get(TS_TYPE)
    if crash_ts_type is not None:
        spark.conf.set(TS_TYPE, crash_ts_type)
    try:
        with pytest.raises(RuntimeError):
            job.run_pipeline(spark, inp, out_cr, n_buckets=4, fail_after=2,
                             run_id="runA")
    finally:
        spark.conf.set(TS_TYPE, default_ts_type)
    man = spark.read.parquet(f"{out_cr}/_manifest")
    assert man.count() == 2
    res = job.run_pipeline(spark, inp, out_cr, n_buckets=4, run_id="runB")
    assert res["rows"] == 400
    assert _routed_ts_types(out_cr) == (
        {"INT64"} if crash_ts_type is None else {"INT96", "INT64"}
    )

    # resumed result == never-failed result
    assert _sink_fingerprint(spark, out_cr) == _sink_fingerprint(spark, out_ref)
    assert _agg_final(spark, out_cr) == _agg_final(spark, out_ref)

    # resume processed exactly the missing buckets
    man2 = spark.read.parquet(f"{out_cr}/_manifest").collect()
    by_run = {}
    for r in man2:
        by_run.setdefault(r.run_id, set()).add(r.bucket)
    assert len(by_run["runA"]) == 2 and len(by_run["runB"]) == 2
    assert by_run["runA"] | by_run["runB"] == {0, 1, 2, 3}

    # snapshot summary (Iceberg snapshot-log analog): the crashed run
    # committed no snapshot; the resume's snapshot records only ITS
    # buckets as added_* but the full table as total_rows
    from skewer_spark.plans.checkpoint import read_snapshots
    snaps = {s.run_id: s for s in read_snapshots(spark, out_cr).collect()}
    assert set(snaps) == {"runB"}
    sb = snaps["runB"]
    assert sb.operation == "append"
    assert sb.buckets_committed == 2 and sb.buckets_total == 4
    assert sb.added_rows + 0 < sb.total_rows == 400
    assert sb.parent_snapshot_id is None
    assert sb.snapshot_id != "runB" and sb.seq == 1


def test_rerun_is_noop(spark, tmp_path):
    inp = str(tmp_path / "in")
    transcripts_df(spark, 8, 10).write.parquet(inp)
    out = str(tmp_path / "out")
    job.run_pipeline(spark, inp, out, n_buckets=2, run_id="r1")
    fp1 = _sink_fingerprint(spark, out)
    res = job.run_pipeline(spark, inp, out, n_buckets=2, run_id="r2")
    assert res["rows"] == 80
    # no bucket reprocessed under r2
    runs = {r.run_id for r in spark.read.parquet(f"{out}/_manifest").collect()}
    assert runs == {"r1"}
    assert _sink_fingerprint(spark, out) == fp1

    # snapshot chain: r1 = append, r2 = noop child of r1 — parent links
    # by SNAPSHOT id, not run_id (run_ids are reusable, snapshot ids not)
    from skewer_spark.plans.checkpoint import read_snapshots
    snaps = {s.run_id: s for s in read_snapshots(spark, out).collect()}
    assert snaps["r1"].operation == "append" and snaps["r1"].added_rows == 80
    assert snaps["r2"].operation == "noop" and snaps["r2"].added_rows == 0
    assert snaps["r2"].parent_snapshot_id == snaps["r1"].snapshot_id
    assert snaps["r2"].seq == snaps["r1"].seq + 1
    assert snaps["r2"].total_rows == 80

    # a reused run_id is rejected up front: its buckets are already
    # attributed to an existing snapshot (ADVICE r02 self-loop fix)
    with pytest.raises(ValueError, match="already snapshotted"):
        job.run_pipeline(spark, inp, out, n_buckets=2, run_id="r1")


def test_bucket_without_conversations(spark, tmp_path):
    """Two conversations over 8 buckets leave buckets no conversation
    hashed to, with no staged directory: each commits zero rows, and
    the finalized tables equal ``run_flat``'s on the same input."""
    inp = str(tmp_path / "in")
    transcripts_df(spark, 2, 5).write.parquet(inp)
    out = str(tmp_path / "out")
    res = job.run_pipeline(spark, inp, out, n_buckets=8)
    assert res["rows"] == 10
    staged = glob.glob(f"{out}/_staged/bucket=*")
    assert 0 < len(staged) < 8
    committed = {r.bucket: r.n_rows
                 for r in job.ckpt.read_manifest(spark, out).collect()}
    assert set(committed) == set(range(8))
    assert sum(n == 0 for n in committed.values()) == 8 - len(staged)

    flat = str(tmp_path / "flat")
    job.run_flat(spark, inp, flat)
    job.finalize_aggregates(spark, flat)
    assert _agg_final(spark, out) == _agg_final(spark, flat)


def test_corrupt_manifest_raises(spark, tmp_path):
    """An unreadable manifest is an error, not "nothing committed":
    read as empty, it would send every bucket through the job again."""
    from skewer_spark.plans import checkpoint as ckpt

    out = tmp_path / "out"
    assert ckpt.committed_buckets(spark, str(out)) == set()
    man = out / "_manifest"
    man.mkdir(parents=True)
    (man / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="parquet"):
        ckpt.committed_buckets(spark, str(out))
