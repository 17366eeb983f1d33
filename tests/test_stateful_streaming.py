"""applyInPandasWithState sessionizer: state accumulates across
micro-batches and survives a restart from the checkpoint."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from skewer_spark.streaming.pipeline import build_streaming_routed, streaming_transcripts
from skewer_spark.streaming.stateful import conversation_sessions
from skewer_spark.synth import transcripts_df


def _run_once(spark, inp, out):
    routed = build_streaming_routed(streaming_transcripts(spark, inp))
    sessions = conversation_sessions(routed)
    def write_batch(bdf, bid):
        # parquet sink rejects update mode — foreachBatch appends
        bdf.write.mode("append").parquet(os.path.join(out, "sessions"))

    q = (
        sessions.writeStream.outputMode("update")
        .foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # an availableNow run must end by itself once its input is drained
    try:
        assert q.awaitTermination(180)
    finally:
        q.stop()


def test_sessionizer_accumulates_across_restarts(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(inp)

    # batch 1: first 10 turns of each conv
    df = transcripts_df(spark, 4, 12)
    df.filter(F.col("turn_idx") < 6).write.mode("append").parquet(inp)
    _run_once(spark, inp, out)

    # batch 2: remaining turns arrive; NEW streaming query resumes from
    # the same checkpoint — state must carry over
    df.filter(F.col("turn_idx") >= 6).write.mode("append").parquet(inp)
    _run_once(spark, inp, out)

    sess = spark.read.parquet(os.path.join(out, "sessions"))
    # latest row per conv = the one with max n_turns
    latest = (
        sess.groupBy("conv_id").agg(F.max("n_turns").alias("n_turns"),
                                    F.max("max_turn_idx").alias("max_turn_idx"))
        .collect()
    )
    got = {r.conv_id: (r.n_turns, r.max_turn_idx) for r in latest}
    # every conv saw all its turns across the two batches
    want = {
        r.conv_id: r.cnt
        for r in df.groupBy("conv_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(got) == set(want)
    for conv, (n, mx) in got.items():
        assert n == want[conv], f"{conv}: {n} != {want[conv]}"
    # max_turn_idx reflects the true per-conv max across BOTH batches →
    # state really persisted across the restart
    true_max = {
        r.conv_id: r.mx
        for r in df.groupBy("conv_id").agg(F.max("turn_idx").alias("mx")).collect()
    }
    for conv, (_, mx) in got.items():
        assert mx == true_max[conv], f"{conv}: {mx} != {true_max[conv]}"
