"""Structured Streaming variant of the pipeline.

The reference IS a streaming daemon (long-running listeners → parse →
store → forward); this module is the Spark-native equivalent of that
always-on mode, sharing every operator with the batch path:

* source: file stream over the transcript table directory (swap for
  ``format("kafka")`` on a real bus — the plan is identical),
* parse / enrich / route: the same narrow operators (they are
  streaming-safe: no windows, no global sorts),
* dedup: ``dropDuplicatesWithinWatermark`` on (conv_id, turn_idx) —
  the streaming analog of the reservoir UID-dedup
  (``/root/reference/utils/reservoir/reservoir.go:40-50``),
* fan-out: ``foreachBatch`` runs ``write_sink_batch`` per micro-batch
  (micro-batch = the reference's ingest batch, ``store.batch_size`` at
  ``conf/defaults.go:320``).  It is its own twin of the batch job's
  fan-out in ``plans.job.write_outputs``, not a call into it: same
  labels and encoder, separate code (ROADMAP item 8), but the one sink
  store form (``plans.job.write_sink_files``),
* aggregates: the batch ``windowed_counts`` rollup itself, run as a
  watermarked append aggregation,
* delivery: the streaming checkpoint dir IS the Ready/Sent/ACK state,
  replacing the badger queue.  The parquet agg leg is exactly-once via
  the file-sink commit log; the foreachBatch sink leg is
  effectively-once because each micro-batch overwrites a
  ``batch=<id>``-scoped directory (a retried batch replaces its own
  partial output).

Turn-rank is intentionally absent here: a global per-conversation rank
is a batch construct; the streaming contract orders turns by
(conv_id, turn_idx) at read time, like RELP txnr ordering per
connection (``services/network/relp.go:81-149``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skewer_spark.operators.aggregate import windowed_counts
from skewer_spark.operators.enrich import enrich
from skewer_spark.operators.parse import parse_transcripts
from skewer_spark.operators.route import route, with_sink_labels
from skewer_spark.plans.job import write_sink_files
from skewer_spark.schema import TRANSCRIPT_SCHEMA
from skewer_spark.sinks.encoders import encoded_by_sink


def streaming_transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def build_streaming_routed(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    deduped = (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )
    return route(enrich(parse_transcripts(deduped).drop("text")))


def write_sink_batch(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """foreachBatch sink write, IDEMPOTENT: each micro-batch overwrites
    its own ``batch=<id>`` directory, so a batch retried after a
    failure replaces its partial output instead of appending duplicates
    — this upgrades the foreachBatch leg from at-least-once to
    effectively-once (the parquet agg leg gets it from the file-sink
    commit log natively).  Rows are written in the batch store's sink
    form (``plans.job.write_sink_files``), so ``read_sink`` reads both
    alike."""
    labeled = with_sink_labels(batch_df, include_dropped=True).withColumn(
        "encoded", encoded_by_sink()
    )
    write_sink_files(
        labeled, os.path.join(out_dir, "sinks", f"batch={batch_id}")
    )


def run_streaming(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    watermark: str = "1 hour",
    trigger_once: bool = True,
):
    """Start the streaming pipeline; returns the streaming queries.

    ``trigger_once`` processes everything available then stops —
    the incremental-batch mode (kicked by a scheduler, resuming from
    the checkpoint), which is how a 10^12-row table is drained in
    bounded runs.
    """
    routed = build_streaming_routed(
        streaming_transcripts(spark, input_dir), watermark
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_sink_batch(batch_df, batch_id, out_dir)

    sink_q = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt", "sinks"))
        .trigger(**({"availableNow": True} if trigger_once else {"processingTime": "10 seconds"}))
        .start()
    )

    # UPGRADE NOTE (ADVICE r5): adding 'sink' to the windowed_counts
    # grouping in r5 changed the stateful operator's key schema AND the
    # output table schema.  A deployment restarting from a pre-r5
    # _ckpt/agg checkpoint fails state-schema validation (loud, not
    # silent); clear the agg checkpoint directory — or version it, e.g.
    # _ckpt/agg_v2 — when upgrading across any change to this grouping.
    #
    # The watermark is set upstream (dedup stage): redefining it is
    # disallowed when chaining stateful operators.  DROPPED rows still
    # advance it without contributing counts, as on the batch side.
    agg_q = (
        windowed_counts(routed).writeStream.outputMode("append")
        .format("parquet")
        .option("path", os.path.join(out_dir, "agg", "windowed_counts"))
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt", "agg"))
        .trigger(**({"availableNow": True} if trigger_once else {"processingTime": "10 seconds"}))
        .start()
    )
    return sink_q, agg_q


def correlate_acks(
    msgs: DataFrame,
    acks: DataFrame,
    watermark: str = "1 hour",
    max_ack_delay_seconds: int = 600,
) -> DataFrame:
    """Sent→ACK correlation as a watermarked stream-stream LEFT OUTER
    join — the streaming twin of the reference's Ready→Sent→ACK/NACK
    ledger (``/root/reference/store/store.go`` ACK/NACK channels +
    ``store/forwarder.go`` delivery wait): a sent message either meets
    its ack within ``max_ack_delay_seconds`` (→ ``acked = true``) or
    emits unmatched once the watermark passes its deadline (→ the
    NACK/retry-timeout analog, never silently dropped).

    ``msgs`` needs ``(uid, ts, …)``; ``acks`` needs
    ``(ack_uid, ack_ts)``.  Both sides carry the watermark and the join
    condition time-bounds the buffered state, so Spark can evict: state
    per key is O(messages in one delay window), not unbounded.  Scale
    shape: one stateful symmetric hash join co-partitioned on uid —
    exactly the shuffle the routed write already needs.
    """
    m = msgs.withWatermark("ts", watermark).alias("m")
    a = acks.withWatermark("ack_ts", watermark).alias("a")
    cond = (
        (F.col("m.uid") == F.col("a.ack_uid"))
        & (F.col("a.ack_ts") >= F.col("m.ts"))
        & (
            F.col("a.ack_ts")
            <= F.col("m.ts")
            + F.expr(f"INTERVAL {int(max_ack_delay_seconds)} SECONDS")
        )
    )
    return m.join(a, cond, "leftOuter").select(
        "m.*",
        F.col("a.ack_ts").alias("ack_ts"),
        F.col("a.ack_ts").isNotNull().alias("acked"),
    )
