"""Structured Streaming variant of the pipeline.

The reference IS a streaming daemon (long-running listeners → parse →
store → forward); this module is the Spark-native equivalent of that
always-on mode, sharing every operator and the write path with the
batch job:

* source: file stream over the transcript table directory (swap for
  ``format("kafka")`` on a real bus — the plan is identical),
* parse / enrich / route: the same narrow operators (they are
  streaming-safe: no windows, no global sorts),
* dedup: ``dropDuplicatesWithinWatermark`` on (conv_id, turn_idx) —
  the batch job's uid key, and the streaming analog of the reservoir
  UID-dedup (``/root/reference/utils/reservoir/reservoir.go:40-50``).
  It also drops every row later than the watermark, so a late row is
  neither stored nor counted,
* store, fan-out and aggregates: ``foreachBatch`` hands each
  micro-batch (the reference's ingest batch, ``store.batch_size`` at
  ``conf/defaults.go:320``) to ``plans.job.write_outputs`` with
  ``sub="batch=<id>"``: a micro-batch is a bucket.  It writes
  ``routed/batch=<id>``, ``sinks/batch=<id>`` and the aggregate
  partials ``agg/<table>/batch=<id>``; a no-data micro-batch writes no
  partial.  ``plans.job.finalize_aggregates(spark, out_dir)`` merges
  the partials into ``agg_final`` once the stream is drained, as at
  the end of ``run_pipeline``,
* delivery: the streaming checkpoint dir IS the Ready/Sent/ACK state,
  replacing the badger queue.  Each micro-batch overwrites its own
  ``batch=<id>`` directories, so a retried batch replaces its output:
  effectively-once.

Turn rank is absent: a global per-conversation rank is a batch
construct, so routed rows of a stream carry no ``turn_rank``; readers
order turns by (conv_id, turn_idx), like RELP txnr ordering per
connection (``services/network/relp.go:81-149``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from skewer_spark.operators.enrich import enrich
from skewer_spark.operators.parse import parse_transcripts
from skewer_spark.operators.route import route
from skewer_spark.plans.job import write_outputs
from skewer_spark.schema import TRANSCRIPT_SCHEMA


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


def run_streaming(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    watermark: str = "1 hour",
    trigger_once: bool = True,
):
    """Start the streaming pipeline; returns the streaming query.

    ``trigger_once`` processes everything available then stops —
    the incremental-batch mode (kicked by a scheduler, resuming from
    the checkpoint), which is how a 10^12-row table is drained in
    bounded runs.  Once the query has ended, ``agg_final`` comes from
    ``plans.job.finalize_aggregates(spark, out_dir)``.

    A store written by the earlier layout (a second, windowed-counts
    query checkpointed in ``_ckpt/agg``) is refused: its file sink's
    ``_spark_metadata`` log would make every reader of
    ``agg/windowed_counts`` skip the ``batch=`` partials.
    """
    if os.path.exists(os.path.join(out_dir, "_ckpt", "agg")):
        raise ValueError(
            f"{out_dir!r} holds a stream store of the earlier layout "
            "(_ckpt/agg): its windowed_counts file-sink metadata would "
            "hide this layout's partials; use a fresh out_dir"
        )
    routed = build_streaming_routed(
        streaming_transcripts(spark, input_dir), watermark
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_outputs(batch_df.sparkSession, batch_df, out_dir,
                      sub=f"batch={batch_id}")

    return (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt", "sinks"))
        .trigger(**({"availableNow": True} if trigger_once else {"processingTime": "10 seconds"}))
        .start()
    )
