"""Tracing for the ``--trace 1`` run: stage probes and engine counters.

Nothing here is imported by an untraced run.

* Lazy operators (parse, dedup_and_rank, enrich, route, the encoders)
  return plans, so their self time comes from materialising each
  prefix of the chain to Spark's ``noop`` sink and subtracting adjacent
  prefixes.
* Engine counters, and the time of each write and aggregate inside
  ``plans.job.write_outputs``, come from Spark's event log, restricted
  to the wall-clock window of the traced iterations.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

# --- stage-prefix probes ------------------------------------------------

PROBE_STAGES = ("scan", "parse", "dedup_rank", "enrich", "route", "encode")


def prefix_frames(spark, input_path: str):
    """scan → parse → dedup_rank → enrich → route → label+encode, each a
    lazy frame."""
    from skewer_spark.operators.enrich import dedup_and_rank, enrich
    from skewer_spark.operators.parse import parse_transcripts
    from skewer_spark.operators.route import route, with_sink_labels
    from skewer_spark.sinks.encoders import encoded_by_sink

    scan = spark.read.parquet(input_path)
    parsed = parse_transcripts(scan).drop("text")
    ranked = dedup_and_rank(parsed)
    enriched = enrich(ranked)
    routed = route(enriched)
    encoded = with_sink_labels(routed, include_dropped=True).withColumn(
        "encoded", encoded_by_sink()
    )
    return dict(zip(PROBE_STAGES, (scan, parsed, ranked, enriched, routed, encoded)))


def probe_stages(spark, input_path: str, repeats: int) -> dict:
    from pyspark.sql import functions as F

    frames = prefix_frames(spark, input_path)
    times = defaultdict(list)
    for _ in range(repeats):
        for stage, df in frames.items():
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            times[stage].append(time.monotonic() - t0)
    t = {k: statistics.median(v) for k, v in times.items()}

    n_in = frames["scan"].count()
    n_ok = frames["parse"].agg(F.sum(F.col("parse_ok").cast("int"))).collect()[0][0]
    counts = frames["route"].agg(
        F.count("*").alias("routed"),
        F.sum((F.col("filter_status") == "PASS").cast("int")).alias("pass"),
    ).collect()[0]
    n_fanout = frames["encode"].count()
    return {
        "parse.self_s": t["parse"] - t["scan"],
        "parse.rows": float(n_in),
        "parse.ok_ratio": n_ok / max(n_in, 1),
        "enrich.dedup_rank.self_s": t["dedup_rank"] - t["parse"],
        "enrich.dup_dropped": float(n_in - counts["routed"]),
        "enrich.self_s": t["enrich"] - t["dedup_rank"],
        "route.self_s": t["route"] - t["enrich"],
        "route.pass_ratio": counts["pass"] / max(counts["routed"], 1),
        "encode.self_s": t["encode"] - t["route"],
        "fanout.rows_per_input": n_fanout / max(counts["routed"], 1),
    }


# --- Spark event log ----------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }


# the formatted plan's write node: "(n) Execute InsertIntoHadoopFsRelationCommand
# / Input: [...] / Arguments: file:/out/path, false, Parquet, ..."
_INSERT_PATH = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\s*\nInput:.*\nArguments: (?:file:)?([^,]+),")
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

# output path fragment → metric; the first match wins
WRITE_CLASSES = (
    ("/routed", "job.write_routed_s"),
    ("/sinks", "job.write_sinks_s"),
    ("/agg/windowed_counts", "agg.windowed_s"),
)


def _events(log_dir: str):
    """Events of every log file under ``log_dir`` (Spark 4 writes a
    directory of rolled ``events_*`` files per application)."""
    for f in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            with open(f) as fh:
                for line in fh:
                    if line.startswith("{"):
                        yield json.loads(line)


def engine_metrics(log_dir: str, window_ms: tuple[int, int], n_iter: int) -> dict:
    """Counters of the jobs and SQL executions that started inside
    ``window_ms`` (epoch milliseconds), per traced iteration."""
    lo, hi = window_ms
    per = max(n_iter, 1)
    jobs = 0
    stages_in = set()
    tasks: dict[int, list[float]] = defaultdict(list)
    stage_span: dict[int, float] = {}
    run_ms = cpu_ns = gc_ms = shuffle_w = fetch_wait = spill = peak_exec = 0
    sql_start: dict[int, tuple[int, str]] = {}
    sql_time: dict[str, float] = defaultdict(float)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev["Submission Time"] <= hi:
                jobs += 1
                stages_in.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in stages_in:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            peak_exec = max(peak_exec, m.get("Peak Execution Memory", 0))
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            fetch_wait += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage ID"] in stages_in and "Completion Time" in si:
                stage_span[si["Stage ID"]] = si["Completion Time"] - si["Submission Time"]
        elif kind == _SQL_START:
            if lo <= ev["time"] <= hi:
                plan = ev.get("physicalPlanDescription", "")
                m = _INSERT_PATH.search(plan)
                if m:
                    cls = next((c for frag, c in WRITE_CLASSES if frag in m.group(1)), None)
                elif "Expand" in plan and "hll_sketch_agg" in plan:
                    cls = "agg.metrics_s"
                else:
                    cls = None
                if cls:
                    sql_start[ev["executionId"]] = (ev["time"], cls)
        elif kind == _SQL_END and ev["executionId"] in sql_start:
            t0, cls = sql_start.pop(ev["executionId"])
            sql_time[cls] += (ev["time"] - t0) / 1000.0

    skew = 0.0
    if stage_span:
        slowest = max(stage_span, key=stage_span.get)
        durs = tasks.get(slowest) or [0.0]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    out = {
        "spark.jobs": jobs / per,
        "spark.tasks": sum(len(v) for v in tasks.values()) / per,
        "spark.executor_run_s": run_ms / 1000.0 / per,
        "spark.executor_cpu_s": cpu_ns / 1e9 / per,
        "spark.gc_s": gc_ms / 1000.0 / per,
        "spark.shuffle_write_mb": shuffle_w / 1e6 / per,
        "spark.shuffle_fetch_wait_s": fetch_wait / 1000.0 / per,
        "spark.spill_mb": spill / 1e6 / per,
        # the sort, aggregation and shuffle buffers the plan asks for: the
        # heap figure the program controls (the JVM heap size is fixed)
        "spark.peak_exec_mb": peak_exec / 1e6,
        "spark.task_skew": skew,
    }
    for _, cls in WRITE_CLASSES + (("", "agg.metrics_s"),):
        out[cls] = sql_time.get(cls, 0.0) / per
    return out
