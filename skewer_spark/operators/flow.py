"""Stream-shaping operators: multiline record merge + rate limiting.

Two classic syslog-gateway behaviors the reference handles at the
socket layer, re-expressed as batch/stream DataFrame plans:

* **Multiline merge** — the inverse of LF framing: continuation
  lines (stack trace frames, wrapped payloads — anything matching a
  continuation pattern) fold into their preceding header line, the
  filebeat/rsyslog ``multiline`` feature.  The reference frames on LF
  only (``/root/reference/utils/scanner.go``), so a Java stack trace
  arrives as ~40 separate messages; this operator reassembles them.

* **Rate limiting** — rsyslog's ``$SystemLogRateLimitInterval/Burst``
  analog: admit at most ``burst`` messages per (key, interval), flag
  (never silently drop — the route.py metrics philosophy) the rest.
  Deterministic: admission order is (ts, tiebreak), so reruns admit
  the same rows.

Scale shape: each operator is ONE hash exchange.  Multiline merge
partitions by the file/source id — bounded by log rotation; for
pathological single-file inputs the same coarse-bucket + carry trick
as ``dedup_and_rank`` applies (documented, not needed at file sizes
rotation produces).  Rate limiting partitions by (key, interval
bucket), so a hot key's windows spread across tasks; the per-window
sort is bounded by the window's row count and the row_number cuts it
early under whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# continuation = leading whitespace, 'at ...' stack frames, 'Caused by:',
# or explicit wrap markers — the filebeat java-multiline default shape
DEFAULT_CONTINUATION_RX = r"^(\s+|at\s|Caused by:|\.{3}\s)"


def merge_multiline(
    df: DataFrame,
    group_col: str = "path",
    order_col: str = "line_no",
    text_col: str = "text",
    continuation_rx: str = DEFAULT_CONTINUATION_RX,
) -> DataFrame:
    """Fold continuation lines into their preceding header line.

    Returns one row per logical record:
    ``(group_col, record_no, first_line_no, n_lines, text)`` where
    ``record_no`` numbers records within the group from 1 and ``text``
    joins the member lines with ``\\n`` in line order.  A leading
    continuation line with no preceding header starts record 0 (kept,
    never dropped — the no-message-lost contract).

    NULL text normalizes to ``''`` up front: left raw, a NULL makes the
    header test NULL so the running sum skips the row — it silently
    folds into the previous record with its content dropped from the
    joined text while still counted in ``n_lines`` (and a group-leading
    NULL yields a phantom ``record_no`` NULL group).  An empty line is
    not a continuation under the default rx, so a NULL-text row becomes
    its own empty record: counted, content-empty, nothing lost.

    Plan: record ids are a running count of headers (one window over
    the (group) exchange); the rebuild groupBy rides the same keys.
    """
    df = df.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    is_header = ~F.col(text_col).rlike(continuation_rx)
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rec = df.select(
        group_col,
        order_col,
        text_col,
        F.sum(is_header.cast("int")).over(w).alias("record_no"),
    )
    return (
        rec.groupBy(group_col, "record_no")
        .agg(
            F.min(order_col).alias("first_line_no"),
            F.count(F.lit(1)).cast("int").alias("n_lines"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(order_col, text_col))
                    ),
                    lambda s: s[text_col],
                ),
            ).alias("text"),
        )
    )


def rate_limit(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    burst: int = 5,
    interval_seconds: int = 60,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Admit at most ``burst`` rows per (key, interval); flag the rest.

    Adds ``rl_window`` (the interval's epoch index) and ``admitted``
    (the first ``burst`` rows of the window in ``(ts, tiebreak)``
    order).  Callers route ``admitted = false`` rows to a rejects sink
    and count them — flagging, not dropping, keeps the metrics
    contract ("no message lost from metrics").

    Scale shape — two-phase threshold admit, NOT one row_number window
    over (key, window): the hot key is this operator's DESIGNED input
    (a runaway logger emitting 10^8 rows in one interval), and a single
    window would land that whole interval on one task and full-sort it
    (WindowGroupLimit cannot prune here: every row needs its flag, so
    there is no ``rank <= k`` filter for the optimizer).  Instead:

    1. per (key, window, **input partition**) keep the ``burst``
       smallest ``(ts, tiebreak)`` keys — the exchange key includes
       ``spark_partition_id()`` (evaluated map-side, before the
       shuffle), so a hot key spreads across tasks and every sort is
       bounded by the input partition size;
    2. the exact per-(key, window) threshold = the ``burst``-th
       smallest key among those ≤ burst×P candidates (tiny groups);
    3. ``admitted = sortkey <= threshold`` joins the threshold frame
       back on (key, window) — a hash probe streamed in O(n), never a
       sort of the hot window.

    With a UNIQUE ``(ts, tiebreak)`` per row (pass a tiebreak — the
    fixture uses event_id) this is bit-identical to the row_number
    formulation.  Rows TIED exactly at the threshold are all admitted
    (deterministic; may exceed ``burst`` by the tie count) — strictly
    better than row_number's nondeterministic pick among ties.
    """
    wincol = F.floor(
        F.unix_timestamp(F.col(ts_col)) / F.lit(int(interval_seconds))
    ).alias("rl_window")
    okey = F.struct(
        F.col(ts_col).alias("_t"),
        (F.col(tiebreak_col) if tiebreak_col else F.lit(0)).alias("_tb"),
    )
    keys = [*key_cols, "rl_window"]
    stamped = df.withColumn("rl_window", wincol).withColumn("_okey", okey)
    part_w = Window.partitionBy(
        *[F.col(c) for c in keys], F.col("_pid")
    ).orderBy(F.col("_okey"))
    cand = (
        stamped.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prn", F.row_number().over(part_w))
        .filter(F.col("_prn") <= burst)
    )
    group_w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(
        F.col("_okey")
    )
    thr = (
        cand.withColumn("_rn", F.row_number().over(group_w))
        .filter(F.col("_rn") <= burst)
        .groupBy(*keys)
        .agg(F.max("_okey").alias("_thr"))
    )
    return (
        stamped.join(thr, keys)
        .withColumn("admitted", F.col("_okey") <= F.col("_thr"))
        .drop("_okey", "_thr")
    )
