"""Enrichment stage: dictionary decode + envelope columns (SURVEY.md §2.3).

* facility/severity code → name via **codegen CASE chains** over the
  24/8-entry static dicts (``/root/reference/model/types.go:45-92``)
  with the reference's unknown-code defaults ``user`` / ``info``
  (``model/types.go:182-208``) — r6: was broadcast hash joins; the
  dictionaries are compile-time constants, so the join machinery
  (BroadcastExchange build per query, four join nodes) bought nothing
  (guide §2.4).  ``schema.facility_dim``/``severity_dim`` still provide
  the DataFrame dims for genuinely dynamic dictionaries.
* role/tool dictionaries — the transcript-specific dims (input_hint).
* Deterministic uid: ``sha2(conv_id <US> turn_idx)`` — the ULID analog
  (``services/network/tcp.go:157``); determinism is what makes resume +
  dedup idempotent (SURVEY.md §4.3).
* Missing-msgid backfill (``add_missing_msgid``,
  ``/root/reference/conf/defaults.go:321``, ``store/store.go:605``).
* Timestamp defaulting: ``time_reported = coalesce(parsed, ts)``,
  ``time_generated = ts`` — the batch-deterministic substitute for the
  reference's wall-clock now (``decoders/rfc3164_format.go:35-38``).
* The store writes nothing a reader can rebuild from the other columns:
  ``strip_derived`` drops ``uid`` and ``time_generated``, blanks a
  ``msgid`` that equals the uid and nulls a ``time_reported`` that
  equals ``ts``; ``restore_derived`` and ``with_time_generated`` give
  every one of them back on read.
* Stable turn ordering: ``turn_rank``, the 1-based position of a turn
  in its conversation by ``turn_idx`` — the RELP txnr analog (SURVEY.md
  §2.8).  ``dedup_and_rank`` computes it in the same skew-safe shuffle
  that drops redelivered turns.

``enrich`` itself is narrow expressions — no joins, no exchanges,
regardless of stats (pinned by tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from skewer_spark import schema as S

UNIT_SEP = ""


def with_uid(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "uid",
        F.sha2(F.concat_ws(UNIT_SEP, F.col("conv_id"), F.col("turn_idx")), 256),
    )


def add_missing_msgid(df: DataFrame) -> DataFrame:
    """add_missing_msgid (store/store.go:605): an empty msgid becomes
    the uid."""
    return df.withColumn(
        "msgid", F.when(F.col("msgid") == "", F.col("uid")).otherwise(F.col("msgid"))
    )


def strip_derived(df: DataFrame) -> DataFrame:
    """The store form of an enriched frame (routed or sink rows):
    ``uid`` and ``time_generated`` dropped, a ``msgid`` equal to the uid
    stored as ``""`` and a ``time_reported`` equal to ``ts`` stored as
    NULL.  ``restore_derived`` undoes it exactly: a backfilled msgid and
    a parsed msgid that happens to equal its own uid both read back as
    the uid, and a NULL ``time_reported`` reads back as ``ts``, which is
    what ``enrich`` put there; any other value passes through, a
    ``time_reported`` beside a NULL ``ts`` included."""
    if "msgid" in df.columns:
        df = df.withColumn(
            "msgid",
            F.when(F.col("msgid") == F.col("uid"), F.lit(""))
            .otherwise(F.col("msgid")),
        )
    return df.withColumn(
        "time_reported", F.nullif("time_reported", "ts")
    ).drop("uid", "time_generated")


def restore_derived(df: DataFrame) -> DataFrame:
    """Recompute what ``strip_derived`` left out, ``time_generated``
    aside (sink rows never carried it; routed readers add it with
    ``with_time_generated``).  The uid is always recomputed, never read
    from disk, so files that still carry one read the same, and a
    ``time_reported`` stored in full reads as stored."""
    df = with_uid(df).withColumn(
        "time_reported", F.coalesce("time_reported", "ts")
    )
    return add_missing_msgid(df) if "msgid" in df.columns else df


def with_time_generated(df: DataFrame) -> DataFrame:
    """``time_generated = ts``, as the last column: ``enrich`` sets it
    and routed readers rebuild it.  A stored copy (routed files written
    before the store dropped it) is replaced, so old, new and mixed
    stores read with one schema."""
    return df.drop("time_generated").withColumn("time_generated", F.col("ts"))


def dedup_and_rank(df: DataFrame, bucket_size: int = 8192) -> DataFrame:
    """uid-dedup + stable turn rank in ONE skew-safe shuffle.

    A plain ``row_number() over (partition by conv_id)`` puts a hot
    conversation (10% of all turns on one key — the FIXTURES skew case)
    into a single task.  Instead the window partitions on
    ``(conv_id, turn_idx div bucket_size)`` so a 10^7-turn conversation
    spreads over 10^7/bucket_size tasks, and the global rank is
    reassembled as ``bucket_offset + rank_in_bucket`` where the offsets
    come from a per-(conv, bucket) count — a cumulative sum over a tiny
    table.  Normal conversations live in bucket 0 and pay nothing.

    Dedup on (conv_id, turn_idx) rides the same sort via ``lag``
    (reference ingest semantics: reservoir map keyed by UID,
    services/store.go:136-156) — no second shuffle.  The offsets branch
    only reads (conv_id, turn_idx), so Catalyst prunes the parse out
    of it entirely.
    """
    d = df.withColumn(
        "_tbkt", F.floor(F.col("turn_idx") / bucket_size).cast("int")
    )
    w = Window.partitionBy("conv_id", "_tbkt").orderBy("turn_idx")
    deduped = (
        d.withColumn("_dup", F.lag("turn_idx").over(w) == F.col("turn_idx"))
        .filter(~F.coalesce(F.col("_dup"), F.lit(False)))
        .drop("_dup")
    )
    ranked = deduped.withColumn("_rib", F.row_number().over(w))

    offsets = (
        deduped.groupBy("conv_id", "_tbkt")
        .agg(F.count("*").alias("_bn"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_bn").over(
                    Window.partitionBy("conv_id")
                    .orderBy("_tbkt")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("conv_id", "_tbkt", "_off")
    )
    return (
        ranked.join(offsets, ["conv_id", "_tbkt"])
        .withColumn("turn_rank", (F.col("_off") + F.col("_rib")).cast("int"))
        .drop("_tbkt", "_rib", "_off")
    )


def _dict_case(col: str, mapping: dict, default=None):
    """Static dictionary decode as ONE codegen CASE chain.

    The four enrich dictionaries are 5-24 fixed entries; joining them
    (even broadcast) costs a BroadcastExchange build + an extra join
    operator PER QUERY that uses the enrich stage — ~0.2 s of fixed
    overhead per sf0.1 query and four extra plan nodes at any scale
    (r6, guide §2.4: remove exchanges outright).  A literal CASE chain
    whole-stage-codegens to an if-else ladder, keeps the stage fully
    narrow, and preserves left-join-with-coalesce semantics exactly
    (unknown or NULL code → ``default``).  The broadcast-join path
    stays available via the schema dims for genuinely dynamic
    dictionaries (q_enrich_broadcast pins it)."""
    expr = F.lit(default).cast("string") if default is None else F.lit(default)
    c = F.col(col)
    for k, v in sorted(mapping.items()):
        expr = F.when(c == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


def enrich(df: DataFrame) -> DataFrame:
    """parsed → enriched.  Expects columns from parse_transcripts()."""
    out = with_time_generated(
        df.withColumn(
            "facility_name",
            _dict_case("facility", S.FACILITIES, S.DEFAULT_FACILITY_NAME),
        )
        .withColumn(
            "severity_name",
            _dict_case("severity", S.SEVERITIES, S.DEFAULT_SEVERITY_NAME),
        )
        .withColumn("role_kind", _dict_case("role", S.ROLE_KINDS))
        .withColumn("tool_family", _dict_case("tool", S.TOOL_FAMILIES))
    ).withColumn("time_reported", F.coalesce("time_reported", "ts"))
    return add_missing_msgid(with_uid(out))
