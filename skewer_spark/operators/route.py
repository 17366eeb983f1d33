"""Routing stage: the rules table → four-way filter + topic / partition key.

The reference attaches a ``FilterSubConfig`` {filter func, topic
template/func, partition-key template/func} to every source config and
looks it up per message by ConfID (reference ``conf/types.go:368-375``,
``store/forwarder.go:133-156``, SURVEY.md §2.4).  Here a rule is a row
of SQL expression strings (``RoutingRule``); ``route`` compiles the rule
set into nested ``when`` Columns keyed on ``conf_id`` — native Column
expressions, whole-stage codegen, no Python and no per-row lookup.

``DEFAULT_RULE`` holds the fixture rules (FIXTURES.md §3):

* Filter verdict ``PASS / DROPPED / REJECTED / ERROR``
  (``javascript/vm.go:45-60, 399-442``) dispatched per
  ``store/forwarder.go:192-208``: severity==7 → DROPPED; message
  contains ``REJECTME`` → REJECTED; parse failure → ERROR; else PASS.
* Topic: template ``syslog-{{.Appname}}`` with ``unknown`` fallback
  (``skewer.example.toml:14-23``).
* Partition key: ``mypk-{{.Hostname}}`` (``skewer.example.toml:26``).

Every rule's topic is validated against ``^[A-Za-z0-9._-]{1,249}$``
with fallback ``default-topic`` (``javascript/vm.go:497-535``,
``store/forwarder.go:174``).  Partition number: hash of the key mod
partition count — sarama's default "hash" partitioner
(``conf/defaults.go:307``); here
``pmod(xxhash64(partition_key), N_PARTITIONS)``.

Sink fan-out (destination bitmask analog, ``conf/destinations.go:11-44``):
every PASS row goes to every sink whose predicate it matches; sinks per
FIXTURES.md §3.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOPIC_RE = "^[A-Za-z0-9._-]{1,249}$"
DEFAULT_TOPIC = "default-topic"
N_PARTITIONS = 10

# sink predicates over a routed row (FIXTURES.md §3); evaluated on PASS
# rows except sink_rejects which captures REJECTED/ERROR.
SINKS: dict[str, str] = {
    "sink_alerts": "filter_status = 'PASS' AND severity <= 3",
    "sink_tools": "filter_status = 'PASS' AND tool <> 'none'",
    "sink_firehose": "filter_status = 'PASS'",
    "sink_rejects": "filter_status IN ('REJECTED','ERROR')",
}


@dataclass(frozen=True)
class RoutingRule:
    """One source config's routing behavior (SQL expression strings)."""
    conf_id: str
    # expression → PASS/DROPPED/REJECTED/ERROR
    filter_expr: str = (
        "CASE WHEN severity = 7 THEN 'DROPPED' "
        "WHEN message LIKE '%REJECTME%' THEN 'REJECTED' "
        "WHEN NOT parse_ok THEN 'ERROR' ELSE 'PASS' END"
    )
    topic_expr: str = (
        "concat('syslog-', coalesce(nullif(appname, ''), 'unknown'))"
    )
    partition_key_expr: str = "concat('mypk-', coalesce(hostname, ''))"


DEFAULT_RULE = RoutingRule(conf_id="__default__")


def _per_conf(rules: Sequence[RoutingRule], attr: str) -> Column:
    """Nested when-chain: conf_id → compiled expression, DEFAULT_RULE last."""
    expr = F.expr(getattr(DEFAULT_RULE, attr))
    for r in rules:
        expr = F.when(
            F.col("conf_id") == r.conf_id, F.expr(getattr(r, attr))
        ).otherwise(expr)
    return expr


def route(df: DataFrame, rules: Sequence[RoutingRule] = ()) -> DataFrame:
    """enriched → routed (adds filter_status/topic/partition_* columns).

    A row whose ``conf_id`` matches a rule takes that rule; every other
    row takes ``DEFAULT_RULE``.  Without rules ``conf_id`` is neither
    read nor added, so a single-source frame needs no such column.
    """
    raw_topic = _per_conf(rules, "topic_expr")
    pkey = _per_conf(rules, "partition_key_expr")
    return df.withColumns({
        "filter_status": _per_conf(rules, "filter_expr"),
        "topic": F.when(raw_topic.rlike(TOPIC_RE), raw_topic).otherwise(
            F.lit(DEFAULT_TOPIC)
        ),
        "partition_key": pkey,
        "partition_number": F.pmod(
            F.xxhash64(pkey), F.lit(N_PARTITIONS)
        ).cast("int"),
    })


DROPPED_SINK = "_dropped"

# every message lands in exactly one of these (PASS → firehose,
# REJECTED/ERROR → rejects, DROPPED → audit) — so per-message metrics
# can be derived from the sink files alone, no second scan of the input
CANONICAL_SINKS = ("sink_firehose", "sink_rejects", DROPPED_SINK)


def sink_label_col(include_dropped: bool = False) -> Column:
    """Array of sink names a row fans out to (destination bitmask analog,
    conf/destinations.go:94-112).  ``explode`` of this gives the
    one-pass multi-sink write: a single scan replicates each row into
    every matching destination.  With ``include_dropped`` the DROPPED
    verdict goes to an audit sink so no message is lost from metrics
    (the reference counts dropped messages too, store/store.go:77-84).
    """
    cols = [
        F.when(F.expr(pred), F.lit(name)).otherwise(F.lit(None))
        for name, pred in SINKS.items()
    ]
    if include_dropped:
        cols.append(
            F.when(F.col("filter_status") == "DROPPED", F.lit(DROPPED_SINK))
            .otherwise(F.lit(None))
        )
    return F.array_compact(F.array(*cols))


def with_sink_labels(routed: DataFrame, include_dropped: bool = False) -> DataFrame:
    """One row per (message, destination) — the fan-out frame."""
    return routed.withColumn("sink", F.explode(sink_label_col(include_dropped)))
