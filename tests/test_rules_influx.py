"""Config-driven routing rules (``operators.route``'s rules table)."""

from __future__ import annotations


def _df(spark, rows, extra="conf_id string"):
    return spark.createDataFrame(
        rows,
        f"severity int, message string, parse_ok boolean, appname string, "
        f"hostname string, {extra}",
    )


def test_route_rules_default(spark):
    from skewer_spark.operators.route import route
    df = _df(spark, [
        (7, "x", True, "app", "h", "c1"),
        (3, "contains REJECTME here", True, "app", "h", "c1"),
        (3, "ok", False, "app", "h", "c1"),
        (3, "ok", True, "app", "h", "c1"),
    ])
    out = {(r.severity, r.message, r.parse_ok): r.filter_status
           for r in route(df).collect()}
    assert out[(7, "x", True)] == "DROPPED"
    assert out[(3, "contains REJECTME here", True)] == "REJECTED"
    assert out[(3, "ok", False)] == "ERROR"
    assert out[(3, "ok", True)] == "PASS"


def test_route_rules_per_conf(spark):
    from skewer_spark.operators.route import RoutingRule, route
    rules = [RoutingRule(
        conf_id="strict",
        filter_expr="CASE WHEN severity >= 4 THEN 'DROPPED' ELSE 'PASS' END",
        topic_expr="concat('audit-', appname)",
    )]
    df = _df(spark, [
        (5, "m", True, "app", "h", "strict"),
        (5, "m", True, "app", "h", "other"),
        (2, "m", True, "app", "h", "strict"),
    ])
    rows = {(r.conf_id, r.severity): r for r in route(df, rules).collect()}
    assert rows[("strict", 5)].filter_status == "DROPPED"
    assert rows[("other", 5)].filter_status == "PASS"   # default rule
    assert rows[("strict", 2)].topic == "audit-app"
    assert rows[("other", 5)].topic == "syslog-app"


def test_route_rules_topic_validation(spark):
    from skewer_spark.operators.route import RoutingRule, route
    rules = [RoutingRule(conf_id="bad", topic_expr="'has spaces!'")]
    df = _df(spark, [(1, "m", True, "a", "h", "bad")])
    r = route(df, rules).collect()[0]
    assert r.topic == "default-topic"


def test_route_without_rules_needs_no_conf_id(spark):
    """No rules: route neither reads nor adds conf_id — it adds exactly
    the four routing columns."""
    from skewer_spark.operators.route import route
    df = _df(spark, [(3, "ok", True, "app", "h", 1)], extra="n int")
    out = route(df)
    assert out.columns == df.columns + [
        "filter_status", "topic", "partition_key", "partition_number"]
    r = out.collect()[0]
    assert (r.filter_status, r.topic, r.partition_key) == (
        "PASS", "syslog-app", "mypk-h")
    assert 0 <= r.partition_number < 10
