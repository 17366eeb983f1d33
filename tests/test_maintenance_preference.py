"""Unit tests for the round-3 maintenance / drift operators:
compaction planning, zone-map skipping, late-event watermark audit,
PSI drift, cohort retention, transition matrix, orphan files,
snapshot expiry, range partitioning and incremental aggregate state."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from skewer_spark.operators.diff import psi_drift
from skewer_spark.operators.funnel import (
    cohort_retention,
    transition_matrix,
)
from skewer_spark.operators.maintenance import (
    compaction_plan,
    orphan_files,
    zonemap_skip,
    zonemap_stats,
)
from skewer_spark.operators.temporal import late_event_audit


def _ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


# ---------------------------------------------------------------- compaction


def test_compaction_groups_bounded_and_complete(spark):
    files = spark.createDataFrame(
        [Row(part=p, file_id=i, bytes=(i % 7 + 1) * 10)
         for p in (0, 1) for i in range(20)]
    )
    plan = compaction_plan(
        files, ["part"], target_bytes=100
    ).collect()
    # every input file appears exactly once
    assert len(plan) == 40
    assert len({(r.part, r.file_id) for r in plan}) == 40
    by_grp: dict[tuple, list] = {}
    for r in plan:
        by_grp.setdefault((r.part, r.grp), []).append(r)
    for (part, grp), rows in by_grp.items():
        gb = rows[0].grp_bytes
        assert gb == sum(r.bytes for r in rows)
        assert rows[0].grp_files == len(rows)
        # next-fit bound: a group exceeds the target by at most its
        # last (smallest-so-far) member
        assert gb < 100 + max(r.bytes for r in rows)
    # groups are contiguous 0..max per partition
    for part in (0, 1):
        grps = sorted({g for (p, g) in by_grp if p == part})
        assert grps == list(range(len(grps)))


def test_compaction_deterministic(spark):
    files = spark.createDataFrame(
        [Row(part=0, file_id=i, bytes=50) for i in range(10)]
    )
    a = {(r.file_id, r.grp) for r in
         compaction_plan(files, ["part"], target_bytes=120).collect()}
    b = {(r.file_id, r.grp) for r in
         compaction_plan(files, ["part"], target_bytes=120).collect()}
    assert a == b
    # equal sizes tie-break on file_id: consecutive ids share groups
    grp_of = dict(a)
    # next-fit admits a file while the PRECEDING total is under the
    # target: groups of 3×50 (preceding 0/50/100 < 120), then roll
    assert grp_of[0] == grp_of[1] == grp_of[2] == 0
    assert grp_of[3] == 1


# ------------------------------------------------------------------ zonemaps


def test_zonemap_skip_disjoint_ranges(spark):
    rows = [Row(file_id=f, v=f * 100 + i) for f in range(5)
            for i in range(10)]
    zm = zonemap_stats(spark.createDataFrame(rows), "file_id", "v")
    out = zonemap_skip(zm, lo=150, hi=250).collect()
    assert len(out) == 5
    skipped = {r.file_id: r.skipped for r in out}
    # file 1 spans 100..109 (max < 150 → skip); file 2 spans 200..209
    # (overlaps) ; file 3 spans 300..309 (min > 250 → skip)
    assert skipped == {0: 1, 1: 1, 2: 0, 3: 1, 4: 1}
    assert out[0].n_files_skipped == 4
    assert abs(out[0].skip_fraction - 0.8) < 1e-9


# ---------------------------------------------------------------- late audit


def test_late_event_audit_flags_only_watermark_violations(spark):
    rows = [
        # partition 0: arrival order 1..4; event times 0, 1000, then a
        # straggler at 100 (watermark 1000-300=700 → late), then 1100
        Row(part=0, arrival_id=1, ts=_ts(0)),
        Row(part=0, arrival_id=2, ts=_ts(1000)),
        Row(part=0, arrival_id=3, ts=_ts(100)),
        Row(part=0, arrival_id=4, ts=_ts(1100)),
        # partition 1: its own watermark — same straggler time is fine
        # because this partition has only seen t=200
        Row(part=1, arrival_id=1, ts=_ts(200)),
        Row(part=1, arrival_id=2, ts=_ts(100)),
    ]
    out = late_event_audit(
        spark.createDataFrame(rows), "part",
        delay_seconds=300, window_seconds=3600,
    ).collect()
    assert len(out) == 1
    assert out[0].n_late == 1
    assert out[0].n_on_time == 5
    assert abs(out[0].late_fraction - round(1 / 6, 6)) < 1e-9


def test_late_event_audit_first_event_never_late(spark):
    rows = [Row(part=0, arrival_id=1, ts=_ts(50))]
    out = late_event_audit(spark.createDataFrame(rows), "part").collect()
    assert out[0].n_late == 0 and out[0].n_on_time == 1


# ----------------------------------------------------------------------- PSI


def test_psi_identical_distributions_is_zero(spark):
    df = spark.createDataFrame([Row(v=float(i % 10)) for i in range(100)])
    out = psi_drift(df, df, "v", lo=0.0, hi=10.0, n_bins=10).collect()
    assert all(r.contrib == 0.0 for r in out)
    assert out[0].psi_total == 0.0


def test_psi_shift_is_positive_and_total_rides_rows(spark):
    ref = spark.createDataFrame([Row(v=float(i % 5)) for i in range(100)])
    cur = spark.createDataFrame(
        [Row(v=float(i % 5 + 5)) for i in range(100)]
    )
    out = psi_drift(ref, cur, "v", lo=0.0, hi=10.0, n_bins=10).collect()
    totals = {r.psi_total for r in out}
    assert len(totals) == 1
    assert totals.pop() > 1.0  # fully disjoint → huge PSI
    # out-of-range clamp: values beyond hi land in the top bin
    clamped = psi_drift(
        ref, cur.select((F.col("v") + 100).alias("v")), "v",
        lo=0.0, hi=10.0, n_bins=10,
    ).collect()
    top = [r for r in clamped if r.bin == 9][0]
    assert top.n_cur == 100


# -------------------------------------------------------------------- cohort


def test_cohort_retention_matrix(spark):
    day = 86400
    rows = [
        # user A: first period 0, active again periods 1 and 2
        Row(user_id=1, ts=_ts(0)),
        Row(user_id=1, ts=_ts(7 * day + 5)),
        Row(user_id=1, ts=_ts(14 * day + 5)),
        # user B: same cohort (epoch weeks roll at Jan 4 00:00, so
        # stay below day 3), never returns
        Row(user_id=2, ts=_ts(2 * day)),
        # user C: later cohort
        Row(user_id=3, ts=_ts(8 * day)),
    ]
    out = cohort_retention(
        spark.createDataFrame(rows), period_seconds=7 * day
    ).collect()
    m = {(r.cohort_start, r.offset): r for r in out}
    zero_offsets = [r for r in out if r.offset == 0]
    assert all(r.retention == 1.0 for r in zero_offsets)
    # cohort of users 1+2 has size 2, retention 0.5 at offsets 1 and 2
    c0 = [r for r in out if r.cohort_size == 2 and r.offset == 1]
    assert len(c0) == 1 and c0[0].n_active == 1
    assert abs(c0[0].retention - 0.5) < 1e-9
    assert len(m) == len(out)  # no duplicate cells


# --------------------------------------------------------------- transitions


def test_transition_matrix_rows_normalize(spark):
    rows = [
        Row(user_id=1, event_id=i, event_type=t)
        for i, t in enumerate(["a", "b", "a", "c", "a", "b"])
    ] + [Row(user_id=2, event_id=i, event_type=t)
         for i, t in enumerate(["b", "a"])]
    out = transition_matrix(spark.createDataFrame(rows)).collect()
    probs: dict[str, float] = {}
    for r in out:
        probs[r.state] = probs.get(r.state, 0.0) + r.prob
    for s, p in probs.items():
        assert abs(p - 1.0) < 1e-5, (s, p)
    m = {(r.state, r.next_state): r.n for r in out}
    assert m[("a", "b")] == 2 and m[("a", "c")] == 1
    # sequence ends emit nothing: user 2's final 'a' has no outgoing
    assert ("a", None) not in m


# ------------------------------------------------- orphan files / snapshots


def test_orphan_files_age_guard_and_totals(spark):
    listing = spark.createDataFrame([
        Row(file_id=1, bytes=100, mtime=_ts(0)),            # old orphan
        Row(file_id=2, bytes=200, mtime=_ts(0)),            # live
        Row(file_id=3, bytes=400, mtime=_ts(9 * 86400)),    # young orphan
        Row(file_id=4, bytes=800, mtime=_ts(10 * 86400)),   # clock head
    ])
    manifest = spark.createDataFrame([Row(file_id=2), Row(file_id=4)])
    out = orphan_files(listing, manifest,
                       min_age_seconds=3 * 86400).collect()
    # file 3 is only 1 day old vs the listing clock (day 10) → spared
    assert {r.file_id for r in out} == {1}
    assert out[0].n_orphans == 1 and out[0].reclaim_bytes == 100
    assert out[0].age_seconds == 10 * 86400


def test_orphan_files_empty_is_zero_totals(spark):
    listing = spark.createDataFrame(
        [Row(file_id=1, bytes=100, mtime=_ts(0))]
    )
    manifest = spark.createDataFrame([Row(file_id=1)])
    assert orphan_files(listing, manifest).count() == 0


def test_snapshot_expiry_keeps_recent_and_last_n(spark):
    from skewer_spark.operators.maintenance import snapshot_expiry
    day = 86400
    snaps = spark.createDataFrame([
        Row(snapshot_id=i, committed_ts=_ts(i * day)) for i in range(10)
    ])
    out = {r.snapshot_id: r for r in snapshot_expiry(
        snaps, keep_last=2, keep_seconds=3 * day,
    ).collect()}
    # clock = day 9; within-3-days keeps 6..9; last-2 keeps 8, 9
    assert all(out[i].expire == 0 for i in (6, 7, 8, 9))
    assert all(out[i].expire == 1 for i in range(6))
    assert out[9].recency_rank == 1 and out[0].recency_rank == 10
    assert out[0].age_seconds == 9 * day


# ------------------------------------------------------------- range bounds


def test_range_partition_plan_balances(spark):
    from skewer_spark.operators.layout import range_partition_plan
    df = spark.createDataFrame([Row(v=float(i)) for i in range(800)])
    out = sorted(range_partition_plan(df, "v", n_partitions=8).collect(),
                 key=lambda r: r.pid)
    assert [r.pid for r in out] == list(range(8))
    assert sum(r.n_rows for r in out) == 800
    # exact percentiles on a uniform ramp → perfectly balanced ranges
    assert all(abs(r.n_rows - 100) <= 1 for r in out)
    assert out[0].lo_bound is None and out[7].hi_bound is None
    # boundaries are shared edges: partition i's hi == i+1's lo
    for i in range(7):
        assert out[i].hi_bound == out[i + 1].lo_bound
    # boundary keys go LEFT: a row equal to a boundary stays in the
    # lower range
    eq = spark.createDataFrame(
        [Row(v=1.0)] * 4 + [Row(v=2.0)] * 4
    )
    parts = {r.pid: r.n_rows for r in
             range_partition_plan(eq, "v", n_partitions=2).collect()}
    assert parts[0] == 4 and parts[1] == 4


# ---------------------------------------------------------------- salted agg


def test_salted_agg_equals_plain_groupby(spark):
    from skewer_spark.operators.skew import salted_agg
    rows = [Row(k=i % 3, v=float((i * 7) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows)
    got = {r.k: r for r in salted_agg(df, ["k"], "v", n_salts=8).collect()}
    want = {r.k: r for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("v"), 6).alias("sum_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        F.round(F.sum("v") / F.count(F.lit(1)), 6).alias("avg_v"),
    ).collect()}
    assert set(got) == set(want)
    for k in got:
        for f in ("n_rows", "sum_v", "min_v", "max_v", "avg_v"):
            assert getattr(got[k], f) == getattr(want[k], f), (k, f)


# ------------------------------------------------------ rollup / state merge


def test_time_rollup_levels_are_consistent(spark):
    from skewer_spark.operators.aggregate import time_rollup
    rows = [Row(ts=_ts(i * 1800), v=float(i)) for i in range(96)]  # 2 days
    out = time_rollup(spark.createDataFrame(rows), value_col="v").collect()
    by_level: dict[str, list] = {}
    for r in out:
        by_level.setdefault(r.level, []).append(r)
    total = sum(float(i) for i in range(96))
    # every granularity accounts for every event exactly once
    for level in ("hour", "day", "week"):
        assert sum(r.n_events for r in by_level[level]) == 96
        assert abs(sum(r.sum_v for r in by_level[level]) - total) < 1e-6
    assert len(by_level["hour"]) == 48
    assert len(by_level["day"]) == 2


def test_merge_agg_state_equals_recompute(spark):
    from skewer_spark.operators.aggregate import agg_state, merge_agg_state
    rows = [Row(k=i % 5, batch=i % 2, v=float((i * 3) % 13))
            for i in range(100)]
    # key 5 exists only in the delta, key 6 only in the state
    rows += [Row(k=5, batch=1, v=42.0), Row(k=6, batch=0, v=-7.0)]
    df = spark.createDataFrame(rows)
    state = agg_state(df.filter(F.col("batch") == 0), ["k"], "v")
    delta = agg_state(df.filter(F.col("batch") == 1), ["k"], "v")
    merged = {r.k: r for r in
              merge_agg_state(state, delta, ["k"]).collect()}
    want = {r.k: r for r in agg_state(df, ["k"], "v").collect()}
    assert set(merged) == set(want)
    for k in want:
        assert merged[k].n_rows == want[k].n_rows, k
        assert abs(merged[k].sum_v - want[k].sum_v) < 1e-9, k
        assert merged[k].min_v == want[k].min_v, k
        assert merged[k].max_v == want[k].max_v, k
