"""PMI collocation + snapshot-diff tests."""

from __future__ import annotations

import math

import pytest

from skewer_spark.operators.collocations import pmi_bigrams
from skewer_spark.operators.diff import diff_summary, snapshot_diff


def test_pmi_bigrams_vs_reference(spark):
    # 'new york' always together; 'the' everywhere -> low PMI with all
    docs = [
        "new york is big the city never sleeps",
        "i moved to new york the rents are high",
        "new york new york the song",
        "the cat sat on the mat",
    ]
    df = spark.createDataFrame([(t,) for t in docs], ["text"])
    out = {(r["w1"], r["w2"]): r for r in pmi_bigrams(df, min_count=2).collect()}
    ny = out[("new", "york")]
    # independent reference
    toks = [t.split() for t in docs]
    unis = [w for t in toks for w in t]
    bigs = [(a, b) for t in toks for a, b in zip(t, t[1:])]
    n_pair = bigs.count(("new", "york"))
    pmi_ref = math.log2(
        (n_pair / len(bigs))
        / ((unis.count("new") / len(unis)) * (unis.count("york") / len(unis)))
    )
    assert ny["n_pair"] == n_pair == 4
    assert abs(ny["pmi"] - pmi_ref) < 1e-6
    # every returned pair respects the floor
    assert all(r["n_pair"] >= 2 for r in out.values())
    # 'new york' is a stronger collocation than any 'the'-pair present
    the_pmis = [r["pmi"] for (w1, w2), r in out.items() if "the" in (w1, w2)]
    assert the_pmis and ny["pmi"] > max(the_pmis)


def test_pmi_no_corpus_window(spark):
    df = spark.createDataFrame([("a b c",)], ["text"])
    plan = (
        pmi_bigrams(df, min_count=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_snapshot_diff(spark):
    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (4, "d", 4.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0), (5, "e", 5.0)],
        "k int, s string, v double",
    )
    d = {r["k"]: r["status"] for r in snapshot_diff(old, new, ["k"]).collect()}
    assert d == {
        1: "removed",
        2: "unchanged",
        3: "changed",   # NULL -> 3.0 must register as change
        4: "changed",   # "d" -> NULL likewise
        5: "added",
    }
    s = {r["status"]: r["n_keys"] for r in
         diff_summary(snapshot_diff(old, new, ["k"])).collect()}
    assert s == {"removed": 1, "unchanged": 1, "changed": 2, "added": 1}


def test_content_hash_null_vs_empty(spark):
    # NULL and '' must hash differently (presence tag)
    a = spark.createDataFrame([(1, None)], "k int, s string")
    b = spark.createDataFrame([(1, "")], "k int, s string")
    d = snapshot_diff(a, b, ["k"]).collect()[0]
    assert d["status"] == "changed"
    # separator safety: ("ab","c") != ("a","bc")
    x = spark.createDataFrame([(1, "ab", "c")], "k int, s1 string, s2 string")
    y = spark.createDataFrame([(1, "a", "bc")], "k int, s1 string, s2 string")
    assert snapshot_diff(x, y, ["k"]).collect()[0]["status"] == "changed"


def test_diff_requires_value_columns(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="non-key column"):
        snapshot_diff(df, df, ["k"])


def test_thread_turns(spark):
    from skewer_spark.operators.transcripts import thread_turns

    rows = [
        ("c", 0, "user"),
        ("c", 1, "assistant"),
        ("c", 2, "tool"),
        ("c", 3, "tool"),
        ("c", 4, "assistant"),
        ("c", 5, "user"),
        ("c", 6, "assistant"),
        ("d", 0, "tool"),       # orphan tool before any assistant/user
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    out = {(r["conv"], r["turn"]): r for r in thread_turns(df).collect()}
    # parents: assistant -> last user; tool -> last assistant
    assert out[("c", 0)]["parent_turn"] is None
    assert out[("c", 1)]["parent_turn"] == 0
    assert out[("c", 2)]["parent_turn"] == 1
    assert out[("c", 3)]["parent_turn"] == 1
    assert out[("c", 4)]["parent_turn"] == 0
    assert out[("c", 6)]["parent_turn"] == 5
    # threads segment by user turns
    assert [out[("c", i)]["thread_id"] for i in range(7)] == [1, 1, 1, 1, 1, 2, 2]
    # orphan tool: no parent candidates at all -> NULL root, kept
    assert out[("d", 0)]["parent_turn"] is None
    assert out[("d", 0)]["thread_id"] == 0


def test_thread_turns_rejects_unmapped_role(spark):
    from skewer_spark.operators.transcripts import thread_turns

    df = spark.createDataFrame(
        [("c", 0, "narrator")], "conv_id string, turn_idx int, role string"
    )
    # lazy operator: the failure surfaces at evaluation, naming the role
    with pytest.raises(Exception, match="unmapped role narrator"):
        thread_turns(df).collect()
    with pytest.raises(ValueError, match="contiguous"):
        thread_turns(df, level_map={"user": 0, "tool": 2})


def test_thread_turns_deep_hierarchy(spark):
    from skewer_spark.operators.transcripts import thread_turns

    rows = [
        ("c", 0, "user"),
        ("c", 1, "assistant"),
        ("c", 2, "tool"),
        ("c", 3, "subtool"),   # level 3 must parent to the TOOL turn
        ("c", 4, "subtool"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    lm = {"user": 0, "assistant": 1, "tool": 2, "subtool": 3}
    out = {r["turn"]: r for r in thread_turns(df, level_map=lm).collect()}
    assert out[3]["parent_turn"] == 2
    assert out[4]["parent_turn"] == 2
    assert out[2]["parent_turn"] == 1 and out[1]["parent_turn"] == 0
