"""k-means training, exact Lloyd step, SemDeDup."""

from __future__ import annotations

from pyspark.sql import functions as F

from skewer_spark.operators.cluster import kmeans_fit, kmeans_update, semdedup
from skewer_spark.operators.similarity import ivf_assign


def _blob_fixture(spark, per_blob=10, dim=8):
    """Three well-separated direction blobs (cosine clustering is about
    direction, not magnitude): axis e0, axis e3, axis e6, each with a
    small deterministic per-vector nudge."""
    rows = []
    vid = 0
    for axis in (0, 3, 6):
        for i in range(per_blob):
            v = [0.0] * dim
            v[axis] = 10.0
            v[(axis + 1) % dim] = 0.1 * (i % 5)  # nudge, cos ~> 0.999
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_kmeans_fit_recovers_planted_blobs(spark):
    df = _blob_fixture(spark)
    cents = kmeans_fit(df, k=3, iters=4)
    assert set(cents) == {0, 1, 2}
    # assignment under the trained centroids puts each blob in one cell
    cells = (
        ivf_assign(df, cents)
        .select("vec_id", "_cell")
        .collect()
    )
    by_blob = {}
    for r in cells:
        by_blob.setdefault(r.vec_id // 10, set()).add(r._cell)
    assert all(len(s) == 1 for s in by_blob.values()), by_blob
    assert len(set().union(*by_blob.values())) == 3
    # each trained centroid points along one blob axis
    for c in cents.values():
        top = max(range(len(c)), key=lambda i: abs(c[i]))
        assert top in (0, 3, 6)
        assert c[top] > 5.0


def test_kmeans_fit_keeps_centroid_for_empty_cell(spark):
    # 2 true directions but k=3: at least one seed never wins a vector;
    # its centroid must survive untouched instead of KeyError/NaN
    rows = [(i, [10.0, 0.0]) for i in range(5)] + [
        (i, [0.0, 10.0]) for i in range(5, 10)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = kmeans_fit(df, k=3, iters=3)
    assert set(cents) == {0, 1, 2}
    assert all(len(v) == 2 for v in cents.values())


def test_kmeans_update_matches_manual(spark):
    df = _blob_fixture(spark, per_blob=4)
    rows = {r.vec_id: list(r.embedding) for r in df.collect()}
    cents = {0: rows[0], 1: rows[4], 2: rows[8]}
    got = {
        (r.cell, r.pos): (r.n, r.c_mean)
        for r in kmeans_update(df, cents).collect()
    }
    # manual: assign by rounded cosine (max cos, max cid tiebreak),
    # quantized-integer mean
    def cos(a, b):
        dp = sum(float(x) * float(y) for x, y in zip(a, b))
        na = sum(float(x) ** 2 for x in a) ** 0.5
        nb = sum(float(y) ** 2 for y in b) ** 0.5
        return round(dp / (na * nb), 6)

    assign = {
        vid: max(cents, key=lambda c: (cos(v, cents[c]), c))
        for vid, v in rows.items()
    }
    for cell in set(assign.values()):
        members = [rows[v] for v, c in assign.items() if c == cell]
        for pos in range(len(members[0])):
            qsum = sum(round(m[pos] * 1_000_000) for m in members)
            want = round(qsum / len(members) / 1_000_000, 6)
            n, mean = got[(cell, pos)]
            assert n == len(members)
            assert abs(mean - want) < 1e-9, (cell, pos, mean, want)


def _semdedup_fixture(spark):
    """One keeper (id 2) with two near-identical higher-id copies, plus
    distinct vectors — all directions far apart except the dup group."""
    rows = [
        (0, [10.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 10.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 10.0, 0.0]),
        (7, [0.0, 0.0, 10.0, 0.1]),   # near-dup of 2
        (9, [0.0, 0.0, 10.0, 0.2]),   # near-dup of 2
        (5, [0.0, 0.0, 0.0, 10.0]),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_semdedup_drops_higher_id_near_dups(spark):
    df = _semdedup_fixture(spark)
    cents = {0: [10.0, 0.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0, 0.0],
             2: [0.0, 0.0, 10.0, 0.0], 3: [0.0, 0.0, 0.0, 10.0]}
    out = {r.vec_id: r for r in semdedup(df, cents, threshold=0.95).collect()}
    assert len(out) == 6  # one row per input doc
    assert out[2].keep and not out[7].keep and not out[9].keep
    assert out[0].keep and out[1].keep and out[5].keep
    # dup group shares a cell
    assert out[2].cell == out[7].cell == out[9].cell


def test_semdedup_cell_cap_keeps_decisions_for_capped_tail(spark):
    # degenerate cell: 30 identical vectors; cap the proposing side at 2.
    # The b-side is UNCAPPED, so every higher-id copy still pairs with
    # the lowest-id survivor and is dropped — only id 0 keeps.
    rows = [(i, [10.0, 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = {0: [10.0, 0.0], 1: [0.0, 10.0]}
    out = semdedup(df, cents, threshold=0.99, cell_cap=2).collect()
    kept = sorted(r.vec_id for r in out if r.keep)
    assert kept == [0]
    assert len(out) == 30


def _lcg_weight(bucket: int) -> int:
    return (bucket * 1103515245 + 12345) % 2001 - 1000
