"""Pins for the triangle-family single-pass member/side emission
(operators/graph.py: triangle_counts and truss emit a triangle's three
corners/sides through one ``explode(array(...))`` over the enumeration
join; the legacy 3-way UNION, which re-ran the wedge + closing joins
once per branch, is gone). The exact values below are the ones both
forms produced.
"""

from __future__ import annotations

from dataengineerchallenge_spark.operators.graph import triangle_counts, truss

# two overlapping triangles (1,2,3) and (2,3,4) plus a pendant edge —
# nodes 2 and 3 sit in both triangles, 5 in none
EDGES = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5)]
EXPECTED_TRIANGLES = {1: 1, 2: 2, 3: 2, 4: 1}


def _edges_df(spark):
    return spark.createDataFrame(EDGES, "src bigint, dst bigint")


def _counts(spark):
    return {
        r["node"]: r["n_triangles"] for r in triangle_counts(_edges_df(spark)).collect()
    }


def _truss_rows(spark):
    return sorted(
        tuple(r) for r in truss(_edges_df(spark), k=4, iters=3).collect()
    )


def test_triangle_counts_same_under_both_dials(spark):
    assert _counts(spark) == EXPECTED_TRIANGLES


def test_truss_same_under_both_dials(spark):
    # k=4 truss of the fixture: the two overlapping triangles survive
    # only where every edge has support >= 2 — the shared edge (2,3)
    # has support 2; all other triangle edges have support 1, so a
    # 4-truss is empty here. Pin the exact converged output so a future
    # rewrite cannot silently change the fixpoint.
    assert _truss_rows(spark) == []


def test_truss_nonempty_fixpoint_same_under_both_dials(spark):
    # k=3 keeps every edge whose support >= 1: both triangles survive,
    # the pendant edge (4,5) dies — a NON-empty fixpoint exercising the
    # explode side-emission with surviving rows
    rows = sorted(tuple(r) for r in truss(_edges_df(spark), k=3, iters=3).collect())
    assert {(a, b) for a, b, _s in rows} == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}
    assert rows == [(1, 2, 1), (1, 3, 1), (2, 3, 2), (2, 4, 1), (3, 4, 1)]
