"""tools/check.py's row digest (no Spark needed): ``rows_sha256`` is the
value gate ``--json`` records for every query, rows-only ones included,
so it must ignore row and column order and see any single cell."""

from __future__ import annotations

import os
import sys

import pyarrow as pa

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check import render_rows, rows_sha256  # noqa: E402


def _digest(tbl: pa.Table) -> str:
    return rows_sha256(tbl.column_names, render_rows(tbl))


def test_rows_sha256_ignores_order_and_sees_one_cell():
    base = pa.table(
        {
            "id_a": pa.array([1, 2, 3], pa.int64()),
            "text": ["x", "y z", None],
            "jaccard": [0.5, 0.6667, float("nan")],
        }
    )
    reordered = pa.table(
        {
            "jaccard": [float("nan"), 0.5, 0.6667],
            "text": [None, "x", "y z"],
            "id_a": pa.array([3, 1, 2], pa.int64()),
        }
    )
    assert _digest(reordered) == _digest(base)
    for col, values in (
        ("id_a", pa.array([1, 2, 4], pa.int64())),
        ("text", ["x", "y  z", None]),
        ("jaccard", [0.5, 0.6668, float("nan")]),
    ):
        changed = base.set_column(base.column_names.index(col), col, pa.array(values))
        assert _digest(changed) != _digest(base), col
