"""Result checks against the DuckDB oracle, outside any timer.

Each registered query carries an oracle SQL text. The oracle runs over the
run's own copy of the tables; its result is cached on disk keyed by the SQL
text and the identity of the generated rows, because the rows are the same
in every run (only their order changes with the seed). Comparison uses the
repository's own order-insensitive rendering from ``tools/check.py``.
"""

from __future__ import annotations

import hashlib
import importlib.util
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.feather as feather


def _load_render(root: Path):
    spec = importlib.util.spec_from_file_location("_perfbench_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.render_rows


class Oracle:
    def __init__(self, root: Path, data_dir: Path, cache_dir: Path, data_id: str, tables):
        self.render_rows = _load_render(root)
        self.cache_dir = cache_dir
        self.data_id = data_id
        cache_dir.mkdir(parents=True, exist_ok=True)
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def expected(self, sql: str) -> pa.Table:
        key = hashlib.sha256(f"{self.data_id}\n{sql}".encode()).hexdigest()[:24]
        path = self.cache_dir / f"{key}.arrow"
        if path.exists():
            return feather.read_table(path)
        tbl = self.con.sql(sql).arrow()
        tmp = path.with_suffix(".tmp")
        feather.write_feather(tbl, tmp)
        tmp.rename(path)
        return tbl

    def compare(self, got: pa.Table, sql: str) -> str | None:
        """None when ``got`` matches the oracle, else the reason it does not."""
        want = self.expected(sql)
        if got.num_rows != want.num_rows:
            return f"rowcount {got.num_rows} != oracle {want.num_rows}"
        if sorted(got.column_names) != sorted(want.column_names):
            return f"columns {sorted(got.column_names)} != oracle {sorted(want.column_names)}"
        g, w = self.render_rows(got), self.render_rows(want)
        if g != w:
            first = next((a, b) for a, b in zip(g, w) if a != b)
            return f"values differ, first: {first}"
        return None

    def close(self) -> None:
        self.con.close()
