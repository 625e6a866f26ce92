"""Compare query results with their DuckDB oracle SQL.

Uses the ``--exact`` normalisation of ``tools/compare_oracle.py``: columns
compared by sorted name, rows order-insensitive, doubles bit-for-bit and
list-typed cells refused.
"""

from __future__ import annotations

import glob
import importlib.util
import os


def _exact_normaliser(root: str):
    path = os.path.join(root, "tools", "compare_oracle.py")
    spec = importlib.util.spec_from_file_location("compare_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.EXACT = True
    return mod


def check(results: dict, oracles: dict[str, str], data_dir: str, root: str,
          tmp_dir: str) -> dict[str, str]:
    """``results`` maps query -> (columns, rows); returns query -> reason
    for every query whose result differs from its oracle."""
    import duckdb

    co = _exact_normaliser(root)
    con = duckdb.connect(config={"temp_directory": tmp_dir})
    try:
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        bad: dict[str, str] = {}
        for name, (s_cols, s_rows) in results.items():
            if name not in oracles:
                bad[name] = "no oracle"
                continue
            try:
                res = con.execute(oracles[name])
                d_cols = [d[0] for d in res.description]
                d_rows = res.fetchall()
            except duckdb.Error as exc:
                bad[name] = f"duckdb error: {str(exc)[:200]}"
                continue
            if sorted(s_cols) != sorted(d_cols):
                bad[name] = f"columns differ: {sorted(s_cols)} vs {sorted(d_cols)}"
                continue
            try:
                sn, _ = co.norm_rows(s_cols, s_rows)
                dn, _ = co.norm_rows(d_cols, d_rows)
            except co.ListCell as exc:
                bad[name] = str(exc)
                continue
            if len(sn) != len(dn):
                bad[name] = f"row count {len(sn)} vs {len(dn)}"
            elif sn != dn:
                diff = next((a, b) for a, b in zip(sn, dn) if a != b)
                bad[name] = f"values differ, first: {diff}"[:300]
        return bad
    finally:
        con.close()
