"""Expected answers from the DuckDB oracle, and the result check.

A query's expected answer is its registry oracle SQL run by DuckDB over the
same parquet files. Answers are cached on disk under a key made of the SQL
text and the sha256 of every input file, so a changed query or changed data
can never be checked against a stale answer.

Rows are compared with the exact pass of the engine's oracle harness
(``tests/oracle_harness.py``): columns sorted by name (the driver
contract), rows order-insensitive, floats bit-exact.
"""

from __future__ import annotations

import hashlib
import pickle
from pathlib import Path

from tests.oracle_harness import duckdb_conn, normalize_rows


def manifest(data_dir: Path) -> dict[str, str]:
    """``{table: sha256 of its parquet file}`` for every table in ``data_dir``."""
    return {
        p.stem: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(data_dir.glob("*.parquet"))
    }


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    return sorted(cols), normalize_rows(cols, rows)


def compare(cols: list[str], rows: list[tuple], expected) -> str | None:
    """None when ``rows`` match the expected answer, else the first difference."""
    e_cols, e_rows = expected
    s_cols, s_rows = normalize(cols, rows)
    if s_cols != e_cols:
        return f"columns differ: got {s_cols}, expected {e_cols}"
    if len(s_rows) != len(e_rows):
        return f"row count differs: got {len(s_rows)}, expected {len(e_rows)}"
    for got, want in zip(s_rows, e_rows):
        if got != want:
            return f"values differ: got {got!r}, expected {want!r}"
    return None


def cache_path(cache_dir: Path, sql: str, inputs: dict[str, str]) -> Path:
    h = hashlib.sha256(sql.encode())
    for name in sorted(inputs):
        h.update(f"\0{name}\0{inputs[name]}".encode())
    return cache_dir / f"{h.hexdigest()}.pkl"


def expected_answers(
    sqls: dict[str, str], data_dir: Path, inputs: dict[str, str], cache_dir: Path
) -> dict[str, Path]:
    """Cache file of each query's expected answer, running DuckDB for misses."""
    paths = {q: cache_path(cache_dir, sql, inputs) for q, sql in sqls.items()}
    missing = [q for q, p in paths.items() if not p.is_file()]
    if missing:
        cache_dir.mkdir(parents=True, exist_ok=True)
        con = duckdb_conn(str(data_dir))
        try:
            for q in missing:
                res = con.execute(sqls[q])
                cols = [d[0] for d in res.description]
                tmp = paths[q].with_suffix(".tmp")
                tmp.write_bytes(pickle.dumps(normalize(cols, res.fetchall())))
                tmp.replace(paths[q])
        finally:
            con.close()
    return paths


def load(path: Path):
    """A pickle this benchmark wrote: an answer or a query's collected rows."""
    return pickle.loads(path.read_bytes())
