"""Output checks, run outside every timed region.

Results are compared the way tools/selfcheck.py compares a query with its
DuckDB oracle: row count plus an order-insensitive hash of normalised
cells. The normaliser and hash are imported from that tool, not copied.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


@functools.cache
def _selfcheck():
    """tools/selfcheck.py, loaded by path. It prepends a fixed repository
    path to sys.path on import; that entry is dropped again so every later
    import resolves inside this checkout."""
    path = os.path.join(os.getcwd(), "tools", "selfcheck.py")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def value_hash(rows: list[dict]) -> str:
    return _selfcheck().value_hash(rows)


def _fetch(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


class Oracle:
    """DuckDB over one generated table directory; each registry oracle is
    evaluated once and its (rows, hash) kept."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...], subsets: dict | None = None):
        """`subsets` maps a table to (parquet path, doc_ids to keep): the
        view then holds only those rows."""
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for t, (path, ids) in (subsets or {}).items():
            keep = pa.table({"doc_id": pa.array(sorted(ids), pa.int64())})
            self.con.register(f"{t}_keep", keep)
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{path}' WHERE doc_id IN (SELECT doc_id FROM {t}_keep)"
            )
        self._memo: dict[str, tuple[int, str]] = {}

    def expected(self, name: str, sql: str) -> tuple[int, str]:
        if name not in self._memo:
            rows = _fetch(self.con, sql)
            self._memo[name] = (len(rows), value_hash(rows))
        return self._memo[name]

    def close(self) -> None:
        self.con.close()


def spark_rows_match(rows, expected: tuple[int, str]) -> bool:
    dicts = [r.asDict(recursive=True) for r in rows]
    return (len(dicts), value_hash(dicts)) == expected


SCORE_COLS = ("vader_compound", "textblob_polarity", "overall", "confidence")


def written_scores(target: str) -> list[dict]:
    """(doc_id + sentiment fields) of a table landed by write_processed."""
    t = pq.read_table(target, columns=["doc_id", "sentiment"])
    return [
        {"doc_id": d, **{c: s[c] for c in SCORE_COLS}}
        for d, s in zip(t["doc_id"].to_pylist(), t["sentiment"].to_pylist())
    ]


def scores_oracle_sql(scores_sql: str) -> str:
    return f"SELECT doc_id, {', '.join(SCORE_COLS)} FROM ({scores_sql}) o"
