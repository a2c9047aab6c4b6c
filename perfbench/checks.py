"""Output checks: the program's results against independent references.

References are the DuckDB oracle SQL the repository ships
(`__spark_entry__.oracle_sql()`), run on the generated input files, and
batch recomputations through the program's public functions. Rows are
compared as order- and dtype-insensitive multisets.
"""

from __future__ import annotations

import math
import os
import re

import duckdb

INPUT_TABLES = ("events", "documents", "embeddings")


def _norm(v) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if hasattr(v, "item"):
        return _norm(v.item())
    return str(v)


def normalize(cols: list[str], rows) -> list[tuple]:
    """Sort columns by name, stringify cells, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def spark_rows(df) -> list[tuple]:
    return normalize(df.columns, [tuple(r) for r in df.collect()])


# the oracle prelude's shared CTEs. DuckDB re-evaluates a CTE at every
# reference unless it is materialized, which makes the graph oracles take
# tens of seconds; materializing changes no result.
MATERIALIZE = ("transcripts", "mentions", "linked", "equivalences",
               "cc_mapping", "triples", "vertices", "edges")


def materialized(sql: str) -> str:
    for name in MATERIALIZE:
        sql = re.sub(rf"^{name} AS \(", f"{name} AS MATERIALIZED (", sql,
                     count=1, flags=re.M)
    return sql


class Oracle:
    """DuckDB over one input directory, answering oracle queries."""

    def __init__(self, input_dir: str):
        import __spark_entry__

        self._sql = {q: materialized(s)
                     for q, s in __spark_entry__.oracle_sql().items()}
        self._con = duckdb.connect()
        for t in INPUT_TABLES:
            path = os.path.join(input_dir, f"{t}.parquet")
            if os.path.exists(path):
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )

    def raw(self, query: str, cols: list[str] | None = None):
        """(column names, rows) of an oracle query, restricted to `cols`
        when given."""
        cur = self._con.execute(self._sql[query])
        names = [c[0] for c in cur.description]
        data = cur.fetchall()
        if cols is not None:
            idx = [names.index(c) for c in cols]
            data = [tuple(r[i] for i in idx) for r in data]
            names = list(cols)
        return names, data

    def rows(self, query: str, cols: list[str] | None = None) -> list[tuple]:
        """Normalized oracle rows, restricted to `cols` when given."""
        return normalize(*self.raw(query, cols))

    def close(self) -> None:
        self._con.close()
