"""Output checks, run outside the timed region.

- Registry items with an oracle: the Spark rows against DuckDB running
  the item's oracle SQL over the same parquet files. The tables are
  fixed, so each oracle answer is computed once per checkout and kept
  under ``.bench/oracle`` (keyed by the data set and the SQL text).
- Registry items without one: the canonical result hash against a hash
  pinned in ``pinned.json`` (recorded from the commit that added the
  benchmark; only items whose output is deterministic are listed).
- ``map_reduce()`` jobs over the synthetic corpus: the Spark rows against
  a single-process sequential fold of the same map and reduce functions,
  the analog of the reference's ``mrsequential.go``.

Cells are canonicalized the same way on both sides: columns sorted by
name, floats by ``repr`` (with -0.0 folded to 0.0), rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections.abc import Callable, Iterable

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0 if v == 0 else v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canonical_rows(cols: list[str], rows: Iterable[tuple]) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_cell(r[i]) for i in order) for r in rows)


def rows_digest(cols: list[str], rows: Iterable[tuple]) -> str:
    return hashlib.sha256("\n".join(canonical_rows(cols, rows)).encode()).hexdigest()


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


class Oracle:
    """DuckDB answers to oracle SQL over one fixed table directory,
    cached on disk because the tables never change within a checkout."""

    def __init__(self, sf_dir: str, tables: list[str], cache_dir: str):
        self.sf_dir, self.tables, self.cache_dir = sf_dir, tables, cache_dir
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        return con

    def answer(self, sql: str) -> dict:
        """{"columns": sorted column names, "rows": canonical rows}."""
        key = hashlib.sha256(f"{os.path.basename(self.sf_dir)}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except FileNotFoundError:
            pass
        if self._con is None:
            self._con = self._connect()
        cur = self._con.execute(sql)
        cols = [d[0] for d in cur.description]
        out = {"columns": sorted(cols), "rows": canonical_rows(cols, cur.fetchall())}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def close(self):
        if self._con is not None:
            self._con.close()


def against_oracle(df, expected: dict) -> str | None:
    """None when the rows match the oracle's answer, else a one-line reason."""
    s_cols, s_rows = spark_rows(df)
    if sorted(s_cols) != expected["columns"]:
        return f"columns differ: {sorted(s_cols)} vs oracle {expected['columns']}"
    a, b = canonical_rows(s_cols, s_rows), expected["rows"]
    if len(a) != len(b):
        return f"row count {len(a)} vs oracle {len(b)}"
    if a != b:
        first = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {first} differs: {a[first][:120]!r} vs oracle {b[first][:120]!r}"
    return None


def load_pinned() -> dict[str, str]:
    with open(PINNED_PATH) as f:
        return json.load(f)


def against_pin(df, pinned: str) -> str | None:
    got = rows_digest(*spark_rows(df))
    return None if got == pinned else f"hash {got[:16]} vs pinned {pinned[:16]}"


def sequential_fold(
    inputs: list[tuple[str, str]],
    mapf: Callable[[str, str], Iterable[tuple[str, str]]],
    reducef: Callable[[str, list[str]], str],
) -> list[tuple[str, str]]:
    """One process, no shuffle: map every input, group by key, reduce
    each key over all its values."""
    groups: dict[str, list[str]] = {}
    for name, contents in inputs:
        for k, v in mapf(name, contents):
            groups.setdefault(k, []).append(v)
    return [(k, reducef(k, vs)) for k, vs in sorted(groups.items())]


def against_fold(df, expected: list[tuple[str, str]]) -> str | None:
    cols, rows = spark_rows(df)
    a = canonical_rows(cols, rows)
    b = canonical_rows(["key", "value"], expected)
    if a == b:
        return None
    if len(a) != len(b):
        return f"{len(a)} keys vs sequential {len(b)}"
    first = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
    return f"row {first} differs: {a[first][:120]!r} vs sequential {b[first][:120]!r}"
