"""Expected results from DuckDB, and the check every timed output passes.

Each query's oracle is its ``registry.ORACLES`` SQL run by DuckDB over the
same parquet files; results are compared the way ``tests/parity.py`` does
(same columns, same Arrow type kinds, equal multisets of normalized rows).
Expected results are computed once per seed, before Spark starts, so no
oracle work lands in a timed region.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import duckdb
import pyarrow as pa

from tests.parity import _norm_arrow_type, _rows_to_multiset


@dataclass
class Expected:
    columns: list[str]
    types: dict[str, str]
    rows: Counter


def _rows(table: pa.Table) -> list[tuple]:
    cols = [table.column(c).to_pylist() for c in table.column_names]
    return list(zip(*cols)) if cols else []


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    return con


def expected(con: duckdb.DuckDBPyConnection, sql: str) -> Expected:
    t = con.execute(sql).fetch_arrow_table()
    return Expected(
        columns=list(t.column_names),
        types={c: _norm_arrow_type(t.schema.field(c).type) for c in t.column_names},
        rows=_rows_to_multiset(_rows(t), t.column_names),
    )


CACHE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         ".bench_cache")


def _key(data_dir: str, oracles: dict[str, str]) -> str:
    """Digest of the DuckDB version, the oracle SQL and every input byte: a
    cached result is reused only for identical queries over identical inputs."""
    h = hashlib.sha256(duckdb.__version__.encode())
    for name in sorted(oracles):
        h.update(name.encode() + b"\0" + oracles[name].encode() + b"\0")
    for f in sorted(os.listdir(data_dir)):
        h.update(f.encode())
        with open(os.path.join(data_dir, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def expected_all(data_dir: str, oracles: dict[str, str]) -> dict[str, Expected]:
    """Expected results of every query, one DuckDB connection and thread per
    query.  Results are kept in ``.bench_cache`` (this program's own pickles)
    because the corpus oracles take tens of seconds per seed."""
    path = os.path.join(CACHE_DIR, _key(data_dir, oracles) + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)

    cpus = len(os.sched_getaffinity(0))

    def one(sql: str) -> Expected:
        con = connect(data_dir)
        try:
            con.execute(f"SET threads={max(1, cpus // len(oracles))}")
            return expected(con, sql)
        finally:
            con.close()

    with ThreadPoolExecutor(max_workers=min(len(oracles), cpus)) as ex:
        out = dict(zip(oracles, ex.map(one, oracles.values())))
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def mismatch(name: str, got: pa.Table, want: Expected) -> str | None:
    """None when ``got`` equals ``want``; otherwise a one-line reason."""
    cols = list(got.column_names)
    if sorted(cols) != sorted(want.columns):
        return f"{name}: columns {sorted(cols)} != {sorted(want.columns)}"
    types = {c: _norm_arrow_type(got.schema.field(c).type) for c in cols}
    diff = {c: (types[c], want.types[c]) for c in cols if types[c] != want.types[c]}
    if diff:
        return f"{name}: arrow types (spark, duckdb) differ: {diff}"
    rows = _rows_to_multiset(_rows(got), cols)
    if rows == want.rows:
        return None
    only_got = list((rows - want.rows).elements())
    only_want = list((want.rows - rows).elements())
    if len(only_got) == len(only_want) and _match_within_tolerance(only_got, only_want):
        return None
    n_got, n_want = sum(rows.values()), sum(want.rows.values())
    return f"{name}: rows differ ({n_got} vs {n_want}); spark-only e.g. {only_got[:2]}"


# SQL leaves the order of a floating-point sum open, so round(sum(x), 2) can
# land one unit apart in the last kept digit when the exact sum sits on a
# rounding boundary.  Rows left over by the exact comparison are paired when
# every non-float field is equal and every float is within this tolerance.
FLOAT_REL_TOL = 1e-7
FLOAT_ABS_TOL = 1.01e-6


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= max(FLOAT_REL_TOL * max(abs(a), abs(b)), FLOAT_ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_close, a, b))
    return a == b


def _match_within_tolerance(got: list[tuple], want: list[tuple]) -> bool:
    free = list(want)
    for row in got:
        for k, cand in enumerate(free):
            if _close(row, cand):
                del free[k]
                break
        else:
            return False
    return True
