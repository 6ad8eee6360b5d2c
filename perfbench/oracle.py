"""DuckDB answers and the result check.

Olap ops are checked against ``registry.ORACLES`` run by DuckDB over the same
Parquet files, in the canonical form of ``tests/oracle_utils.py`` (columns by
name, cells normalised, rows sorted). One exception keeps the check honest
at 20x scale: where a double needs more than 15 significant digits to show
six decimals (magnitude >= 1e9), DuckDB and Spark may differ in the last
bits. Measured: the exact ``sum_charge`` of group (R, O) at 10x is
27864155010.941590; Spark returns the correctly rounded double ...941589,
while DuckDB 1.0.0 casts DECIMAL(38,6) to DOUBLE as ...941593. Such cells are
compared within ``ULPS`` units in the last place; every other cell keeps the
round-6 equality.

Lake ops are checked by row count and exact-cent sum against DuckDB over the
batches committed so far.
"""

from __future__ import annotations

import math
import os
import pickle

import duckdb

BIG = 1e9  # |v| >= BIG: six decimals exceed double precision
ULPS = 4


def _cell(v, norm):
    if isinstance(v, float) and not math.isnan(v) and abs(v) >= BIG:
        return v
    return norm(v)


def canonical(rows, cols) -> list[tuple]:
    """``oracle_utils.canonical`` with big doubles kept raw for the ulp check."""
    from tests.oracle_utils import _norm_cell

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(row[i], _norm_cell) for i in order) for row in rows]
    out.sort(key=lambda r: tuple(f"{c:.9e}" if isinstance(c, float) else c for c in r))
    return out


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= ULPS * math.ulp(max(abs(a), abs(b)))
    return a == b


def mismatch(answer: tuple, cols, rows) -> str | None:
    """None when Spark's ``rows``/``cols`` equal the oracle ``answer``."""
    d_cols, d_can = answer
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    if len(rows) != len(d_can):
        return f"{len(rows)} rows != oracle {len(d_can)}"
    for s, d in zip(canonical(rows, cols), d_can):
        if len(s) != len(d) or not all(_same(a, b) for a, b in zip(s, d)):
            return f"first differing row: spark {s} oracle {d}"
    return None


def answers(sf_dir: str, names: list[str], oracles: dict[str, str], cache: str) -> dict:
    """Canonical DuckDB answers per query, computed once per data set and
    oracle SQL text (an edited oracle is answered again)."""
    path = os.path.join(cache, os.path.basename(sf_dir.rstrip("/")) + ".v2.pkl")
    have: dict = {}
    if os.path.exists(path):
        with open(path, "rb") as f:
            have = pickle.load(f)
    missing = [n for n in names if have.get(n, (None,))[0] != oracles[n]]
    if missing:
        from tests.oracle_utils import duck_connect

        con = duck_connect(sf_dir)
        con.execute("SET threads=2")
        for n in missing:
            res = con.execute(oracles[n])
            cols = [d[0] for d in res.description]
            have[n] = (oracles[n], cols, canonical(res.fetchall(), cols))
        con.close()
        os.makedirs(cache, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(have, f)
        os.replace(path + ".tmp", path)
    return {n: have[n][1:] for n in names}


class LakeOracle:
    """Row count and exact-cent sum over the user batches committed so far."""

    def __init__(self, base_parquet: str):
        self.files = [base_parquet]
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")

    def commit(self, parquet: str) -> None:
        self.files.append(parquet)

    def count_sum(self, where: str | None = None) -> tuple:
        files = ", ".join(f"'{p}'" for p in self.files)
        sql = (
            "SELECT count(*), sum(CAST(l_extendedprice AS DECIMAL(18,2))) FROM ("
            f"SELECT *, strftime(l_shipdate, '%Y-%m') AS ship_month "
            f"FROM read_parquet([{files}]))"
        )
        if where:
            sql += f" WHERE {where}"
        n, s = self.con.execute(sql).fetchone()
        return int(n), s

    def close(self) -> None:
        self.con.close()
