"""Independent oracles: DuckDB replays of the generated change scripts, and
the planted pair sets of the near-dup corpus.

The CDC replays are last-writer-wins per primary key by ``seq``, deletes
dropped, then the workload's projection and filter applied in SQL. It never
calls into the engine.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (float, decimal.Decimal)):
        return round(float(v), 6)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()[:10]
    if hasattr(v, "isoformat"):  # pandas.Timestamp
        return v.isoformat()[:10]
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def rows_of(pdf, columns: list[str]) -> Counter:
    """Multiset of normalized row tuples over ``columns``."""
    cols = [pdf[c].tolist() for c in columns]
    return Counter(tuple(_norm(v) for v in row) for row in zip(*cols))


def diff(expected: Counter, actual: Counter) -> int:
    """Number of rows that are missing, extra or different."""
    return sum((expected - actual).values()) + sum((actual - expected).values())


def _json_list(files: list[str]) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def replay_debezium(con, files: list[str], after_struct: str, key: str,
                    projection: str, where: str | None):
    """Expected sink state of a Debezium-JSON change script."""
    sql = f"""
        WITH ev AS (
            SELECT op, seq, COALESCE(after.{key}, before.{key}) AS __k, after
            FROM read_json({_json_list(files)}, format='newline_delimited',
                           columns={{'before': 'STRUCT({key} BIGINT)',
                                     'after': '{after_struct}',
                                     'op': 'VARCHAR', 'seq': 'BIGINT'}})
            WHERE op IS NOT NULL),
        last AS (
            SELECT * FROM ev
            QUALIFY row_number() OVER (PARTITION BY __k ORDER BY seq DESC) = 1),
        live AS (SELECT UNNEST(after) FROM last WHERE op <> 'd')
        SELECT {projection} FROM live {('WHERE ' + where) if where else ''}
    """
    return con.sql(sql).df()


def check_pairs(reported, planted: set) -> int:
    """Mismatches between a reported pair list and the planted set: every
    planted pair must be reported, and nothing else."""
    got = Counter((int(a), int(b)) for a, b in reported)
    want = Counter(planted)
    return diff(want, got)
