"""Correctness gate: the program's outputs against independent
references, run after the timed region.

- Warehouse tables against :class:`qmsgen.ExpectedState` (lineage and
  ``_bucket`` columns dropped; nested columns compared as parsed JSON).
- Checkpoints against the largest landed ``updatedAt``.
- One ``SUCCESS`` history row per sync, counted by DuckDB off the log.
- Query results against DuckDB running the same SQL (dashboard reads)
  or the registry's ``oracle_sql()`` (plans), over the same files.

Every check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
from collections import Counter

from qmsgen import TS_FORMAT
from storage import HISTORY_LOG, current_version_dir

LINEAGE = ("_source", "_synced_at", "_bucket")


def canon(v):
    """Engine-neutral value: floats to 6 significant digits (absorbs
    summation-order drift), timestamps to ISO text."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    return v


def compare_rows(name, left_cols, left_rows, right_cols, right_rows) -> list[str]:
    """Order-insensitive equality of two result sets, columns matched
    by name."""
    if sorted(left_cols) != sorted(right_cols):
        return [f"{name}: columns {sorted(left_cols)} != {sorted(right_cols)}"]

    def multiset(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return Counter(tuple(canon(r[i]) for i in order) for r in rows)

    a, b = multiset(left_cols, left_rows), multiset(right_cols, right_rows)
    if a == b:
        return []
    return [
        f"{name}: {sum(a.values())} vs {sum(b.values())} rows; "
        f"program-only {list((a - b).items())[:2]} reference-only {list((b - a).items())[:2]}"
    ]


def _drop_nulls(v):
    if isinstance(v, dict):
        return {k: _drop_nulls(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_drop_nulls(x) for x in v]
    return v


def _digest(rows: list[dict]) -> tuple[str, set[str]]:
    lines = sorted(json.dumps(r, sort_keys=True, ensure_ascii=False) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), set(lines)


def check_table(warehouse, table: str, expected_rows: list[dict]) -> list[str]:
    """Hash-equality of a warehouse table with the expected state."""
    df = warehouse.read(table)
    df = df.drop(*[c for c in LINEAGE if c in df.columns])
    columns = set(df.columns)
    nested = {k for r in expected_rows for k, v in r.items() if isinstance(v, (dict, list))}
    got = []
    for row in df.collect():
        r = row.asDict()
        for k in nested & columns:
            r[k] = None if r[k] is None else _drop_nulls(json.loads(r[k]))
        if isinstance(r.get("updatedAt"), dt.datetime):
            r["updatedAt"] = r["updatedAt"].strftime(TS_FORMAT)
        got.append(r)
    want = [
        {k: _drop_nulls(doc.get(k)) for k in columns | set(doc)} for doc in expected_rows
    ]
    (hg, lg), (hw, lw) = _digest(got), _digest(want)
    if hg == hw:
        return []
    return [
        f"table {table}: {len(got)} rows vs {len(want)} expected; "
        f"e.g. warehouse-only {sorted(lg - lw)[:1]} expected-only {sorted(lw - lg)[:1]}"
    ]


def check_checkpoints(checkpoint_fn, high_water: dict[str, str]) -> list[str]:
    problems = []
    for collection, want in sorted(high_water.items()):
        got = checkpoint_fn(collection)
        got_text = got.strftime(TS_FORMAT) if got is not None else None
        if got_text != want:
            problems.append(f"checkpoint {collection}: {got_text} != {want}")
    return problems


def check_history(con, root: str, syncs: Counter) -> list[str]:
    rows = con.execute(
        f"SELECT collection, count(*) FROM read_parquet('{root}/{HISTORY_LOG}/*.parquet') "
        "WHERE status = 'SUCCESS' GROUP BY collection"
    ).fetchall()
    got = Counter(dict(rows))
    return [] if got == syncs else [f"history SUCCESS rows {dict(got)} != syncs {dict(syncs)}"]


def register_warehouse(con, root: str, tables: list[str], prefix: str) -> None:
    """DuckDB views over each table's live version files."""
    for table in tables:
        vdir = current_version_dir(root, table)
        con.execute(
            f"CREATE OR REPLACE VIEW {prefix}{table} AS SELECT * FROM read_parquet("
            f"'{vdir}/*/*.parquet', hive_partitioning = true, union_by_name = true)"
        )


def reference_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()
