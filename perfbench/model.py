"""Reference answers computed without Spark.

- :func:`orders_rows` re-does the orders melt of
  ``smoltable_spark.sources.relational`` with pyarrow, straight from the
  input parquet, so the store ``ingest_compact`` bulk-loads is checked
  against an independent computation.
- :class:`CellModel` keeps every cell ``ingest_compact`` has written, with
  version GC, so each read and count can be checked against it.

A row is ``{(family, qualifier): [(ts, vtype, value), ...]}`` with versions
newest first; :func:`rows_from_spark` and :func:`rows_from_json` bring the
engine's two result shapes into that form.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

ORDER_COLUMNS = {
    "custkey": ("i64", "o_custkey"),
    "orderstatus": ("string", "o_orderstatus"),
    "totalprice": ("f64", "o_totalprice"),
    "orderdate": ("i64", "o_orderdate"),
    "orderpriority": ("string", "o_orderpriority"),
}
_DATE_COLUMNS = {"o_orderdate"}
_VCOL = {
    "string": "v_str", "boolean": "v_bool", "byte": "v_byte", "i32": "v_i32",
    "i64": "v_i64", "f32": "v_f32", "f64": "v_f64",
}


def order_key(okey: int) -> str:
    return f"order#{okey:012d}"


def _column(table, name: str) -> list:
    col = table.column(name)
    if name in _DATE_COLUMNS:  # timestamp[us] -> epoch millis, as unix_millis
        return [v // 1000 for v in col.cast("int64").to_pylist()]
    return col.to_pylist()


def orders_rows(data_dir: str) -> dict[str, dict]:
    """Rows of the orders melt (family ``o``), every cell at ts 0."""
    t = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    cols = {q: (vt, _column(t, c)) for q, (vt, c) in ORDER_COLUMNS.items()}
    return {
        order_key(okey): {("o", q): [(0, vt, vals[i])] for q, (vt, vals) in cols.items()}
        for i, okey in enumerate(t.column("o_orderkey").to_pylist())
    }


def rows_from_spark(collected) -> dict[str, dict]:
    """Assembled rows (``row_key``, ``columns`` map) as collected from a
    ``get_row``/``multi_get`` frame."""
    out = {}
    for r in collected:
        row = {}
        for fam, qmap in r["columns"].items():
            for qual, cells in qmap.items():
                row[(fam, qual)] = [
                    (c["time"], c["vtype"], c[_VCOL[c["vtype"]]]) for c in cells
                ]
        out[r["row_key"]] = row
    return out


def rows_from_json(rows: list[dict]) -> dict[str, dict]:
    """Rows in the reference JSON shape, as ``scan_collect`` returns them."""
    out = {}
    for r in rows:
        row = {}
        for fam, qmap in r["columns"].items():
            for qual, cells in qmap.items():
                row[(fam, qual)] = [
                    (c["time"], *next(iter(c["value"].items()))) for c in cells
                ]
        out[r["row_key"]] = row
    return out


def project(row: dict, family: str, qualifier: str | None = None,
            versions: int | None = None) -> dict:
    """The part of ``row`` a key column filter and a per-column version
    limit keep."""
    return {
        k: cells[:versions] if versions else cells
        for k, cells in row.items()
        if k[0] == family and (qualifier is None or k[1] == qualifier)
    }


def prefix_count(rows: dict[str, dict], prefix: str) -> tuple[int, int]:
    """(row_count, cell_count) over rows whose key starts with ``prefix``."""
    n_rows = n_cells = 0
    for key, row in rows.items():
        if key.startswith(prefix):
            n_rows += 1
            n_cells += sum(len(c) for c in row.values())
    return n_rows, n_cells


class CellModel:
    """Every live cell of a store, kept in memory: ``rows[row_key][(family,
    qualifier)]`` is the version list, newest first."""

    def __init__(self, rows: dict[str, dict] | None = None):
        self.rows: dict[str, dict] = {
            k: {c: list(v) for c, v in row.items()} for k, row in (rows or {}).items()
        }

    def write(self, items: list[dict]) -> None:
        """Apply write items (the ``Smoltable.write`` shape; every cell
        carries its timestamp). A rewrite of an existing coordinate
        replaces its value, as in the store."""
        for item in items:
            row = self.rows.setdefault(item["row_key"], {})
            for cell in item["cells"]:
                fam, qual = cell["column_key"].split(":", 1)
                (vtype, value), = cell["value"].items()
                versions = [v for v in row.get((fam, qual), []) if v[0] != cell["timestamp"]]
                versions.append((cell["timestamp"], vtype, value))
                versions.sort(key=lambda v: v[0], reverse=True)
                row[(fam, qual)] = versions

    def gc(self, version_limit: int) -> None:
        """Keep the newest ``version_limit`` versions of every column."""
        for row in self.rows.values():
            for k in row:
                row[k] = row[k][:version_limit]

    def count(self, prefix: str = "") -> tuple[int, int]:
        return prefix_count(self.rows, prefix)


def diff_rows(expected: dict[str, dict], observed: dict[str, dict], limit: int = 3) -> list[str]:
    """Human-readable differences between two row maps (empty = equal)."""
    problems = []
    for key in sorted(set(expected) | set(observed)):
        if expected.get(key) != observed.get(key):
            problems.append(
                f"{key}: expected {expected.get(key)!r} observed {observed.get(key)!r}"
            )
            if len(problems) >= limit:
                break
    return problems
