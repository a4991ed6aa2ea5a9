"""Smoltable facade — the reference user's full lifecycle in one place
(mirrors the shape of smoltable/tests/*.rs: open → create families →
write → query → delete → gc → count)."""

from smoltable_spark import (
    ColumnFamilyDef,
    ColumnFilter,
    CountInput,
    QueryRowInput,
    ScanInput,
    Smoltable,
)
from smoltable_spark.operators.assemble import rows_to_json_shape


def make_table(spark, tmp_path) -> Smoltable:
    t = Smoltable.open(spark, str(tmp_path / "tbl"))
    t.create_column_families(
        [
            ColumnFamilyDef("value", lg=""),
            ColumnFamilyDef("meta", version_limit=2, lg="lg_meta"),
        ]
    )
    t.write(
        [
            {
                "row_key": "item#001",
                "cells": [
                    {"column_key": "value:", "value": {"string": "hello"}, "timestamp": 1},
                    {"column_key": "meta:rev", "value": {"i64": 1}, "timestamp": 1},
                    {"column_key": "meta:rev", "value": {"i64": 2}, "timestamp": 2},
                    {"column_key": "meta:rev", "value": {"i64": 3}, "timestamp": 3},
                ],
            },
            {
                "row_key": "item#002",
                "cells": [
                    {"column_key": "value:", "value": {"string": "world"}, "timestamp": 1},
                ],
            },
        ]
    )
    return t


def test_lifecycle_write_scan_getrow(spark, tmp_path):
    t = make_table(spark, tmp_path)
    # scan with prefix + per-column version limit
    rows = rows_to_json_shape(t.scan(ScanInput(prefix="item#", column_cell_limit=1)))
    assert [r["row_key"] for r in rows] == ["item#001", "item#002"]
    assert rows[0]["columns"]["meta"]["rev"] == [{"time": 3, "value": {"i64": 3}}]
    # point read narrowed by column filter
    got = rows_to_json_shape(
        t.get_row(QueryRowInput(row_key="item#001", column_filter=ColumnFilter.key("value:")))
    )
    assert got == [
        {"row_key": "item#001", "columns": {"value": {"": [{"time": 1, "value": {"string": "hello"}}]}}}
    ]
    # counts
    cnt = t.count().collect()[0]
    assert (cnt["row_count"], cnt["cell_count"]) == (2, 5)
    sc = t.scan_count(CountInput(prefix="item#0")).collect()[0]
    assert sc["row_count"] == 2


def test_lifecycle_append_delete_gc(spark, tmp_path):
    t = make_table(spark, tmp_path)
    # incremental write lands as a delta; both rows remain visible
    t.write(
        [{"row_key": "item#003", "cells": [{"column_key": "value:", "value": {"f64": 2.5}, "timestamp": 9}]}]
    )
    assert t.count().collect()[0]["row_count"] == 3
    # delete one row entirely (all locality groups — not replicating the
    # reference's default-tree-only bug, mod.rs:591)
    n = t.delete_row("item#002")
    assert n == 1
    assert t.count().collect()[0]["row_count"] == 2
    # version GC: meta capped at 2 newest
    deleted = t.run_gc(now_nanos=10)
    assert deleted == 1  # meta:rev ts=1 dropped
    rows = rows_to_json_shape(t.scan(ScanInput(prefix="item#001")))
    assert [c["time"] for c in rows[0]["columns"]["meta"]["rev"]] == [3, 2]
    # maintenance
    v = t.compact()
    assert t.segment_count() > 0 and t.disk_space_usage() > 0
    t.vacuum(keep_last=1)
    assert t.count().collect()[0]["row_count"] == 2


def test_gc_short_circuits_without_retention(spark, tmp_path):
    t = Smoltable.open(spark, str(tmp_path / "nogc"))
    t.create_column_families([ColumnFamilyDef("value")])
    t.write([{"row_key": "r", "cells": [{"column_key": "value:", "value": {"i64": 1}, "timestamp": 1}]}])
    v_before = t.store.current_version()
    assert t.run_gc(now_nanos=100) == 0
    assert t.store.current_version() == v_before  # D4: no snapshot written


def test_export_jsonl_reference_shape(spark, tmp_path):
    import glob
    import json

    t = make_table(spark, tmp_path)
    out = str(tmp_path / "export")
    t.export_jsonl(ScanInput(prefix="item#", column_cell_limit=1), out)
    lines = []
    for f in glob.glob(out + "/part-*.json"):
        with open(f) as fh:
            lines += [json.loads(l) for l in fh if l.strip()]
    by_key = {l["row_key"]: l for l in lines}
    assert set(by_key) == {"item#001", "item#002"}
    cell = by_key["item#002"]["columns"]["value"][""][0]
    assert cell == {"time": 1, "value": {"string": "world"}}


def test_scan_collect_envelope(spark, tmp_path):
    t = make_table(spark, tmp_path)
    rows, metrics = t.scan_collect(ScanInput(prefix="item#", row_cell_limit=3))
    assert [r["row_key"] for r in rows] == ["item#001", "item#002"]
    # reference envelope parity: scanned counts see pre-limit cells
    assert metrics["cells_scanned"] == 5
    assert metrics["rows_scanned"] == 2
    assert metrics["bytes_scanned"] > 0
    assert metrics["micros"] > 0 and metrics["micros_per_row"] > 0


def test_explain_scan_prunes_locality_group(spark, tmp_path):
    t = make_table(spark, tmp_path)
    info = t.explain_scan(
        ScanInput(prefix="item#", column_filter=ColumnFilter.key("meta:rev"))
    )
    # meta family lives in lg_meta: partition pruning must show it
    assert any("lg_meta" in f for f in info["partition_filters"]), info


def test_f64_specials_roundtrip_exactly(spark, tmp_path):
    """NaN, ±Inf, signed zero, and the smallest denormal survive the
    write→parquet→read path bit-exactly — multimodal/embedding features
    store f64 cells, so a lossy special would silently corrupt scores."""
    import math

    from smoltable_spark import ColumnFamilyDef, Smoltable

    t = Smoltable.open(spark, str(tmp_path / "ftbl"))
    t.create_column_families([ColumnFamilyDef("v")])
    vals = {"nan": float("nan"), "pinf": float("inf"),
            "ninf": float("-inf"), "nzero": -0.0, "tiny": 5e-324}
    t.write([
        {"row_key": k,
         "cells": [{"column_key": "v:x", "value": {"f64": v}, "timestamp": 1}]}
        for k, v in vals.items()
    ])
    got = {r.row_key: r.v_f64 for r in t.store.read().collect()}
    for k, v in vals.items():
        g = got[k]
        if math.isnan(v):
            assert math.isnan(g)
        else:
            assert g == v and math.copysign(1.0, g) == math.copysign(1.0, v)


def test_i64_extremes_roundtrip_exactly(spark, tmp_path):
    from smoltable_spark import ColumnFamilyDef, Smoltable

    t = Smoltable.open(spark, str(tmp_path / "itbl"))
    t.create_column_families([ColumnFamilyDef("v")])
    t.write([
        {"row_key": "lo",
         "cells": [{"column_key": "v:x", "value": {"i64": -(2**63)},
                    "timestamp": 1}]},
        {"row_key": "hi",
         "cells": [{"column_key": "v:x", "value": {"i64": 2**63 - 1},
                    "timestamp": 1}]},
    ])
    got = {r.row_key: r.v_i64 for r in t.store.read().collect()}
    assert got == {"lo": -(2**63), "hi": 2**63 - 1}


def test_write_keeps_later_of_duplicate_coordinate(spark, tmp_path):
    """A batch that writes one coordinate twice stores the later value,
    in one cell: the store's in-batch rule, applied on the driver. A
    malformed cell fails the batch even when a later cell overwrites
    its coordinate."""
    import pytest

    from smoltable_spark import ColumnFamilyDef, Smoltable

    t = Smoltable.open(spark, str(tmp_path / "dtbl"))
    t.create_column_families([ColumnFamilyDef("v")])
    t.write([
        {"row_key": "r",
         "cells": [{"column_key": "v:x", "value": {"i64": 1}, "timestamp": 5},
                   {"column_key": "v:y", "value": {"i64": 7}, "timestamp": 5}]},
        {"row_key": "r",
         "cells": [{"column_key": "v:x", "value": {"string": "later"},
                    "timestamp": 5}]},
    ])
    got = sorted((r.qualifier, r.vtype, r.v_i64, r.v_str) for r in t.store.read().collect())
    assert got == [("x", "string", None, "later"), ("y", "i64", 7, None)]
    with pytest.raises(ValueError, match="unknown value type"):
        t.write([
            {"row_key": "r",
             "cells": [{"column_key": "v:x", "value": {"bogus": 1}, "timestamp": 6},
                       {"column_key": "v:x", "value": {"i64": 2}, "timestamp": 6}]},
        ])


def test_write_rejects_non_ident_qualifier(spark, tmp_path):
    """The write path enforces the reference's column-key charset
    ([A-Za-z0-9-_.#$], column_key.rs:4-11) — the same validation the
    filter API applies, so no unfilterable cells can enter a table."""
    import pytest

    from smoltable_spark import ColumnFamilyDef, Smoltable

    t = Smoltable.open(spark, str(tmp_path / "qtbl"))
    t.create_column_families([ColumnFamilyDef("v")])
    with pytest.raises(ValueError, match="invalid qualifier"):
        t.write([
            {"row_key": "u",
             "cells": [{"column_key": "v:é\U0001f600",
                        "value": {"string": "a"}, "timestamp": 1}]},
        ])


def test_ident_length_boundary_matches_reference():
    """Reference column_key.rs requires len < 512: 511 accepted, 512
    rejected — for both family and qualifier. Pure validation, no Spark."""
    import pytest

    from smoltable_spark.api import ColumnKey

    ColumnKey("f", "q" * 511)
    ColumnKey("f" * 511, None)
    with pytest.raises(ValueError, match="invalid qualifier"):
        ColumnKey("f", "q" * 512)
    with pytest.raises(ValueError, match="invalid family"):
        ColumnKey("f" * 512, None)


def test_ident_rejects_trailing_newline():
    """$-anchored regexes match before a trailing newline (Python re AND
    Java rlike), so 'f\\n' used to pass the charset check and enter the
    store as an unfilterable key. \\A..\\Z anchoring closes it — same
    fix as sources/wire.py's distributed twin."""
    import pytest

    from smoltable_spark.api import ColumnKey

    with pytest.raises(ValueError, match="invalid family"):
        ColumnKey("f\n", None)
    with pytest.raises(ValueError, match="invalid qualifier"):
        ColumnKey("f", "q\n")
