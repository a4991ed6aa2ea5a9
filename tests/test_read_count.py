"""Point reads + counts — mirror read_row_*.rs and write_count*.rs
(reference smoltable/tests/; FIXTURES F3/F6)."""

from pyspark.sql import functions as F

from smoltable_spark.api import ColumnFilter, ColumnKey, CountInput, QueryRowInput
from smoltable_spark.operators import count_exact, get_row, multi_get, scan_count
from smoltable_spark.operators.assemble import rows_to_json_shape
from smoltable_spark.operators.delete import delete_row, deleted_cell_count
from smoltable_spark.operators.read import get_row_cells
from smoltable_spark.schema import by_row_key

from tests.conftest import make_cells


def webtable(spark):
    # F3 fixture (docs webtable example, read_row_multiple_families.rs)
    return make_cells(
        spark,
        [
            ("org.apache.hbase", "title", "", 0, "string", "Apache HBase"),
            ("org.apache.hbase", "language", "", 0, "string", "EN"),
            ("org.apache.spark", "title", "", 0, "string", "Apache Spark"),
            ("org.apache.spark", "language", "", 0, "string", "EN"),
            ("org.apache.spark", "anchor", "org.apache.hbase", 0, "string", "Visit Spark"),
            ("org.apache.spark", "anchor", "com.example", 0, "string", "spark link"),
            ("org.apache.spark", "meta", "size", 0, "i64", 152014),
            ("org.apache.spark", "meta", "fresh", 0, "boolean", True),
            ("org.apache.spark", "meta", "score", 0, "f64", 0.5),
        ],
    )


def test_get_row_simple(spark):
    out = get_row(webtable(spark), QueryRowInput("org.apache.hbase"), by_row_key)
    assert rows_to_json_shape(out) == [
        {
            "row_key": "org.apache.hbase",
            "columns": {
                "language": {"": [{"time": 0, "value": {"string": "EN"}}]},
                "title": {"": [{"time": 0, "value": {"string": "Apache HBase"}}]},
            },
        }
    ]


def test_get_row_family_filter(spark):
    # family-only key matches whole family incl. all qualifiers
    out = get_row_cells(
        webtable(spark),
        QueryRowInput("org.apache.spark", column_filter=ColumnFilter.key("anchor")),
    )
    quals = sorted(r["qualifier"] for r in out.collect())
    assert quals == ["com.example", "org.apache.hbase"]


def test_get_row_exact_column_filter(spark):
    out = get_row_cells(
        webtable(spark),
        QueryRowInput(
            "org.apache.spark",
            column_filter=ColumnFilter.key(ColumnKey("anchor", "org.apache.hbase")),
        ),
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v_str"] == "Visit Spark"


def test_get_row_multi_key_filter(spark):
    out = get_row_cells(
        webtable(spark),
        QueryRowInput(
            "org.apache.spark",
            column_filter=ColumnFilter.multi_key(["title", ColumnKey("meta", "size")]),
        ),
    )
    got = sorted((r["family"], r["qualifier"]) for r in out.collect())
    assert got == [("meta", "size"), ("title", "")]


def test_get_row_qualifier_prefix_filter(spark):
    out = get_row_cells(
        webtable(spark),
        QueryRowInput(
            "org.apache.spark", column_filter=ColumnFilter.prefix("anchor", "org.")
        ),
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["qualifier"] == "org.apache.hbase"


def test_typed_values_roundtrip(spark):
    out = get_row(webtable(spark), QueryRowInput("org.apache.spark"), by_row_key)
    shape = rows_to_json_shape(out)[0]["columns"]["meta"]
    assert shape["size"][0]["value"] == {"i64": 152014}
    assert shape["fresh"][0]["value"] == {"boolean": True}
    assert shape["score"][0]["value"] == {"f64": 0.5}


def test_multi_get(spark):
    out = multi_get(
        webtable(spark),
        [QueryRowInput("org.apache.hbase"), QueryRowInput("org.apache.spark")],
        by_row_key,
    )
    assert [r["row_key"] for r in out.collect()] == [
        "org.apache.hbase",
        "org.apache.spark",
    ]


def test_count_exact(spark):
    r = count_exact(webtable(spark)).collect()[0]
    assert (r["row_count"], r["cell_count"]) == (2, 9)


def test_scan_count_with_filter(spark):
    r = scan_count(
        webtable(spark),
        CountInput(prefix="org.apache.s", column_filter=ColumnFilter.key("meta")),
    ).collect()[0]
    assert (r["row_count"], r["cell_count"]) == (1, 3)


def test_delete_row_with_filter_then_count(spark):
    # write_count_after_delete.rs / delete_column_filter.rs shape
    cells = webtable(spark)
    n = deleted_cell_count(cells, "org.apache.spark", ColumnFilter.key("anchor")).collect()[0]
    assert n["deleted_cells"] == 2
    after = delete_row(cells, "org.apache.spark", ColumnFilter.key("anchor"))
    r = count_exact(after).collect()[0]
    assert (r["row_count"], r["cell_count"]) == (2, 7)


def test_delete_whole_row(spark):
    after = delete_row(webtable(spark), "org.apache.hbase")
    r = count_exact(after).collect()[0]
    assert (r["row_count"], r["cell_count"]) == (1, 7)
