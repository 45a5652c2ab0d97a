"""Unit tests for two small source-side helpers: ``regex_project`` keeps
the id columns and the matched columns in schema order, and a CSV read
with a declared schema round-trips nulls without an inference scan.
"""

from __future__ import annotations

from pm25ml_spark.operators.combine import regex_project


def test_regex_project_keeps_ids_and_matches_in_schema_order(spark):
    df = spark.createDataFrame(
        [(1, "d", 1.0, 2.0, 3.0)],
        "grid_id long, date string, era5__t float, era5__rh float, gee__x float",
    )
    out = regex_project(df, r"^era5__.*$")
    assert out.columns == ["grid_id", "date", "era5__t", "era5__rh"]
    # keep columns absent from the frame are skipped, not invented
    out2 = regex_project(df.drop("date"), r"^gee__.*$")
    assert out2.columns == ["grid_id", "gee__x"]


def test_csv_source_roundtrip_with_declared_schema(spark, tmp_path):
    # SURVEY S8: CSV read with declared schema (no inference scan).
    p = str(tmp_path / "stations.csv")
    with open(p, "w") as f:
        f.write("location_id,value,date\n")
        f.write("7,12.5,2024-01-02\n")
        f.write("8,,2024-01-03\n")
    df = (
        spark.read.option("header", True)
        .schema("location_id long, value double, date string")
        .csv(p)
    )
    rows = df.orderBy("location_id").collect()
    assert [r.location_id for r in rows] == [7, 8]
    assert rows[0].value == 12.5 and rows[1].value is None
    assert df.schema.simpleString() == (
        "struct<location_id:bigint,value:double,date:string>"
    )
