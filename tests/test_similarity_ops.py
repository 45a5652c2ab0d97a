"""Unit tests for the near-duplicate cosine kernel and two small helpers.

The kernel's pairs are emitted once each, ordered ``id_a < id_b``, and cut
at the threshold; regex projection keeps the id columns; a CSV read with a
declared schema round-trips nulls.
"""

from __future__ import annotations

from pm25ml_spark.operators.combine import regex_project
from pm25ml_spark.operators.similarity import cosine_neardup_pairs


def _vec_df(spark, name_id, name_vec, rows):
    return spark.createDataFrame(
        rows, f"{name_id} long, {name_vec} array<float>"
    )


def test_cosine_neardup_pairs_symmetric_and_ordered(spark):
    # pair emitted once with id_a < id_b regardless of block placement
    rows = [(i, [1.0, float(i) * 1e-4]) for i in range(20)]
    emb = _vec_df(spark, "vec_id", "embedding", rows)
    out = cosine_neardup_pairs(
        emb, threshold=0.999, id_col="vec_id", vec_col="embedding", n_blocks=4
    ).collect()
    assert len(out) == 190  # all C(20,2) pairs are near-identical
    assert all(r.id_a < r.id_b for r in out)
    assert len({(r.id_a, r.id_b) for r in out}) == 190


def test_cosine_neardup_threshold_excludes(spark):
    emb = _vec_df(
        spark,
        "vec_id",
        "embedding",
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
    )
    out = cosine_neardup_pairs(emb, threshold=0.99, n_blocks=2).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]


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
