"""As-of join, NN join, sampling, storage layer, ML fold assignment,
salted joins, interval joins, weighted sampling and grouped quantiles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pm25ml_spark.ml.pipeline import (
    assign_group_folds,
    assign_stratified_group_folds,
    check_quality_gate,
    ModelQualityError,
    regression_metrics,
    stratified_split,
)
from pm25ml_spark.operators.asof import asof_join_backward
from pm25ml_spark.operators.nn_join import nearest_grid_join
from pm25ml_spark.operators.sampling import decimate
from pm25ml_spark.sources.archive import (
    ArchiveStorage,
    PipelineConfig,
    StageStorage,
    ValidationError,
    asof_fallback_months,
)
from pm25ml_spark.sources.hive_path import DataArtifactRef, HivePath


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 50)],
        "event_id long, user_id string, ts long",
    )
    right = spark.createDataFrame(
        [("u", 90, 90), ("u", 200, 200), ("u", 205, 205)],
        "user_id string, ts long, mark long",
    )
    out = asof_join_backward(
        left, right, key="user_id", left_ts="ts", right_ts="ts", payload=["mark"]
    )
    got = {r.event_id: r.asof_mark for r in out.collect()}
    assert got == {1: 90, 2: 205, 3: None}  # <= semantics; no earlier → null


def test_asof_no_right_rows(spark):
    left = spark.createDataFrame([(1, "u", 10)], "event_id long, user_id string, ts long")
    right = spark.createDataFrame([], "user_id string, ts long, mark long")
    out = asof_join_backward(left, right, "user_id", "ts", "ts", ["mark"])
    assert out.collect()[0].asof_mark is None


def test_nearest_grid_join(spark):
    grid = spark.createDataFrame(
        [(1, 10.0, 70.0), (2, 10.0, 71.0), (3, 11.0, 70.0)],
        "grid_id long, lat double, lon double",
    )
    stations = spark.createDataFrame(
        [("s1", 10.01, 70.02), ("s2", 10.95, 69.99)],
        "id string, latitude double, longitude double",
    )
    out = {r.id: r for r in nearest_grid_join(stations, grid).collect()}
    assert out["s1"].grid_id == 1
    assert out["s2"].grid_id == 3
    assert out["s1"].nn_distance_km < 3


def test_stratified_split_exact_fraction(spark):
    rows = [(i, i % 4) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, stratum long")
    out = stratified_split(df, "stratum", 0.1, seed=42, key=["id"])
    per = (
        out.filter("split = 'training'").groupBy("stratum").count().collect()
    )
    assert {r.stratum: r["count"] for r in per} == {0: 10, 1: 10, 2: 10, 3: 10}
    # deterministic across invocations
    a = {r.id for r in stratified_split(df, "stratum", 0.1, 42, ["id"]).filter("split='training'").select("id").collect()}
    b = {r.id for r in stratified_split(df, "stratum", 0.1, 42, ["id"]).filter("split='training'").select("id").collect()}
    assert a == b


def test_decimate(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "id long")
    out = decimate(df, 10, ["id"])
    assert sorted(r.id for r in out.collect()) == list(range(0, 100, 10))


def test_decimate_partitioned_matches_global(spark):
    """The W7 scale path must keep EXACTLY the global form's rows, on a
    shuffled multi-partition layout with non-contiguous keys."""
    from pm25ml_spark.operators.sampling import decimate_partitioned

    rows = [((i * 37) % 1000,) for i in range(1000)]  # permuted keys
    df = spark.createDataFrame(rows, "id long").repartition(13)
    a = sorted(r.id for r in decimate(df, 7, ["id"]).collect())
    b = sorted(
        r.id for r in decimate_partitioned(df, 7, ["id"], num_partitions=5).collect()
    )
    assert a == b
    # and both runs of the partitioned form agree (two-pass determinism)
    c = sorted(
        r.id for r in decimate_partitioned(df, 7, ["id"], num_partitions=5).collect()
    )
    assert b == c


def test_decimate_partitioned_plan_has_no_global_window(spark):
    from pm25ml_spark.operators.sampling import decimate_partitioned

    df = spark.createDataFrame([(i,) for i in range(50)], "id long")
    plan = decimate_partitioned(df, 5, ["id"])._jdf.queryExecution().executedPlan().toString()
    # every window must be the per-__bucket local rank (parallel), never
    # a global orderBy frame
    import re

    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    assert specs, "expected the per-bucket local rank window"
    for spec in specs:
        assert "__bucket" in spec, f"unpartitioned window: {spec}"
    # row-pure bucket ids hash-exchanged — NOT repartitionByRange, whose
    # RangePartitioner re-samples boundaries per job (the r6 w08 bug)
    assert "hashpartitioning(__bucket" in plan
    assert "rangepartitioning" not in plan.lower()


def test_hive_path_roundtrip():
    p = HivePath.from_args(country="india", dataset="era5", month="2023-01")
    assert p.path == "country=india/dataset=era5/month=2023-01"
    assert HivePath.from_path("/bucket/" + p.path).metadata["month"] == "2023-01"
    assert p.require_key("dataset") == "era5"
    with pytest.raises(KeyError):
        p.require_key("year")
    assert p.with_args(month="2023-02").path.endswith("month=2023-02")
    ref = DataArtifactRef("sampled").for_sub_artifact("aod")
    assert ref.stage == "sampled+aod"
    assert ref.for_month("2023-01").path == "stage=sampled+aod/month=2023-01"


def test_archive_storage_validated_idempotency(spark, tmp_path):
    store = ArchiveStorage(spark, str(tmp_path))
    sub = HivePath.from_args(dataset="era5", month="2023-01")
    df = spark.createDataFrame(
        [(1, "2023-01-01", 1.5), (2, "2023-01-01", 2.5)],
        "grid_id long, date string, temperature double",
    )
    cfg = PipelineConfig(
        result_subpath=sub,
        id_columns=("grid_id", "date"),
        value_column_types={"temperature": "double"},
        expected_rows=2,
    )
    assert store.needs_upload(cfg)           # nothing there yet
    store.write_to_destination(df, sub)
    assert store.does_dataset_exist(sub)
    store.validate(cfg)                       # passes: schema + exact rows
    assert not store.needs_upload(cfg)        # skip-if-valid
    bad = PipelineConfig(sub, ("grid_id", "date"), {"missing_col": "double"}, 2)
    with pytest.raises(ValidationError):
        store.validate(bad)
    bad_rows = PipelineConfig(sub, ("grid_id", "date"), {}, 3)
    with pytest.raises(ValidationError):
        store.validate(bad_rows)
    with pytest.raises(ValueError, match="illegal id columns"):
        PipelineConfig(sub, ("user_id",))
    rows, schema = store.read_dataframe_metadata(sub)
    assert rows == 2 and "temperature" in schema.names
    assert store.filter_paths_by_kv("month", "2023-01") == [
        "dataset=era5/month=2023-01"
    ]


def test_stage_storage_partition_pruning(spark, tmp_path):
    store = StageStorage(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "2023-01-01", "2023-01", 1.0), (1, "2023-02-01", "2023-02", 2.0)],
        "grid_id long, date string, month string, v double",
    )
    store.sink_stage(df, "combined")
    assert store.months_present("combined") == ["2023-01", "2023-02"]
    back = store.scan_stage("combined").filter(F.col("month") == "2023-02")
    assert back.count() == 1
    # partition pruning visible in the physical plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "month" in plan


def test_asof_fallback_months():
    out = asof_fallback_months(
        ["2023-01", "2023-02", "2023-03"], ["2022-12", "2023-01", "2023-03"]
    )
    assert out == {"2023-01": "2023-01", "2023-02": "2023-01", "2023-03": "2023-03"}
    assert asof_fallback_months(["2020-01"], ["2021-01"]) == {"2020-01": None}


def test_group_folds_atomic(spark):
    df = spark.createDataFrame(
        [(i, i // 10) for i in range(100)], "id long, grp long"
    )
    out = assign_group_folds(df, "grp", k=5)
    per_group = out.groupBy("grp").agg(F.countDistinct("fold").alias("n")).collect()
    assert all(r.n == 1 for r in per_group)          # group-atomic
    folds = out.select("fold").distinct().count()
    assert folds == 5


def test_stratified_group_folds(spark):
    df = spark.createDataFrame(
        [(i, i // 10, (i // 10) % 2) for i in range(100)],
        "id long, grp long, stratum long",
    )
    out = assign_stratified_group_folds(df, "grp", "stratum", k=5)
    per_group = out.groupBy("grp").agg(F.countDistinct("fold").alias("n")).collect()
    assert all(r.n == 1 for r in per_group)
    # a null key gets no fold and does not shift the ranks of the others
    df = spark.createDataFrame(
        [(0, None, 0), (1, 1, 0), (2, 3, 0), (3, 5, 0)],
        "id long, grp long, stratum long",
    )
    out = assign_stratified_group_folds(df, "grp", "stratum", k=2)
    assert [r.fold for r in out.orderBy("id").collect()] == [None, 0, 1, 0]


def test_metrics_and_gate(spark):
    df = spark.createDataFrame(
        [(1.0, 1.1), (2.0, 1.9), (3.0, 3.2)], "y double, prediction double"
    )
    m = regression_metrics(df, "y")
    assert 0.9 < m["r2"] <= 1.0
    assert m["rmse"] == pytest.approx(
        math.sqrt((0.01 + 0.01 + 0.04) / 3), rel=1e-6
    )
    check_quality_gate(0.85, 0.8, 0.9)
    with pytest.raises(ModelQualityError):
        check_quality_gate(0.5, 0.8, 0.9)


def test_salted_join_matches_plain_join(spark):
    from pm25ml_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for i in range(200) for k in ("hot", f"cold{i % 5}")],
        "k string, v long",
    )
    right = spark.createDataFrame(
        [("hot", 1.5), ("cold0", 2.0), ("cold3", 3.0)], "k string, w double"
    )
    got = salted_join(left, right, on="k", n_salts=4)
    want = left.join(right, on="k")
    assert got.count() == want.count()
    assert (
        got.groupBy("k").count().orderBy("k").collect()
        == want.groupBy("k").count().orderBy("k").collect()
    )


def test_salted_agg_sum_matches_groupby(spark):
    from pyspark.sql import functions as F2

    from pm25ml_spark.operators.skew import salted_agg_sum

    df = spark.createDataFrame(
        [("hot" if i % 3 else f"k{i % 7}", i) for i in range(1000)],
        "k string, v long",
    ).repartition(8)
    got = {r.k: r.sum_v for r in salted_agg_sum(df, "k", "v", n_salts=4).collect()}
    want = {
        r.k: r.s for r in df.groupBy("k").agg(F2.sum("v").alias("s")).collect()
    }
    assert got == want


def test_grid_dimension_export_roundtrip(spark, tmp_path):
    # SURVEY S19: grid dim table written into the archive layout and read
    # back broadcast-ready.
    from pm25ml_spark.sources.grid import synthetic_grid

    grid = synthetic_grid(spark, nx=4, ny=4)
    dest = str(tmp_path / "dataset=grid/type=static")
    grid.write.parquet(dest)
    back = spark.read.parquet(dest)
    assert back.count() == grid.count()
    assert set(back.columns) == set(grid.columns)


def test_scan_stage_sees_a_rewrite_by_another_store(spark, tmp_path):
    """The scan schema is read from the files on every call: a stage
    that a second ``StageStorage`` rewrites with an extra column scans
    with that column through the first store."""
    from pyspark.sql import functions as F2

    from pm25ml_spark.sources.archive import StageStorage

    first = StageStorage(spark, str(tmp_path))
    base = spark.range(6).withColumn("month", F2.lit("2024-01"))
    first.sink_stage(base, "demo")
    assert first.scan_stage("demo").columns == ["id", "month"]

    second = StageStorage(spark, str(tmp_path))
    second.sink_stage(base.withColumn("extra", F2.col("id") * 3), "demo")
    back = first.scan_stage("demo")
    assert back.columns == ["id", "extra", "month"]
    assert sorted(r.extra for r in back.collect()) == [0, 3, 6, 9, 12, 15]


def test_sink_stage_digest_ignores_row_order_and_partitioning(spark, tmp_path):
    """The digest the write job observes is a function of the rows
    alone: the same rows in another order and partitioning give the same
    digest, and a changed value changes it."""
    from pyspark.sql import functions as F2

    from pm25ml_spark.sources.archive import StageStorage

    store = StageStorage(spark, str(tmp_path))
    df = spark.range(200).withColumn(
        "month", F2.when(F2.col("id") < 90, "2024-01").otherwise("2024-02")
    ).withColumn("v", F2.col("id") / 7.0)
    store.sink_stage(df.coalesce(1), "a")
    store.sink_stage(df.orderBy(F2.desc("id")).repartition(9), "b")
    changed = df.withColumn(
        "v", F2.when(F2.col("id") == 5, 0.5).otherwise(F2.col("v"))
    )
    store.sink_stage(changed, "c")
    assert store.digests["a"] == store.digests["b"]
    assert store.digests["a"] != store.digests["c"]


def test_sink_stage_returns_observed_count(spark, tmp_path):
    from pyspark.sql import functions as F2

    from pm25ml_spark.sources.archive import StageStorage

    store = StageStorage(spark, str(tmp_path))
    df = (
        spark.range(500)
        .withColumn("month", F2.when(F2.col("id") % 2 == 0, "2024-01").otherwise("2024-02"))
        .withColumn("v", F2.col("id") * 2)
        .repartition(16)  # the count sums over many write tasks
    )
    n = store.sink_stage(df, "demo")
    assert n == 500  # observed during the write job, no second scan
    back = store.scan_stage("demo")
    assert back.count() == 500
    assert set(back.select("month").distinct().toPandas()["month"]) == {
        "2024-01",
        "2024-02",
    }


def test_bucketed_nn_join_matches_broadcast(spark):
    import numpy as np

    from pm25ml_spark.operators.nn_join import (
        nearest_grid_join,
        nearest_grid_join_bucketed,
    )
    from pm25ml_spark.sources.grid import synthetic_grid

    grid = synthetic_grid(spark, nx=6, ny=6)  # ~10km pitch lattice
    rng = np.random.default_rng(3)
    glims = grid.agg(
        F.min("lat"), F.max("lat"), F.min("lon"), F.max("lon")
    ).first()
    lats = rng.uniform(glims[0], glims[1], size=40)
    lons = rng.uniform(glims[2], glims[3], size=40)
    pts = spark.createDataFrame(
        [(i, float(lats[i]), float(lons[i])) for i in range(40)],
        "id long, latitude double, longitude double",
    )
    exact = {
        r.id: (r.grid_id, r.nn_distance_km)
        for r in nearest_grid_join(pts, grid).collect()
    }
    bucketed_df = nearest_grid_join_bucketed(pts, grid, cell_deg=0.5)
    # the bucketed join must stay an equi-join on the cell key: a
    # cartesian/BNL product is the failure mode the operator exists to avoid
    plan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    bucketed = {
        r.id: (r.grid_id, r.nn_distance_km) for r in bucketed_df.collect()
    }
    assert set(bucketed) == set(exact)
    for i in exact:
        assert bucketed[i][0] == exact[i][0], (i, bucketed[i], exact[i])
        assert abs(bucketed[i][1] - exact[i][1]) < 1e-9


def test_missing_months_incremental_skip(spark, tmp_path):
    from pyspark.sql import functions as F2

    from pm25ml_spark.sources.archive import StageStorage

    store = StageStorage(spark, str(tmp_path))
    src = spark.range(60).withColumn(
        "month",
        F2.when(F2.col("id") % 3 == 0, "2024-01")
        .when(F2.col("id") % 3 == 1, "2024-02")
        .otherwise("2024-03"),
    )
    store.sink_stage(src, "upstream")
    store.sink_stage(src.filter(F2.col("month") == "2024-01"), "downstream")
    assert store.missing_months("upstream", "downstream") == ["2024-02", "2024-03"]
    # processing exactly the missing months closes the gap
    todo = store.missing_months("upstream", "downstream")
    store.sink_stage(
        store.scan_stage("upstream").filter(F2.col("month").isin(todo)),
        "downstream",
        mode="append",
    )
    assert store.missing_months("upstream", "downstream") == []


def test_asof_payload_row_integrity(spark):
    # regression: a genuine NULL in the latest right row must surface as
    # NULL, not be replaced by an older row's value; multi-payload
    # columns must all come from the SAME right row
    from pm25ml_spark.operators.asof import asof_join_backward

    left = spark.createDataFrame([(1, "u", 10)], "event_id long, k string, ts long")
    right = spark.createDataFrame(
        [("u", 1, "A", 100), ("u", 5, None, 500)],
        "k string, ts long, mark string, score long",
    )
    out = asof_join_backward(
        left, right, key="k", left_ts="ts", right_ts="ts",
        payload=["mark", "score"],
    ).collect()[0]
    assert out.asof_mark is None  # latest row's null, not 'A'
    assert out.asof_score == 500  # and score from the SAME (ts=5) row


def test_interval_join_matches_bruteforce(spark):
    """Bucketed interval join ≡ brute-force BETWEEN join, including
    intervals spanning many buckets and zero-width intervals."""
    import pandas as pd
    from pm25ml_spark.operators.interval_join import interval_join

    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "iv_id": [1, 2, 3, 4],
                "s": [0, 50, 95, 40],
                "e": [10, 400, 95, 60],  # 2 spans many buckets; 3 is a point
            }
        )
    )
    pt = spark.createDataFrame(
        pd.DataFrame({"p_id": range(9), "t": [0, 5, 10, 11, 55, 95, 96, 399, 401]})
    )
    got = (
        interval_join(iv, pt, "s", "e", "t", bucket=25)
        .select("iv_id", "p_id")
        .toPandas()
        .sort_values(["iv_id", "p_id"])
        .reset_index(drop=True)
    )
    expect = (
        iv.crossJoin(pt)
        .filter("t >= s AND t <= e")
        .select("iv_id", "p_id")
        .toPandas()
        .sort_values(["iv_id", "p_id"])
        .reset_index(drop=True)
    )
    assert got.equals(expect)
    # sanity: many-to-many actually happened (t=55 in both 2 and 4)
    assert (got.p_id == 4).sum() == 2


# ---- weighted sampling (operators/sampling.py weighted_sample_topk) ------


def test_weighted_sample_prune_equals_naive_topk(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pm25ml_spark.functions.columns import md5_long
    from pm25ml_spark.operators.sampling import weighted_sample_topk

    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("w")
    ).repartition(16)
    got = weighted_sample_topk(df, "doc_id", "w", 200)
    h = md5_long(F.concat_ws(":", F.lit("es"), F.col("doc_id")))
    u = (h % 1_000_000 + 0.5) / 1_000_000.0
    key = F.round(F.log(u) / F.col("w").cast("double"), 6)
    naive = (
        df.select("doc_id", "w", key.alias("es_key"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("es_key"), F.col("doc_id"))
            ).cast("long"),
        )
        .filter(F.col("rk") <= 200)
    )
    assert {(r.doc_id, r.rk) for r in got.collect()} == {
        (r.doc_id, r.rk) for r in naive.collect()
    }


@pytest.mark.slow
def test_weighted_sample_favors_heavy_rows(spark):
    """Across 50 independent seeds, a row with 100x the weight of the
    rest is sampled far more often — the A-ES inclusion-probability
    property, checked statistically since each seed's draw is fixed."""
    from pyspark.sql import functions as F

    from pm25ml_spark.operators.sampling import weighted_sample_topk

    df = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, 100).otherwise(1).alias("w"),
    )
    heavy_in = light_in = 0
    for seed in range(50):
        picked = {
            r.doc_id
            for r in weighted_sample_topk(
                df, "doc_id", "w", 20, seed=f"s{seed}"
            ).collect()
        }
        heavy_in += 7 in picked
        light_in += 11 in picked
    # heavy row: expected inclusion ~ 1; light rows ~ 20/400
    assert heavy_in >= 45
    assert light_in <= 10


def test_weighted_sample_rejects_nonpositive_weights(spark):
    """w <= 0 rows are excluded up front: zero weight = zero inclusion
    probability by definition; a negative weight would flip the key sign
    and rank ABOVE every valid row."""
    from pyspark.sql import functions as F

    from pm25ml_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -1), (4, 7)], "doc_id long, w long"
    )
    picked = {r.doc_id for r in weighted_sample_topk(df, "doc_id", "w", 10).collect()}
    assert picked == {1, 4}


# ---- interval-interval overlap (operators/interval_join.py) --------------


def test_interval_overlap_join_matches_naive_cross(spark):
    """Bucketed overlap join == naive cross-join + predicate, each pair
    exactly once, across bucket-straddling and multi-bucket intervals."""
    from pyspark.sql import functions as F

    from pm25ml_spark.operators.interval_join import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 50), (2, 40, 45), (3, 100, 300), (4, 310, 320)],
        "lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [(10, 49, 120), (11, 200, 305), (12, 500, 600), (13, 0, 1000)],
        "rid long, rs long, re long",
    )
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", bucket=10
        ).collect()
    )
    naive = sorted(
        (r.lid, r.rid)
        for r in left.crossJoin(right)
        .filter((F.col("ls") <= F.col("re")) & (F.col("rs") <= F.col("le")))
        .collect()
    )
    assert got == naive
    assert len(got) == len(set(got))  # exactly-once, no dedup needed


def test_iv02_no_cartesian(spark):
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()
    df = QUERIES["iv02_concurrent_sessions"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_interval_join_negative_endpoints_true_floor(spark):
    """Bucket ids use exact long floor-division: negative endpoints get
    their own buckets (truncate-toward-zero would merge buckets -1..0,
    doubling replication near the origin) and results still match the
    brute-force join exactly."""
    from pm25ml_spark.operators.interval_join import (
        _floor_div,
        interval_join,
        interval_overlap_join,
    )
    from pyspark.sql import functions as F

    # floor semantics: -1 div 25 == -1 (not 0), -25 div 25 == -1, -26 -> -2
    vals = spark.createDataFrame(
        [(-51,), (-26,), (-25,), (-1,), (0,), (1,), (24,), (25,)], "v long"
    )
    got = {r.v: r.b for r in vals.select("v", _floor_div("v", 25).alias("b")).collect()}
    assert got == {-51: -3, -26: -2, -25: -1, -1: -1, 0: 0, 1: 0, 24: 0, 25: 1}

    iv = spark.createDataFrame(
        [(i, -100 + 13 * i, -100 + 13 * i + (i % 4) * 9) for i in range(20)],
        "iid long, s long, e long",
    )
    pt = spark.createDataFrame(
        [(j, -110 + 7 * j) for j in range(35)], "pid long, t long"
    )
    fast = sorted(
        (r.iid, r.pid)
        for r in interval_join(iv, pt, "s", "e", "t", bucket=25).collect()
    )
    brute = sorted(
        (r.iid, r.pid)
        for r in iv.crossJoin(pt)
        .filter((F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
        .collect()
    )
    assert fast == brute

    other = spark.createDataFrame(
        [(k, -95 + 11 * k, -95 + 11 * k + 6) for k in range(18)],
        "oid long, os long, oe long",
    )
    fast2 = sorted(
        (r.iid, r.oid)
        for r in interval_overlap_join(
            iv, other, "s", "e", "os", "oe", bucket=25
        ).collect()
    )
    brute2 = sorted(
        (r.iid, r.oid)
        for r in iv.crossJoin(other)
        .filter((F.col("s") <= F.col("oe")) & (F.col("os") <= F.col("e")))
        .collect()
    )
    assert fast2 == brute2


def test_asof_forward_basic_tolerance_and_ties(spark):
    from pm25ml_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 95, 102), (2, 5, 103)],
        "user_id long, ts long, event_id long",
    )
    right = spark.createDataFrame(
        [(1, 20, "a"), (1, 20, "b"), (1, 50, "c"), (2, 90, "d")],
        "user_id long, ts long, mark string",
    )
    out = asof_join_forward(
        left, right, "user_id", "ts", "ts", ["mark"], tolerance=30
    )
    got = {r.event_id: (r.asof_ts, r.asof_mark) for r in out.collect()}
    # equal-ts right row matches (>=); tie at ts=20 -> smallest payload 'a'
    assert got[101] == (20, "a")
    # earliest at-or-after within tolerance
    assert got[100] == (20, "a")
    # nearest right (ts=50)... none within ts<=95+30? 50 < 95 -> next is none
    assert got[102] == (None, None)
    # right exists but beyond tolerance (90 > 5+30)
    assert got[103] == (None, None)


def test_asof_forward_without_tolerance_matches_next(spark):
    from pm25ml_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 5, 1.0), (1, 40, 2.0)], "k long, ts long, v double"
    )
    out = asof_join_forward(left, right, "k", "ts", "ts", ["v"]).collect()
    assert out[0].asof_ts == 40 and out[0].asof_v == 2.0


def test_k04_negative_sum_division_parity(spark, tmp_path):
    """Integer-division parity on NEGATIVE cell sums: DuckDB bigint //
    truncates toward zero exactly like Spark div (-7 // 2 = -3), so the
    plain div spelling must hash-match the oracle even when a cell's
    mean is negative (current testdata is all-positive, which is how a
    well-meaning 'floor-div fix' once regressed this latently)."""
    import os
    import shutil

    import pandas as pd

    from pm25ml_spark.catalog import TABLE_NAMES
    from tests.conftest import SF_DIR
    from pm25ml_spark.plans.registry import ORACLES, QUERIES, load_all_plans
    from tests.oracle_compare import assert_match, run_oracle

    load_all_plans()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for name in TABLE_NAMES:
        if name != "events":
            shutil.copy(f"{SF_DIR}/{name}.parquet", f"{sf}/{name}.parquet")
    # negative values with non-exact quotients; several cells negative-mean
    rows = [
        (i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
         i % 45, "anomaly", ((-1) ** i) * (7.000001 + 3.14 * (i % 11)) - 9.5,
         "{}")
        for i in range(400)
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(f"{sf}/events.parquet", index=False)
    out = QUERIES["k04_grid_smooth"](spark, sf)
    assert_match(out, run_oracle(ORACLES["k04_grid_smooth"], sf), "k04-neg")


def test_grouped_quantiles_invariant_to_caller_splits(spark):
    """Caller-provided range splits steer bucket BALANCE only: even a
    deliberately skewed split list must yield bit-identical quantiles to
    the sampled default — the property a09's fold-derived MAD splits
    (r14) rely on. Also pins the degenerate empty-splits case (one
    bucket: the pick kernel sorts the whole group)."""
    from pyspark.sql import functions as F

    from pm25ml_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.range(10_007).select(
        (F.col("id") % 3).alias("g"),
        ((F.col("id") * 7919) % 10_007).cast("double").alias("v"),
    )
    ps = [0.01, 0.5, 0.99]
    want = {
        (r.g, r.p, r.value)
        for r in grouped_exact_quantiles(df, ["g"], "v", ps).collect()
    }
    skewed = {
        (r.g, r.p, r.value)
        for r in grouped_exact_quantiles(
            df, ["g"], "v", ps, splits=[(1.0,), (2.0,), (9000.0,)]
        ).collect()
    }
    one_bucket = {
        (r.g, r.p, r.value)
        for r in grouped_exact_quantiles(df, ["g"], "v", ps, splits=[]).collect()
    }
    assert want == skewed == one_bucket and want
