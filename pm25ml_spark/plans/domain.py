"""Domain-shaped plans: the reference pipeline's spine re-run over `events`.

These exercise the actual engine modules (operators.combine / asof /
features) end-to-end with DuckDB oracles — the pm25 lifecycle (SURVEY §3)
transplanted onto the benchmark tables: users ≙ grid cells, days ≙ dates,
event values ≙ measurements.

- d01: wide combine (prefix-rename + N-way inner join, J1/P4)
- d02: as-of backward join (J9 generalized to the data plane)
- d03: scaffold → feature chain (J2/J6 + W1-W4 + fills)
- d04: the pm25 filter-marker cascade (W5 + A2 + P7 + A1 + scaffold)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.functions.exact import DEC, davg, davg_expr, dsum, dsum_expr
from pm25ml_spark.operators.asof import asof_join_backward
from pm25ml_spark.operators.combine import wide_combine
from pm25ml_spark.operators.features import generate_features
from pm25ml_spark.plans.registry import query


# --------------------------------------------------------------------------
# d01 — wide combiner over two event-derived long tables (J1 + P4:
# combiners/archive/combiner.py:36-98,133-208).
@query(
    "d01_wide_combine",
    f"""
    WITH purchases AS (
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               {dsum_expr('value')} AS total, COUNT(*) AS n
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    clicks AS (
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS n
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.user_id, p.day,
           p.total AS purchases__total,
           p.n AS purchases__n,
           c.n AS clicks__n
    FROM purchases p
    JOIN clicks c ON p.user_id = c.user_id AND p.day = c.day
    """,
)
def d01_wide_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(dsum("value").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", day)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wide = wide_combine(
        {"purchases": purchases, "clicks": clicks},
        id_cols=("user_id", "day"),
    )
    return wide.select(
        "user_id", "day", "purchases__total", "purchases__n", "clicks__n"
    )


# --------------------------------------------------------------------------
# d02 — as-of backward join: each purchase gets the latest preceding view's
# timestamp per user (union+window implementation — no range explosion).
@query(
    "d02_asof_purchase_view",
    """
    SELECT p.event_id,
           (SELECT MAX(epoch_us(v.ts)) FROM events v
            WHERE v.event_type = 'view' AND v.user_id = p.user_id
              AND v.ts <= p.ts) AS asof_view_us
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def d02_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.unix_micros("ts").alias("view_us")
    )
    out = asof_join_backward(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        payload=["view_us"],
    )
    return out.select("event_id", F.col("asof_view_us").alias("asof_view_us"))


# --------------------------------------------------------------------------
# d03 — scaffold completion + the feature chain (SURVEY §3.2): user×day
# scaffold (nulls where no purchases), rolling means with min_samples=1,
# ffill/bfill of all-null frames, year/all-time partition means, calendar
# scalars. The full generated_features stage in miniature.
_D03_WIN = "PARTITION BY user_id ORDER BY day"


@query(
    "d03_feature_chain",
    f"""
    WITH bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
    days AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, {davg_expr('value')} AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    scaffold AS (
        SELECT u.user_id, d.day, daily.v
        FROM users u CROSS JOIN days d
        LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = d.day
    ),
    feat AS (
        SELECT user_id, day, v,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER w7 AS DOUBLE) / COUNT(v) OVER w7 AS r7,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) OVER (PARTITION BY user_id) AS DOUBLE)
                 / COUNT(v) OVER (PARTITION BY user_id) AS v_mean_all
        FROM scaffold
        WINDOW w7 AS ({_D03_WIN} ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ),
    filled AS (
        SELECT user_id, day, v, v_mean_all,
               COALESCE(r7,
                 last_value(r7 IGNORE NULLS) OVER ({_D03_WIN} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 first_value(r7 IGNORE NULLS) OVER ({_D03_WIN} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               ) AS v_mean_r7d
        FROM feat
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day, v AS value,
           v_mean_r7d, v_mean_all,
           year(day) AS year, dayofyear(day) AS day_of_year,
           CASE WHEN month(day) BETWEEN 6 AND 9 THEN 1 ELSE 0 END AS monsoon_season
    FROM filled
    """,
)
def d03_feature_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("day"))
    users = ev.select("user_id").distinct()
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(davg("value").alias("v"))
    )
    scaffold = users.crossJoin(F.broadcast(days)).join(
        daily, ["user_id", "day"], "left"
    )
    feat = generate_features(
        scaffold, ["v"], key="user_id", date_col="day",
        with_fills=True, exact=True,
    )
    return feat.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("v").alias("value"),
        F.col("v__mean_r7d").alias("v_mean_r7d"),
        F.col("v__mean_all").alias("v_mean_all"),
        "year",
        "day_of_year",
        "monsoon_season",
    )


# --------------------------------------------------------------------------
# d04 — the pm25 ingest filter cascade (setup/pm25_filters.py:14-83 +
# pm25_pipeline.py:58-164): repeat-detector (W5), IQR anomaly (A2),
# max-value cut, keep/drop label cascade (P7), cell-day mean (A1),
# scaffold left join.
@query(
    "d04_filter_cascade",
    f"""
    WITH stats AS (
        SELECT user_id,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY user_id
    ),
    marked AS (
        SELECT e.user_id, CAST(e.ts AS DATE) AS day, e.value,
               CASE WHEN COUNT(e.value) OVER w5 = 5
                     AND ABS(e.value - CAST(SUM(CAST(e.value AS DECIMAL(38,6))) OVER w5 AS DOUBLE) / 5) < 0.05
                    THEN 1 ELSE 0 END AS f_repeat,
               CASE WHEN e.value > ROUND(s.q3 + 15 * (s.q3 - s.q1), 4) THEN 1 ELSE 0 END AS f_anomaly,
               CASE WHEN e.value >= 450.0 THEN 1 ELSE 0 END AS f_max
        FROM events e JOIN stats s ON e.user_id = s.user_id
        WINDOW w5 AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    kept AS (
        SELECT user_id, day, value FROM marked
        WHERE f_repeat = 0 AND f_anomaly = 0 AND f_max = 0
    ),
    agg AS (
        SELECT user_id, day, {davg_expr('value')} AS mean_value, COUNT(*) AS n_kept
        FROM kept GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
    days AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id, strftime(d.day, '%Y-%m-%d') AS day,
           a.mean_value, COALESCE(a.n_kept, 0) AS n_kept
    FROM users u CROSS JOIN days d
    LEFT JOIN agg a ON a.user_id = u.user_id AND a.day = d.day
    """,
)
def d04_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    w5 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    cnt5 = F.count("value").over(w5)
    roll5 = F.sum(F.col("value").cast(DEC)).over(w5).cast("double") / 5
    marked = (
        ev.join(F.broadcast(stats), "user_id")
        .withColumn("day", F.to_date("ts"))
        .withColumn(
            "f_repeat",
            F.when((cnt5 == 5) & (F.abs(F.col("value") - roll5) < 0.05), 1).otherwise(0),
        )
        .withColumn(
            "f_anomaly",
            F.when(
                F.col("value")
                > F.round(F.col("q3") + 15 * (F.col("q3") - F.col("q1")), 4),
                1,
            ).otherwise(0),
        )
        .withColumn("f_max", F.when(F.col("value") >= 450.0, 1).otherwise(0))
    )
    kept = marked.filter(
        (F.col("f_repeat") == 0) & (F.col("f_anomaly") == 0) & (F.col("f_max") == 0)
    )
    agg = kept.groupBy("user_id", "day").agg(
        davg("value").alias("mean_value"), F.count(F.lit(1)).alias("n_kept")
    )
    days = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("day"))
    users = ev.select("user_id").distinct()
    return (
        users.crossJoin(F.broadcast(days))
        .join(agg, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "mean_value",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# d05 — regex column projection (P2: spatial_imputation_manager.py:54-59)
# over the d01 wide table: the Spark side resolves the family regex
# against the known schema driver-side; the oracle spells the columns out.
@query(
    "d05_regex_projection",
    f"""
    WITH purchases AS (
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               {dsum_expr('value')} AS total, COUNT(*) AS n
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    clicks AS (
        SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               COUNT(*) AS n
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.user_id, p.day,
           p.total AS purchases__total,
           p.n AS purchases__n
    FROM purchases p
    JOIN clicks c ON p.user_id = c.user_id AND p.day = c.day
    """,
)
def d05_regex_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.combine import regex_project

    wide = d01_wide_combine(spark, sf_dir)
    return regex_project(wide, r"^purchases__.*$", keep=("user_id", "day"))


# --------------------------------------------------------------------------
# d06 — the M7 imputed-stats column block (regression_model_predictor.py:
# 132-229) with a deterministic SQL-expressible "model" (per-user mean of
# observed values) standing in for the imputer's booster so the whole
# derivation — flag, coalesce, score, per-day share, 7-row rolling —
# hash-checks against the oracle. predict_with_stats applies the SAME
# derive_imputed_stats to the booster's predictions.
@query(
    "d06_imputed_stats",
    """
    WITH purchases AS (
        SELECT user_id, CAST(ts AS DATE) AS d,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value), 6) AS mean_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    days AS (
        SELECT UNNEST(generate_series(
            (SELECT MIN(CAST(ts AS DATE)) FROM events),
            (SELECT MAX(CAST(ts AS DATE)) FROM events),
            INTERVAL 1 DAY)) AS d
    ),
    scaffold AS (
        SELECT u.user_id, CAST(days.d AS DATE) AS d FROM
        (SELECT DISTINCT user_id FROM events) u CROSS JOIN days
    ),
    base AS (
        SELECT s.user_id, s.d, p.mean_value FROM scaffold s
        LEFT JOIN purchases p ON p.user_id = s.user_id AND p.d = s.d
    ),
    pred AS (
        SELECT user_id, d, mean_value,
               ROUND(CAST(SUM(CAST(mean_value AS DECIMAL(38,6))) OVER (PARTITION BY user_id) AS DOUBLE)
                 / NULLIF(COUNT(mean_value) OVER (PARTITION BY user_id), 0), 6) AS predicted
        FROM base
    )
    SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
           CASE WHEN mean_value IS NULL THEN 1 ELSE 0 END AS imputed_flag,
           COALESCE(mean_value, predicted) AS imputed,
           CASE WHEN mean_value IS NULL THEN predicted * 0.5 ELSE mean_value END AS score,
           CAST(SUM(CASE WHEN mean_value IS NULL THEN 1 ELSE 0 END)
                    OVER (PARTITION BY d) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY d) AS share_imputed,
           CAST(SUM(CAST(COALESCE(mean_value, predicted) AS DECIMAL(38,6)))
                    OVER (PARTITION BY user_id ORDER BY d
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(COALESCE(mean_value, predicted))
                    OVER (PARTITION BY user_id ORDER BY d
                          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS imputed_r7d
    FROM pred
    """,
)
def d06_imputed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.functions.exact import DEC
    from pm25ml_spark.ml.pipeline import derive_imputed_stats

    ev = load_table(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.round(davg("value"), 6).alias("mean_value"))
    )
    days = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(F.explode(F.sequence("d0", "d1")).alias("d"))
    users = ev.select("user_id").distinct()
    base = (
        users.crossJoin(F.broadcast(days))
        .join(purchases, ["user_id", "d"], "left")
    )
    wu = Window.partitionBy("user_id")
    pred = base.withColumn(
        "mean_value__predicted",
        F.round(
            F.sum(F.col("mean_value").cast(DEC)).over(wu).cast("double")
            / F.nullif(F.count("mean_value").over(wu), F.lit(0)),
            6,
        ),
    )
    stats = derive_imputed_stats(
        pred, "mean_value", 0.5, date_col="d", key_col="user_id"
    )
    return stats.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("mean_value__imputed_flag").alias("imputed_flag"),
        F.col("mean_value__imputed").alias("imputed"),
        F.col("mean_value__score").alias("score"),
        F.col("mean_value__share_imputed_across_all_grids").alias("share_imputed"),
        F.col("mean_value__imputed_r7d").alias("imputed_r7d"),
    )


# --------------------------------------------------------------------------
# m01 — GroupKFold assignment (M1): every row of a group lands in one
# fold; folds balance group counts. Oracle recomputes the dense_rank mod
# k over the distinct group keys.
@query(
    "m01_group_folds",
    """
    WITH groups AS (SELECT DISTINCT user_id FROM events),
    fm AS (
        SELECT user_id,
               CAST((DENSE_RANK() OVER (ORDER BY user_id) - 1) % 5 AS BIGINT)
                 AS fold
        FROM groups
    )
    SELECT fold, COUNT(*) AS n_rows, COUNT(DISTINCT e.user_id) AS n_groups
    FROM events e JOIN fm USING (user_id)
    GROUP BY fold
    """,
)
def m01_group_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.ml.pipeline import assign_group_folds

    ev = load_table(spark, sf_dir, "events")
    folded = assign_group_folds(ev, "user_id", k=5)
    return folded.groupBy(F.col("fold").cast("long").alias("fold")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_groups"),
    )


# --------------------------------------------------------------------------
# m02 — StratifiedGroupKFold assignment (M2): groups are reduced to one
# representative stratum (their minimum event_type) and round-robined
# within it, so folds see every stratum and no group leaks across folds.
@query(
    "m02_stratified_group_folds",
    """
    WITH groups AS (
        SELECT user_id, MIN(event_type) AS stratum FROM events GROUP BY user_id
    ),
    fm AS (
        SELECT user_id,
               CAST((ROW_NUMBER() OVER (
                   PARTITION BY stratum ORDER BY user_id) - 1) % 4 AS BIGINT)
                 AS fold
        FROM groups
    )
    SELECT fold, g.stratum, COUNT(DISTINCT fm.user_id) AS n_groups
    FROM fm JOIN groups g USING (user_id)
    GROUP BY fold, g.stratum
    """,
)
def m02_stratified_group_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.ml.pipeline import assign_stratified_group_folds

    ev = load_table(spark, sf_dir, "events")
    folded = assign_stratified_group_folds(ev, "user_id", "event_type", k=4)
    strata = ev.groupBy("user_id").agg(F.min("event_type").alias("stratum"))
    return (
        folded.select("user_id", "fold")
        .distinct()
        .join(strata, "user_id")
        .groupBy(F.col("fold").cast("long").alias("fold"), "stratum")
        .agg(F.countDistinct("user_id").alias("n_groups"))
    )


# --------------------------------------------------------------------------
# m03 — per-group closed-form OLS (the classical baseline next to the
# GBM pipeline, reference training/imputation_model_pipeline.py's linear
# sanity fit): slope/intercept/R² of extendedprice on quantity per
# returnflag. ONE map-side-combinable hash aggregate of six decimal
# sufficient statistics — |groups| rows through the shuffle at any input
# size; the closed form is a fixed IEEE double chain both engines round
# identically.
from pm25ml_spark.ml.linreg import group_ols, ols_sql  # noqa: E402


@query(
    "m03_ols_by_flag",
    ols_sql("l_quantity", "l_extendedprice", ["l_returnflag"], "lineitem"),
)
def m03_ols_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return group_ols(li, "l_quantity", "l_extendedprice", ["l_returnflag"])


# --------------------------------------------------------------------------
# d07 — forward as-of with tolerance (J9's other direction): each view
# event's NEXT purchase within 2 h per user — pandas merge_asof
# (direction='forward', tolerance=...) / "time to conversion". Same
# union+window single-shuffle shape as d02's backward operator; the
# oracle pays a range join + min-aggregate only at oracle SF.
_D07_TOL_US = 7_200_000_000


@query(
    "d07_next_purchase_asof",
    f"""
    WITH v AS (
        SELECT user_id, event_id, epoch_us(ts) AS view_ts_us
        FROM events WHERE event_type = 'view'
    ),
    p AS (SELECT user_id, epoch_us(ts) AS pts FROM events
          WHERE event_type = 'purchase')
    SELECT v.user_id, v.event_id, v.view_ts_us,
           MIN(p.pts) AS next_purchase_us,
           MIN(p.pts) - v.view_ts_us AS delta_us
    FROM v LEFT JOIN p
      ON p.user_id = v.user_id
     AND p.pts >= v.view_ts_us
     AND p.pts <= v.view_ts_us + {_D07_TOL_US}
    GROUP BY v.user_id, v.event_id, v.view_ts_us
    """,
)
def d07_next_purchase_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", F.col("ts_us").alias("view_ts_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("pts")
    )
    out = asof_join_forward(
        views,
        purchases,
        key="user_id",
        left_ts="view_ts_us",
        right_ts="pts",
        payload=[],
        tolerance=_D07_TOL_US,
    )
    return out.select(
        "user_id",
        "event_id",
        "view_ts_us",
        F.col("asof_ts").alias("next_purchase_us"),
        (F.col("asof_ts") - F.col("view_ts_us")).alias("delta_us"),
    )


# --------------------------------------------------------------------------
# m04 — exact distributed ROC-AUC (M5's metric family at scale): the
# Mann-Whitney rank-sum identity with average ranks for ties,
#   AUC = (Σ_pos avg_rank − n_p(n_p+1)/2) / (n_p · n_n),
# computed WITHOUT a global sort: scores aggregate per distinct value
# (one map-side-combinable shuffle), then `operators/prefix.
# ordered_prefix_sum` — the row-pure two-pass bucket prefix sum — gives
# each score its count of strictly-smaller rows. No unpartitioned
# window anywhere, so the plan survives an unbounded score domain.
@query(
    "m04_roc_auc",
    """
    WITH s AS (
        SELECT ROUND(value, 2) AS sc,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        FROM events WHERE value IS NOT NULL
    ),
    g AS (SELECT sc, COUNT(*) AS n, SUM(p) AS np FROM s GROUP BY sc),
    c AS (
        SELECT sc, n, np,
               SUM(n) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) - n
                 AS cum_less
        FROM g
    ),
    t AS (
        SELECT
            CAST(SUM(CAST(CAST(np AS DOUBLE)
                          * (CAST(cum_less AS DOUBLE)
                             + (CAST(n AS DOUBLE) + 1) / 2)
                          AS DECIMAL(38,6))) AS DOUBLE) AS s_pos,
            CAST(SUM(np) AS BIGINT) AS n_pos,
            CAST(SUM(n) - SUM(np) AS BIGINT) AS n_neg
        FROM c
    )
    SELECT n_pos, n_neg,
           ROUND((s_pos - CAST(n_pos AS DOUBLE)
                          * (CAST(n_pos AS DOUBLE) + 1) / 2)
                 / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
             AS auc
    FROM t
    """,
)
def m04_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    s = ev.select(
        F.round("value", 2).alias("sc"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    g = s.groupBy("sc").agg(
        F.count(F.lit(1)).alias("n"), F.sum("p").alias("np")
    )
    c = ordered_prefix_sum(g, ["sc"], "n", "cum_n").withColumn(
        "cum_less", F.col("cum_n") - F.col("n")
    )
    nd = F.col("n").cast("double")
    term = F.col("np").cast("double") * (
        F.col("cum_less").cast("double") + (nd + 1) / 2
    )
    t = c.agg(
        F.sum(term.cast("decimal(38,6)")).cast("double").alias("s_pos"),
        F.sum("np").cast("bigint").alias("n_pos"),
        (F.sum("n") - F.sum("np")).cast("bigint").alias("n_neg"),
    )
    npd = F.col("n_pos").cast("double")
    return t.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("s_pos") - npd * (npd + 1) / 2)
            / (npd * F.col("n_neg").cast("double")),
            6,
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# d08 — SCD-2 validity intervals (slowly-changing-dimension type 2, the
# warehouse pattern for "attribute history as [from, to) ranges"): per
# user, consecutive runs of the same event_type collapse to one row with
# valid_from/valid_to timestamps (NULL valid_to = current). Classic
# gaps-and-islands by VALUE CHANGE (w09 sessionizes by time gap — the
# other islands axis). Two user-partitioned windows (change flag + next
# run's start) and one aggregate — per-key frames, nothing global.
@query(
    "d08_scd2_intervals",
    """
    WITH seq AS (
        SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts_us,
               CAST(SUM(is_change) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        FROM seq
    ),
    collapsed AS (
        SELECT user_id, run_id, MIN(event_type) AS event_type,
               MIN(ts_us) AS valid_from_us,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM runs GROUP BY user_id, run_id
    )
    SELECT user_id, run_id, event_type, valid_from_us,
           lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id)
             AS valid_to_us,
           n_events
    FROM collapsed
    """,
)
def d08_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    is_change = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    runs = ev.withColumn("is_change", is_change).withColumn(
        "run_id", F.sum("is_change").over(cum).cast("bigint")
    )
    collapsed = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts_us").alias("valid_from_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    nxt = Window.partitionBy("user_id").orderBy("run_id")
    return collapsed.select(
        "user_id",
        "run_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(nxt).alias("valid_to_us"),
        "n_events",
    )


# --------------------------------------------------------------------------
# m05 — calibration bins (reliability diagram, M5's metric family): a
# model score per vector vs the true label, bucketed into 10 equal-width
# score bins, each reporting count, mean predicted score, and observed
# positive fraction. A calibrated model has mean_score ≈ frac_pos per
# bin. Score = mean of 4 embedding dims (a linear stand-in evaluated
# identically in both engines: fixed left-assoc double chain, rounded);
# positives are labels >= 5. ONE hash aggregate — |bins| rows out, any
# input size in.
_M05_SCORE = (
    "ROUND((((CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE))"
    " + CAST(embedding[3] AS DOUBLE)) + CAST(embedding[4] AS DOUBLE))"
    " / 4, 6)"
)


@query(
    "m05_calibration_bins",
    f"""
    WITH scored AS (
        SELECT {_M05_SCORE} AS score,
               CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        FROM embeddings
    ),
    binned AS (
        SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin,
               score, pos
        FROM scored
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS frac_pos
    FROM binned GROUP BY bin
    """,
)
def m05_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = [F.element_at("embedding", i).cast("double") for i in (1, 2, 3, 4)]
    score = F.round((((e[0] + e[1]) + e[2]) + e[3]) / 4, 6)
    pos = F.when(F.col("label") >= 5, 1).otherwise(0)
    binned = emb.select(
        F.least(F.floor(score * 10).cast("bigint"), F.lit(9)).alias("bin"),
        score.alias("score"),
        pos.alias("pos"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.round(
            F.sum(F.col("score").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_score"),
        F.round(
            F.sum("pos").cast("double") / F.count(F.lit(1)), 6
        ).alias("frac_pos"),
    )


# --------------------------------------------------------------------------
# m06 — lift / gains table (the ranking-quality dual of m04's ROC-AUC):
# score-rank the population, cut into 10 deciles, and report each
# decile's positive rate vs the base rate (lift) plus the cumulative
# gain curve. The global rank comes from `operators/prefix.
# ordered_prefix_sum` of a literal 1 over (score DESC, vec_id) — the
# row-pure two-pass bucket pattern — so NO corpus-cardinality frame ever
# passes through one WindowExec; the only unpartitioned window runs over
# the 10 decile rows.
@query(
    "m06_lift_table",
    f"""
    WITH scored AS (
        SELECT vec_id, {_M05_SCORE} AS score,
               CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
        FROM embeddings
    ),
    ranked AS (
        SELECT pos,
               ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS rk,
               COUNT(*) OVER () AS n_total
        FROM scored
    ),
    deciles AS (
        -- explicit FLOOR: DuckDB CAST(double AS BIGINT) rounds half-even
        -- while Spark's cast truncates; floor is what both engines share
        SELECT CAST(FLOOR((rk - 1) * 10.0 / n_total) AS BIGINT) AS decile,
               pos, n_total
        FROM ranked
    ),
    per AS (
        SELECT decile, n_total, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM deciles GROUP BY decile, n_total
    ),
    tot AS (SELECT SUM(n_pos) AS tot_pos FROM per)
    SELECT decile, n, n_pos,
           ROUND((CAST(n_pos AS DOUBLE) / n)
                 / (CAST(tot_pos AS DOUBLE) / n_total), 6) AS lift,
           ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile
                                       ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / tot_pos, 6) AS cum_gain
    FROM per CROSS JOIN tot
    """,
)
def m06_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    emb = load_table(spark, sf_dir, "embeddings")
    e = [F.element_at("embedding", i).cast("double") for i in (1, 2, 3, 4)]
    score = F.round((((e[0] + e[1]) + e[2]) + e[3]) / 4, 6)
    pos = F.when(F.col("label") >= 5, 1).otherwise(0)
    scored = emb.select(
        "vec_id",
        (-score).alias("neg_score"),
        pos.alias("pos"),
        F.lit(1).cast("bigint").alias("__one"),
    )
    ranked = ordered_prefix_sum(
        scored, ["neg_score", "vec_id"], "__one", "rk"
    )
    n_total = emb.agg(F.count(F.lit(1)).alias("n_total"))
    per = (
        ranked.crossJoin(F.broadcast(n_total))
        .select(
            F.floor((F.col("rk") - 1) * 10.0 / F.col("n_total"))
            .cast("bigint")
            .alias("decile"),
            "pos",
            "n_total",
        )
        .groupBy("decile", "n_total")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
        )
    )
    tot = per.agg(F.sum("n_pos").alias("tot_pos"))
    cum = (
        Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n",
        "n_pos",
        F.round(
            (F.col("n_pos").cast("double") / F.col("n"))
            / (F.col("tot_pos").cast("double") / F.col("n_total")),
            6,
        ).alias("lift"),
        F.round(
            F.sum("n_pos").over(cum).cast("double") / F.col("tot_pos"), 6
        ).alias("cum_gain"),
    )


# --------------------------------------------------------------------------
# m07 — categorical target encoding, the feature-engineering staple for
# tree/GBM pipelines (M3's input prep): leave-one-out mean of the target
# per category (each row excluded from its own statistic — the standard
# leakage guard) plus an m=20 smoothed encoding that shrinks rare
# categories toward the global prior. One |categories|-row aggregate
# (map-side combinable) broadcast back over the fact table — zero
# shuffle of the event frame at any scale. Decimal sums keep the group
# statistics split-invariant, so the doubles divide bit-identically to
# the oracle.
_M07_M = 20


@query(
    "m07_target_encoding",
    f"""
    WITH v AS (
        SELECT event_id, event_type, value FROM events
        WHERE value IS NOT NULL
    ),
    g AS (
        SELECT event_type, COUNT(*) AS n, {dsum_expr('value')} AS s
        FROM v GROUP BY 1
    ),
    p AS (SELECT {davg_expr('value')} AS prior FROM v)
    SELECT v.event_id, v.event_type,
           CASE WHEN g.n > 1 THEN (g.s - v.value) / (g.n - 1)
                ELSE NULL END AS loo_enc,
           (g.s + {_M07_M} * p.prior) / (g.n + {_M07_M}) AS smooth_enc
    FROM v JOIN g USING (event_type) CROSS JOIN p
    """,
)
def m07_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted: g, p, and the final join are three independent
    # consumers (no cross-branch CSE) — one scan instead of three
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
        .persist()
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("s")
    )
    p = ev.agg(davg("value").alias("prior"))
    loo = F.when(
        F.col("n") > 1, (F.col("s") - F.col("value")) / (F.col("n") - 1)
    )
    smooth = (F.col("s") + F.lit(_M07_M) * F.col("prior")) / (
        F.col("n") + F.lit(_M07_M)
    )
    return (
        ev.join(F.broadcast(g), "event_type")
        .crossJoin(F.broadcast(p))
        .select(
            "event_id",
            "event_type",
            loo.alias("loo_enc"),
            smooth.alias("smooth_enc"),
        )
    )


# --------------------------------------------------------------------------
# m08 — classifier threshold sweep (the PR-curve / operating-point table
# every model gate needs before picking a deployment threshold;
# generalizes the reference's single-threshold metric gate,
# validators/metric.py). Score = frac(value) in [0,1) — a pure
# arithmetic feature, identical in both engines; label = purchase
# events. Shape: ONE corpus scan cross-joined with a broadcast 10-row
# threshold frame (constant fan-out), then a map-side-combinable
# aggregate keyed by threshold — 10 result rows at any scale, never a
# per-threshold re-scan. Precision/recall/F1 are single IEEE divisions
# over exact integer counts (deterministic in both engines), rounded
# 6 dp.
@query(
    "m08_threshold_sweep",
    """
    WITH s AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label,
               value - FLOOR(value) AS score
        FROM events WHERE value IS NOT NULL
    ),
    t AS (SELECT i / 10.0 AS thr FROM UNNEST(range(0, 10)) AS u(i)),
    c AS (
        SELECT t.thr,
               CAST(SUM(CASE WHEN s.score >= t.thr AND s.label = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN s.score >= t.thr AND s.label = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN s.score < t.thr AND s.label = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM s CROSS JOIN t GROUP BY t.thr
    )
    SELECT thr, tp, fp, fn,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall,
           ROUND(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0), 6)
             AS f1
    FROM c
    """,
)
def m08_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "label"
        ),
        (F.col("value") - F.floor(F.col("value"))).alias("score"),
    )
    thr = spark.range(0, 10).select((F.col("id") / 10.0).alias("thr"))
    hit = F.col("score") >= F.col("thr")
    c = (
        s.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit & (F.col("label") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when(hit & (F.col("label") == 0), 1).otherwise(0))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when(~hit & (F.col("label") == 1), 1).otherwise(0))
            .cast("bigint")
            .alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return c.select(
        "thr",
        "tp",
        "fp",
        "fn",
        F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 6).alias(
            "precision"
        ),
        F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 6).alias(
            "recall"
        ),
        F.round(
            (2 * tp).cast("double") / F.nullif(2 * tp + fp + fn, F.lit(0)), 6
        ).alias("f1"),
    )


# --------------------------------------------------------------------------
# d10 — hot-key join through the salting transform (operators/skew.py).
# event_type has 5 values over the whole corpus — the textbook logical
# hot key where a plain shuffled equi-join lands 20% of the fact table
# on ONE reducer and AQE can only split the probe side. salted_join
# fans each hot key over 8 (key, salt) sub-keys with the dimension side
# replicated 8-fold; the ORACLE is the plain join, so the driver hash
# proves the transform is semantics-preserving on real data, not just
# in unit tests. Dimension = per-type pure-arithmetic weights (derived,
# deterministic, no extra table needed).
@query(
    "d10_salted_hot_join",
    f"""
    WITH dim AS (
        SELECT DISTINCT event_type,
               LENGTH(event_type) AS type_wt
        FROM events
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           {dsum_expr('e.value * d.type_wt')} AS weighted_sum
    FROM events e JOIN dim d USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
    """,
)
def d10_salted_hot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    dim = ev.select(
        "event_type", F.length("event_type").alias("type_wt")
    ).distinct()
    joined = salted_join(ev, dim, on="event_type", n_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value") * F.col("type_wt")).alias("weighted_sum"),
    )


# --------------------------------------------------------------------------
# d11 — snapshot diff (CDC between two time-travel cutoffs): per-user
# latest STATE (the event_type of the most recent event) as of T1 vs
# as of T2, full-outer joined and classified added / removed /
# changed / same — the audit a pipeline runs after a backfill ("what
# did the new data actually change?") and the batch dual of txlog time
# travel. Scale shape: each snapshot is one user-keyed partitioned
# window (rn = 1 pick, no global frame), the diff is one user-keyed
# full-outer equi-join, and the result collapses to ≤ 4 classification
# rows with integer-exact summary columns (states are PICKED strings,
# never aggregated, so equality is engine-portable). 'removed' cannot
# occur here
# (T1 ⊂ T2 ⇒ snapshot-1 users are a subset) but the branch is kept —
# the operator is written for real CDC inputs where keys do disappear.
_D11_T1 = "2024-01-15 00:00:00"
_D11_T2 = "2024-01-31 00:00:00"


@query(
    "d11_snapshot_diff",
    f"""
    WITH r1 AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events
        WHERE ts < TIMESTAMP '{_D11_T1}'
    ),
    s1 AS (SELECT user_id, event_type AS v1 FROM r1 WHERE rn = 1),
    r2 AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events
        WHERE ts < TIMESTAMP '{_D11_T2}'
    ),
    s2 AS (SELECT user_id, event_type AS v2 FROM r2 WHERE rn = 1),
    diff AS (
        SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
               CASE WHEN s1.user_id IS NULL THEN 'added'
                    WHEN s2.user_id IS NULL THEN 'removed'
                    WHEN s1.v1 = s2.v2 THEN 'same'
                    ELSE 'changed' END AS change_type
        FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    )
    SELECT change_type, COUNT(*) AS n_users,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user
    FROM diff GROUP BY change_type
    """,
)
def d11_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def snapshot(cutoff: str, out: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.desc(F.unix_micros("ts")), F.desc("event_id")
        )
        return (
            ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias(out))
        )

    s1 = snapshot(_D11_T1, "v1").withColumnRenamed("user_id", "u1")
    s2 = snapshot(_D11_T2, "v2").withColumnRenamed("user_id", "u2")
    diff = s1.join(s2, s1.u1 == s2.u2, "full_outer").select(
        F.coalesce("u1", "u2").alias("user_id"),
        F.when(F.col("u1").isNull(), "added")
        .when(F.col("u2").isNull(), "removed")
        .when(F.col("v1") == F.col("v2"), "same")
        .otherwise("changed")
        .alias("change_type"),
    )
    return diff.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
    )


# --------------------------------------------------------------------------
# m09 — chi-squared independence test + Cramér's V (event_type ×
# day-of-week): the categorical-association screen a feature-selection
# pass runs before training. All sufficient statistics are integers
# (cell/margin counts); each cell's o²/(r·c) term is one identical
# double in both engines, rounded ONCE to integer nano-units, and
# χ² = N·(Σterm − 1) assembles in exact bigint arithmetic — the final
# /1e9 division is a single identical IEEE op, so no 6-dp round (and no
# grid-half ambiguity) is ever needed on χ² itself. Day-of-week derives
# from pure epoch arithmetic, not calendar functions, so both engines
# share one definition. Scale: one corpus aggregation; everything after
# is |R×C| rows.
@query(
    "m09_chi2_independence",
    """
    WITH cells AS (
        SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY 1),
    cm AS (SELECT dow, SUM(o) AS c FROM cells GROUP BY 1),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   COUNT(DISTINCT event_type) AS nr,
                   COUNT(DISTINCT dow) AS nc
            FROM cells),
    terms AS (
        SELECT CAST(ROUND(CAST(o * o AS DOUBLE) / (r * c) * 1000000000)
                    AS BIGINT) AS t_nano
        FROM cells JOIN rm USING (event_type) JOIN cm USING (dow)
    )
    SELECT n, nr AS r_levels, nc AS c_levels,
           CAST(n * ((SELECT SUM(t_nano) FROM terms) - 1000000000)
                AS BIGINT) / 1000000000.0 AS chi2,
           ROUND(SQRT((CAST(n * ((SELECT SUM(t_nano) FROM terms)
                                 - 1000000000) AS BIGINT) / 1000000000.0)
                      / (n * (LEAST(nr, nc) - 1))), 6) AS cramers_v
    FROM tot
    """,
)
def m09_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.expr("unix_micros(ts) div 86400000000") % 7
        ).alias("dow"),
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("o")
    )
    rm = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cm = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    terms = (
        cells.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "dow")
        .select(
            F.round(
                (F.col("o") * F.col("o")).cast("double")
                / (F.col("r") * F.col("c"))
                * 1_000_000_000,
                0,
            )
            .cast("long")
            .alias("t_nano"),
            "o",
            "event_type",
            "dow",
        )
    )
    agg = terms.agg(
        F.sum("t_nano").alias("s_nano"),
        F.sum("o").alias("n"),
        F.count_distinct("event_type").alias("r_levels"),
        F.count_distinct("dow").alias("c_levels"),
    )
    # n * (s_nano - 1e9), NOT n*s_nano - n*1e9: s_nano sits near 1e9
    # (sum of o^2/(r*c) terms ~ 1 + chi2/n), so the subtraction-first
    # form keeps the product near n*chi2/n_cells instead of n*1e9 —
    # Spark longs are non-ANSI and would silently wrap near n ~ 9e9.
    chi2_nano = F.col("n") * (F.col("s_nano") - F.lit(1_000_000_000))
    chi2 = chi2_nano.cast("bigint") / F.lit(1_000_000_000.0)
    return agg.select(
        "n",
        "r_levels",
        "c_levels",
        chi2.alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / (
                    F.col("n")
                    * (F.least("r_levels", "c_levels") - F.lit(1))
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# m10 — two-sample Kolmogorov-Smirnov drift statistic (click vs view
# value distributions): the feature-drift screen a training pipeline
# runs between data snapshots before retraining. Exact at any scale and
# engine-portable with NO rounding step: KS = max|F1 - F2| is computed
# as max|c1·n2 - c2·n1| over the merged support with the cross-
# multiplication carried in DECIMAL(38,0) (each factor is a bigint
# count, so the product can exceed 2^63 once each arm passes ~3e9
# events — Spark's non-ANSI bigint would wrap silently; decimal never
# does). d_num is reported as bigint, exact while n1·n2 < 2^63
# (c_i = cumulative counts at each distinct value, evaluated
# at value-group boundaries so ties never produce a phantom ECDF
# point), and the final /(n1·n2) is one identical IEEE division.
# Shape: corpus → per-value indicator aggregate, then the audited
# two-pass ordered_prefix_sum over the value order — both cumulative
# columns share ONE set of sampled split keys via the precomputed-
# bucket API, so the distributed prefix machinery samples once. No
# unpartitioned windows anywhere; the support frame is |distinct
# values| rows (≈ corpus for continuous features), which is exactly
# why the prefix sum, not a global window, carries the cumulation.
@query(
    "m10_ks_drift",
    """
    WITH s AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        FROM events
        WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2
        FROM s
    ),
    g AS (
        SELECT value, CAST(SUM(a) AS BIGINT) AS ga,
               CAST(SUM(b) AS BIGINT) AS gb
        FROM s GROUP BY 1
    ),
    c AS (
        SELECT value,
               CAST(SUM(ga) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ca,
               CAST(SUM(gb) OVER (ORDER BY value
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cb
        FROM g
    )
    SELECT n1, n2,
           CAST(MAX(ABS(CAST(ca AS DECIMAL(38,0)) * n2
                        - CAST(cb AS DECIMAL(38,0)) * n1)) AS BIGINT)
               AS d_num,
           CAST(MAX(ABS(CAST(ca AS DECIMAL(38,0)) * n2
                        - CAST(cb AS DECIMAL(38,0)) * n1)) AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks
    FROM c, tot
    GROUP BY n1, n2
    """,
)
def m10_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.prefix import ordered_prefix_sums

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    s = ev.select(
        "value",
        F.when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("a"),
        F.when(F.col("event_type") == "view", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("b"),
    )
    g = s.groupBy("value").agg(
        F.sum("a").alias("ga"), F.sum("b").alias("gb")
    )
    # BOTH cumulative columns in one shared pass (one persist, one
    # bucket-total aggregate, one window, one broadcast join — the
    # chained two-call spelling materialized the first prefix sum a
    # second time just to rank the second column over the same order)
    c2 = ordered_prefix_sums(g, ["value"], [("ga", "ca"), ("gb", "cb")])
    tot = F.broadcast(
        g.agg(
            F.sum("ga").cast("bigint").alias("n1"),
            F.sum("gb").cast("bigint").alias("n2"),
        )
    )
    # cross-multiply in DECIMAL(38,0): bigint·bigint wraps silently in
    # non-ANSI Spark once each arm exceeds ~3e9 events
    dec = "decimal(38,0)"
    d = (
        F.col("ca").cast(dec) * F.col("n2").cast(dec)
        - F.col("cb").cast(dec) * F.col("n1").cast(dec)
    )
    return (
        c2.join(tot)
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(d)).cast("bigint").alias("d_num"),
            (
                F.max(F.abs(d)).cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("ks"),
        )
    )


# --------------------------------------------------------------------------
# m11 — exact Spearman rank correlation between a user's event ORDER
# and event VALUE (the per-entity monotonic-trend screen — "is this
# user's engagement drifting up or down" — that a feature store
# publishes next to EWMA). Entirely integer until one final division:
# both rankings are row_number() over the shared tie-broken orders
# ((ts, event_id) and (value, event_id)), d = rank difference, and
# rs = 1 − 6·Σd² / (n·(n²−1)) has an exact bigint numerator. Windows
# are user-partitioned (many users ⇒ parallel sorts, audit-clean).
# Users with a single ranked event have an undefined rs and are
# excluded (n > 1).
@query(
    "m11_spearman_trend",
    """
    WITH r AS (
        SELECT user_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value, event_id) AS rv
        FROM events WHERE value IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n,
           CAST(SUM((rt - rv) * (rt - rv)) AS BIGINT) AS d2,
           1.0 - CAST(6 * SUM((rt - rv) * (rt - rv)) AS DOUBLE)
                 / (COUNT(*) * (COUNT(*) * COUNT(*) - 1)) AS rho
    FROM r
    GROUP BY user_id
    HAVING COUNT(*) > 1
    """,
)
def m11_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    wt = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    wv = Window.partitionBy("user_id").orderBy("value", "event_id")
    d = F.row_number().over(wt) - F.row_number().over(wv)
    r = ev.select("user_id", (d * d).cast("bigint").alias("dd"))
    n = F.count(F.lit(1))
    return (
        r.groupBy("user_id")
        .agg(
            n.alias("n"),
            F.sum("dd").cast("bigint").alias("d2"),
            (
                F.lit(1.0)
                - (6 * F.sum("dd")).cast("double")
                / (n * (n * n - F.lit(1)))
            ).alias("rho"),
        )
        .filter(F.col("n") > 1)
    )
