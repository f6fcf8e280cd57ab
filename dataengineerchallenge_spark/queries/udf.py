"""Registered queries exercising the Python UDF surface (SURVEY.md
§2.10 D1-D5). Every entry has a DuckDB twin: the UDFs compute
SQL-checkable math precisely so the Arrow exchange itself is under the
correctness gate, not just trusted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineerchallenge_spark.functions.udfs import (
    ENRICH_SCHEMA,
    TREND_SCHEMA,
    enrich_batches,
    fit_user_trend,
    make_word_count_udtf,
    sigmoid_score,
    trimmed_mean_10,
)
from dataengineerchallenge_spark.registry import register
from dataengineerchallenge_spark.sources.tables import load_table


@register(
    "udf_sigmoid_scores",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS event_id,
           round(1.0 / (1.0 + exp(-(value - 5.0))), 4) AS score
    FROM events
    """,
)
def udf_sigmoid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: Arrow scalar pandas UDF (numpy logistic kernel)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.round(sigmoid_score("value"), 4).alias("score"),
    )


@register(
    "udf_trimmed_mean",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             count(*)     OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type, round(avg(value), 4) AS trimmed_mean
    FROM ranked
    WHERE rn > n // 10 AND rn <= n - n // 10
    GROUP BY event_type
    """,
)
def udf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: grouped-agg pandas UDF — 10% trimmed mean per event type
    (no built-in aggregate trims by rank)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(trimmed_mean_10("value"), 4).alias("trimmed_mean")
    )


@register(
    "udf_user_trend",
    oracle="""
    WITH pts AS (
      SELECT CAST(user_id AS VARCHAR) AS user_id, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
             CAST(floor(epoch(ts)) AS BIGINT)
               - min(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id) AS xc
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n,
           round(coalesce(regr_slope(value, xc), 0.0) * 3600.0, 4) + 0.0 AS slope_per_hour,
           round(coalesce(regr_intercept(value, xc), avg(value)), 4) + 0.0 AS intercept
    FROM pts
    GROUP BY user_id
    """,
)
def udf_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: applyInPandas per-user OLS trend of event value over time
    (x centered per group for conditioning; slope scaled to per-hour so
    ROUND(4) is far from the float boundary). Spark's ROUND goes
    through BigDecimal, so a tiny negative fit rounds to 0.0; DuckDB's
    keeps the sign (-0.0), so the oracle adds 0.0 after its ROUND."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    # pin the grouping exchange at full shuffle width: AQE's byte-based
    # coalescing sees a tiny shuffle and folds it to ONE partition, which
    # serializes every group through a single Python worker (measured
    # 4.2s -> 1.2s at sf0.1). repartition(N, key) satisfies the groupBy's
    # required distribution, so no second shuffle is added at any scale —
    # Python-stage cost is CPU-bound, not byte-bound, so byte-based
    # coalescing is the wrong heuristic here.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fitted = (
        ev.repartition(n_shuffle, "user_id")
        .groupBy("user_id")
        .applyInPandas(fit_user_trend, TREND_SCHEMA)
    )
    return fitted.select(
        "user_id",
        "n",
        F.round("slope_per_hour", 4).alias("slope_per_hour"),
        F.round("intercept", 4).alias("intercept"),
    )


@register(
    "udf_event_enrich",
    oracle="""
    SELECT CAST(event_id AS VARCHAR) AS event_id,
           isodow(ts)::INT AS dow,
           least(CAST(floor(value / 2.0) AS INT), 4) AS value_bucket,
           round(ln(1.0 + value), 4) AS log1p_value
    FROM events
    """,
)
def udf_event_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: mapInPandas iterator enrichment (ISO weekday, bucket, log1p)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    out = ev.mapInPandas(enrich_batches, ENRICH_SCHEMA)
    return out.select(
        "event_id", "dow", "value_bucket", F.round("log1p_value", 4).alias("log1p_value")
    )


@register(
    "udf_word_counts",
    oracle="""
    SELECT w AS word, CAST(count(*) AS BIGINT) AS total_n
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
    """,
)
def udf_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: Python UDTF — per-doc (word, count) rows via a lateral join,
    summed to corpus frequencies."""
    docs = load_table(spark, sf_dir, "documents")
    WordCounts = make_word_count_udtf()
    spark.udtf.register("word_counts", WordCounts)
    docs.createOrReplaceTempView("_udtf_docs")
    per_doc = spark.sql(
        "SELECT w.word, w.n FROM _udtf_docs d, LATERAL word_counts(d.doc_id, d.text) w"
    )
    return per_doc.groupBy("word").agg(F.sum("n").cast("long").alias("total_n"))


@register(
    "udf_cogroup_asof_gap",
    oracle="""
WITH tagged AS (
    SELECT user_id, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ats,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
           CASE WHEN event_type = 'view' THEN CAST(floor(epoch(ts)) AS BIGINT) END
               AS view_ts
    FROM events WHERE event_type IN ('purchase', 'view')
), filled AS (
    SELECT *,
           last_value(view_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ats, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_ts
    FROM tagged
)
SELECT event_id, user_id,
       ats - last_view_ts AS gap_s
FROM filled WHERE side = 1
""",
)
def udf_cogroup_asof_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3+ cogroup.applyInPandas: purchases and views cogrouped per user,
    matched as-of inside one pandas call per key — the two-frame grouped
    map for per-entity alignment logic (feature joins, trajectory
    stitching) that a single-frame applyInPandas can't see both sides of.
    Same oracle as purchase_after_view_gap: the cogroup route must
    reproduce the window-function as-of join bit for bit."""
    from dataengineerchallenge_spark.functions.udfs import (
        COGROUP_ASOF_SCHEMA,
        asof_match_groups,
    )

    ev = load_table(spark, sf_dir, "events").withColumn("ts_s", F.unix_timestamp("ts"))
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_s")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts_s")
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        purchases.repartition(n_shuffle, "user_id")
        .groupBy("user_id")
        .cogroup(views.repartition(n_shuffle, "user_id").groupBy("user_id"))
        .applyInPandas(asof_match_groups, COGROUP_ASOF_SCHEMA)
    )
