"""UDF-surface invariants (D1-D5): Arrow-path results must equal the
JVM built-in equivalents where those exist."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from dataengineerchallenge_spark.functions.udfs import sigmoid_score
from dataengineerchallenge_spark.registry import queries
from dataengineerchallenge_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_scalar_udf_equals_builtin_expr(spark):
    """D1 sigmoid UDF == the pure-SQL logistic expression."""
    ev = load_table(spark, SF_DIR, "events").limit(500)
    both = ev.select(
        sigmoid_score("value").alias("udf"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 5.0)))).alias("builtin"),
    ).collect()
    assert all(math.isclose(r["udf"], r["builtin"], rel_tol=1e-12) for r in both)


def test_trimmed_mean_between_min_and_max(spark, qs):
    ev = load_table(spark, SF_DIR, "events")
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in ev.groupBy("event_type").agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()
    }
    for r in qs["udf_trimmed_mean"](spark, SF_DIR).collect():
        lo, hi = bounds[r["event_type"]]
        assert lo <= r["trimmed_mean"] <= hi


def test_user_trend_matches_builtin_regr(spark, qs):
    """D3 numpy lstsq == Spark's own regr_slope/regr_intercept built-ins
    on centered x (the 1-feature special case)."""
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    from pyspark.sql import Window

    xc = F.col("ts_s") - F.min("ts_s").over(Window.partitionBy("user_id"))
    builtin = (
        ev.withColumn("xc", xc)
        .groupBy("user_id")
        .agg(
            F.round(F.regr_slope("value", "xc") * 3600.0, 4).alias("slope_per_hour"),
            F.round(F.regr_intercept("value", "xc"), 4).alias("intercept"),
        )
    )
    b = {str(r["user_id"]): (r["slope_per_hour"], r["intercept"]) for r in builtin.collect()}
    for r in qs["udf_user_trend"](spark, SF_DIR).collect():
        bs, bi = b[r["user_id"]]
        assert abs(r["slope_per_hour"] - bs) <= 1e-3
        assert abs(r["intercept"] - bi) <= 1e-3


def test_udtf_word_counts_equal_explode_plan(spark, qs):
    docs = load_table(spark, SF_DIR, "documents")
    builtin = {
        (r["word"], r["total_n"])
        for r in docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("total_n"))
        .collect()
    }
    udtf = {(r["word"], r["total_n"]) for r in qs["udf_word_counts"](spark, SF_DIR).collect()}
    assert udtf == builtin


def test_enrich_propagates_nulls(spark):
    """D4 NULL discipline: NULL value/ts produce NULL features, never
    garbage ints from NaN casts."""
    from dataengineerchallenge_spark.functions.udfs import ENRICH_SCHEMA, enrich_batches

    df = spark.createDataFrame(
        [("1", 1700000000, 3.4), ("2", 1700000000, None), ("3", None, 1.0)],
        "event_id string, ts_s long, value double",
    )
    out = {r["event_id"]: r for r in df.mapInPandas(enrich_batches, ENRICH_SCHEMA).collect()}
    assert out["1"]["value_bucket"] == 1 and out["1"]["dow"] is not None
    assert out["2"]["value_bucket"] is None and out["2"]["log1p_value"] is None
    assert out["3"]["dow"] is None


def test_user_trend_zero_fits_are_positive_zero_in_query_and_oracle(spark, qs, tmp_path):
    """A tiny negative slope or intercept rounds to zero. The query and
    its DuckDB oracle must both return 0.0, not -0.0: the two render
    differently in the oracle check. copysign sees the sign bit that
    ``== 0.0`` cannot, so an optimizer folding the oracle's ``+ 0.0``
    away would fail here."""
    from datetime import datetime, timedelta

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataengineerchallenge_spark.functions.udfs import fit_user_trend
    from dataengineerchallenge_spark.registry import oracle_sql

    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [  # (user_id, seconds after t0, value)
        (1, 0, 1.0), (1, 3600, 1.0 - 1e-9),      # slope -1e-9 per hour
        (2, 0, -1e-9), (2, 3600, -1e-9),         # intercept -1e-9
        (3, 0, 1.0), (3, 3600, 2.0),             # an ordinary fit
    ]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([t0 + timedelta(seconds=s) for _, s, _ in rows], pa.timestamp("us")),
        "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows)),
        "value": pa.array([v for _, _, v in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows)),
    }), tmp_path / "events.parquet")

    def fit(u):
        pts = [(s, v) for uu, s, v in rows if uu == u]
        return fit_user_trend(pd.DataFrame({
            "user_id": [u] * len(pts), "ts_s": [s for s, _ in pts], "value": [v for _, v in pts],
        })).iloc[0]

    assert -1e-4 < fit(1)["slope_per_hour"] < 0.0
    assert -1e-4 < fit(2)["intercept"] < 0.0

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    oracle = con.sql(oracle_sql()["udf_user_trend"]).fetchall()
    spark_rows = qs["udf_user_trend"](spark, str(tmp_path)).collect()
    for side, got in (("spark", [tuple(r) for r in spark_rows]), ("duckdb", oracle)):
        by_user = {u: (slope, icpt) for u, _n, slope, icpt in got}
        assert set(by_user) == {"1", "2", "3"}, side
        assert by_user["3"] == (1.0, 1.0), side
        for u, vals in by_user.items():
            assert all(math.copysign(1.0, v) == 1.0 for v in vals), (side, u, vals)
