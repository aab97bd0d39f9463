"""Golden tests for the clean/flatten operator and the flagship daily
rollup — the semantics of clean_weather_data (Load-Data-From-API/
main.py:79-143) and the stored procedures (sp_...create/update...sql)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from weather_data_ingestion_gcp_spark.operators.clean import clean_weather
from weather_data_ingestion_gcp_spark.operators.rollup import daily_rollup
from weather_data_ingestion_gcp_spark.schemas import DAILY_SCHEMA, WEATHER_SCHEMA


def test_clean_weather_shapes_and_renames(raw_api_df):
    out = clean_weather(
        raw_api_df,
        ingest_date=F.lit("2022-07-03").cast("date"),
        ingest_time=F.lit("14:00:05"),
    )
    # same names and types; nullability may be stricter (non-null) on the
    # computed side — storage round-trips normalize it to nullable
    assert out.schema.simpleString() == WEATHER_SCHEMA.simpleString()
    row = out.collect()[0]
    # renames: lon->longitude, lat->latitude (main.py:85-86)
    assert row.coordinate.longitude == 87.07 and row.coordinate.latitude == 23.25
    # array head only (P3, main.py:90-92)
    assert row.weather.id == 802 and row.weather.main == "Clouds"
    # deg->degree (main.py:112), grnd_level->ground_level (main.py:105)
    assert row.wind.degree == 210 and row.main.ground_level is None
    # null-safe nested access: absent rain/snow structs -> null fields (P1)
    assert row.rain.rain_1h is None and row.snow.snow_1h is None
    # stamped ingest date/time (P4)
    assert row.dt == dt.date(2022, 7, 3) and row.current_time == "14:00:05"


def test_clean_weather_null_struct_propagation(spark):
    from tests.conftest import raw_api_payload

    payload = raw_api_payload(coord=None, wind=None, weather=[])
    from weather_data_ingestion_gcp_spark.schemas import RAW_API_SCHEMA

    out = clean_weather(
        spark.createDataFrame([payload], RAW_API_SCHEMA),
        ingest_date=F.lit("2022-07-03").cast("date"),
        ingest_time=F.lit("14:00:05"),
    ).collect()[0]
    assert out.coordinate.longitude is None
    assert out.wind.speed is None
    assert out.weather.id is None  # empty array -> element_at -> null


def test_daily_rollup_plans_no_sort(hourly_df):
    """The rollup feeds a partitioned write: a global ORDER BY would add a
    range-sampling job and a range-partitioning shuffle to every refresh."""
    plan = daily_rollup(hourly_df)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_daily_rollup_semantics(hourly_df):
    out = daily_rollup(hourly_df)
    assert [f.name for f in out.schema.fields] == [f.name for f in DAILY_SCHEMA.fields]
    rows = {r.dt: r for r in out.collect()}
    assert len(rows) == 3

    d1 = rows[dt.date(2022, 7, 1)]
    d2 = rows[dt.date(2022, 7, 2)]
    d3 = rows[dt.date(2022, 7, 3)]

    # EOD rule (F4): full days end 23:00:05 > '23:00:00' -> EOD; the
    # partial day ends 14:00:05 -> till_time is the raw max time
    assert d1.till_time == "EOD" and d2.till_time == "EOD"
    assert d3.till_time == "14:00:05"

    # Kelvin -> Celsius (F1) + ROUND 2dp (F2): day-3 hours 0..14, temp
    # = 297.15 + (h%12)*0.5 K; mean over h of (h%12)*0.5 for h=0..14
    temps_c = [24.0 + (h % 12) * 0.5 for h in range(15)]
    assert d3.avg_temp == round(sum(temps_c) / len(temps_c), 2)
    assert d3.max_temp == round(max(temps_c) + 1.0, 2)
    assert d3.min_temp == round(min(temps_c) - 1.0, 2)

    # null-ignoring MAX over mostly-null rain (A3): only day 2 rained
    assert d1.max_rain_1h is None and d3.max_rain_1h is None
    assert d2.max_rain_1h == 0.5 + 23 * 0.1 and d2.max_rain_3h == 1.5

    # month from group key (F3)
    assert d1.month == 7

    # integer-valued FLOAT64 rounding (F2): ROUND(AVG(pressure))
    pressures = [1000 + h % 7 for h in range(24)] * 1  # day 2 full
    assert d2.avg_pressure == float(round(sum(pressures) / len(pressures)))
    assert d2.max_pressure == float(max(pressures))


def test_daily_rollup_matches_duckdb_oracle(spark, hourly_df):
    """The rollup vs an independent engine on the same rows — the §5 golden
    equivalence, run over the weather-domain fixture."""
    import duckdb

    pdf = hourly_df.select(
        F.col("main.temp").alias("temp"),
        F.col("main.temp_min").alias("temp_min"),
        F.col("main.temp_max").alias("temp_max"),
        F.col("main.pressure").alias("pressure"),
        F.col("clouds.all").alias("cloud_all"),
        F.col("rain.rain_1h").alias("rain_1h"),
        "dt",
        "current_time",
    ).toPandas()
    con = duckdb.connect()
    con.register("wdh", pdf)
    expected = {
        r[0]: r
        for r in con.execute(
            """
            SELECT dt, ROUND(AVG(temp - 273.15), 2), ROUND(MAX(temp_max - 273.15), 2),
                   ROUND(AVG(pressure)), MAX(rain_1h),
                   CASE WHEN MAX(current_time) > '23:00:00' THEN 'EOD'
                        ELSE MAX(current_time) END
            FROM wdh GROUP BY dt
            """
        ).fetchall()
    }
    got = daily_rollup(hourly_df).collect()
    assert len(got) == len(expected)
    for r in got:
        e = expected[r.dt]
        assert (r.avg_temp, r.max_temp, r.avg_pressure, r.max_rain_1h, r.till_time) == (
            e[1],
            e[2],
            e[3],
            e[4],
            e[5],
        )
