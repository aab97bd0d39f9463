"""Authoritative schemas.

``WEATHER_SCHEMA`` transcribes the reference's hand-written BigQuery schema
(``/root/reference/schema.json:1-208``) field-by-field: every field NULLABLE,
RECORD -> StructType, FLOAT -> DoubleType, INTEGER -> LongType (BigQuery
INT64), DATE -> DateType. It is the single source of truth — ingestion uses
``spark.read.schema(WEATHER_SCHEMA)``; nothing is inferred (SURVEY.md 1.3).

``RAW_API_SCHEMA`` is the upstream OpenWeather payload shape consumed by the
clean/flatten operator (``/root/reference/Load-Data-From-API/main.py:79-143``):
note ``weather`` is an *array* there, of which only element [0] survives, and
several fields are renamed (``RAW_NAMES``: lon->longitude, deg->degree,
grnd_level->ground_level, 1h/3h->rain_1h/rain_3h etc.).

``LOG_SCHEMA`` is the structured op-log record: the MESSAGE_DATA template
(``Load-Data-From-API/main.py:32-38``) plus the fields each function adds at
publish time (``main.py:192-204``, ``Load-gcs-to-bq/main.py:96-107``,
``Cleanup-job/main.py:49-61``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _s(name: str, dtype) -> StructField:  # all reference fields are NULLABLE
    return StructField(name, dtype, nullable=True)


#: schema.json:2-18
_COORDINATE = StructType([_s("longitude", DoubleType()), _s("latitude", DoubleType())])
#: schema.json:19-40 (post-clean: single struct, array head already taken)
_WEATHER = StructType(
    [_s("id", LongType()), _s("main", StringType()), _s("description", StringType())]
)
#: schema.json:46-92
_MAIN = StructType(
    [
        _s("temp", DoubleType()),
        _s("feels_like", DoubleType()),
        _s("pressure", LongType()),
        _s("humidity", LongType()),
        _s("temp_min", DoubleType()),
        _s("temp_max", DoubleType()),
        _s("sea_level", LongType()),
        _s("ground_level", LongType()),
    ]
)
#: schema.json:99-119
_WIND = StructType(
    [_s("speed", DoubleType()), _s("degree", LongType()), _s("gust", DoubleType())]
)
#: schema.json:120-131
_CLOUDS = StructType([_s("all", LongType())])
#: schema.json:132-148
_RAIN = StructType([_s("rain_1h", DoubleType()), _s("rain_3h", DoubleType())])
#: schema.json:149-165
_SNOW = StructType([_s("snow_1h", DoubleType()), _s("snow_3h", DoubleType())])
#: schema.json:176-197
_SYS = StructType(
    [_s("country", StringType()), _s("sunrise", LongType()), _s("sunset", LongType())]
)

#: The cleaned hourly row (schema.json:1-208).
WEATHER_SCHEMA = StructType(
    [
        _s("coordinate", _COORDINATE),
        _s("weather", _WEATHER),
        _s("base", StringType()),
        _s("main", _MAIN),
        _s("visibility", LongType()),
        _s("wind", _WIND),
        _s("clouds", _CLOUDS),
        _s("rain", _RAIN),
        _s("snow", _SNOW),
        _s("dt", DateType()),
        _s("current_time", StringType()),
        _s("sys", _SYS),
        _s("timezone", LongType()),
        _s("name", StringType()),
    ]
)

#: The reference's P2 renames (Load-Data-From-API/main.py:85-86,105,112,
#: 121-127): a WEATHER_SCHEMA field name -> the RAW_API_SCHEMA name it is
#: read from. Every other field keeps its name.
RAW_NAMES = {
    "coordinate": "coord",
    "longitude": "lon",
    "latitude": "lat",
    "ground_level": "grnd_level",
    "degree": "deg",
    "rain_1h": "1h",
    "rain_3h": "3h",
    "snow_1h": "1h",
    "snow_3h": "3h",
}

#: Upstream OpenWeather current-weather payload, pre-clean
#: (field names as served by the API; Load-Data-From-API/main.py:82-143).
RAW_API_SCHEMA = StructType(
    [
        _s("coord", StructType([_s("lon", DoubleType()), _s("lat", DoubleType())])),
        _s(
            "weather",
            ArrayType(
                StructType(
                    [
                        _s("id", LongType()),
                        _s("main", StringType()),
                        _s("description", StringType()),
                    ]
                )
            ),
        ),
        _s("base", StringType()),
        _s(
            "main",
            StructType(
                [
                    _s("temp", DoubleType()),
                    _s("feels_like", DoubleType()),
                    _s("pressure", LongType()),
                    _s("humidity", LongType()),
                    _s("temp_min", DoubleType()),
                    _s("temp_max", DoubleType()),
                    _s("sea_level", LongType()),
                    _s("grnd_level", LongType()),
                ]
            ),
        ),
        _s("visibility", LongType()),
        _s(
            "wind",
            StructType(
                [_s("speed", DoubleType()), _s("deg", LongType()), _s("gust", DoubleType())]
            ),
        ),
        _s("clouds", _CLOUDS),
        _s("rain", StructType([_s("1h", DoubleType()), _s("3h", DoubleType())])),
        _s("snow", StructType([_s("1h", DoubleType()), _s("3h", DoubleType())])),
        _s("dt", LongType()),  # epoch seconds in the API; re-stamped on ingest
        _s("sys", _SYS),
        _s("timezone", LongType()),
        _s("name", StringType()),
    ]
)

#: The daily rollup output (sp_raw_to_transformed_create_weather_data_query.sql:3-21).
DAILY_SCHEMA = StructType(
    [
        _s("avg_temp", DoubleType()),
        _s("max_temp", DoubleType()),
        _s("min_temp", DoubleType()),
        _s("feels_like", DoubleType()),
        _s("avg_pressure", DoubleType()),
        _s("max_pressure", DoubleType()),
        _s("min_pressure", DoubleType()),
        _s("avg_humidity", DoubleType()),
        _s("max_humidity", DoubleType()),
        _s("min_humidity", DoubleType()),
        _s("avg_cloud_coverage", DoubleType()),
        _s("max_cloud_coverage", DoubleType()),
        _s("min_cloud_coverage", DoubleType()),
        _s("max_rain_1h", DoubleType()),
        _s("max_rain_3h", DoubleType()),
        _s("dt", DateType()),
        _s("month", LongType()),
        _s("till_time", StringType()),
    ]
)

#: Structured op-log record (MESSAGE_DATA + publish-time fields).
LOG_SCHEMA = StructType(
    [
        _s("project", StringType()),
        _s("service", StringType()),
        _s("process", StringType()),
        _s("runtime", StringType()),  # "yyyyMMdd-HH:mm:ss"
        _s("log_type", StringType()),  # api-logging | bq-load-logging | bq-cleanup-logging
        _s("message_type", StringType()),  # success | error (partition col)
        _s("file_name", StringType()),
        _s("gcs_uri", StringType()),
        _s("bq_uri", StringType()),
        _s("message", StringType()),
    ]
)
