"""Clean/flatten operator: raw OpenWeather payload -> typed hourly row.

Replaces the reference's imperative per-field rebuild
(``clean_weather_data``, ``Load-Data-From-API/main.py:79-143``) with a single
declarative ``select()`` generated from ``WEATHER_SCHEMA``, so the target
field order is spelled once. Spark struct field access is already
null-propagating, so the ~45 lines of ``x.get('a').get('b') if x.get('a')
else None`` chains (P1) collapse into plain field references; the renames
(P2: lon->longitude, lat->latitude, deg->degree, grnd_level->ground_level,
1h/3h->rain_1h/rain_3h/snow_1h/snow_3h; main.py:85-86,105,112,121-127) are
one map, ``schemas.RAW_NAMES``; the weather-array head extraction (P3,
main.py:90-92) becomes ``try_element_at(weather, 1)``; the ingest-date/time
stamping (P4, main.py:16-19,131-132) becomes current_date()/date_format() in
the pipeline's timezone (Asia/Kolkata in the reference, main.py:14).

Whole thing stays inside whole-stage codegen — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..schemas import RAW_NAMES, WEATHER_SCHEMA

#: Reference pins ingest timestamps to Asia/Kolkata (main.py:14-19).
PIPELINE_TZ = "Asia/Kolkata"


def _ingest_date() -> Column:
    # main.py:17 — dt = now(tz).strftime("%Y-%m-%d")
    return F.to_date(F.from_utc_timestamp(F.current_timestamp(), PIPELINE_TZ))


def _ingest_time() -> Column:
    # main.py:18 — current_time = now(tz).strftime("%H:%M:%S") (zero-padded;
    # the daily rollup's lexicographic MAX / EOD rule depends on this format)
    return F.date_format(F.from_utc_timestamp(F.current_timestamp(), PIPELINE_TZ), "HH:mm:ss")


def _read(field: StructField, src: str) -> str:
    """SQL that reads the cleaned ``field`` from the raw expression
    ``src``; a struct is rebuilt member by member under its cleaned
    names."""
    if not isinstance(field.dataType, StructType):
        return src
    members = (
        f"'{f.name}', {_read(f, f'{src}.`{RAW_NAMES.get(f.name, f.name)}`')}"
        for f in field.dataType.fields
    )
    return f"named_struct({', '.join(members)})"


def clean_weather(
    raw: DataFrame,
    ingest_date: Column | None = None,
    ingest_time: Column | None = None,
) -> DataFrame:
    """Shape a RAW_API_SCHEMA DataFrame into WEATHER_SCHEMA.

    ``ingest_date``/``ingest_time`` default to "now" in the pipeline
    timezone, matching the reference; tests inject literals for determinism
    (the reference cannot be tested this way at all — SURVEY.md section 5).
    """
    # P4: the ingest stamps replace the payload's own dt
    stamps = {
        "dt": ingest_date if ingest_date is not None else _ingest_date(),
        "current_time": ingest_time if ingest_time is not None else _ingest_time(),
    }
    # P3: only weather[0] is kept; try_ variant: the reference null-guards
    # the empty-array case (`if weather_data.get('weather') else None`) and
    # ANSI element_at would throw instead
    sources = {"weather": "try_element_at(`weather`, 1)"}
    shaped = raw.select(
        *[
            stamps[f.name]
            if f.name in stamps
            else F.expr(_read(f, sources.get(f.name, f"`{RAW_NAMES.get(f.name, f.name)}`")))
            for f in WEATHER_SCHEMA.fields
        ]
    )
    # positional names (one call; a Column alias costs ~a dozen py4j
    # round trips), then the exact target nullability (schema.json:
    # everything NULLABLE) — named_struct() is otherwise marked non-null
    return shaped.toDF(*WEATHER_SCHEMA.names).to(WEATHER_SCHEMA)
