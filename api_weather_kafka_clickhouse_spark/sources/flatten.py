"""Nested weather payload → flat 22-column fact rows.

Replaces the reference's hand-written extraction
(app/clickhouse_db.py:43-84 — SURVEY.md §2-A14..A18) with one
declarative select over `from_json`:

- `from_json(value, WEATHER_RAW_SCHEMA)` supersedes json.loads +
  per-field dict.get (A14);
- struct/array access + coalesce defaults reproduce the defensive
  `get(..., 0/'')` semantics exactly (A15/A16);
- epoch → timestamp for sunrise/sunset, NULL when absent — fixing the
  reference's non-nullable DateTime bug (§1.4);
- ingest-time audit columns stamped as UTC instants (A18), not
  Moscow wall time (§1.4).

Everything is built-in expressions inside whole-stage codegen — this
flattening runs at Kafka-source line rate on a real cluster.
"""

from __future__ import annotations

import operator
from decimal import Decimal
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schemas import FACT_COLUMNS, WEATHER_RAW_SCHEMA


def parse_raw(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Bytes/string JSON → typed `raw` struct column. Corrupt JSON →
    NULL struct (the reference logs-and-drops, Consumer:174-175;
    callers filter `raw IS NULL` to match).

    from_json alone maps corrupt input to an all-null struct, not a
    NULL — `try_parse_json` (variant) supplies the syntactic validity
    gate so callers get a clean NULL to filter on.

    Deliberately TWO parses (reviewed and kept): the single-parse
    alternative — PERMISSIVE from_json with columnNameOfCorruptRecord
    — flags rows with field-level TYPE mismatches as corrupt too,
    but the contract (SURVEY §1.3) drops only syntactically invalid
    JSON and keeps mismatched fields as NULL→default. Only
    try_parse_json distinguishes the two cases.

    Out-of-range numbers get the same NULL→default rule, so no
    well-formed message stops ingest: from_json NULLs what the raw
    type cannot hold (``humidity = 3e10``), _num/_epoch_ts what the
    fact type cannot (``wind.gust = 100.5`` for decimal(4,2), an epoch
    past year 9999). ``out_of_range`` flags the rows they defaulted.
    """
    value = F.col(value_col).cast("string")
    return df.withColumn(
        "raw",
        F.when(
            F.try_parse_json(value).isNotNull(),
            F.from_json(value, WEATHER_RAW_SCHEMA),
        ),
    )


# TimestampType's range, 0001-01-01 to 9999-12-31T23:59:59, in epoch s
_EPOCH_RANGE = (-62135596800, 253402300799)


def _num(path: str, out_type: str, default: int = 0) -> Column:
    # try_cast: out of range -> NULL -> default
    return F.coalesce(F.col(path).try_cast(out_type), F.lit(default).cast(out_type))


def _epoch_ts(path: str) -> Column:
    # NULL or out of range -> NULL (nullable TimestampType — §1.4
    # fix). timestamp_seconds converts directly; the from_unixtime →
    # to_timestamp round-trip formatted every value through a
    # session-timezone string for the same result
    return F.when(F.col(path).between(*_EPOCH_RANGE), F.timestamp_seconds(F.col(path)))


# fact column -> (payload path, fact type), and -> epoch payload path
_NUM_COLUMNS = {
    "timezone": ("timezone", "int"),
    "longitude": ("coord.lon", "float"),
    "latitude": ("coord.lat", "float"),
    "temperature": ("main.temp", "decimal(5,2)"),
    "feels_like": ("main.feels_like", "decimal(5,2)"),
    "temp_min": ("main.temp_min", "decimal(5,2)"),
    "temp_max": ("main.temp_max", "decimal(5,2)"),
    "pressure": ("main.pressure", "int"),
    "humidity": ("main.humidity", "int"),
    "visibility": ("visibility", "int"),
    "wind_speed": ("wind.speed", "decimal(4,2)"),
    "wind_degree": ("wind.deg", "int"),
    "wind_gust": ("wind.gust", "decimal(4,2)"),
    "cloudiness": ("clouds.all", "int"),
}
_EPOCH_COLUMNS = {"sunrise": "sys.sunrise", "sunset": "sys.sunset"}


def out_of_range(r: str = "raw") -> Column:
    """TRUE where the parsed ``r`` struct holds a number its fact
    column cannot represent, which the flatten replaces with the
    column default (see parse_raw)."""
    # Only decimal casts can fail (a double past float range is ±inf).
    # decimal(p,s) rounds half-up, so it overflows from |x| = 10^(p-s)
    # - 10^-s / 2 on: a bound compare, cheaper than a second try_cast.
    bad = [~F.col(f"{r}.{p}").between(*_EPOCH_RANGE) for p in _EPOCH_COLUMNS.values()]
    for p, t in _NUM_COLUMNS.values():
        if t.startswith("decimal"):
            prec, scale = map(int, t[len("decimal(") : -1].split(","))
            bound = float(10 ** (prec - scale) - Decimal(5).scaleb(-scale - 1))
            bad.append(F.abs(F.col(f"{r}.{p}")) >= bound)
    return F.coalesce(reduce(operator.or_, bad), F.lit(False))


def _fact_columns(r: str, event_time: Column) -> list[Column]:
    """The 22 fact columns, column-for-column parity with the
    reference INSERT tuple (clickhouse_db.py:60-83)."""
    # try_element_at: empty/missing weather array → NULL → '' default
    # (ANSI-mode element_at would error; reference default at :45)
    first_weather = F.try_element_at(F.col(f"{r}.weather"), F.lit(1))
    cols = {
        "event_date": F.to_date(event_time),
        "event_time": event_time,
        "city_name": F.coalesce(F.col(f"{r}.name"), F.lit("")),
        "country": F.coalesce(F.col(f"{r}.sys.country"), F.lit("")),
        "weather_main": F.coalesce(first_weather.getField("main"), F.lit("")),
        "weather_description": F.coalesce(first_weather.getField("description"), F.lit("")),
        **{c: _num(f"{r}.{p}", t) for c, (p, t) in _NUM_COLUMNS.items()},
        **{c: _epoch_ts(f"{r}.{p}") for c, p in _EPOCH_COLUMNS.items()},
    }
    return [cols[c].alias(c) for c in FACT_COLUMNS]


def flatten_weather(parsed: DataFrame, raw_col: str = "raw") -> DataFrame:
    """`raw` struct → 22 fact columns; event_time = ingest UTC instant
    (the reference's arrival-time stamping, clickhouse_db.py:61-62)."""
    return parsed.select(*_fact_columns(raw_col, F.current_timestamp()))


def flatten_weather_event_time(parsed: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Variant keyed on the payload's own `dt` (event time) — the
    capability the reference discards (SURVEY.md §2-C): event_date /
    event_time come from the observation itself, enabling watermarks
    and event-time windows downstream (streaming/windows.py)."""
    ev = F.to_timestamp(F.from_unixtime(F.col(f"{raw_col}.dt")))
    return parsed.select(*_fact_columns(raw_col, ev))
