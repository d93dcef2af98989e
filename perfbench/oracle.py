"""DuckDB oracles for the benchmark's outputs.

Every expected value is computed once, in set-up, by DuckDB over the
same parquet files the engine reads; the timed loop only compares.
Frames are put in the repository's canonical order (``tests/compare.py``);
float aggregates then compare with a relative tolerance, because Spark
and DuckDB sum in different orders, and everything else exactly.
"""

from __future__ import annotations

import math
import re

import duckdb
import pandas as pd

from nyc_taxi_etl_spark.plans import ORACLE, ORACLE_EXTRA
from tests.compare import canon

REL_TOL = 1e-9

# ---------------------------------------------------------------------------
# Comparison
# ---------------------------------------------------------------------------


def _cell_eq(a, b) -> bool:
    a_null = a is None or a is pd.NA or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or b is pd.NA or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (order-insensitive, float
    cells within :data:`REL_TOL`), else a one-line reason."""
    a, b = canon(got), canon(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if not _cell_eq(x, y):
                return f"column {c} row {i}: {x!r} != {y!r}"
    return None


# ---------------------------------------------------------------------------
# taxi_etl: clean-rule counts and per-cab checksums over the raw input
# ---------------------------------------------------------------------------

_FHVHV_FARE = " + ".join(
    f"coalesce({c}, 0.0)"
    for c in ("base_passenger_fare", "tips", "tolls", "bcf", "sales_tax",
              "congestion_surcharge", "airport_fee")
)
_CAB_COLS = {
    "yellow": ("tpep_pickup_datetime", "tpep_dropoff_datetime", "PULocationID",
               "trip_distance", "fare_amount", "tip_amount"),
    "green": ("lpep_pickup_datetime", "lpep_dropoff_datetime", "PULocationID",
              "trip_distance", "fare_amount", "tip_amount"),
    "fhv": ("pickup_datetime", "dropOff_datetime", "PUlocationID",
            "NULL::DOUBLE", "NULL::DOUBLE", "NULL::DOUBLE"),
    "fhvhv": ("pickup_datetime", "dropoff_datetime", "PULocationID",
              "trip_miles", f"({_FHVHV_FARE})", "tips"),
}

# The checksum columns, computed the same way over the raw input (with
# the clean rules applied) and over the curated output.
CHECKSUM_SQL = """
    CAST(count(*) AS BIGINT) AS n_rows,
    sum(epoch_us(pu)) AS sum_pickup_us,
    sum(zone) AS sum_pickup_zone,
    sum(dist) AS sum_distance,
    sum(fare) AS sum_fare,
    sum(tip) AS sum_tip,
    sum(dur) AS sum_duration_min
"""


def etl_oracle(raw_dirs: dict[str, str]) -> tuple[int, pd.DataFrame]:
    """(raw row count, per-cab checksum frame of the rows the clean
    rules keep). The rules follow the repository's clean-count DuckDB
    test: validity, order, and strict duration/distance bounds."""
    parts, raw_rows = [], 0
    for cab, (pu, do, zone, dist, fare, tip) in _CAB_COLS.items():
        src = f"read_parquet('{raw_dirs[cab]}/*.parquet')"
        raw_rows += duckdb.sql(f"SELECT count(*) FROM {src}").fetchone()[0]
        parts.append(
            f"""
            SELECT '{cab}' AS cab_type, {CHECKSUM_SQL} FROM (
              SELECT {pu} AS pu, {do} AS do_, {zone} AS zone, {dist} AS dist,
                     {fare} AS fare, {tip} AS tip,
                     date_diff('second', {pu}, {do}) / 60.0 AS dur
              FROM {src})
            WHERE (fare IS NULL OR fare > 0) AND (dist IS NULL OR dist > 0)
              AND pu IS NOT NULL AND do_ IS NOT NULL AND do_ > pu
              AND dur > 0.5 AND dur < 1440
              AND (dist IS NULL OR dist < 500)
            """
        )
    return raw_rows, duckdb.sql(" UNION ALL ".join(parts)).df()


def curated_checksums(curated: str) -> pd.DataFrame:
    return duckdb.sql(
        f"""
        SELECT cab_type, {CHECKSUM_SQL} FROM (
          SELECT cab_type, pickup_datetime AS pu, pickup_zone AS zone,
                 trip_distance AS dist, fare_amount AS fare, tip_amount AS tip,
                 trip_duration_min AS dur
          FROM read_parquet('{curated}/*/*/*/*.parquet', hive_partitioning = true))
        GROUP BY cab_type
        """
    ).df()


# ---------------------------------------------------------------------------
# taxi_analytics: one SQL per analysis over the curated parquet
# ---------------------------------------------------------------------------

AIRPORT_ZONES = (132, 138, 1, 140)
NIGHT_HOURS = (20, 21, 22, 23, 0, 1, 2, 3, 4)
BASELINE_END = "2025-04"
# Analyses whose result is one row per trip: they are checked through a
# per-column digest instead of being collected.
ROW_LEVEL = ("airport_trips", "nightlife_trips", "zone_enrichment")


def _month(col: str = "pickup_datetime") -> str:
    return f"strftime({col}, '%Y-%m')"


ANALYTICS_SQL = {
    "avg_fare_per_mile_by_hour": """
        SELECT pickup_hour, avg(fare_per_mile) AS avg_fare_per_mile,
               count(*) AS trip_count FROM trips GROUP BY 1""",
    "trips_by_dow": "SELECT pickup_dow, count(*) AS trip_count FROM trips GROUP BY 1",
    "busiest_pickup": """
        SELECT pickup_zone, count(*) AS trip_count FROM trips
        WHERE pickup_zone IS NOT NULL GROUP BY 1
        ORDER BY trip_count DESC, pickup_zone LIMIT 100""",
    "busiest_dropoff": """
        SELECT dropoff_zone, count(*) AS trip_count FROM trips
        WHERE dropoff_zone IS NOT NULL GROUP BY 1
        ORDER BY trip_count DESC, dropoff_zone LIMIT 100""",
    "monthly_fare_trend": f"""
        SELECT {_month()} AS month, avg(fare_per_mile) AS avg_fare_per_mile,
               count(*) AS trip_count FROM trips GROUP BY 1""",
    "summary_rollup": """
        SELECT cab_type, year, season, month, count(*) AS "rows",
               sum(trip_distance) AS sum_trip_distance,
               sum(fare_amount) AS sum_fare_amount
        FROM (SELECT *, CASE WHEN month IN (12, 1, 2) THEN 'Winter'
                             WHEN month IN (3, 4, 5) THEN 'Spring'
                             WHEN month IN (6, 7, 8) THEN 'Summer'
                             ELSE 'Fall' END AS season FROM trips)
        GROUP BY ROLLUP (cab_type, year, season, month)""",
    "per_cab_summary": """
        SELECT cab_type, count(*) AS trip_count, sum(fare_amount) AS total_fare,
               avg(trip_distance) AS avg_distance,
               median(trip_distance) AS median_distance,
               avg(fare_amount) AS avg_fare, median(fare_amount) AS median_fare
        FROM trips GROUP BY 1""",
    "hourly_dashboard": """
        SELECT cab_type, pickup_hour, count(*) AS trip_count,
               avg(fare_amount) AS avg_fare, sum(fare_amount) AS revenue,
               avg(tip_amount) AS avg_tip FROM trips GROUP BY 1, 2""",
    "od_flows": """
        SELECT pickup_zone, dropoff_zone, count(*) AS trip_count,
               concat_ws('→', pickup_zone, dropoff_zone) AS od_label
        FROM trips WHERE pickup_zone IS NOT NULL AND dropoff_zone IS NOT NULL
        GROUP BY 1, 2 ORDER BY trip_count DESC, pickup_zone, dropoff_zone LIMIT 10""",
    "airport_trips": f"""
        SELECT * FROM trips WHERE pickup_zone IN {AIRPORT_ZONES}
                               OR dropoff_zone IN {AIRPORT_ZONES}""",
    "nightlife_trips": f"SELECT * FROM trips WHERE pickup_hour IN {NIGHT_HOURS}",
    "tip_pct_by_hour": """
        SELECT pickup_hour, avg(tip_pct) AS avg_tip_pct, count(tip_pct) AS n
        FROM (SELECT pickup_hour,
                     least(CASE WHEN fare_amount > 0 THEN tip_amount / fare_amount END,
                           1.0::DOUBLE) AS tip_pct FROM trips)
        GROUP BY 1""",
    "median_speed_by_hour": """
        SELECT cab_type, pickup_hour, median(avg_speed_mph) AS median_speed_mph
        FROM trips GROUP BY 1, 2""",
    "unit_price_by_hour": """
        SELECT pickup_hour, median(least(fare_per_mile, 150.0::DOUBLE))
               AS median_unit_price FROM trips GROUP BY 1""",
    "extreme_days": """
        WITH d AS (SELECT pickup_date, count(*) AS trip_count FROM trips GROUP BY 1),
        s AS (SELECT pickup_date, trip_count,
                     (trip_count - avg(trip_count) OVER ())
                       / stddev_samp(trip_count) OVER () AS z FROM d)
        SELECT * FROM s WHERE abs(z) > 1.0""",
    "trip_segmentation": """
        WITH c AS (
          SELECT CASE WHEN trip_distance <= 2 THEN 'short'
                      WHEN trip_distance <= 5 THEN 'medium' ELSE 'long' END AS segment,
                 count(*) AS trip_count
          FROM trips WHERE trip_distance IS NOT NULL GROUP BY 1)
        SELECT segment, trip_count,
               100.0::DOUBLE * trip_count / sum(trip_count) OVER () AS pct_share FROM c""",
    "duration_histogram": """
        SELECT CAST(floor(trip_duration_min / 10.0::DOUBLE) AS BIGINT) AS bucket,
               count(*) AS trip_count
        FROM trips WHERE trip_duration_min IS NOT NULL GROUP BY 1""",
    "market_share_by_month": f"""
        WITH m AS (SELECT {_month()} AS month, cab_type, count(*) AS trip_count
                   FROM trips GROUP BY 1, 2)
        SELECT month, cab_type, trip_count,
               100.0::DOUBLE * trip_count / sum(trip_count) OVER (PARTITION BY month)
                 AS pct_share FROM m""",
    "pct_of_baseline": f"""
        WITH m AS (SELECT cab_type, {_month()} AS month, count(*) AS trip_count
                   FROM trips GROUP BY 1, 2),
        b AS (SELECT cab_type, avg(trip_count) AS baseline FROM m
              WHERE month < '{BASELINE_END}' GROUP BY 1)
        SELECT m.cab_type, month, trip_count,
               100.0::DOUBLE * trip_count / baseline AS pct_of_baseline
        FROM m JOIN b USING (cab_type)""",
    "zone_enrichment": """
        SELECT t.*, pz.Zone AS pickup_zone_name, pz.Borough AS pickup_borough,
               dz.Zone AS dropoff_zone_name, dz.Borough AS dropoff_borough
        FROM trips t
        LEFT JOIN zones pz ON pz.LocationID = t.pickup_zone
        LEFT JOIN zones dz ON dz.LocationID = t.dropoff_zone""",
    "weather_correlation": """
        WITH d AS (SELECT pickup_date AS date, count(*) AS trip_count,
                          avg(fare_amount) AS avg_fare FROM trips GROUP BY 1)
        SELECT d.*, w.* EXCLUDE (date) FROM d JOIN weather w USING (date)""",
}

# digest: count(*) plus, per column, count(col) and a type-wise sum
_DIGEST_DUCK = {
    "int": "CAST(sum({c}) AS BIGINT)",
    "float": "sum({c})",
    "str": "CAST(sum(length({c})) AS BIGINT)",
    "ts": "CAST(sum(epoch_us({c}) // 1000000) AS BIGINT)",
    "date": "CAST(sum({c} - DATE '1970-01-01') AS BIGINT)",
}


def digest_sql(source_sql: str, columns: list[tuple[str, str]]) -> str:
    """DuckDB digest of ``source_sql``; ``columns`` are (name, kind)
    pairs with kind in int/float/str/ts/date, taken from the engine's schema."""
    sels = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for name, kind in columns:
        sels.append(f'CAST(count("{name}") AS BIGINT) AS "n_{name}"')
        sels.append(_DIGEST_DUCK[kind].format(c=f'"{name}"') + f' AS "s_{name}"')
    return f"SELECT {', '.join(sels)} FROM ({source_sql})"


def analytics_oracle(
    curated: str, zones: str, weather: str, digest_columns: dict[str, list[tuple[str, str]]]
) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW trips AS SELECT * FROM read_parquet("
            f"'{curated}/*/*/*/*.parquet', hive_partitioning = true)"
        )
        con.execute(f"CREATE VIEW zones AS SELECT * FROM '{zones}'")
        con.execute(f"CREATE VIEW weather AS SELECT * FROM '{weather}'")
        out = {}
        for name, sql in ANALYTICS_SQL.items():
            if name in ROW_LEVEL:
                sql = digest_sql(sql, digest_columns[name])
            out[name] = con.execute(sql).df()
        return out
    finally:
        con.close()


# ---------------------------------------------------------------------------
# doc_curation: the engine's registered ORACLE SQL
# ---------------------------------------------------------------------------


def _materialized(sql: str) -> str:
    """The same query with every CTE marked ``AS MATERIALIZED``. Results
    are unchanged; without it DuckDB inlines each CTE at every reference
    and re-runs the whole stage chain several times (~14 s per 1k docs
    instead of ~1 s)."""
    return re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def curation_oracle(documents: str) -> dict[str, pd.DataFrame]:
    """The engine's registered oracle SQL for ``curate_documents`` and
    ``curation_audit`` over the generated corpus."""
    registered = {**ORACLE_EXTRA, **ORACLE}
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
        return {
            name: con.execute(_materialized(registered[name])).df()
            for name in ("curate_documents", "curation_audit")
        }
    finally:
        con.close()
