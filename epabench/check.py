"""DuckDB oracle for the epa_batch pyramid layers.

Recomputes daily, monthly, annual and baselines straight from the
generated CSV with the same fixed-point formulas the engine uses (the
tools/check.py flow, as in PyramidQueries' oracle SQL) and compares
them with the parquet the last DAG pass wrote. Returns the list of
problems (empty when every layer matches) and a digest of the four
layers, which two runs with the same seed must print alike.
"""
import hashlib
import os

import duckdb

import gen

EXCEEDS = ("CASE split_part(entity, '|', 1) WHEN 'PM25' THEN daily_avg > 35.0 "
           "WHEN 'NO2' THEN daily_avg > 0.053 WHEN 'SO2' THEN daily_avg > 0.075 "
           "ELSE false END")


def _hourly_view(csv_glob):
    repair = " ".join(f"WHEN '{short}' THEN '{full}'"
                      for short, full in gen.TRUNCATED)
    return f"""
    CREATE VIEW raw AS SELECT * FROM read_csv('{csv_glob}', header=true,
        all_varchar=true, filename=true);
    CREATE VIEW h AS SELECT
        regexp_extract(filename, 'hourly_([A-Z0-9]+)_[0-9]+\\.csv', 1) AS pollutant,
        CASE "State Name" {repair} ELSE "State Name" END AS state_name,
        CAST("Date Local" AS DATE) AS date_local,
        CAST(substr("Time Local", 1, 2) AS INT) AS hour_local,
        "Sample Measurement" AS m_raw FROM raw;
    CREATE VIEW hourly AS SELECT pollutant || '|' || state_name AS entity,
        date_local, hour_local,
        CASE WHEN pollutant IN ('NO2', 'SO2') THEN CAST(m_raw AS DOUBLE) / 1000.0
             ELSE CAST(m_raw AS DOUBLE) END AS v FROM h;
    """


ORACLES = {
    "daily": ("""SELECT entity, date_local,
        CAST(sum(CAST(floor(v * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 100.0 AS daily_avg,
        max(v) AS daily_max, count(*) AS measurement_count,
        CAST(dayofweek(date_local) + 1 AS INT) AS day_of_week,
        dayofweek(date_local) IN (0, 6) AS is_weekend
      FROM hourly GROUP BY 1, 2""",
              ["entity", "date_local"],
              ["daily_avg", "daily_max", "measurement_count", "day_of_week", "is_weekend"]),
    "monthly": (f"""WITH m AS (SELECT entity, year(date_local) AS year, month(date_local) AS month,
        CAST(sum(CAST(floor(daily_avg * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
          / count(*) / 1000000.0 AS monthly_avg,
        max(daily_max) AS monthly_max, count(*) AS days_with_data,
        sum(CASE WHEN {EXCEEDS} THEN 1 ELSE 0 END) AS exceedance_days
      FROM oracle_daily GROUP BY 1, 2, 3)
      SELECT *, lag(monthly_avg) OVER (PARTITION BY entity ORDER BY year, month) AS prev_month_avg,
        (monthly_avg - lag(monthly_avg) OVER (PARTITION BY entity ORDER BY year, month))
          / lag(monthly_avg) OVER (PARTITION BY entity ORDER BY year, month) * 100 AS mom_pct_change,
        lag(monthly_avg) OVER (PARTITION BY entity, month ORDER BY year) AS same_month_prev_year_avg,
        monthly_avg - lag(monthly_avg) OVER (PARTITION BY entity, month ORDER BY year)
          AS yoy_month_change
      FROM m""",
                ["entity", "year", "month"],
                ["monthly_avg", "monthly_max", "days_with_data", "exceedance_days",
                 "prev_month_avg", "mom_pct_change", "same_month_prev_year_avg",
                 "yoy_month_change"]),
    "annual": ("""WITH a AS (SELECT entity, year,
        CAST(sum(CAST(floor(monthly_avg * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
          / count(*) / 1000000.0 AS annual_avg,
        count(*) AS months_with_data, max(monthly_max) AS annual_max,
        sum(exceedance_days) AS total_exceedance_days
      FROM oracle_monthly GROUP BY 1, 2)
      SELECT *, lag(annual_avg) OVER (PARTITION BY entity ORDER BY year) AS prev_year_avg,
        annual_avg - lag(annual_avg) OVER (PARTITION BY entity ORDER BY year) AS yoy_avg_change,
        (annual_avg - lag(annual_avg) OVER (PARTITION BY entity ORDER BY year))
          / lag(annual_avg) OVER (PARTITION BY entity ORDER BY year) * 100 AS yoy_pct_change,
        sum(total_exceedance_days) OVER (PARTITION BY entity ORDER BY year
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumulative_exceedance_days
      FROM a""",
               ["entity", "year"],
               ["annual_avg", "months_with_data", "annual_max", "total_exceedance_days",
                "prev_year_avg", "yoy_avg_change", "yoy_pct_change",
                "cumulative_exceedance_days"]),
    "baselines": ("""WITH b AS (SELECT entity, month(date_local) AS month, hour_local AS hour,
        dayofweek(date_local) IN (0, 6) AS is_weekend,
        CAST(sum(CAST(floor(v * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) AS s,
        CAST(sum(CAST(floor(v * 100.0 + 0.5) AS BIGINT)
               * CAST(floor(v * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) AS s2,
        count(*) AS sample_count
      FROM hourly GROUP BY 1, 2, 3, 4)
      SELECT entity, month, hour, is_weekend, sample_count,
        s / sample_count / 100.0 AS baseline_avg,
        CASE WHEN sample_count > 1
          THEN sqrt(greatest(0.0, (s2 - s * s / sample_count) / (sample_count - 1))) / 100.0
          ELSE NULL END AS baseline_stddev
      FROM b""",
                  ["entity", "month", "hour", "is_weekend"],
                  ["sample_count", "baseline_avg", "baseline_stddev"]),
}


def _close(c):
    return (f"((o.{c} IS NULL AND s.{c} IS NULL) OR "
            f"(CAST(o.{c} AS DOUBLE) = CAST(s.{c} AS DOUBLE)) OR "
            f"abs(CAST(o.{c} AS DOUBLE) - CAST(s.{c} AS DOUBLE)) "
            f"<= 1e-9 * greatest(1.0, abs(CAST(o.{c} AS DOUBLE))))")


def check_batch(input_dir, out_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(_hourly_view(os.path.join(input_dir, "raw", "*", "*.csv")))
    problems = []
    prints = []
    for name, (sql, keys, cols) in ORACLES.items():
        con.execute(f"CREATE TABLE oracle_{name} AS {sql}")
        glob = os.path.join(out_dir, name, "**", "*.parquet")
        con.execute(f"CREATE VIEW spark_{name} AS SELECT * FROM "
                    f"read_parquet('{glob}', hive_partitioning=true)")
        on = " AND ".join(f"o.{k} IS NOT DISTINCT FROM s.{k}" for k in keys)
        ok = " AND ".join(_close(c) for c in cols)
        n_o, n_s = (con.execute(f"SELECT count(*) FROM {t}_{name}").fetchone()[0]
                    for t in ("oracle", "spark"))
        bad = con.execute(
            f"SELECT count(*) FROM oracle_{name} o FULL OUTER JOIN spark_{name} s ON {on} "
            f"WHERE o.{keys[0]} IS NULL OR s.{keys[0]} IS NULL OR NOT ({ok})").fetchone()[0]
        if n_o != n_s or bad:
            problems.append(f"{name}: duckdb {n_o} rows, spark {n_s} rows, {bad} differ")
        names = sorted(c[0] for c in con.execute(f"DESCRIBE spark_{name}").fetchall())
        prints.append(con.execute(
            f"SELECT count(*) || ':' || sum(hash({', '.join(names)})::HUGEINT) "
            f"FROM spark_{name}").fetchone()[0])
    con.close()
    digest = hashlib.sha256(";".join(prints).encode()).hexdigest()[:16]
    return problems, digest
