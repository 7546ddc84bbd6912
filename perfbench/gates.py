"""Correctness gate of `lakehouse_transform`, evaluated after the run from
the files it left behind:

  * the mart Spark wrote equals DuckDB running q07's oracle semantics
    (`queries/Flagship.scala`) over the same raw zone, staged the way
    `stg_arrivals` stages it;
  * the 11 check failure counts equal the counts derived from the generated
    rows (and, for the mart's checks, from the oracle mart).
"""

import os

import duckdb

STG = """
SELECT CAST(lineId AS VARCHAR) AS line_id,
       CAST(stopId AS VARCHAR) AS stop_id,
       CAST(timeToStation AS INTEGER) AS time_to_station_s,
       TRY_CAST("timestamp" AS TIMESTAMP) AS event_ts
FROM read_parquet('{raw}/date=*/arrivals_*.parquet', hive_partitioning = false)
"""

# q07's oracle, reading the staged arrivals instead of the events fixture
MART = """
WITH arrivals AS (
  SELECT line_id, stop_id, event_ts FROM stg WHERE event_ts IS NOT NULL
), ordered AS (
  SELECT *, lag(event_ts) OVER (PARTITION BY line_id, stop_id ORDER BY event_ts) AS prev_ts
  FROM arrivals
), gaps AS (
  SELECT line_id, stop_id,
         epoch_us(event_ts - prev_ts) AS headway_us,
         date_trunc('hour', event_ts) AS hour
  FROM ordered WHERE prev_ts IS NOT NULL
)
SELECT line_id, stop_id, hour,
  cast(sum(headway_us) AS double) / count(*) / 1000000.0 AS avg_headway_s,
  cast(quantile_disc(headway_us, 0.5) AS double) / 1000000.0 AS p50_headway_s,
  cast(quantile_disc(headway_us, 0.9) AS double) / 1000000.0 AS p90_headway_s
FROM gaps
GROUP BY 1, 2, 3
"""

COLUMNS = "line_id, stop_id, epoch_us(hour), avg_headway_s, p50_headway_s, p90_headway_s"
MART_COLUMNS = ["line_id", "stop_id", "hour", "avg_headway_s", "p50_headway_s",
                "p90_headway_s"]


def _nulls(con, table, column):
    return con.execute(f"SELECT count(*) FROM {table} WHERE {column} IS NULL").fetchone()[0]


def transform(work):
    """Mismatch messages for the run whose data directory is `work`."""
    con = duckdb.connect()
    con.execute(f"CREATE TEMP TABLE stg AS {STG.format(raw=os.path.join(work, 'raw'))}")
    con.execute(f"CREATE TEMP TABLE oracle AS {MART}")
    mart = os.path.join(work, "silver", "fct_headways", "*.parquet")
    con.execute(f"CREATE TEMP TABLE spark AS SELECT * FROM read_parquet('{mart}')")
    out = []
    got = sorted(con.execute(f"SELECT {COLUMNS} FROM spark").fetchall(), key=repr)
    want = sorted(con.execute(f"SELECT {COLUMNS} FROM oracle").fetchall(), key=repr)
    if got != want:
        only_got = len(set(got) - set(want))
        only_want = len(set(want) - set(got))
        out.append(f"mart differs from the DuckDB oracle: {len(got)} vs {len(want)} rows, "
                   f"{only_got} only in Spark's, {only_want} only in the oracle's")

    out_of_range = con.execute(
        "SELECT count(*) FROM stg WHERE time_to_station_s NOT BETWEEN 0 AND 3600").fetchone()[0]
    expected = (
        [("not_null_event_ts", _nulls(con, "stg", "event_ts")),
         ("not_null_line_id", _nulls(con, "stg", "line_id")),
         ("not_null_stop_id", _nulls(con, "stg", "stop_id"))]
        + [(f"not_null_{c}", _nulls(con, "oracle", c)) for c in sorted(MART_COLUMNS)]
        + [("between_time_to_station_s_0.0_3600.0", out_of_range),
           ("not_null_line_id", _nulls(con, "stg", "line_id"))])
    with open(os.path.join(work, "silver", "checks.tsv")) as fh:
        checks = [(n, int(v)) for n, v in (l.rstrip("\n").split("\t") for l in fh if l.strip())]
    if [n for n, _ in checks] != [n for n, _ in expected]:
        out.append(f"check names differ: {[n for n, _ in checks]}")
    else:
        for i, ((name, g), (_, w)) in enumerate(zip(checks, expected)):
            # the last two checks run on a 10k-row sample: exact when the
            # whole input has no failures, else bounded by the full count
            ok = g == w if i < 9 or w == 0 else 0 <= g <= w
            if not ok:
                out.append(f"check {name}: {g} failures, expected {w}")
    con.close()
    return out
