"""Output checks of the benchmark, recomputed independently in DuckDB.

* ``etl_weekly``: the ``weekly`` CSV artifact of ``HousingEtlMain`` against
  the same aggregation written in SQL over the generated CSV and lookup.
* ``oracle_counts``: the row count of each registry query's DuckDB oracle
  (``SparkEntry.oracleSql``, dumped by the harness) over the generated
  tables.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WEEKLY_SQL = r"""
WITH canon AS (
  SELECT try_strptime(date_of_transfer, '%Y-%m-%d %H:%M') AS date,
         transaction_unique_identifier AS tid,
         try_cast(price AS DOUBLE) AS price,
         upper(regexp_replace(postcode, '\s+', '', 'g')) AS pc
  FROM read_csv('{csv}', header = true, all_varchar = true)),
lk AS (
  SELECT upper(regexp_replace(postcode, '\s+', '', 'g')) AS pc, local_authority
  FROM read_csv('{lookup}', header = true, all_varchar = true)),
j AS (
  SELECT c.*, lk.local_authority,
         CAST(floor(c.price * 100 + 0.5) AS BIGINT) AS cents
  FROM canon c LEFT JOIN lk ON c.pc = lk.pc
  WHERE c.date IS NOT NULL AND lk.local_authority IS NOT NULL)
SELECT strftime(date_trunc('week', date), '%Y-%m-%d') AS week,
       local_authority AS dim,
       count(DISTINCT tid) AS transactions,
       CASE WHEN count(cents) = 0 THEN NULL ELSE
         floor((CAST(sum(cents) AS DOUBLE) / 100.0 / count(cents)) * 10000 + 0.5) / 10000 END,
       floor((quantile_cont(cents, 0.5) / 100.0) * 10000 + 0.5) / 10000,
       floor((quantile_cont(cents, 0.10) / 100.0) * 10000 + 0.5) / 10000,
       floor((quantile_cont(cents, 0.90) / 100.0) * 10000 + 0.5) / 10000
FROM j GROUP BY 1, 2 ORDER BY 1, 2
"""


def _num(v):
    return None if v in (None, "") else float(v)


def etl_weekly(csv, lookup, artifact_dir):
    """Return a list of mismatch descriptions (empty when the artifact
    matches the DuckDB recomputation row for row)."""
    parts = glob.glob(os.path.join(artifact_dir, "part-*.csv"))
    if len(parts) != 1:
        return [f"weekly artifact: expected one part file, found {len(parts)}"]
    con = duckdb.connect()
    want = con.sql(WEEKLY_SQL.format(csv=csv, lookup=lookup)).fetchall()
    got = con.sql(f"""
        SELECT substr(week, 1, 10), dim, CAST(transactions AS BIGINT),
               price_mean, price_median, price_p10, price_p90
        FROM read_csv('{parts[0]}', header = true, all_varchar = true)
        ORDER BY 1, 2""").fetchall()
    if len(got) != len(want):
        return [f"weekly artifact: {len(got)} rows, DuckDB {len(want)}"]
    bad = []
    for g, w in zip(got, want):
        same = g[:3] == w[:3] and all(
            (a is None and b is None) or (a is not None and b is not None
                                          and math.isclose(a, b, abs_tol=1e-6))
            for a, b in zip(map(_num, g[3:]), w[3:]))
        if not same:
            bad.append(f"weekly artifact row {g} != DuckDB {w}")
            if len(bad) >= 5:
                break
    return bad


def oracle_counts(data_dir, oracles):
    """Row count of each oracle query over the tables in ``data_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    return {name: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for name, sql in oracles.items()}
