"""Reference results, computed with DuckDB outside every timed interval.

- Registry queries: each spec's own DuckDB oracle SQL, normalized the way
  ``oracle.compare`` does it (columns sorted by name, rows as a sorted
  multiset, values through ``oracle._norm``).
- Medallion write path: silver and the gold typical-day table recomputed
  straight from the daily CSV files with the SQL twins the registry
  oracles use (``functions/deterministic.py``, ``functions/scalar.py``).
"""

from __future__ import annotations

import glob
import os

import duckdb


def normalize(cols: list[str], rows, norm) -> list[tuple]:
    """Rows as sorted tuples over name-sorted columns; ``rows`` yields
    mappings (Spark ``Row``) or tuples aligned with ``cols``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = tuple(r) if not hasattr(r, "asDict") else tuple(r[c] for c in cols)
        out.append(tuple(norm(vals[i]) for i in order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def query_reference(pkg, spec, data_dir: str) -> tuple[list[str], list[tuple]]:
    """(sorted column names, normalized rows) of ``spec.oracle`` on DuckDB."""
    con = pkg.oracle.duckdb_connection(data_dir)
    try:
        cur = con.execute(spec.oracle)
        cols = [d[0] for d in cur.description]
        return sorted(cols), normalize(cols, cur.fetchall(), pkg.oracle._norm)
    finally:
        con.close()


def _csv_relation(paths: list[str], columns: list[str]) -> str:
    files = ", ".join(f"'{p}'" for p in paths)
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in columns)
    return (f"read_csv([{files}], header = true, auto_detect = false, "
            f"columns = {{{cols}}})")


def medallion_reference(pkg, files: dict[str, str]) -> dict:
    """Silver row count and normalized gold rows for the daily ``files``
    ({yyyyMMdd: csv path}), as ``pipelines.mitma`` defines them."""
    mitma, det, scalar = pkg.mitma, pkg.deterministic, pkg.scalar
    years = sorted({int(d[:4]) for d in files})
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE hol (date DATE)")
        con.executemany("INSERT INTO hol VALUES (?)",
                        [(d,) for d, _ in pkg.holidays_es.holidays_rows(years)])
        dates = ", ".join(f"'{d}'" for d in files)
        silver = f"""
            WITH typed AS (
                SELECT CAST(strptime(date, '%Y%m%d') AS DATE) AS date,
                       TRY_CAST(hour_period AS INTEGER) AS hour_period,
                       regexp_replace(origin_zone, '_AM|_AD', '', 'g') AS origin_zone,
                       regexp_replace(destination_zone, '_AM|_AD', '', 'g') AS destination_zone,
                       TRY_CAST(trips AS DOUBLE) AS trips
                FROM {_csv_relation(list(files.values()), mitma.BRONZE_COLUMNS)}
                WHERE date IN ({dates})
            )
            SELECT t.date, t.hour_period, t.origin_zone, t.destination_zone, t.trips,
                   CASE WHEN h.date IS NOT NULL THEN 8
                        ELSE {scalar.sql_day_type('t.date')} END AS day_type
            FROM typed t LEFT JOIN hol h ON t.date = h.date
            WHERE NOT starts_with(t.origin_zone, 'PT') AND NOT starts_with(t.origin_zone, 'FR')
              AND NOT starts_with(t.destination_zone, 'PT')
              AND NOT starts_with(t.destination_zone, 'FR')
              AND t.origin_zone <> 'externo' AND t.destination_zone <> 'externo'
              AND t.date IS NOT NULL AND t.hour_period IS NOT NULL AND t.trips IS NOT NULL
        """
        con.execute(f"CREATE TABLE silver AS {silver}")
        con.execute(f"""
            CREATE TABLE kept AS
            WITH stats AS (
                SELECT day_type, hour_period, origin_zone, destination_zone,
                       {det.sql_davg('trips')} AS _mu,
                       {det.sql_dstddev_samp0('trips')} AS _sigma
                FROM silver
                GROUP BY day_type, hour_period, origin_zone, destination_zone
            )
            SELECT s.* FROM silver s JOIN stats st
              ON s.day_type = st.day_type AND s.hour_period = st.hour_period
             AND s.origin_zone = st.origin_zone AND s.destination_zone = st.destination_zone
            WHERE s.trips BETWEEN (st._mu - 3.0 * st._sigma) AND (st._mu + 3.0 * st._sigma)
        """)
        n_silver = con.execute("SELECT count(*) FROM silver").fetchone()[0]
        n_kept = con.execute("SELECT count(*) FROM kept").fetchone()[0]
        cur = con.execute(f"""
            SELECT day_type, hour_period, origin_zone, destination_zone,
                   {det.sql_dsum('trips')} AS total_trips,
                   {det.sql_davg('trips')} AS avg_trips,
                   {det.sql_dstddev_samp0('trips')} AS std_trips,
                   CAST(COUNT(DISTINCT date) AS INTEGER) AS num_days_observed
            FROM kept
            GROUP BY day_type, hour_period, origin_zone, destination_zone
        """)
        cols = [d[0] for d in cur.description]
        gold = normalize(cols, cur.fetchall(), pkg.oracle._norm)
        return {"silver_rows": n_silver, "gold_cols": sorted(cols), "gold": gold,
                "outliers_rejected": n_silver - n_kept}
    finally:
        con.close()


def read_table(root: str, table: str, norm) -> tuple[list[str], list[tuple]]:
    """A warehouse table read back with DuckDB, normalized."""
    con = duckdb.connect()
    try:
        cur = con.execute(f"SELECT * FROM read_parquet('{root}/{table}/**/*.parquet', "
                          "hive_partitioning = false)")
        cols = [d[0] for d in cur.description]
        return sorted(cols), normalize(cols, cur.fetchall(), norm)
    finally:
        con.close()


def ledger_rows(root: str, table: str) -> list[dict]:
    """The rows of a run-ledger table, in attempt order."""
    con = duckdb.connect()
    try:
        cur = con.execute(f"SELECT key, attempt, status, error FROM read_parquet("
                          f"'{root}/{table}/**/*.parquet', hive_partitioning = false) "
                          "ORDER BY key, attempt, ts")
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()


def table_rows(root: str, table: str) -> int:
    """Row count of a warehouse table from its parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(root, table, "**", "*.parquet"), recursive=True))
