"""DuckDB twin of `graft.etl.WalmartPipeline.run`, for the golden outputs.

`pipeline_golden` runs extract (CSV + parquet inner join on `index`),
transform (mean-impute `Weekly_Sales`, parse `Date`, derive `Month`, keep
`Weekly_Sales > 10000`) and aggregate (monthly mean over non-null months)
in DuckDB. The `CPI` and `Unemployment` fills reach neither checked
output, so the twin leaves them out. It returns the row count of
`clean_data` and the unrounded monthly means; the harness accepts a Spark
mean rounded to 2 dp when it lies within half a cent of these.
"""
import duckdb

CSV_COLUMNS = ("{'level_0': 'BIGINT', 'index': 'BIGINT', 'Store_ID': 'BIGINT', "
               "'Date': 'VARCHAR', 'Dept': 'BIGINT', 'Weekly_Sales': 'DOUBLE'}")


def pipeline_golden(csv_path, parquet_path):
    con = duckdb.connect()
    con.execute(f"""
        CREATE TEMP TABLE clean AS
        WITH merged AS (
          SELECT * FROM read_csv('{csv_path}', header = true, columns = {CSV_COLUMNS})
          JOIN read_parquet('{parquet_path}') USING ("index")),
        means AS (SELECT avg(Weekly_Sales) AS ws FROM merged)
        SELECT coalesce(Weekly_Sales, ws) AS Weekly_Sales,
               month(try_strptime("Date", '%Y-%m-%dT%H:%M:%S.%g')) AS "Month"
        FROM merged, means
        WHERE coalesce(Weekly_Sales, ws) > 10000""")
    rows = con.execute("SELECT count(*) FROM clean").fetchone()[0]
    agg = con.execute("""SELECT "Month", avg(Weekly_Sales) FROM clean
                         WHERE "Month" IS NOT NULL GROUP BY 1 ORDER BY 1""").fetchall()
    con.close()
    return rows, agg


def write_golden(path, rows, agg):
    """The harness's golden format: `clean_rows`, then one `month,mean` line each."""
    with open(path, "w") as fh:
        fh.write(f"{rows}\n")
        fh.writelines(f"{m},{v!r}\n" for m, v in agg)
