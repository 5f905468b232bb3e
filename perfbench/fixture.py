#!/usr/bin/env python3
"""Seeded generator for the pipeline's two inputs.

Usage: python3 perfbench/fixture.py <outDir> <seed> [scale=1]

Writes `grocery_sales.csv` and `extra_data.parquet` with the reference
schema and null pattern (SURVEY.md section 1, FIXTURES.md section 1):

- 20,000 CSV rows and 231,522 parquet rows per replica;
- nulls: 39 in `Date`, 38 in `Weekly_Sales`, 47 in `CPI`, 37 in
  `Unemployment`, one each in `MarkDown4`, `MarkDown5`, `Type`, `Size`;
- `Date` is ISO `yyyy-MM-dd'T'HH:mm:ss.SSS`, weekly 2010-02-05..2012-10-26;
- `Store_ID` in {1, 2}; `IsHoliday` is int64 0/1;
- every CSV `index` exists in the parquet, so the join keeps all CSV rows.

The parquet side is one row per (week, store, slot). `Temperature` varies
per row and the other features per (store, week), as in the Walmart data,
so the files compress roughly like the reference (about 1.9 MB of CSV and
0.5 MB of parquet at scale 1). The
nulls of the parquet side sit on joined rows, so the imputation is
exercised. Scale N writes N replicas with disjoint `index` (and
`level_0`) offsets, following `scripts/gen_scale.py`; replicas are
streamed, so memory stays at one replica.
"""
import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

N_PARQUET = 231_522
N_CSV = 20_000
FIRST_WEEK = datetime.date(2010, 2, 5)
N_WEEKS = 143  # 2010-02-05 .. 2012-10-26
HOLIDAY_WEEKS = {"2010-02-12", "2010-09-10", "2010-11-26", "2010-12-31",
                 "2011-02-11", "2011-09-09", "2011-11-25", "2011-12-30",
                 "2012-02-10", "2012-09-07"}
CSV_NAME = "grocery_sales.csv"
PARQUET_NAME = "extra_data.parquet"

CSV_SCHEMA = pa.schema([("level_0", pa.int64()), ("index", pa.int64()),
                        ("Store_ID", pa.int64()), ("Date", pa.string()),
                        ("Dept", pa.int64()), ("Weekly_Sales", pa.float64())])
PARQUET_SCHEMA = pa.schema(
    [("index", pa.int64()), ("IsHoliday", pa.int64()),
     ("Temperature", pa.float64()), ("Fuel_Price", pa.float64())]
    + [(f"MarkDown{i}", pa.float64()) for i in range(1, 6)]
    + [("CPI", pa.float64()), ("Unemployment", pa.float64()),
       ("Type", pa.float64()), ("Size", pa.float64())])


def _with_nulls(values, positions):
    mask = np.zeros(len(values), dtype=bool)
    mask[positions] = True
    return pa.array(values, mask=mask)


def base_tables(seed):
    """The scale-1 CSV and parquet tables for `seed`."""
    rng = np.random.default_rng(seed)
    weeks = [FIRST_WEEK + datetime.timedelta(weeks=w) for w in range(N_WEEKS)]
    i = np.arange(N_PARQUET)
    week = i * N_WEEKS // N_PARQUET
    start = (week * N_PARQUET + N_WEEKS - 1) // N_WEEKS
    size = (np.minimum(week + 1, N_WEEKS) * N_PARQUET + N_WEEKS - 1) // N_WEEKS - start
    store = (i - start) * 2 // size  # 0 or 1
    sw = week * 2 + store  # (store, week) feature key

    def per_store_week(lo, hi, digits):
        return np.round(rng.uniform(lo, hi, N_WEEKS * 2), digits)[sw]

    markdowns = [np.where(rng.random(N_WEEKS * 2) < 0.4, 0.0,
                          np.round(rng.uniform(0, 30000, N_WEEKS * 2), 2))[sw]
                 for _ in range(5)]
    cpi = np.round(211.0 + np.linspace(0, 12, N_WEEKS).repeat(2)
                   + rng.uniform(-0.5, 0.5, N_WEEKS * 2), 4)[sw]
    unemp = np.round(np.array([8.1, 7.3]) + rng.uniform(-0.6, 0.2, (N_WEEKS, 1)), 3)
    holiday = np.array([int(d.isoformat() in HOLIDAY_WEEKS) for d in weeks])

    # The CSV rows: a sorted sample of parquet indexes, so each one joins.
    csv_idx = np.sort(rng.choice(N_PARQUET, N_CSV, replace=False))
    joined = rng.permutation(csv_idx)  # disjoint null positions, all joined
    cpi_null, unemp_null, md4_null, md5_null, type_null, size_null = (
        joined[:47], joined[47:84], joined[84:85], joined[85:86],
        joined[86:87], joined[87:88])

    parquet = pa.table([
        pa.array(i, pa.int64()),
        pa.array(holiday[week], pa.int64()),
        pa.array(np.round(rng.uniform(20, 95, N_PARQUET), 2)),  # per row
        pa.array(per_store_week(2.5, 4.2, 3)),
        pa.array(markdowns[0]), pa.array(markdowns[1]), pa.array(markdowns[2]),
        _with_nulls(markdowns[3], md4_null), _with_nulls(markdowns[4], md5_null),
        _with_nulls(cpi, cpi_null),
        _with_nulls(unemp.reshape(-1)[sw], unemp_null),
        _with_nulls(np.array([1.0, 2.0])[store], type_null),
        _with_nulls(np.array([151315.0, 202307.0])[store], size_null),
    ], schema=PARQUET_SCHEMA)

    dates = np.array([d.isoformat() + "T00:00:00.000" for d in weeks], dtype=object)
    depts = np.sort(rng.choice(np.arange(1, 100), 78, replace=False))
    sales = np.round(rng.lognormal(np.log(11500.0), 1.0, N_CSV), 2)
    date_null, sales_null = np.split(rng.choice(N_CSV, 39 + 38, replace=False), [39])
    csv = pa.table([
        pa.array(np.arange(N_CSV), pa.int64()),
        pa.array(csv_idx, pa.int64()),
        pa.array(store[csv_idx] + 1, pa.int64()),
        _with_nulls(dates[week[csv_idx]], date_null),
        pa.array(depts[rng.integers(0, len(depts), N_CSV)], pa.int64()),
        _with_nulls(sales, sales_null),
    ], schema=CSV_SCHEMA)
    return csv, parquet


def _shift(table, offsets):
    cols = [pc.add(table[n], pa.scalar(offsets[n], pa.int64())) if n in offsets
            else table[n] for n in table.column_names]
    return pa.table(cols, schema=table.schema)


def generate(out_dir, seed, scale=1):
    """Writes the two inputs for (`seed`, `scale`) into `out_dir`; returns
    their paths. Same arguments, byte-identical files."""
    os.makedirs(out_dir, exist_ok=True)
    csv, parquet = base_tables(seed)
    csv_path = os.path.join(out_dir, CSV_NAME)
    parquet_path = os.path.join(out_dir, PARQUET_NAME)
    with pacsv.CSVWriter(csv_path, CSV_SCHEMA, write_options=pacsv.WriteOptions(
            quoting_style="all_valid")) as w, \
         pq.ParquetWriter(parquet_path, PARQUET_SCHEMA, compression="snappy",
                          use_dictionary=[n for n in PARQUET_SCHEMA.names if n != "index"],
                          column_encoding={"index": "DELTA_BINARY_PACKED"}) as p:
        for r in range(scale):
            w.write_table(_shift(csv, {"level_0": r * N_CSV, "index": r * N_PARQUET}))
            p.write_table(_shift(parquet, {"index": r * N_PARQUET}))
    return csv_path, parquet_path


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    for path in generate(sys.argv[1], int(sys.argv[2]),
                         int(sys.argv[3]) if len(sys.argv) > 3 else 1):
        print(path, os.path.getsize(path))
