"""Seeded raw monthly trip files in the raw TLC yellow-trip shape.

Each month holds ``n_valid`` rows that pass the fact contract, exact
copies of ``n_dups`` of them, and one row per contract violation.  The
quality filters and the exact dedup of the star build then keep exactly
``n_valid`` rows, so the expected fact count of a month is known in
closed form (``expected_fact_rows``).  The same (seed, year, month,
sizes) always yields byte-identical parquet.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One row per violation of the fact contract (passengers 1-6, distance
# 5-500, fare > 0, duration < 24 h).  Each override is applied to a
# fresh valid row, so every violation row is distinct from the others.
VIOLATIONS = [
    {"passenger_count": 0.0},
    {"passenger_count": 7.0},
    {"passenger_count": None},
    {"trip_distance": 4.99},
    {"trip_distance": 500.01},
    {"fare_amount": 0.0},
    {"fare_amount": -5.5},
    {"duration_s": 1440 * 60},
]

SCHEMA = pa.schema(
    [
        ("VendorID", pa.int64()),
        ("tpep_pickup_datetime", pa.timestamp("us", tz="UTC")),
        ("tpep_dropoff_datetime", pa.timestamp("us", tz="UTC")),
        ("passenger_count", pa.float64()),
        ("trip_distance", pa.float64()),
        ("RatecodeID", pa.float64()),
        ("store_and_fwd_flag", pa.string()),
        ("PULocationID", pa.int64()),
        ("DOLocationID", pa.int64()),
        ("payment_type", pa.int64()),
        ("fare_amount", pa.float64()),
        ("extra", pa.float64()),
        ("mta_tax", pa.float64()),
        ("tip_amount", pa.float64()),
        ("tolls_amount", pa.float64()),
        ("improvement_surcharge", pa.float64()),
        ("total_amount", pa.float64()),
        ("congestion_surcharge", pa.float64()),
        ("airport_fee", pa.float64()),
    ]
)


def file_name(year: int, month: int) -> str:
    return f"yellow_tripdata_{year:04d}-{month:02d}.parquet"


def expected_fact_rows(n_valid: int) -> int:
    """Rows of one generated month that reach the fact table."""
    return n_valid


def month_table(seed: int, year: int, month: int, n_valid: int, n_dups: int) -> pa.Table:
    """One raw month: valid rows, exact duplicates, then the violations."""
    rng = np.random.default_rng([seed, year, month])
    n = n_valid + len(VIOLATIONS)
    start = dt.datetime(year, month, 1, tzinfo=dt.timezone.utc)
    nxt = dt.datetime(year + month // 12, month % 12 + 1, 1, tzinfo=dt.timezone.utc)
    # distinct pickup seconds keep every generated row distinct, so the
    # dedup removes exactly the planted copies; the last 3 days are left
    # out so a 24 h trip still drops off inside the month
    span = int((nxt - start).total_seconds()) - 3 * 86400
    offsets = np.sort(rng.choice(span, size=n, replace=False))
    pickup_us = int(start.timestamp()) * 1_000_000 + offsets.astype(np.int64) * 1_000_000
    duration_s = rng.integers(60, 2 * 3600, size=n)
    cols = {
        "VendorID": rng.choice([1, 2, 6, 7], size=n).astype(np.int64),
        "passenger_count": rng.integers(1, 7, size=n).astype(np.float64),
        "trip_distance": np.round(rng.uniform(5.0, 60.0, size=n), 2),
        "RatecodeID": rng.choice([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 99.0], size=n),
        "store_and_fwd_flag": rng.choice(np.array(["Y", "N"]), size=n),
        "PULocationID": rng.integers(1, 264, size=n).astype(np.int64),
        "DOLocationID": rng.integers(1, 264, size=n).astype(np.int64),
        "payment_type": rng.integers(0, 7, size=n).astype(np.int64),
        "fare_amount": np.round(rng.uniform(2.5, 150.0, size=n), 2),
        "extra": rng.choice([0.0, 0.5, 1.0, 2.5], size=n),
        "mta_tax": np.full(n, 0.5),
        "tip_amount": np.round(rng.uniform(0.0, 30.0, size=n), 2),
        "tolls_amount": rng.choice([0.0, 0.0, 6.55, 12.75], size=n),
        "improvement_surcharge": np.full(n, 1.0),
        "congestion_surcharge": rng.choice([0.0, 2.5], size=n),
    }
    cols["total_amount"] = np.round(
        cols["fare_amount"] + cols["extra"] + cols["mta_tax"] + cols["tip_amount"]
        + cols["tolls_amount"] + cols["improvement_surcharge"]
        + cols["congestion_surcharge"],
        2,
    )
    airport = rng.choice([0.0, 1.75], size=n)
    airport[rng.random(n) < 0.05] = np.nan  # nullable, coalesced to 0 by the contract
    cols["airport_fee"] = airport
    # the violation rows are the last len(VIOLATIONS) generated rows
    for i, bad in enumerate(VIOLATIONS):
        r = n_valid + i
        for k, v in bad.items():
            if k == "duration_s":
                duration_s[r] = v
            else:
                cols[k][r] = np.nan if v is None else v
    cols["tpep_pickup_datetime"] = pickup_us
    cols["tpep_dropoff_datetime"] = pickup_us + duration_s.astype(np.int64) * 1_000_000
    order = np.concatenate(
        [np.arange(n), rng.choice(n_valid, size=n_dups, replace=False)]
    )
    arrays = []
    for f in SCHEMA:
        v = cols[f.name][order]
        # NaN marks a null: the raw files carry nulls, never NaN
        mask = np.isnan(v) if v.dtype == np.float64 else None
        arrays.append(pa.array(v, type=f.type, mask=mask))
    return pa.Table.from_arrays(arrays, schema=SCHEMA)


def write_month(path: str, seed: int, year: int, month: int, n_valid: int, n_dups: int) -> None:
    pq.write_table(
        month_table(seed, year, month, n_valid, n_dups), path, compression="snappy"
    )
