"""Driver-contract simulation: vanilla SparkSession, every queries()
entry vs its oracle_sql() on /root/testdata/sf0.01 via DuckDB.

Env: SIM_TZ=<iana-tz> to run the Spark driver in a non-UTC session tz.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SIM_SF_DIR", "/root/testdata/sf0.01")
# Replayed-fit oracles (nn03's quantizer) must read the SAME SF the
# queries run on — propagate it before the registry import caches them.
os.environ["SPARK_GRAFT_TESTDATA"] = SF_DIR
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

builder = SparkSession.builder.master(
    os.environ.get("SIM_MASTER", "local[8]")
).appName("driver-sim")
tz = os.environ.get("SIM_TZ")
if tz:
    builder = builder.config("spark.sql.session.timeZone", tz)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as mod  # noqa: E402
from hunting_scams_on_wallapop_a_data_pipeline_and_fraud_detection_challenge_spark.compare import (  # noqa: E402
    bit_mismatch,
)

assert mod.entry(spark).count() > 0, "entry() smoke failed"

con = duckdb.connect()
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
    )

qs = mod.queries()
oracles = mod.oracle_sql()
only = os.environ.get("SIM_ONLY")
if only:
    keep = {n.strip() for n in only.split(",") if n.strip()}
    unknown = keep - qs.keys()
    assert not unknown, f"SIM_ONLY names not in registry: {sorted(unknown)}"
    qs = {n: f for n, f in qs.items() if n in keep}


def norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif s.dtype == object:
            out[c] = s.map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
    out = out[sorted(out.columns)]
    return out.sort_values(list(out.columns)).reset_index(drop=True)


fail = []
for name, fn in sorted(qs.items()):
    t0 = time.perf_counter()
    try:
        actual = fn(spark, SF_DIR).toPandas()
    except Exception as e:  # noqa: BLE001
        fail.append((name, f"spark-error: {e}"))
        print(f"FAIL {name}: spark error {str(e)[:200]}")
        continue
    if name not in oracles:
        print(f"rows-only {name}: {len(actual)} rows  ({time.perf_counter()-t0:.2f}s)")
        continue
    expected = con.execute(oracles[name]).fetchdf()
    status = []
    if sorted(actual.columns) != sorted(expected.columns):
        status.append(f"cols {sorted(actual.columns)} vs {sorted(expected.columns)}")
    elif len(actual) != len(expected):
        status.append(f"rows {len(actual)} vs {len(expected)}")
    else:
        a, e = norm(actual), norm(expected)
        try:
            pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
        except AssertionError as err:
            status.append(f"values: {str(err)[:200]}")
        else:
            # driver hashes raw bytes: -0.0 vs +0.0 passes value equality
            # but fails the driver (the r03 rp01 defect) — check bits too
            diff = bit_mismatch(a, e)
            if diff:
                status.append(diff)
    if status:
        fail.append((name, "; ".join(status)))
        print(f"FAIL {name}: {'; '.join(status)}")
    else:
        print(f"ok   {name}: {len(actual)} rows  ({time.perf_counter()-t0:.2f}s)")

print(f"\n{len(qs) - len(fail)}/{len(qs)} green; {len(fail)} failures")
if fail:
    sys.exit(1)
