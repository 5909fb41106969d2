"""Driver-session compatibility: the acceptance driver runs
__spark_entry__ on its OWN SparkSession — no engine conf, no pinned
timezone, default everything. This round's nanos-timestamp breakage
only showed up there, so this test runs the contract in a subprocess
with a deliberately hostile session (non-UTC timezone, no engine
defaults) and checks a timestamp-sensitive query still matches its
DuckDB oracle value-for-value."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import __spark_entry__ as ent

assert len(ent.entry(spark).collect()) > 0
qs, os_ = ent.queries(), ent.oracle_sql()
assert set(qs) == set(os_), "every query needs an oracle"

import duckdb

sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ("events", "documents", "embeddings"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

for name in ("w1_sessionize_gap", "a10_windowed_means"):
    got = sorted(
        tuple(r) for r in qs[name](spark, sf).collect()
    )
    want = sorted(tuple(r) for r in con.execute(os_[name]).fetchall())
    assert len(got) == len(want), (name, len(got), len(want))
    assert got == want, name
print(json.dumps({"ok": True}))
"""


def test_driver_contract_on_plain_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["ok"]
