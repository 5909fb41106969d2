"""``corpus_mix``: a fixed registry query mix, one query at a time.

The catalog (events, documents, embeddings) is generated from the seed.
Each operation runs the whole mix once in a fixed order; every result
is collected. After the measured region each query's last result is
compared with its DuckDB oracle from ``queries.ORACLES``, order-
insensitively, with the repository's own comparison rules (sorted column
names, same row count, dtype kinds, cell values).
"""

from __future__ import annotations

import math
import statistics
import time

import numpy as np
import pandas as pd

import sparkstats
import tables
from benchenv import BenchEnv, Result, measure
from metrics import MIX
from probes import self_times

#: events in the generated catalog (documents and embeddings scale with it)
ROWS = 8_000
QUERY_ORDER = [q for names in MIX.values() for q in names]
FAMILY = {q: fam for fam, names in MIX.items() for q in names}


def _cell(v):
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return None
    return v


def canon(df: pd.DataFrame) -> list:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


def same_result(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when equal, else a short reason."""
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    kinds = [c for c in spark_df.columns if spark_df[c].dtype.kind != oracle_df[c].dtype.kind]
    if kinds:
        return f"dtype kinds differ in {kinds}"
    if canon(spark_df) != canon(oracle_df):
        return "values differ"
    return None


def corpus_mix(env: BenchEnv, seconds: float) -> Result:
    from speech_data_pipeline_spark.queries import ORACLES, QUERIES

    spark, tr = env.spark, env.tracer
    cat = env.path("catalog")
    counts = env.timed_setup(lambda: tables.write_catalog(cat, env.seed, ROWS))
    r = Result()
    results: dict[str, pd.DataFrame] = {}
    qtimes: dict[str, list] = {q: [] for q in QUERY_ORDER}

    def op(i):
        with tr.span("op", "queries"):
            for q in QUERY_ORDER:
                t = time.perf_counter()
                try:
                    with tr.span(f"query.{q}", "queries"):
                        results[q] = QUERIES[q](spark, cat).toPandas()
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    r.failed += 1
                    results.pop(q, None)
                    r.check(False, f"{q} raised {type(exc).__name__}: {exc}")
                qtimes[q].append(time.perf_counter() - t)
                # operators persist() bounded relations inside their plans
                spark.catalog.clearCache()

    m = measure(env, seconds, op)
    r.attempted = len(m.walls) * len(QUERY_ORDER)

    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in counts:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{cat}/{t}.parquet'")
    for q in QUERY_ORDER:
        if q in results:
            why = same_result(results[q], con.execute(ORACLES[q]).df())
            r.failed += why is not None
            r.check(why is None, f"{q} differs from its DuckDB oracle: {why}")
    con.close()

    med = {q: statistics.median(ts) for q, ts in qtimes.items()}
    geo = math.exp(sum(math.log(t) for t in med.values()) / len(med))
    r.notes.append(f"catalog rows {counts}")
    layer = None
    if env.traced:
        group = f"op{len(m.walls) - 1}"
        layer = {f"query.{q}_s": t for q, t in med.items()}
        for q, t in med.items():
            layer[f"family.{FAMILY[q]}_s"] = layer.get(f"family.{FAMILY[q]}_s", 0.0) + t
        layer["queries.geomean_s"] = geo
        layer["trace.wall_s"] = m.walls[-1]
        layer["core_util"] = m.cpus[-1] / (m.walls[-1] * env.cores)
        layer.update(sparkstats.tracker_counts(spark.sparkContext, group))
        layer.update(sparkstats.rest_counts(spark.sparkContext, group))
        layer.update(self_times(tr))
    else:
        r.extra("query_geomean_s", geo, "s")
    return env.finish(r, m, layer)
