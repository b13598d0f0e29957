"""The ``queries`` workload: read-only analytics over the pinned keys.

One pass builds each key's DataFrame on the driver with
``QUERIES[k](spark, sf)`` and executes it into the ``noop`` sink. The
tables are the parquet files ``tables.TABLES`` names (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) in the directory given by ``--sf-dir``; the seed does not
change them.

Set-up is the session start plus one untimed pass that doubles as the
correctness gate: every key's rows are collected and compared with its
DuckDB oracle (``__spark_entry__.oracle_sql()``) — same columns, same
row count, same values — and a key without an oracle must return rows.
Only the Spark side of that pass counts as set-up.
"""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback

from keys import KEYS
from workloads import gate


def check_keys(entry) -> dict:
    """The key functions of the pinned keys; fails if one is gone."""
    queries = entry.queries()
    missing = [k for k in KEYS if k not in queries]
    gate(not missing, f"pinned query keys missing from queries(): {missing}")
    return {k: queries[k] for k in KEYS}


def module_of(fn) -> str:
    """The last name of the module that defines a key: `suite` for
    ``suite.py``, the family for ``suites/<family>.py``."""
    mod = getattr(getattr(fn, "func", fn), "__module__", "") or ""
    return mod.rsplit(".", 1)[-1]


def _normalize(df):
    import pandas as pd

    def cell(v):
        if hasattr(v, "tolist"):  # numpy arrays and scalars
            v = v.tolist()
        if v is None or v is pd.NA or v is pd.NaT or (
            isinstance(v, float) and math.isnan(v)
        ):
            return "<null>"
        return repr(v) if isinstance(v, float) else str(v)

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(cell)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def gate_pass(spark, fns: dict, oracles: dict, sf_dir: str) -> float:
    """Build and collect every key, compare each with its oracle. Returns
    the Spark-side seconds (build + collect); the DuckDB side is not
    timed."""
    import duckdb

    from crypto_data_service_loader_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    spark_s = 0.0
    for k, fn in fns.items():
        t0 = time.monotonic()
        got = fn(spark, sf_dir).toPandas()
        spark_s += time.monotonic() - t0
        if k not in oracles:
            gate(len(got) > 0, f"query {k}: no rows and no oracle")
            continue
        want = con.execute(oracles[k]).fetch_arrow_table().to_pandas()
        s, o = _normalize(got), _normalize(want)
        gate(list(s.columns) == list(o.columns),
             f"query {k}: columns {list(s.columns)} != oracle {list(o.columns)}")
        gate(len(s) == len(o), f"query {k}: {len(s)} rows != oracle {len(o)}")
        gate(s.equals(o), f"query {k}: values differ from the oracle")
    con.close()
    return spark_s


def run_pass(spark, fns: dict, sf_dir: str, tracer, unit) -> dict:
    """One timed pass. Returns per-key (build_s, exec_s) and the keys that
    raised."""
    per_key, failed = {}, []
    tracer.unit = unit
    for k, fn in fns.items():
        mod = module_of(fn)
        try:
            t0 = time.monotonic()
            df = tracer.call(f"suite.{mod}.build", fn, spark, sf_dir)
            t1 = time.monotonic()
            tracer.call(f"suite.{mod}.exec",
                        df.write.format("noop").mode("overwrite").save)
            t2 = time.monotonic()
        except Exception:  # noqa: BLE001 — a raising key is a failed op
            traceback.print_exc()
            failed.append(k)
            continue
        per_key[k] = (t1 - t0, t2 - t1)
    tracer.unit = None
    return {"keys": per_key, "failed": failed}


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def pass_layers(metrics: dict) -> dict:
    """The per-layer figures of one pass: Spark figures, build and execute
    time per module, and their totals."""
    out = {k: v for k, v in metrics.items()
           if k.startswith("spark.") or k.endswith((".build_s", ".exec_s"))}
    out["suite.build_s"] = sum(v for k, v in metrics.items()
                               if k.endswith(".build_s"))
    out["suite.build_jobs"] = sum(v for k, v in metrics.items()
                                  if k.endswith(".build_jobs"))
    out["exec.noop_write_s"] = sum(v for k, v in metrics.items()
                                   if k.endswith(".exec_s"))
    return out
