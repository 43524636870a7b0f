"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at a given sf dir, runs the matching
``oracle_sql()`` in DuckDB over the same parquet (views pre-registered
as in the driver contract), and compares row count, sorted-column
schema, and order-insensitive values.  Exact equality is required.

Exact equality alone is NOT sufficient, though — the r9 driver reds
all passed it.  The driver canonicalizes through PANDAS: the Spark
result via ``toPandas()`` (DecimalType -> object-dtype Decimal cells,
ArrayType -> ndarray cells) and the DuckDB result via ``.df()``
(DECIMAL/HUGEINT -> float64), then ``sort_values`` over all columns.
Two failure modes invisible to a python-object compare:

  * ndarray cells are unhashable -> the driver's sort_values raises
    (r9: sim_vector_quantize_int8, text_feature_hashing driver-err);
  * object-Decimal vs float64 columns hash differently even when
    every value is equal (r9: events_cooccurrence_lift hash-fail).

So this gate ALSO replays the driver path: both results go through
pandas, the sort_values canary must not raise on either side, and the
per-column pandas type CLASS (int/float/decimal/str/...) must agree
between engines.  A key that is green here is green at the driver.

Usage:  python tools/check_oracle.py [sf_dir] [key ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def _pd_type_class(pdf, col):
    """Coarse pandas type class the driver's hash distinguishes."""
    import numpy as np

    kind = pdf[col].dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    # object dtype: classify by the first non-null cell
    for v in pdf[col]:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        import decimal

        if isinstance(v, decimal.Decimal):
            return "decimal"
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, np.integer)):
            return "int"
        if isinstance(v, (float, np.floating)):
            return "float"
        if isinstance(v, str):
            return "str"
        if isinstance(v, bytes):
            return "bytes"
        # date and datetime are ONE class: 7 registry keys emit Spark
        # DATE (object-dtype datetime.date) against DuckDB DATE
        # (datetime64[ns]) and all 7 hold strong driver-green verdicts
        # — the driver's coercions unify temporal types.  Decimal vs
        # float, by contrast, is driver-red on value-equal rows (r9).
        if isinstance(v, (datetime, date)):
            return "datetime"
        return type(v).__name__
    return "all-null"


def driver_canon_check(spark_pdf, duck_pdf):
    """Replay the driver's pandas canonicalization; return error or None.

    The driver sorts columns by name, then ``sort_values`` over ALL
    columns (unhashable cells -> TypeError there), then hashes values
    (dtype-class divergence -> hash mismatch).  We reproduce the sort
    on both frames and require per-column type-class equality.
    """
    for name, pdf in (("spark", spark_pdf), ("duckdb", duck_pdf)):
        cols = sorted(pdf.columns)
        try:
            pdf[cols].sort_values(by=cols)
        except Exception as ex:
            return f"{name} result not driver-canonicalizable: {type(ex).__name__}: {ex}"
    for col in sorted(spark_pdf.columns):
        if col not in duck_pdf.columns:
            continue  # schema mismatch reported elsewhere
        cs, cd = _pd_type_class(spark_pdf, col), _pd_type_class(duck_pdf, col)
        if "all-null" in (cs, cd):
            continue
        if cs != cd:
            return (
                f"pandas type-class diverges on '{col}': spark={cs} duckdb={cd}"
                " (driver hashes these differently even when values are equal)"
            )
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        recommended_session_conf,
        session_cpus,
    )

    cpus = os.environ.get("CHECK_CPUS") or str(session_cpus())
    # engine-recommended session conf (codegen class cache sized to the
    # registry — STATIC, build-time only — plus UTC/AQE/Arrow): single
    # source of truth; see core.recommended_session_conf
    builder = SparkSession.builder.master(f"local[{cpus}]")
    for k, v in recommended_session_conf(
        os.environ.get("CHECK_PARTS", cpus)
    ).items():
        builder = builder.config(k, v)
    spark = (
        builder.config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .appName("check_oracle")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # Out-of-core oracles: an in-memory connection has NO temp
    # directory, so DuckDB cannot spill hash joins/aggregations and
    # the heaviest near-dup oracle (dedup_fuzzy_minhash's banded
    # replay) hit a hard Out-of-Memory at 10x synthesized scale
    # (125 GiB host) instead of spilling.  A temp dir + an explicit
    # limit below the host's RAM (leaving room for the Spark JVM)
    # lets every oracle complete out-of-core.
    con.execute("PRAGMA temp_directory='/tmp/duckdb_spill.tmp'")
    # The limit must sit BELOW physical RAM (leaving room for the Spark
    # JVM) or DuckDB ooms instead of spilling — and a hardcoded 80GB is
    # itself above RAM on a smaller host (ADVICE r15).  Derive it:
    # 65% of physical RAM, capped at the 80GB the documented 125 GiB
    # host gets, overridable via CHECK_DUCKDB_MEM.
    mem = os.environ.get("CHECK_DUCKDB_MEM")
    if not mem:
        try:
            ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
            mem = f"{max(1, min(80, int(ram_gb * 0.65)))}GB"
        except (ValueError, OSError, AttributeError):
            mem = "4GB"
    con.execute(f"PRAGMA memory_limit='{mem}'")
    print(f"# duckdb memory_limit={mem}", file=sys.stderr)
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    # CHECK_STAGED_ORACLE=1: swap the monolithic single-statement
    # oracle for its staged temp-table replay on the keys registered
    # below.  The driver contract keeps the single-statement form; the
    # staged form exists for synthesized-scale sweeps (10x) where the
    # monolith's list intermediates are non-spillable and OOM DuckDB
    # (r15 verdict ask #2).  Equivalence is GATED, not assumed:
    # tests/test_staged_oracle.py pins staged == monolithic bit-exact
    # at fixture scale, and staged_minhash_oracle --compare re-proves
    # it at any sf both forms can hold.
    staged_replays = {}
    if os.environ.get("CHECK_STAGED_ORACLE") == "1":
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import staged_minhash_oracle

        staged_replays["dedup_fuzzy_minhash"] = staged_minhash_oracle.run_staged
        print("# staged-oracle replay active for:", sorted(staged_replays), file=sys.stderr)
    n_pass = n_fail = n_weak = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            srows = df.collect()
            scols = df.columns
            spdf = df.toPandas()
        except Exception as ex:
            print(f"FAIL {key}: spark error: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if key not in oracles:
            print(f"WEAK {key}: rows={len(srows)} ({dt:.1f}s, rows-only check)")
            n_weak += 1
            continue
        try:
            osql = oracles[key]
            if key in staged_replays:
                osql = staged_replays[key](con)  # materializes temp stages
            res = con.execute(osql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            dpdf = con.execute(osql).df()
        except Exception as ex:
            print(f"FAIL {key}: duckdb error: {ex}")
            n_fail += 1
            continue
        canon_err = driver_canon_check(spdf, dpdf)
        if canon_err:
            print(f"FAIL {key}: {canon_err}")
            n_fail += 1
            continue
        sc, sr = norm_rows([c for c in scols], [tuple(r) for r in srows])
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            print(f"FAIL {key}: schema mismatch spark={sc} duckdb={dc}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {key}: rowcount spark={len(sr)} duckdb={len(dr)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(sr, dr) if a != b]
        if bad:
            print(f"FAIL {key}: {len(bad)}/{len(sr)} rows differ; first: spark={bad[0][0]} duckdb={bad[0][1]}")
            n_fail += 1
            continue
        print(f"PASS {key}: rows={len(sr)} ({dt:.1f}s)")
        n_pass += 1
    print(f"\n== {n_pass} pass, {n_weak} weak, {n_fail} fail ==")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
