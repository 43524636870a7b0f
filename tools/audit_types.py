"""Cross-engine result-TYPE audit — the r6 `sink_snapshot_diff` class.

The local value checker (check_oracle.py) compares Python values, where
``Decimal(3) == 3 == 3.0`` — but the driver hashes *typed* values, so a
DuckDB HUGEINT (untyped ``SUM(BIGINT)``) vs a Spark LongType, or a
decimal-scale mismatch, can hash-diverge even when every number is
equal.  This audit DESCRIBEs each oracle in DuckDB (no execution) and
compares column-by-column against the Spark result schema, flagging
the hash-dangerous pairs:

* DuckDB HUGEINT anywhere (Spark has no int128 — always a divergence
  risk);
* DECIMAL on one side vs DOUBLE/BIGINT on the other;
* DECIMAL scale mismatch between the engines.

Int-width differences (INTEGER vs BIGINT) and VARCHAR/DATE/TIMESTAMP
pairs are value-identical after any sane normalization and are not
flagged.

Usage: python tools/audit_types.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import re
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

INT_DUCK = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}
INT_SPARK = {"byte", "short", "int", "long"}
FLOAT_DUCK = {"FLOAT", "DOUBLE"}
FLOAT_SPARK = {"float", "double"}


def duck_class(t: str):
    t = t.upper()
    if t in INT_DUCK:
        return ("int",)
    if t in ("HUGEINT", "UBIGINT", "UHUGEINT"):
        return ("int128",)
    if t in FLOAT_DUCK:
        return ("float",)
    m = re.match(r"DECIMAL\((\d+),(\d+)\)", t)
    if m:
        return ("decimal", int(m.group(2)))
    if t.startswith(("VARCHAR", "STRING")):
        return ("str",)
    if t == "DATE":
        return ("date",)
    if t.startswith("TIMESTAMP"):
        return ("ts",)
    if t == "BOOLEAN":
        return ("bool",)
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return ("list", duck_class(re.sub(r"\[\]$", "", t)))
    if t == "BLOB":
        return ("bytes",)
    return ("other", t)


def spark_class(t: str):
    t = t.lower()
    if t in INT_SPARK:
        return ("int",)
    if t in FLOAT_SPARK:
        return ("float",)
    m = re.match(r"decimal\((\d+),(\d+)\)", t)
    if m:
        return ("decimal", int(m.group(2)))
    if t == "string":
        return ("str",)
    if t == "date":
        return ("date",)
    if t.startswith("timestamp"):
        return ("ts",)
    if t == "boolean":
        return ("bool",)
    m = re.match(r"array<(.*)>$", t)
    if m:
        return ("list", spark_class(m.group(1)))
    if t == "binary":
        return ("bytes",)
    return ("other", t)


def dangerous(dc, sc) -> str | None:
    if dc == sc:
        return None
    if dc[0] == "int128" or sc[0] == "int128":
        return "HUGEINT vs %s" % (sc,)
    if dc[0] == "list" and sc[0] == "list":
        return dangerous(dc[1], sc[1])
    kinds = {dc[0], sc[0]}
    if kinds == {"decimal", "float"} or kinds == {"decimal", "int"}:
        return f"{dc} vs {sc}"
    if dc[0] == "decimal" and sc[0] == "decimal" and dc[1] != sc[1]:
        return f"decimal scale {dc[1]} vs {sc[1]}"
    if kinds == {"int", "float"}:
        return f"{dc} vs {sc}"
    return None  # str/date/ts/int-width pairs: value-identical


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import session_cpus

    cpus = os.environ.get("CHECK_CPUS") or str(session_cpus())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("CHECK_PARTS", cpus))
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("audit_types")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    n_flag = n_ok = n_skip = 0
    for key, fn in qs.items():
        if only and key not in only:
            continue
        if key not in oracles:
            n_skip += 1
            continue
        try:
            duck_cols = {
                r[0]: duck_class(r[1])
                for r in con.execute(f"DESCRIBE {oracles[key]}").fetchall()
            }
            sdf = fn(spark, sf_dir)
            sp_cols = {f.name: spark_class(f.dataType.simpleString()) for f in sdf.schema.fields}
        except Exception as ex:
            print(f"ERR  {key}: {type(ex).__name__}: {ex}")
            n_flag += 1
            continue
        flags = []
        for col in duck_cols:
            if col not in sp_cols:
                flags.append(f"{col}: missing on spark side")
                continue
            why = dangerous(duck_cols[col], sp_cols[col])
            if why:
                flags.append(f"{col}: {why}")
        if flags:
            n_flag += 1
            print(f"FLAG {key}: " + "; ".join(flags))
        else:
            n_ok += 1
    print(f"\n== {n_ok} ok, {n_flag} flagged, {n_skip} weak-skipped ==")


if __name__ == "__main__":
    main()
