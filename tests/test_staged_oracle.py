"""Equivalence gate for the staged dedup_fuzzy_minhash oracle replay
(r15 verdict ask #2).

The staged form (tools/staged_minhash_oracle.py) exists so the 10x
synthesized sweep can value-check dedup_fuzzy_minhash — the monolithic
191 KB single-statement oracle's list intermediates are non-spillable
and OOM DuckDB there.  The staged text is rebuilt from the same
functions/xxh_sql generators with only source names substituted; this
test makes the equivalence MECHANICAL instead of assumed: both forms
must produce bit-identical rows over the same corpus.  Any drift in
either the contract oracle or the staged reconstruction fails here
before a sweep could silently diverge.
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import staged_minhash_oracle as smo  # noqa: E402


def _con(sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def test_staged_replay_equals_monolithic_oracle_bit_exact():
    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    engine.load_all()
    con = _con("/root/testdata/sf0.001")
    final_sql = smo.run_staged(con)
    staged = con.execute(final_sql).fetchall()
    mono = con.execute(engine.ORACLES["dedup_fuzzy_minhash"]).fetchall()
    assert staged == mono
    assert len(staged) > 0, "empty result would make the equality vacuous"


def test_staged_stage_list_shape():
    """The decomposition must end in a plain SELECT (name None) and
    every stage barrier must be a smo_-prefixed temp table — the
    naming contract run_staged and the sweep logging rely on."""
    stmts = smo.statements()
    names = [n for n, _ in stmts]
    assert names[-1] is None
    assert all(n.startswith("smo_") for n in names[:-1])
    assert len(names) == len(set(names)), "duplicate stage names"
