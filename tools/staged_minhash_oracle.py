"""Staged (spillable) replay of the ``dedup_fuzzy_minhash`` bit-exact
oracle — fills the one cell of the five-axis validation matrix the
monolithic oracle cannot (r15 verdict ask #2).

The contract oracle (engine ``ORACLES['dedup_fuzzy_minhash']``, built
by ``operators/dedup._minhash_xxh_oracle``) is one 191 KB single
statement: a WITH-chain reproducing Spark's xxhash64 bit-for-bit over
shingles, signatures and band buckets.  The driver requires
single-statement oracles, and at driver scale (sf0.01) the monolith is
fine — but at the 10x synthesized corpus DuckDB pipelines the whole
CTE chain and its list_transform/list_reduce intermediates (per-row
byte lists) are NOT spillable: the replay hit a hard Out-of-Memory on
the 125 GiB host even with temp_directory + memory_limit set
(COVERAGE r15).

This tool re-expresses the SAME pipeline as staged materialization:
one CREATE TEMP TABLE per stage barrier (distinct shingles -> string
digests -> per-seed chains -> per-doc minima -> signatures -> band
buckets -> candidates), so each stage's working set is ONE stage and
every inter-stage edge is a spillable table — the exact factored-hash
cost discipline the engine side uses (``operators/dedup.py``: the
string digest is computed once per DISTINCT shingle, the 32 per-seed
values are cheap int-hash chains over it).

The staged text is REBUILT from the same ``functions/xxh_sql`` CTE
generators the contract oracle uses, with only source-relation names
substituted — and equivalence is not assumed but GATED: ``--compare``
runs both forms and requires bit-identical results
(tests/test_staged_oracle.py pins this at fixture scale; run it
manually at sf0.1 / 4x before trusting a 10x sweep).  The contract
oracle itself is UNCHANGED — the driver keeps executing the
single-statement form.

Usage:
    python tools/staged_minhash_oracle.py [sf_dir] --compare   # both forms, assert equal
    python tools/staged_minhash_oracle.py [sf_dir]             # staged only, print rows

Consumed by tools/check_oracle.py when CHECK_STAGED_ORACLE=1 (the
large-synthesized-scale sweeps).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def statements() -> list[tuple[str | None, str]]:
    """The staged pipeline: ``[(temp_table_name, select_sql), ...]``;
    the last entry has name ``None`` — it is the final SELECT whose
    result is the oracle's result.  Each body is the corresponding
    fragment of ``_minhash_xxh_oracle`` with staged sources substituted
    (smo_* = Staged Minhash Oracle)."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.functions import xxh_sql as X

    shinst = """
SELECT DISTINCT doc_id, shingle FROM (
  SELECT doc_id,
         unnest([array_to_string(toks[i:i+2], ' ')
                 FOR i IN range(1, greatest(len(toks)-2, 1) + 1)]) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)"""
    shing = """
SELECT shingle, row_number() OVER (ORDER BY shingle) AS sid
FROM (SELECT DISTINCT shingle FROM smo_shinst)"""
    hs = (
        "WITH "
        + X.xxh_str_ctes("hs", "smo_shing", "shingle, sid", "shingle", "hstr")
        + "\nSELECT shingle, sid, hstr FROM hs_out"
    )
    ks = """
SELECT sid, hstr, CAST(k AS INT) AS k
FROM smo_hs CROSS JOIN range(0, 32) t(k)"""
    ik = (
        "WITH "
        + X.xxh_int_ctes("ik", "smo_ks", "sid, k", "k", "hstr", "hk")
        + "\nSELECT sid, k, hk FROM ik_out"
    )
    mh = f"""
SELECT si.doc_id, ik.k, min({X.to_signed("ik.hk")}) AS mh
FROM smo_shinst si
JOIN smo_shing sg USING (shingle)
JOIN smo_ik ik USING (sid)
GROUP BY si.doc_id, ik.k"""
    sig = "SELECT doc_id, list(mh ORDER BY k) AS sig FROM smo_mh GROUP BY doc_id"
    bandstr = """
SELECT doc_id, CAST(b AS INT) AS band,
       concat_ws(',', CAST(sig[CAST(b*4+1 AS INT)] AS VARCHAR),
                      CAST(sig[CAST(b*4+2 AS INT)] AS VARCHAR),
                      CAST(sig[CAST(b*4+3 AS INT)] AS VARCHAR),
                      CAST(sig[CAST(b*4+4 AS INT)] AS VARCHAR)) AS bstr
FROM smo_sig CROSS JOIN range(0, 8) t(b)"""
    hb = (
        "WITH "
        + X.xxh_str_ctes("hb", "smo_bandstr", "doc_id, band", "bstr", "hbkt")
        + "\nSELECT doc_id, band, hbkt FROM hb_out"
    )
    banded = f"SELECT doc_id, band, {X.to_signed('hbkt')} AS bucket FROM smo_hb"
    cand = """
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM smo_banded x JOIN smo_banded y
  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id"""
    final = """
SELECT doc_a, doc_b, est_jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         ROUND(len([i FOR i IN range(1, 33) IF sa.sig[CAST(i AS INT)] = sb.sig[CAST(i AS INT)]])
               / 32.0, 4) AS est_jaccard
  FROM smo_cand c
  JOIN smo_sig sa ON sa.doc_id = c.doc_a
  JOIN smo_sig sb ON sb.doc_id = c.doc_b
) est
WHERE est_jaccard >= 0.2
ORDER BY doc_a, doc_b"""
    return [
        ("smo_shinst", shinst),
        ("smo_shing", shing),
        ("smo_hs", hs),
        ("smo_ks", ks),
        ("smo_ik", ik),
        ("smo_mh", mh),
        ("smo_sig", sig),
        ("smo_bandstr", bandstr),
        ("smo_hb", hb),
        ("smo_banded", banded),
        ("smo_cand", cand),
        (None, final),
    ]


def run_staged(con, log=None) -> str:
    """Materialize every stage as a TEMP TABLE on ``con`` (spillable —
    the caller is responsible for temp_directory/memory_limit PRAGMAs)
    and return the final SELECT.  The caller executes that SELECT —
    possibly more than once (fetchall + .df(), as check_oracle does) —
    against the staged tables."""
    import time

    final_sql = None
    for name, body in statements():
        if name is None:
            final_sql = body
            continue
        t0 = time.time()
        con.execute(f"DROP TABLE IF EXISTS {name}")
        con.execute(f"CREATE TEMP TABLE {name} AS {body}")
        if log:
            n = con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
            log(f"  staged {name}: {n} rows ({time.time() - t0:.1f}s)")
    assert final_sql is not None
    return final_sql


def main() -> int:
    import duckdb

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    compare = "--compare" in sys.argv

    con = duckdb.connect()
    con.execute("PRAGMA temp_directory='/tmp/duckdb_spill.tmp'")
    import os

    mem = os.environ.get("CHECK_DUCKDB_MEM")
    if not mem:
        try:
            ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
            mem = f"{max(1, min(80, int(ram_gb * 0.65)))}GB"
        except (ValueError, OSError, AttributeError):
            mem = "4GB"
    con.execute(f"PRAGMA memory_limit='{mem}'")
    for name in TABLES:
        p = f"{sf_dir}/{name}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    final_sql = run_staged(con, log=lambda m: print(m, file=sys.stderr))
    staged = con.execute(final_sql).fetchall()
    print(f"staged: {len(staged)} rows", file=sys.stderr)

    if compare:
        import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

        engine.load_all()
        mono = con.execute(engine.ORACLES["dedup_fuzzy_minhash"]).fetchall()
        if mono != staged:
            diff = [(a, b) for a, b in zip(mono, staged) if a != b]
            print(
                f"MISMATCH: monolithic {len(mono)} rows vs staged {len(staged)}; "
                f"first diffs: {diff[:3]}"
            )
            return 1
        print(f"EQUAL: staged replay == monolithic oracle ({len(mono)} rows) at {sf_dir}")
        return 0
    for row in staged[:20]:
        print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
