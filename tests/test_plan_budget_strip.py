"""Pin plan_budget's executed-plan counting rule (r15 verdict ask #5).

A finalized AdaptiveSparkPlan's toString() renders BOTH a Final and an
Initial section, and subquery AdaptiveSparkPlans nest INLINE inside
the outer Final section with their own Final/Initial pairs.  Naive
counting doubles every node (the r15 2x-on-214-keys reading); a naive
cut at the first Initial marker drops real final-plan content that
renders after a nested subquery's Initial section (sql_api_q11 read
as a broadcast demotion).  strip_initial_sections removes each
Initial SECTION by indentation; these tests replay both failure
shapes on synthetic plan strings.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from plan_budget import strip_initial_sections  # noqa: E402

FLAT = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(2) HashAggregate(keys=[], functions=[sum(x)])
   +- ShuffleQueryStage 0
      +- Exchange hashpartitioning(k, 8)
         +- FileScan parquet [x] ... lineitem.parquet
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[sum(x)])
   +- Exchange hashpartitioning(k, 8)
      +- FileScan parquet [x] ... lineitem.parquet"""

NESTED = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(7) Sort [a ASC]
   +- Filter (v > Subquery subquery#1)
      :  +- Subquery subquery#1
      :     +- AdaptiveSparkPlan isFinalPlan=true
      :        +- == Final Plan ==
      :           *(2) HashAggregate(functions=[min(c)])
      :           +- Exchange SinglePartition
      :              +- FileScan parquet ... supplier.parquet
      :        +- == Initial Plan ==
      :           HashAggregate(functions=[min(c)])
      :           +- Exchange SinglePartition
      :              +- FileScan parquet ... supplier.parquet
      +- BroadcastHashJoin [k], [k], Inner
         :- Exchange hashpartitioning(k, 8)
         :  +- FileScan parquet ... nation.parquet
         +- BroadcastQueryStage 1
            +- BroadcastExchange HashedRelation
               +- FileScan parquet ... region.parquet
+- == Initial Plan ==
   Sort [a ASC]
   +- BroadcastHashJoin [k], [k], Inner
      :- Exchange hashpartitioning(k, 8)
      :  +- FileScan parquet ... nation.parquet
      +- BroadcastExchange HashedRelation
         +- FileScan parquet ... region.parquet"""


def test_flat_final_initial_pair_counts_once():
    s = strip_initial_sections(FLAT)
    assert s.count("Exchange ") == 1
    assert s.count("lineitem.parquet") == 1
    assert "== Initial Plan ==" not in s


def test_nested_subquery_sections_keep_trailing_final_content():
    s = strip_initial_sections(NESTED)
    # the subquery's Initial section AND the main Initial section are
    # gone, but everything of the main Final plan that renders AFTER
    # the nested subquery's Initial section must survive (the naive
    # first-marker cut dropped it)
    assert "== Initial Plan ==" not in s
    assert s.count("BroadcastHashJoin") == 1
    assert s.count("nation.parquet") == 1
    assert s.count("region.parquet") == 1
    assert s.count("supplier.parquet") == 1  # subquery final kept once


def test_static_plan_passes_through_unchanged():
    static = "Sort [a ASC]\n+- Exchange hashpartitioning(k, 8)\n   +- FileScan parquet ... orders.parquet"
    assert strip_initial_sections(static) == static
