"""tools/plan_audit.py counts the top-level final plan only — not AQE's
initial plan, and not cut short by a cached frame's nested AQE plan."""

from __future__ import annotations

import importlib.util
import pathlib

_spec = importlib.util.spec_from_file_location(
    "plan_audit", pathlib.Path(__file__).resolve().parents[1] / "tools" / "plan_audit.py"
)
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_audit)

#: a finalized AQE plan whose final plan scans a cached frame that carries
#: its own (indented) AQE plan; the top-level final plan continues after it
NESTED = """\
AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   ResultQueryStage 3
   +- *(3) Project [id#1, label#9]
      +- *(3) SortMergeJoin [_rep#4], [_rep#8], LeftOuter
         :- *(1) Sort [_rep#4 ASC NULLS FIRST], false, 0
         :  +- AQEShuffleRead coalesced
         :     +- ShuffleQueryStage 0
         :        +- Exchange hashpartitioning(_rep#4, 4), ENSURE_REQUIREMENTS, [plan_id=10]
         :           +- InMemoryTableScan [id#1, _rep#4]
         :                 +- InMemoryRelation [id#1, _rep#4], StorageLevel(disk, memory, deserialized, 1 replicas)
         :                       +- AdaptiveSparkPlan isFinalPlan=true
         :                          +- == Final Plan ==
         :                             *(1) BroadcastHashJoin [a#2], [b#3], Inner, BuildRight, false
         :                          +- == Initial Plan ==
         :                             SortMergeJoin [a#2], [b#3], Inner
         +- *(2) Sort [_rep#8 ASC NULLS FIRST], false, 0
            +- ShuffleQueryStage 1
               +- Exchange hashpartitioning(_rep#8, 4), ENSURE_REQUIREMENTS, [plan_id=20]
                  +- *(1) Scan ExistingRDD[_rep#8, label#9]
+- == Initial Plan ==
   Project [id#1, label#9]
   +- SortMergeJoin [_rep#4], [_rep#8], LeftOuter
      :- Exchange hashpartitioning(_rep#4, 4), ENSURE_REQUIREMENTS, [plan_id=10]
      +- Exchange hashpartitioning(_rep#8, 4), ENSURE_REQUIREMENTS, [plan_id=20]
"""


def test_final_plan_skips_nested_aqe_markers():
    c = plan_audit.audit(plan_audit.final_plan(NESTED), "")
    # the top-level final plan's two exchanges and its SMJ, which sit
    # AFTER the nested "== Initial Plan ==" line, plus the nested final
    # plan's broadcast join; neither initial plan counts
    assert c["exchanges"] == 2
    assert c["sortmerge_joins"] == 1
    assert c["broadcast_joins"] == 1


def test_final_plan_of_a_non_adaptive_plan_is_the_whole_plan():
    plan = "*(1) Project [id#1]\n+- *(1) Scan ExistingRDD[id#1]\n"
    assert plan_audit.final_plan(plan) == plan
