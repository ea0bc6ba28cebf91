"""scripts/explain_audit.py counts plan nodes once each (no Spark needed):
``explain("formatted")`` names every node twice, in the tree and in its
numbered detail header."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "explain_audit.py",
)
_spec = importlib.util.spec_from_file_location("explain_audit", _PATH)
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)

# two shuffles, one broadcast, one reused shuffle
PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (12)
+- Project (11)
   +- BroadcastHashJoin Inner BuildRight (10)
      :- HashAggregate (4)
      :  +- Exchange (3)
      :     +- HashAggregate (2)
      :        +- Range (1)
      +- BroadcastExchange (9)
         +- SortMergeJoin Inner (8)
            :- Exchange (6)
            :  +- Range (5)
            +- ReusedExchange (7)


(1) Range
Output [1]: [id#0L]
Arguments: Range (0, 100, step=1, splits=Some(2))

(2) HashAggregate
Input [1]: [k#1L]

(3) Exchange
Input [2]: [k#1L, count#13L]
Arguments: hashpartitioning(k#1L, 4), ENSURE_REQUIREMENTS, [plan_id=62]

(4) HashAggregate
Input [2]: [k#1L, count#13L]

(5) Range
Output [1]: [id#7L]

(6) Exchange
Input [1]: [id#7L]
Arguments: hashpartitioning(id#7L, 4), ENSURE_REQUIREMENTS, [plan_id=64]

(7) ReusedExchange [Reuses operator id: 6]
Output [1]: [id#9L]

(8) SortMergeJoin Inner
Left keys [1]: [id#7L]
Right keys [1]: [id#9L]

(9) BroadcastExchange
Input [1]: [id#7L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=71]

(10) BroadcastHashJoin
Left keys [1]: [k#1L]
Right keys [1]: [id#7L]

(11) Project
Output [1]: [k#1L]

(12) AdaptiveSparkPlan
Output [1]: [k#1L]
Arguments: isFinalPlan=false
"""


def test_each_node_counted_once():
    assert explain_audit.node_ids(PLAN, "Exchange") == {"3", "6"}
    assert explain_audit.node_ids(PLAN, "BroadcastExchange") == {"9"}
    assert explain_audit.node_ids(PLAN, "ReusedExchange") == {"7"}


def test_audit_reports_exchange_count(monkeypatch):
    monkeypatch.setattr(explain_audit, "plan_text", lambda df: PLAN)
    text = explain_audit.audit("canned", None, "notes")
    assert "- exchanges (shuffles): **2**" in text
    assert "- join strategies: BroadcastHashJoin, SortMergeJoin" in text
