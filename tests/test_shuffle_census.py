"""tools/shuffle_census.py: the Exchange count behind SHUFFLES.json,
checked on formatted-explain text without a Spark session."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "shuffle_census",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "shuffle_census.py"),
)
census = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(census)

# A pinned aggregate (io.pin_stats) joined to a second aggregate: the
# cached plan's own AdaptiveSparkPlan sits nested under
# InMemoryTableScan → InMemoryRelation, with Final and Initial Plan
# markers drawn at its own "+-" column. Final-plan shuffles: 28, 6, 21.
NESTED = """\
== Physical Plan ==
AdaptiveSparkPlan (42)
+- == Final Plan ==
   ResultQueryStage (32)
   +- * HashAggregate (31)
      +- AQEShuffleRead (30)
         +- ShuffleQueryStage (29), Statistics(sizeInBytes=168.0 B, rowCount=7)
            +- Exchange (28)
               +- * HashAggregate (27)
                  +- * Project (26)
                     +- * BroadcastHashJoin Inner BuildLeft (25)
                        :- BroadcastQueryStage (16), Statistics(sizeInBytes=1024.1 KiB, rowCount=10)
                        :  +- BroadcastExchange (15)
                        :     +- * Filter (14)
                        :        +- TableCacheQueryStage (13), Statistics(sizeInBytes=160.0 B, rowCount=10)
                        :           +- InMemoryTableScan (1) (columnarIn=false, columnarOut=true)
                        :                 +- InMemoryRelation (2)
                        :                       +- AdaptiveSparkPlan (12)
                                                +- == Final Plan ==
                                                   ResultQueryStage (9)
                                                   +- * HashAggregate (8)
                                                      +- ShuffleQueryStage (7), Statistics(sizeInBytes=960.0 B, rowCount=40)
                                                         +- Exchange (6)
                                                            +- * HashAggregate (5)
                                                               +- * Project (4)
                                                                  +- * Range (3)
                                                +- == Initial Plan ==
                                                   HashAggregate (11)
                                                   +- Exchange (10)
                                                      +- HashAggregate (5)
                                                         +- Project (4)
                                                            +- Range (3)
{sibling}                        +- * HashAggregate (24)
                           +- AQEShuffleRead (23)
                              +- ShuffleQueryStage (22), Statistics(sizeInBytes=448.0 B, rowCount=28)
                                 +- Exchange (21)
                                    +- * HashAggregate (20)
                                       +- * Project (19)
                                          +- * Filter (18)
                                             +- * Range (17)
+- == Initial Plan ==
   HashAggregate (41)
   +- Exchange (40)
      +- HashAggregate (39)
         +- Project (38)
            +- BroadcastHashJoin Inner BuildLeft (37)
               :- BroadcastExchange (34)
               :  +- Filter (33)
               :     +- InMemoryTableScan (1) (columnarIn=false, columnarOut=true)
               :           +- InMemoryRelation (2)
               :                 +- AdaptiveSparkPlan (12)
                                 +- == Initial Plan ==
                                    HashAggregate (11)
                                    +- Exchange (10)
               +- HashAggregate (36)
                  +- Exchange (35)
                     +- Range (17)


(1) InMemoryTableScan
Output [2]: [k#1L, s#2L]

(10) Exchange
Input [2]: [k#1L, sum#3L]

===== Subqueries =====

Subquery:1 Hosting operator id = 99
+- Exchange (98)
"""


def test_nested_adaptive_plan_counts_final_plan_shuffles_once():
    assert census.count_exchanges(NESTED.format(sibling="")) == 3


def test_node_at_the_initial_plan_marker_column_is_not_skipped():
    """A node drawn at the nested Initial Plan marker's own "+-"
    column is outside that region: its Exchange must count."""
    sibling = " " * 48 + "+- Exchange (50)\n"
    assert census.count_exchanges(NESTED.format(sibling=sibling)) == 4


def test_broadcast_and_reused_exchanges_are_not_shuffles():
    plan = (
        "BroadcastHashJoin (5)\n"
        ":- BroadcastExchange (2)\n"
        ":  +- Exchange (1)\n"
        "+- ReusedExchange (3)\n"
    )
    assert census.count_exchanges(plan) == 1
