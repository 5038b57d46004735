"""Plan-SHAPE regression snapshot: the physical-plan lint checks
structural rules (no cartesian, no row-Python); this gate pins the
actual shape — join strategies, exchange count, Python-boundary
crossings, global sorts — of every stable catalog query against a
committed snapshot, so a silent planner regression (a broadcast that
degrades to sort-merge, a new shuffle in an iteration body) fails a
test instead of surfacing rounds later as a bench drift flag. The
r7 PageRank fix (per-iteration SMJ of the edge table against a
16k-row rank vector) is exactly the class this would have caught on
day one.

On legitimate plan changes, regenerate with
``SPARK_GRAFT_UPDATE_PLAN_SNAPSHOT=1 python -m pytest
tests/test_plan_snapshot.py`` and commit the diff — the point is that
plan changes become REVIEWABLE, not forbidden.
"""

from __future__ import annotations

import json
import os
import re

from test_catalog_plan_lint import EXECUTING_BUILDERS

from gee_datapipeline_spark.plans import QUERIES
from gee_datapipeline_spark.plans.registry import _load_all

from conftest import REFERENCE_INPUTS, SF_SMOKE, reference_absent

_load_all()

SNAPSHOT = os.path.join(os.path.dirname(__file__), "plan_snapshot.json")

# Plans that legitimately depend on external mutable state (artifact
# caches, bucketed table layouts) — bi-stable between cold and warm
# runs, so they cannot be snapshot-pinned; their gates cover them.
STATEFUL_PLANS = {
    # (r11: ann_pq and pq_codes moved to TRACKED — their cross-run
    # artifact cache is gone, so both plans are deterministic now.)
    "ann_ivf_train",           # trains (eager checkpoints) at build time
    "bucketed_join_revenue",   # bucketed warehouse tables
    "bloom_prefilter_revenue", # bloom bitmap derived via collect
    "minhash_incremental",     # persisted signature index
    "compaction_plan",         # scans its own written layout
    "zorder_layout",
    "merge_upsert",
    "scd2_user_state",
    "snapshot_diff",
    "incremental_revenue",
    "csv_points_source",       # writes + re-reads a CSV sink
    "jsonl_source_agg",
    "sql_surface_report",
    "corpus_checksum",
    "contract_audit",
}

# Queries whose reference input file is absent on this host: not planned
# here, but their committed snapshot entries are kept.
ABSENT_REFERENCE = {n for n in REFERENCE_INPUTS if reference_absent(n)}

TRACKED = sorted(
    set(QUERIES) - EXECUTING_BUILDERS - STATEFUL_PLANS - ABSENT_REFERENCE
)

_PATTERNS = {
    "exchanges": r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
    "smj": r"\bSortMergeJoin\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "cartesian": r"\bCartesianProduct\b",
    "batch_python": r"\bBatchEvalPython\b",
    "arrow_python": r"\bArrowEvalPython\b",
    "pandas_ops": r"\b(?:FlatMapGroupsInPandas|MapInPandas)\b",
    "global_sorts": r"\bglobal=true\b",
}


def _metrics(plan: str) -> dict:
    return {k: len(re.findall(p, plan)) for k, p in _PATTERNS.items()}


def test_plan_shapes_match_snapshot(spark):
    # Snapshot semantics = COLD plans. Cached fixtures from earlier
    # test files (e.g. test_geo's road-segment cache) share logical
    # subtrees with catalog queries, and Spark's cache manager would
    # splice InMemoryRelation into their plans — flipping exchange
    # counts depending on test order.
    spark.catalog.clearCache()
    got = {}
    for name in TRACKED:
        df = QUERIES[name].spark(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        got[name] = _metrics(plan)

    if os.environ.get("SPARK_GRAFT_UPDATE_PLAN_SNAPSHOT") == "1":
        if os.path.exists(SNAPSHOT):
            with open(SNAPSHOT) as fh:
                old = json.load(fh)
            got.update(
                {n: old[n] for n in ABSENT_REFERENCE if n in old}
            )
        with open(SNAPSHOT, "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
        print(f"plan snapshot rewritten: {len(got)} queries")
        return

    assert os.path.exists(SNAPSHOT), (
        "no committed plan snapshot — generate one with "
        "SPARK_GRAFT_UPDATE_PLAN_SNAPSHOT=1"
    )
    with open(SNAPSHOT) as fh:
        want = json.load(fh)

    diffs = []
    for name in TRACKED:
        if name not in want:
            diffs.append(f"{name}: NEW QUERY — regenerate the snapshot")
            continue
        if got[name] != want[name]:
            delta = {
                k: (want[name].get(k), got[name][k])
                for k in got[name]
                if got[name][k] != want[name].get(k)
            }
            diffs.append(f"{name}: {delta} (snapshot, now)")
    assert not diffs, (
        "plan shape changed — a regression, or a deliberate change "
        "that needs SPARK_GRAFT_UPDATE_PLAN_SNAPSHOT=1 + commit:\n"
        + "\n".join(diffs)
    )
