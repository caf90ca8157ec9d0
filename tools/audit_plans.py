"""Physical-plan audit across the whole registry — the mechanized form
of the scale-killer hunt: build every query's executed plan at the given
SF and flag the patterns that do not survive a 1000-executor cluster.

Flags per query:
- CARTESIAN        CartesianProduct anywhere in the plan
- PY_ROW_UDF       BatchEvalPython (row-at-a-time Python UDF; Arrow-batched
                   stages show as ArrowEvalPython / MapInPandas and are OK)
- BIG_BNLJ         BroadcastNestedLoopJoin NOT fed by a BroadcastExchange
                   (a streamed nested loop — quadratic)
- MANY_EXCHANGES   more than MAX_EXCHANGES shuffle exchanges

Prints one line per flagged query and a JSON summary; exit 1 if any
query is flagged. Run: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MAX_EXCHANGES = 14  # composed pipelines legitimately reach ~11

# Structurally-heavy diagnostics get explicit budgets instead of the
# default: the recall curves UNION one subplan per (config) — exchanges
# scale with the number of configs evaluated, not with data — and the
# deterministic-IVF family unrolls its Lloyd iterations in-plan (each
# iteration is an explode + two-level tree aggregate + join, bounded by
# `iters`, never by rows). Raising their budget is a documented design
# property, not a waiver: CARTESIAN / PY_ROW_UDF / BIG_BNLJ still apply.
EXCHANGE_BUDGETS = {
    "text_cosine_similarity": 16,     # inverted index: tf, df, norms, dots
    "text_cosine_pruned": 18,         # + the max_df prune branch
    "hybrid_search_rrf": 24,          # inverted-index lexical side + vector side + fusion
    "hybrid_search_weighted": 24,     # same legs + per-source min-max windows
    # 3-stage composed pipeline; +1 exchange in r10 from the flag-only
    # decontamination default (VERDICT r9 #3): the screen joins the
    # DISTINCT eval gram set, and that distinct is one extra
    # BENCHMARK-sized aggregate on the broadcast side — load-bearing
    # (without it a gram hot in several eval docs would fan the train
    # rows out, the exact hazard flag-only mode exists to remove)
    "pipeline_corpus_prep_v2": 19,
    "ann_recall_curve": 30,           # 5 configs × SRP subplan
    "ann_ivf_det_knn": 35,            # 2 unrolled Lloyd iterations
    "pipeline_cluster_sample": 20,    # det-IVF build + two-level per-cluster draw
    "ann_ivf_filtered_knn": 35,       # same det-IVF build + filter semi-join
    # three-verdict union over a delivery-sized screen: the exact/near
    # branch tables are persisted (execute once), but each union branch
    # prints the cached subplan again, and every shuffle left in the
    # plan moves DELIVERY-sized rows (the corpus sides are all
    # broadcast-probed) — 18 textual exchanges, none corpus-sized
    "dedup_incremental": 20,
    # warm twin of dedup_incremental: the SAME three-verdict union shape,
    # served from the persisted index tables instead of an in-plan corpus
    # build — the union branches reprint the cached delivery subplans the
    # same way and every exchange again moves delivery-sized rows (the
    # index sides are broadcast-probed parquet reads), so the cold twin's
    # justification applies verbatim (VERDICT r7 #1)
    "dedup_incremental_warm": 20,
    # disk-served twin (r8): identical report shape over
    # load_corpus_dedup_index parquet scans; the once-per-corpus save
    # runs eagerly before the returned plan, so the audited plan is the
    # delivery-sized report alone — same budget, same justification
    "dedup_incremental_persisted": 20,
    # det-IVF build + shortlist re-rank; the centroid/assignment subtrees
    # are persisted (execute once) but the plan STRING prints the cached
    # build under each InMemoryRelation consumer, inflating the textual
    # exchange count — the budget covers the print, runtime shuffles are
    # far fewer (5 InMemoryTableScans confirm the reuse)
    "ann_ivf_sq8_knn": 50,
    # r5 distributed exact-ntile rewrite (operators/rank.py): the bigram-
    # LM score table is persisted, then range-exchange + per-partition
    # window + partition-count-sized offsets window + broadcast join. The
    # cached score/rank subtree prints under BOTH consumers (the counts
    # branch and the final join), inflating the textual exchange count;
    # runtime shuffles after the persist are 4 and all post-aggregation
    # tables are one-row-per-doc or one-row-per-partition
    "pipeline_ppl_buckets": 24,
    "ivf_recall_curve": 200,          # 4 configs × unrolled det-IVF
    # PQ family: the codebook build unrolls per-subspace det-Lloyd the
    # same way (explode + two-level tree aggregate + join per iteration,
    # bounded by iters=2, never by rows), and the persisted codebook/
    # codes subtrees reprint under every InMemoryRelation consumer just
    # like ann_ivf_sq8_knn's. Search itself adds 2-3 exchanges (LUT agg
    # + top-k window).
    "ann_pq_adc_knn": 35,
    "knn_pq_recall": 80,              # exact + adc + rerank subplans unioned
    "ann_ivf_pq_knn": 100,            # det-IVF build + PQ build in one plan
    "ann_ivf_pq_res_knn": 120,        # + residual join feeding the PQ build
    "eval_ann_ndcg": 40,              # det-IVF build feeding the evaluated ranking
    # persisted det-IVF assignment reprints its unrolled build under the
    # pair join (both sides), node list, singleton join-back, and window
    # — executes once (InMemoryTableScan); checkpoint alternative
    # measured ~16 s slower at sf0.1 (see semantic_dedup comment)
    "dedup_semantic": 260,
}


def _bnlj_unbroadcast(df) -> bool:
    """Structural BNLJ check (ADVICE r3): walk the physical plan and flag
    any BroadcastNestedLoopJoin whose OWN children carry no broadcast —
    a BroadcastHashJoin elsewhere in the plan must not mask a streamed
    BNLJ (the old whole-plan substring-count false negative), and AQE's
    ReusedExchange / BroadcastQueryStage wrappers count as broadcasts
    (the old false positive)."""

    def is_bcast(node) -> bool:
        name = node.nodeName()
        if any(m in name for m in ("BroadcastExchange", "BroadcastQueryStage", "ReusedExchange")):
            return True
        # transparent single-child wrappers between join and build side
        if node.children().size() == 1 and any(
            w in name for w in ("WholeStageCodegen", "InputAdapter", "Project", "Filter", "Sort")
        ):
            return is_bcast(node.children().apply(0))
        return False

    def walk(node) -> bool:
        name = node.nodeName()
        if "AdaptiveSparkPlan" in name:
            try:
                return walk(node.executedPlan())
            except Exception:  # not yet executed — audit the initial plan
                return walk(node.inputPlan())
        kids = [node.children().apply(i) for i in range(node.children().size())]
        if "BroadcastNestedLoopJoin" in name and not any(is_bcast(k) for k in kids):
            return True
        return any(walk(k) for k in kids)

    return walk(df._jdf.queryExecution().executedPlan())


def audit_registry(spark, sf_dir: str, names=None) -> tuple[dict[str, list[str]], int]:
    """Run the flag logic over registry queries; returns (flagged, n_built).

    Importable so the pytest suite enforces the same gate the CLI does
    (VERDICT r7 #1: a red audit must fail `pytest tests/`, not wait for
    someone to remember to run the tool)."""
    from vectordb_from_scratch_spark.operators import dedup
    from vectordb_from_scratch_spark.plans.registry import QUERIES

    flagged: dict[str, list[str]] = {}
    checked = 0
    for name, spec in QUERIES.items():
        if names is not None and name not in names:
            continue
        try:
            df = spec.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must cover all
            flagged[name] = [f"PLAN_ERROR:{type(exc).__name__}"]
            continue
        finally:
            dedup.release_caches()
        checked += 1
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BatchEvalPython" in plan:
            flags.append("PY_ROW_UDF")
        # every BNLJ must broadcast one side — structural walk per join
        # (whole-plan substring counts can mask or fake a deficit)
        try:
            if _bnlj_unbroadcast(df):
                flags.append("BIG_BNLJ")
        except Exception:  # traversal failure → legacy substring fallback
            if plan.count("BroadcastNestedLoopJoin") > plan.count("BroadcastExchange"):
                flags.append("BIG_BNLJ")
        n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan))
        if n_ex > EXCHANGE_BUDGETS.get(name, MAX_EXCHANGES):
            flags.append(f"MANY_EXCHANGES:{n_ex}")
        if flags:
            flagged[name] = flags
            print(f"FLAG {name}: {', '.join(flags)}")
    return flagged, checked


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from vectordb_from_scratch_spark.session import build_session

    spark = build_session("audit_plans")

    from vectordb_from_scratch_spark.plans.registry import QUERIES

    flagged, checked = audit_registry(spark, sf_dir)

    print(
        json.dumps(
            {
                "metric": "plan_audit",
                "sf_dir": sf_dir,
                "n_queries": len(QUERIES),
                "n_built": checked,
                "n_flagged": len(flagged),
                "flagged": flagged,
            }
        )
    )
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
