"""Physical-plan audit: prints each declared query's executed plan and
checks the scale-relevant properties the engine promises:

* no ``BatchEvalPython`` (Python row UDFs) anywhere except the declared
  ``mapInPandas`` boundary (ArrowEvalPython / MapInPandas);
* per-row ("map-only") queries contain no Exchange/Sort;
* small ordered results sort in one task, not through a range exchange;
* star-join dims are BroadcastHashJoin;
* projections prune columns at the FileScan (ReadSchema);
* top-k plans as TakeOrderedAndProject.

Usage: python tools/explain_audit.py [sf_dir] > PLANS.txt
Exit 1 if any property fails.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

MAP_ONLY = {
    "q_interest",
    "q_project",
    "q_workyear_filter",
    "q_fillna",
    "q_hash_sample",
    "q_stratified_sample",
    "q_vector_assemble",
}

#: total orders over a result sized by a small key domain: coalesced to one
#: partition before the sort, so no range exchange (and its sampling job)
BOUNDED_ORDER = {
    "q_industry_count",
    "q_loan_histogram",
    "q_employer_share",
    "q_quantile_bucket",
    "q_random_split",
    "q_feature_pipeline",
    "q_pivot",
    "q_local_supplier_volume",
}

#: map-only except for the scale-up-only CPU rebalance
#: (session.rebalance_for_cpu): on an under-partitioned scan — the local
#: single-file fixtures — the plan carries exactly one keyed Exchange that
#: fans the hash-heavy projection across all cores; at production split
#: counts the rebalance is a no-op and these plans are Exchange-free too.
#: Round 9 moved the regex-heavy text/corpus map queries here: measured
#: on the 50k-doc scale fixture, their regex stacks ran on the ONE scan
#: task (pii_scrub 4.81s → 0.56s rebalanced; lang_id 4.2×, token_count
#: 2.4×, doc_chunks 2.6×, normalize 2×).
MAP_REBALANCED = {
    "q_text_quality",
    "q_doc_fingerprint",
    "q_dedup_simhash",
    "q_embed_lsh",
    "q_token_count",
    "q_lang_id",
    "q_text_normalize",
    "q_quality_filter",
    "q_pii_scrub",
    "q_doc_chunks",
}

#: Expression markers that are EXPENSIVE per row (corpus-wide hash /
#: HOF-fold / regex stages). A Filter node containing one means
#: predicate pushdown substituted an aliased expensive expression into
#: the predicate and (typically) pushed it beneath the CPU-rebalance
#: Exchange onto the single-row-group scan task — the round-9 finding
#: that serialized the minhash/simhash signature stages onto ONE core
#: (190s vs 9.5s at 500k docs) and evaluated them twice. The fix is a
#: cheap EQUIVALENT predicate on the raw column (length(text) >= k,
#: rlike '[a-z0-9]') applied before the expensive projection.
EXPENSIVE_FILTER_MARKERS = (
    "regexp_extract_all(",
    "zip_with(",
    "levenshtein(",
    "sha2(",
    "conv(",  # md5_hash64: conv(substring(md5(...)))
    # pure higher-order-function folds (round-9 ADVICE): a norm/cosine
    # `aggregate(...)` or a signature `transform(...)` substituted into
    # a Filter is the same corpus-wide-work-in-a-predicate class as the
    # hash markers above — the kmeans zero-norm path relies on an
    # EVICTABLE persist rather than a cheap-predicate rewrite, so only
    # this mechanical guard would catch a regression there
    "aggregate(",
    "transform(",
)

#: Queries allowed to carry ONE cheap hash inside a Filter: Spark
#: auto-inserts IsNotNull(<join key>) guards, and q_dedup_apply joins on
#: md5(text) — a single per-row hash next to the join-key computation,
#: not a corpus-wide fold. bare "md5(" is therefore checked separately
#: from the markers above, with this allowlist.
MD5_FILTER_OK = {"q_dedup_apply"}

#: queries whose plan legitimately contains an Arrow/pandas boundary
#: (multimodal decode stages); anywhere else a Python node is a hot-path
#: regression
PANDAS_OK = {
    "q_multimodal_meta",
    "q_multimodal_frames",
    "q_group_center",
    # applyInPandasWithState: the custom-stateful streaming class IS a
    # declared pandas boundary (plan shows FlatMapGroupsInPandasWithState)
    "q_stream_stateful",
}


def exchanges_outside_broadcast(plan: str) -> int:
    """Count ``Exchange hashpartitioning`` nodes that are NOT inside a
    ``BroadcastExchange`` subtree.

    A hash exchange under a BroadcastExchange only repartitions the
    broadcast-sized side (e.g. a change-set dedup agg) — irrelevant at
    scale; an exchange outside one shuffles a full input. Subtree
    membership is recovered from the explain tree art: a child line's
    drawing prefix is strictly longer than its parent's.
    """

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-*("))

    n = 0
    stack: list[int] = []  # indents of open BroadcastExchange subtrees
    for line in plan.splitlines():
        node = line.lstrip(" :+-*(")
        if not node:
            continue
        ind = indent(line)
        while stack and ind <= stack[-1]:
            stack.pop()
        if node.startswith("BroadcastExchange"):
            stack.append(ind)
        elif "Exchange hashpartitioning" in line and not stack:
            n += 1
    return n


def negative_check_problems(name: str, plan: str) -> list[str]:
    """The global NEGATIVE checks applied to every plan: no Python row
    UDFs, no expensive expression substituted into a Filter, no
    unexpected pandas boundary. Factored out so the bypassed build-plan
    pass (below) applies exactly the same rules as the served-plan pass
    (r14 ADVICE: the localCheckpoint leaf hid every memoized family's
    build plan from these checks)."""
    problems = []
    if "BatchEvalPython" in plan:
        problems.append("row-at-a-time Python UDF in plan")
    for line in plan.splitlines():
        node = re.sub(r"^[\s+\-:*]*(\(\d+\)\s*)?", "", line)
        if not node.startswith("Filter "):
            continue
        if any(m in node for m in EXPENSIVE_FILTER_MARKERS):
            problems.append(
                "expensive expression inside a Filter (pushdown "
                "substituted an alias — use a cheap equivalent "
                f"predicate): {node[:90]}"
            )
            break
        if "md5(" in node and name not in MD5_FILTER_OK:
            problems.append(
                f"md5 inside a Filter (see MD5_FILTER_OK): {node[:90]}"
            )
            break
    if name not in PANDAS_OK and (
        "MapInPandas" in plan
        or "ArrowEvalPython" in plan
        or "FlatMapGroupsInPandas" in plan
    ):
        problems.append("unexpected pandas boundary in plan")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import os

    import __spark_entry__ as entry_mod
    from financial_big_data_exp_4_spark.session import get_spark

    spark = get_spark("explain_audit")
    # Queries whose audited property lives in the family ARTIFACT's build
    # plan, not the serving plan. Since round 14 the memoized artifacts
    # are eager localCheckpoints: the served plan roots at a bare `Scan
    # ExistingRDD` leaf and carries no build text (pre-r14, the persisted
    # artifact printed its build through InMemoryRelation, so these
    # checks matched on the served plan). For these queries the audit
    # regenerates the plan with memo_df BYPASSED, inlining the build —
    # the audited text is then the same physical build the warmup pass
    # executes once per session. Every other query is audited on the
    # plan that actually executes per call.
    needs_build_plan = {"q_merge_upsert", "q_embed_cosine_topk"}

    failures: list[str] = []
    for name, fn in entry_mod.queries().items():
        if name in needs_build_plan:
            os.environ["SPARK_GRAFT_MEMO_BYPASS"] = "1"
            try:
                df = fn(spark, sf_dir)
                plan = (
                    df._jdf.queryExecution().executedPlan().toString()
                )
            finally:
                os.environ.pop("SPARK_GRAFT_MEMO_BYPASS", None)
        else:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        # negative checks (tree-glyph stripping inside the helper: a
        # codegen'd node renders as "+- *(1) Filter ...", and a plain
        # lstrip of " +-:*" leaves "(1) " behind — round-9 finding)
        problems = negative_check_problems(name, plan)
        if name in MAP_ONLY:
            if "Exchange" in plan:
                problems.append("unexpected Exchange in map-only query")
            if "Sort" in plan:
                problems.append("unexpected Sort in map-only query")
        if name in BOUNDED_ORDER and "Exchange rangepartitioning" in plan:
            problems.append("small ordered result range-shuffled")
        if name in MAP_REBALANCED:
            if plan.count("Exchange") > 1:
                problems.append("more than the one rebalance Exchange")
            if "Exchange" in plan and "Exchange hashpartitioning" not in plan:
                problems.append("rebalance is not the keyed hash form")
            if "Sort" in plan:
                problems.append("unexpected Sort in rebalanced map query")
        if name == "q_star_join" and "BroadcastHashJoin" not in plan:
            problems.append("dims not broadcast")
        if name == "q_shipping_priority":
            if "TakeOrderedAndProject" not in plan:
                problems.append("shipping-priority top-10 is a global sort")
            if "PushedFilters: [IsNotNull(c_mktsegment)" not in plan and (
                "EqualTo(c_mktsegment,BUILDING)" not in plan
            ):
                problems.append("segment filter not pushed to customer scan")
        if name == "q_topk" and "TakeOrderedAndProject" not in plan:
            problems.append("top-k not TakeOrderedAndProject")
        if name == "q_range_join" and (
            "NestedLoop" in plan or "Cartesian" in plan
        ):
            problems.append("range join planned as nested loop/cartesian")
        if name == "q_dedup_latest":
            # keep-latest must be the partial-aggregating argmax, never a
            # window (which would shuffle+sort every row)
            if "Window" in plan:
                problems.append("keep-latest planned as window")
            if "partial_max" not in plan and plan.count("HashAggregate") < 2:
                problems.append("keep-latest missing partial aggregation")
        if name == "q_semi_join" and "LeftSemi" not in plan:
            problems.append("semi join not planned as LeftSemi")
        if name == "q_dedup_apply" and "Window" in plan:
            problems.append("dedup-apply planned as window, not agg+join")
        if name in ("q_neardup_verified", "q_neardup_edit"):
            # verify passes must prune the corpus to candidate
            # participants BEFORE per-document work: a broadcast
            # LeftSemi join must appear in the plan (round-5 scale fix —
            # exact-verify cost proportional to |candidates|, not
            # |corpus|)
            if "LeftSemi" not in plan:
                problems.append("verify pass lost the participant prune")
        if name == "q_neardup_edit":
            from financial_big_data_exp_4_spark.operators.dedup import (
                EDIT_DISTANCE_CAP,
            )

            # declared least(dist, cap) must use Spark's early-exit
            # thresholded levenshtein form, not the unbounded DP
            if f"Some({EDIT_DISTANCE_CAP})" not in plan:
                problems.append("edit distance not thresholded in plan")
        if name == "q_tfidf" and "TakeOrderedAndProject" not in plan:
            problems.append("tf-idf top-k not TakeOrderedAndProject")
        if name == "q_inverted_index":
            # the bounding window and the posting-list aggregate must
            # share the `term` partitioning; the df branch adds exactly
            # one more partial-aggregated term exchange (r15 split —
            # whole-partition window count forced full partition
            # buffering). More than two term-keyed exchanges means the
            # window and its aggregate stopped sharing.
            if plan.count("hashpartitioning(term") > 2:
                problems.append("inverted index re-shuffles between window+agg")
            if "BroadcastHashJoin" not in plan:
                problems.append("df table not broadcast back onto postings")
        if name == "q_lineitem_pricing" and (
            "PushedFilters: [IsNotNull(l_shipdate)" not in plan
        ):
            problems.append("shipdate filter not pushed to the scan")
        if name == "q_local_supplier_volume":
            if "BroadcastHashJoin" not in plan:
                problems.append("supplier/nation/region chain not broadcast")
            if (
                "PushedFilters: [IsNotNull(o_orderdate)" not in plan
                and "GreaterThanOrEqual(o_orderdate" not in plan
            ):
                problems.append("order-date filter not pushed to scan")
        if name == "q_large_orders":
            if "TakeOrderedAndProject" not in plan:
                problems.append("large-orders top-100 is a global sort")
            # the CPU fan-out keys on the aggregate's own grouping key,
            # so the rebalance exchange must BE the aggregation shuffle —
            # two l_orderkey exchanges would mean the fan-out added a
            # shuffle instead of absorbing one
            if plan.count("hashpartitioning(l_orderkey") > 1:
                problems.append(
                    "fan-out did not absorb the l_orderkey agg shuffle"
                )
        if name in ("q_lineitem_pricing", "q_correlation"):
            # fan-out exchange (l_orderkey) + the grouped agg's own
            # exchange and nothing else — a third data exchange means a
            # plan regression
            if exchanges_outside_broadcast(plan) > 2:
                problems.append("unexpected extra exchange beyond fan-out")
        if name == "q_profile":
            # r15 measured shape: one PRUNED single-column scan branch
            # per profiled column (same total bytes as one wide scan off
            # columnar storage), NO Expand row blow-up — the old single-
            # aggregate form expanded rows (|cols|+1)x through a
            # compound-key HashAggregate (10x: 3.03 s vs 1.68 s)
            if "Expand" in plan:
                problems.append("profile regressed to the Expand form")
            if plan.count("FileScan") != 4:
                problems.append("profile lost the per-column scan branches")
            for ln in plan.splitlines():
                if "ReadSchema" in ln and ln.count("struct<") == 1:
                    ncols = ln.split("struct<", 1)[1].count(":")
                    if ncols > 1:
                        problems.append(
                            "profile branch scan reads more than its column"
                        )
                        break
        if name == "q_cohort_retention" and "Expand" in plan:
            # the collect_set form must avoid the count-distinct expand
            problems.append("cohort retention fell back to count-distinct")
        if name == "q_funnel" and "Window" in plan:
            problems.append("funnel planned as window, not aggregate")
        if name == "q_merge_upsert":
            # MERGE apply must resolve matched rows map-side: the change
            # set broadcasts, the base is never shuffled
            if "BroadcastHashJoin" not in plan:
                problems.append("change set not broadcast")
            # base-never-shuffled, asserted directly: the LeftOuter
            # broadcast join's STREAMED child must be the raw base scan
            # (no Exchange between scan and join)
            # the streamed child may carry a ColumnarToRow between the
            # join and the scan (non-AQE plan text) — what must NOT sit
            # there is an Exchange
            lines = plan.splitlines()

            def _streamed_is_bare_scan(i: int) -> bool:
                for ln in lines[i + 1 : i + 4]:
                    if "Exchange" in ln or "Sort [" in ln:
                        return False
                    if "FileScan parquet" in ln:
                        return True
                return False

            ok = any(
                "BroadcastHashJoin" in ln
                and "LeftOuter" in ln
                and _streamed_is_bare_scan(i)
                for i, ln in enumerate(lines)
            )
            if not ok:
                problems.append("merge shuffles the base table")
            # the change-set dedup agg legitimately shuffles the
            # broadcast-sized side: once inside the BroadcastExchange
            # subtree (survivors branch) and once in the insert branch.
            # More than one outside-broadcast exchange means something
            # big moved.
            if exchanges_outside_broadcast(plan) > 1:
                problems.append("extra exchange beyond change-set dedup")
        if name == "q_scd2":
            # the change-detection window, (key, version) aggregate and
            # validity window must all reuse the user_id clustering —
            # exactly one data exchange (plus broadcasts, if any)
            if plan.count("Exchange hashpartitioning") > 1:
                problems.append("SCD2 re-shuffles between window stages")
        if name == "q_winsorize":
            # bounds join must broadcast; the clip is then map-side
            if "BroadcastHashJoin" not in plan:
                problems.append("percentile bounds not broadcast")
        if name == "q_bm25" and "BroadcastHashJoin" not in plan:
            problems.append("df/corpus stats not broadcast")
        if name == "q_embed_cosine_topk":
            # two-level top-k: the per-probe window must read the
            # (probe, scan-partition)-local pre-reduction, not raw scores
            if plan.count("Window") < 2 or "_local_rank" not in plan:
                problems.append(
                    "per-probe window not fed by per-partition top-k "
                    "pre-reduction"
                )
        status = "OK " if not problems else "BAD"
        print(f"== {status} {name} {'; '.join(problems)}")
        print(plan)
        if problems:
            failures.append(name)
    # Second pass (r14 ADVICE): the memoized family BUILD plans, audited
    # standalone with the NEGATIVE checks. Since round 14 the artifacts
    # are localCheckpoint leaves, so served plans carry no build text —
    # a UDF or expensive-filter regression inside a builder would pass
    # unseen without this. The builders come from MEMO_FAMILY_BUILDERS
    # and are planned exactly as the warmup executes them: standalone,
    # with any NESTED family memos served (pre-r14, the persist()
    # boundary isolated build plans the same way — auditing the builder
    # INLINED into a consumer instead would manufacture pushdown
    # interactions the artifact boundary structurally prevents, e.g. a
    # consumer join's IsNotNull(_md5) guard substituting md5(text) into
    # the builder's pushed scan filter).
    from financial_big_data_exp_4_spark.plans.extensions import (
        MEMO_FAMILY_BUILDERS,
    )

    for fam, build in MEMO_FAMILY_BUILDERS.items():
        df = build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        problems = negative_check_problems(f"family:{fam}", plan)
        status = "OK " if not problems else "BAD"
        print(f"== {status} family:{fam} [build plan] {'; '.join(problems)}")
        print(plan)
        if problems:
            failures.append(f"family:{fam}")
    print(f"\naudit: {len(failures)} failures {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
