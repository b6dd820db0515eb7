"""Benchmark workloads: named query sets from ``__spark_entry__.queries()``.

Each pass of a workload runs every query once, so a pass must stay a few
seconds long for a run to hold its cold pass, warm-up, timed window and
oracle check inside the benchmark's per-run time. The two sets split the
engine's layers between them: ``loan_tasks`` is bound by the per-job
floor and never touches the memo, streaming or operator modules;
``pipeline_ops`` fires jobs while its plans are built and carries the
memo, streaming and every operator family. ``warmup_passes`` follow the
cold pass and the check: the number of noop passes after which, measured
on a 4-core host, JIT compilation per pass has stopped falling steeply
(it keeps drifting down for about ten more passes, which a run has no
time for; every run stops at the same point). ``pass_s`` is the warm pass
time measured there, which turns ``--seconds`` into a fixed number of
timed passes, so every run of one commit times the same stretch of the
warm-up curve. ``why`` is copied into ``BENCHMARK.json``.
"""

WORKLOADS = {
    "loan_tasks": {
        # the reference's four loan-analytics tasks (plans/reference.py)
        "queries": (
            "q_scan q_industry_count q_loan_histogram q_employer_share "
            "q_interest q_workyear_filter q_project q_topk q_fillna "
            "q_string_index q_quantile_bucket q_vector_assemble "
            "q_random_split q_feature_pipeline"
        ).split(),
        "warmup_passes": 3,
        "pass_s": 2.0,
        "why": "the paper's four tasks, 14 small queries near the 1-row job "
               "floor: scheduling, plan build and load_table dominate; no "
               "memo, streaming or operators; --seed orders each pass",
    },
    "pipeline_ops": {
        "queries": [
            "q_stream_dedup",  # streaming drain while the plan is built
            "q_dedup_clusters",  # components fixpoint over a memo family
            "q_embed_quantize",  # similarity: k-means fitted at build
            "q_dedup_latest",  # relational
            "q_skew_agg",  # skew
            "q_funnel",  # events
            "q_pii_scrub",  # text
            "q_doc_chunks",  # corpus
        ],
        "warmup_passes": 2,
        "pass_s": 2.6,
        "why": "queries that fire jobs while their plans are built "
               "(streaming drain, graph fixpoint over a memo family, k-means) "
               "plus one per operator family; --seed orders each pass",
    },
}
