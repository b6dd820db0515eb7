"""Declared extension queries (SURVEY §2.8 / BASELINE north star): the
LLM-data-pipeline surface over ``documents`` / ``embeddings`` / ``events``
plus the star-schema join surface.

Same contract as :mod:`.reference`: ``(spark, sf_dir) → DataFrame``, column
names aliased identically to the DuckDB oracles in :mod:`.oracle_ext`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from financial_big_data_exp_4_spark.operators import (
    apply_exact_dedup,
    bm25_scores,
    chunk_documents,
    cohort_retention,
    cosine_topk_bruteforce,
    event_transitions,
    standard_scale,
    funnel_counts,
    hyperplane_neardup_pairs,
    hyperplane_signatures,
    incremental_neardup,
    merge_changes,
    moving_value_avg,
    profile_columns,
    scd2_intervals,
    scrub_pii,
    snapshot_diff,
    triangle_count,
    winsorize,
    inverted_index,
    pack_sequences,
    quality_filter,
    repetition_stats,
    stratified_sample,
    tfidf_top_terms,
    cosine_topk_ivf,
    customers_without_orders,
    doc_fingerprint,
    embedding_neardup_pairs,
    exact_dedup,
    hash_sample,
    json_extract_stats,
    keep_latest,
    language_id,
    minhash_candidate_pairs,
    neardup_edit_distance,
    multimodal_metadata,
    ngram_jaccard_adjacent,
    normalize_text,
    range_join_bucketed,
    revenue_by_region,
    sessionize,
    simhash_docs,
    simhash_neardup_pairs,
    text_quality,
    token_counts,
    tumbling_counts,
)
from pyspark.sql import Window
from pyspark.sql import functions as F

from financial_big_data_exp_4_spark.functions.core import (
    floor_div_sql,
)
from financial_big_data_exp_4_spark.operators.asof import asof_join
from financial_big_data_exp_4_spark.operators.corpus import EVENT_SAMPLE_RATES
from financial_big_data_exp_4_spark.session import rebalance_for_cpu
from financial_big_data_exp_4_spark.sources import load_table

#: Session-memoized family stages (the ``memo_df`` call sites in THIS
#: module) → the declared queries that consume each materialization.
#: Single source of truth for bench.py's cold-cost accounting (round-6
#: VERDICT #6: the old hand-maintained copy in bench.py could silently
#: miss a newly added family): bench derives its consumer list from this
#: dict, and ``tests/test_rotation.py`` asserts the keys match the
#: ``memo_df(... ("<key>", sf_dir) ...)`` call sites scraped from this
#: module's source, so a new family cannot ship without a registry entry.
MEMO_FAMILY_CONSUMERS: dict[str, tuple[str, ...]] = {
    "minhash_pairs": (
        "q_neardup_minhash",
        "q_neardup_verified",
        "q_neardup_edit",
        "q_dedup_clusters",
        "q_triangle_count",
    ),
    "minhash_signed": ("q_dedup_incremental",),
    "bruteforce_topk": ("q_embed_cosine_topk", "q_embed_ann_kmeans"),
    "ivf_kmeans": ("q_embed_ann_kmeans",),
    # the stride-IVF index (round-13): the N^1.5 nearest-centroid
    # assignment every stride-IVF consumer reads — built once per
    # session like any real ANN index (q_embed_neardup/q_semantic_dedup
    # reach it through the embed_neardup_pairs memo's builder)
    "ivf_assign": ("q_embed_ann_ivf", "q_embed_neardup", "q_semantic_dedup"),
    "embed_neardup_pairs": ("q_embed_neardup", "q_semantic_dedup"),
    "hyperplane_pairs": ("q_embed_lsh_pairs",),
    "orders_changes": ("q_merge_upsert", "q_table_diff"),
    # the merged snapshot itself (built FROM orders_changes): MERGE
    # writes once, q_merge_upsert serves it, q_table_diff reconciles
    # against it without re-running the merge (r13 VERDICT #3)
    "merged_orders": ("q_merge_upsert", "q_table_diff"),
    # the exact per-priority quartiles: q_percentile's whole answer and
    # q_approx_percentile's rank-proof reference (r13 VERDICT #5)
    "orders_quartiles": ("q_percentile", "q_approx_percentile"),
    # the Bloom ingest filter's 63-bit word table: built once from the
    # corpus, served to every probe batch (bloom_words' persisted-
    # artifact contract made executable)
    "bloom_words": ("q_bloom_prefilter",),
}

#: Queries whose memoized family artifact IS the query's entire declared
#: result (r14 VERDICT "What's wrong" #3): their warm bench numbers
#: measure a cached-result read, not computation — the real cost lives
#: in the disclosed cold column. bench.py reports these separately
#: (``serve_read_queries`` + warm/cold subtotals) so round-over-round
#: comparisons do not mistake a serve-read for a 90x speedup.
RESULT_MEMO_QUERIES: tuple[str, ...] = ("q_merge_upsert", "q_percentile")

#: Queries that serve a fitted ML model artifact (StringIndexerModel /
#: PipelineModel, fit once per (session, sf_dir) in plans/reference.py):
#: the hoisted fit cost is visible only in the warmup pass, so bench.py
#: includes them in the disclosed cold line alongside the memo-family
#: consumers (r14 VERDICT #6: disclosure gap).
MODEL_FIT_QUERIES: tuple[str, ...] = ("q_string_index", "q_feature_pipeline")


def _fact(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Load a fact table with the scan fanned across cores when it is
    under-partitioned (:func:`..session.rebalance_for_cpu`).

    The local fixtures are single-row-group parquet files, and Spark's
    parquet splits are row-group-granular — so however many input splits
    the scheduler makes, ONE task decodes every row and then runs the
    fused partial-aggregate / expression stage serially (measured: the
    Q1-shaped decimal aggregate at sf0.1 is 1.1 s single-task vs 0.7 s
    rebalanced). The repartition is scale-up-only: at production split
    counts the scan already has ≥ cores partitions and this is a no-op —
    no extra exchange at 100 TB. Filters/pruning still reach the scan
    (Catalyst pushes predicates and column pruning through a
    Repartition node).

    Cost model (every site below was A/B-measured): the fan-out pays for
    itself only when the serialized scan-fused stage is HEAVY — decimal
    multiply/sum chains, exact-percentile value buffers, per-row
    expression folds. When the partial state is compact (count/hash-set
    inserts, GK sketches, cheap maps), the extra exchange + stage floor
    costs more than the serialized partial saves — those queries load
    plain and say so."""
    return rebalance_for_cpu(load_table(spark, sf_dir, name), key)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup family's shared candidate stage: MinHash-LSH pairs
    over the documents table, memoized per (session, sf_dir).

    q_neardup_minhash / q_neardup_verified / q_neardup_edit /
    q_dedup_clusters all consume the SAME candidate pairs — exactly how
    a production pipeline runs (signatures and banding are computed once
    and every verify/cluster stage reads the materialization), instead
    of re-deriving the dominant md5-shingle signature map per query
    (round-3 VERDICT next-round #3a)."""
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("minhash_pairs", sf_dir),
        lambda: _build_minhash_pairs(spark, sf_dir),
    )


def _build_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(load_table(spark, sf_dir, "documents"))


def q_neardup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_minhash_pairs(spark, sf_dir)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_docs(load_table(spark, sf_dir, "documents"))


def q_neardup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped Levenshtein (least(dist, 100)) over the LSH candidate pairs
    (verify metric #3); candidates come from the family-shared memoized
    stage and text is pruned to candidate participants first."""
    return neardup_edit_distance(
        load_table(spark, sf_dir, "documents"),
        pairs=_shared_minhash_pairs(spark, sf_dir),
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs within Hamming ≤ 3 — banded join, pigeonhole-complete."""
    return simhash_neardup_pairs(load_table(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_adjacent(load_table(spark, sf_dir, "documents"))


def _shared_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k, memoized per (session, sf_dir) —
    the exact-baseline stage BOTH q_embed_cosine_topk and the ANN proof
    queries consume (the ANN accuracy check reads its rank-1 rows), so
    the N×probes scoring fold materializes once per session."""
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("bruteforce_topk", sf_dir),
        lambda: _build_bruteforce_topk(spark, sf_dir),
    )


def _build_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_topk_bruteforce(load_table(spark, sf_dir, "embeddings"))


def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_bruteforce_topk(spark, sf_dir)


def _shared_ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stride-IVF index — (vec_id, embedding, _norm, cell) — memoized
    per (session, sf_dir). This is the N^1.5 nearest-centroid build that
    EVERY stride-IVF consumer needs (q_embed_ann_ivf's cell search,
    q_embed_neardup / q_semantic_dedup's in-cell pair join); a real ANN
    deployment builds this index once and serves every query from it
    (FAISS train+add, then search), so per-query cost is cell-local
    search, not an index rebuild. Round-12 scale gate: the per-pass
    rebuild was the largest line at the 100× fixture (43.6 s warm) —
    entirely the build, which this memo retires to one-per-session."""
    from financial_big_data_exp_4_spark.operators.similarity import (
        ivf_assignments,
    )
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("ivf_assign", sf_dir),
        lambda: _build_ivf_assign(spark, sf_dir),
    )


def _build_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_big_data_exp_4_spark.operators.similarity import (
        ivf_assignments,
    )

    return ivf_assignments(
        load_table(spark, sf_dir, "embeddings"), stride=None
    )


def _build_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_big_data_exp_4_spark.operators.similarity import (
        cosine_topk_ivf_kmeans,
    )

    return cosine_topk_ivf_kmeans(load_table(spark, sf_dir, "embeddings"))


def q_embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-free IVF ANN with the ADAPTIVE ⌈√N⌉ stride (round-7 scale
    bench: the fixed stride-50 centroid set grows linearly with the
    corpus and the N×C assignment measured slope ~102× at 30× data —
    N²/stride by construction; √N centroids make it N^1.5 uniformly).
    The oracle computes the identical stride via a scalar subquery, so
    the declared semantics stay closed-form and in lockstep. The
    assignment itself is the family-shared memoized index (see
    :func:`_shared_ivf_assignment`)."""
    return cosine_topk_ivf(
        load_table(spark, sf_dir, "embeddings"),
        stride=None,
        assigned=_shared_ivf_assignment(spark, sf_dir),
    )


def q_embed_ann_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN with a LEARNED quantizer: ``pyspark.ml.clustering.KMeans``
    coarse cells + nprobe cell search (the production IVF shape next to
    q_embed_ann_ivf's fit-free systematic sampling).

    Fitted centroids depend on float-reduction order, so raw neighbor
    ids are not cross-engine hashable; the declared output is the
    *proof* row per probe instead — result has exactly k entries,
    ranks are contiguous, similarities are within [-1, 1], and the best
    approximate similarity never exceeds the exact brute-force best
    (computed in the same query). The oracle expects all-TRUE rows, so
    any structural or numeric violation is a driver-visible failure —
    the q_approx_distinct proof pattern. The fitted search is memoized
    per (session, sf_dir): the quantizer is a model artifact trained
    once and reused, exactly like production IVF."""
    from financial_big_data_exp_4_spark.operators.similarity import (
        IVF_TOPK,
        cosine_topk_ivf_kmeans,
    )
    from financial_big_data_exp_4_spark.session import memo_df

    emb = load_table(spark, sf_dir, "embeddings")
    topk = memo_df(
        spark,
        ("ivf_kmeans", sf_dir),
        lambda: _build_ivf_kmeans(spark, sf_dir),
    )
    # exact best per probe = rank-1 rows of the memoized brute-force
    # baseline (shared with q_embed_cosine_topk — one scoring fold per
    # session instead of one per invocation)
    exact1 = (
        _shared_bruteforce_topk(spark, sf_dir)
        .where(F.col("rank") == 1)
        .select("probe_id", F.col("cos_sim").alias("_exact_best"))
    )
    # the k-results claim is bounded by what the probed cells actually
    # REACH — and anchored by an INDEPENDENT lower bound so it stays
    # falsifiable (round-7 review: a bound derived only from the
    # operator's own output is true by construction, and a search
    # regression that empties every candidate set would sail through).
    # The operator emits, per indexable probe (stub row when the pool is
    # empty — so row counts match the oracle's one-row-per-indexable-
    # probe contract even on a one-indexable-vector corpus):
    #   n_cand      — candidates reachable from the nprobe probed cells
    #                 (with nprobe=2 of 8 cells this can legitimately be
    #                 < k even when the corpus has plenty; round-6
    #                 ADVICE — a corpus-wide navail bound can demand
    #                 neighbors the searched cells cannot contain);
    #   n_home_cand — the probe's HOME-cell occupancy minus self,
    #                 computed from the assignment upstream of
    #                 probe-cell selection and scoring.
    # The proof demands exactly min(k, n_cand) results, n_cand within
    # [n_home_cand, navail − 1] (home cell is probed by construction →
    # a broken cell ranking/scoring stage fails the lower bound), with
    # navail counted under the index's own norm > 0 predicate.
    from financial_big_data_exp_4_spark.operators.similarity import norm

    # conditional-sum instead of filter-then-count: a where() over the
    # norm fold would be pushed beneath the rebalance exchange onto the
    # single-row-group scan task (the round-9 pushdown finding — see
    # operators/dedup.py minhash_candidate_pairs); an aggregate's partial
    # phase sits ABOVE the repartition, so the fold runs parallel. NULL
    # norms fall to otherwise(0), matching the filter's semantics.
    # coalesce: sum over an EMPTY table is NULL where the old
    # filter-count was 0 (degenerate corpus, fuzz tiny profile)
    navail = rebalance_for_cpu(emb, "vec_id").agg(
        F.coalesce(
            F.sum(F.when(norm(F.col("embedding")) > 0, 1).otherwise(0)),
            F.lit(0),
        ).alias("_navail")
    )
    per = (
        topk.groupBy("probe_id")
        .agg(
            F.count("rank").alias("_n"),  # stubs carry NULL rank
            F.max("rank").alias("_max_rank"),
            F.min("cos_sim").alias("_min_sim"),
            F.max("cos_sim").alias("_best_sim"),
            F.max("n_cand").alias("_n_cand"),
            F.max("n_home_cand").alias("_n_home"),
        )
        .join(exact1, "probe_id", "left")
        .crossJoin(F.broadcast(navail))
    )
    return per.select(
        "probe_id",
        (
            (F.col("_n") == F.least(F.lit(IVF_TOPK), F.col("_n_cand")))
            & (F.col("_n_cand") >= F.col("_n_home"))
            & (F.col("_n_cand") <= F.col("_navail") - 1)
        ).alias("has_k"),
        F.coalesce(
            F.col("_max_rank") == F.col("_n"), F.col("_n") == 0
        ).alias("ranks_contiguous"),
        F.coalesce(
            (F.col("_min_sim") >= -1.0000001)
            & (F.col("_best_sim") <= 1.0000001),
            F.col("_n") == 0,
        ).alias("sims_bounded"),
        F.coalesce(
            F.col("_best_sim") <= F.col("_exact_best") + 1e-9,
            F.col("_n") == 0,
        ).alias("best_le_exact"),
    ).orderBy("probe_id")


def _shared_embed_neardup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-cell-bucketed embedding near-dup pairs, memoized per
    (session, sf_dir) — q_embed_neardup and q_semantic_dedup both
    consume it (the same one-materialization-many-consumers shape as
    the minhash/hyperplane families)."""
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("embed_neardup_pairs", sf_dir),
        lambda: _build_embed_neardup_pairs(spark, sf_dir),
    )


def _build_embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive ⌈√N⌉ stride — same rationale and oracle lockstep as
    # q_embed_ann_ivf (the in-cell pair join is N²/C without it);
    # the cell assignment is the family-shared memoized index, so
    # the N^1.5 build is paid once per session across ann_ivf /
    # embed_neardup / semantic_dedup, not once per family member
    return embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        stride=None,
        assigned=_shared_ivf_assignment(spark, sf_dir),
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shared_embed_neardup_pairs(spark, sf_dir)


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_quality(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_fingerprint(load_table(spark, sf_dir, "documents"))


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (hopping/sliding) window counts — width 1 h, hop
    30 min, each event in two windows. See operators/events.py:
    hopping_counts for the arithmetic derivation and scale shape."""
    from financial_big_data_exp_4_spark.operators.events import (
        hopping_counts,
    )

    return hopping_counts(load_table(spark, sf_dir, "events"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return json_extract_stats(load_table(spark, sf_dir, "events"))


def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return revenue_by_region(spark, sf_dir)


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customers_without_orders(spark, sf_dir)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal_metadata(load_table(spark, sf_dir, "documents"))


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_big_data_exp_4_spark.operators.multimodal import (
        sample_frames,
    )

    return sample_frames(load_table(spark, sf_dir, "documents"))


#: Input bytes one streaming-drain STATE partition should carry. State
#: partitions trade per-partition commit overhead (dominates when tiny)
#: against state-op parallelism (dominates when state is big). Measured
#: knees: sf0.1 (17.5 MB) → 4 partitions (8 was ~1.3× slower); the 10×
#: fixture (175 MB) → 16 (4 → 31.4 s, 8 → 18.3 s, 16 → 13.7 s, 32 →
#: 18.6 s across the five declared drains; the stream-stream join moves
#: 10.4 → 5.6 s). ~12 MiB per partition reproduces both knees; the
#: floor keeps the sf0.1 knee, the cores ceiling holds where a real
#: cluster would size by state volume instead.
_DRAIN_BYTES_PER_PARTITION = 12 * 1024 * 1024


def _drain_partitions_for(
    spark: SparkSession, sf_dir: str | None, floor: int
) -> int:
    from financial_big_data_exp_4_spark.session import (
        default_parallelism,
        input_dir_bytes,
    )

    total = input_dir_bytes(spark, sf_dir) if sf_dir else None
    if not total:
        return floor
    return max(
        floor,
        min(
            default_parallelism(),
            -(-total // _DRAIN_BYTES_PER_PARTITION),
        ),
    )


def _drain_stream(
    spark: SparkSession,
    stream,
    table: str,
    output_mode: str = "complete",
    drain_partitions: int = 4,
    sf_dir: str | None = None,
):
    """Drain a bounded stream into the FIXED-name memory-sink table and
    return it. The memory sink re-registers ``table`` via
    createOrReplaceTempView at query start (verified empirically), so
    repeated invocations — the bench runs every query 4× — reuse ONE
    driver-memory slot instead of accumulating uuid-named materialized
    result tables for the session lifetime. The checkpoint stays a
    throwaway tempdir: these drains are verification runs, not resumable
    production streams — so it lives on tmpfs when the host has one
    (``/dev/shm``). A micro-batch commit writes a dozen small WAL /
    offset / state-delta files; on a disk-backed ``/tmp`` those pay
    real I/O latency per batch for durability the throwaway checkpoint
    by definition does not need. Production drains pass their own
    durable checkpoint dir (see run_stream_foreach_batch callers) and
    are unaffected."""
    import os
    import tempfile

    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
    )

    shm = "/dev/shm"
    fast = shm if os.path.isdir(shm) and os.access(shm, os.W_OK) else None
    # A/B hooks (tools/stream_ab.py): neither changes results — the
    # provider only decides where state lives (see STATE_PROVIDERS), the
    # partition count only how state is sharded. The partition default
    # stays the measured sf0.1 knee; the env lets the A/B tool re-find
    # the knee at bigger fixtures without touching the declared path.
    # input-sized state partitions: the passed value is the FLOOR (the
    # per-query sf0.1 knee); bigger inputs scale up at ~12 MiB/partition
    drain_partitions = _drain_partitions_for(spark, sf_dir, drain_partitions)
    env_parts = os.environ.get("SPARK_GRAFT_DRAIN_PARTITIONS")
    if env_parts:
        drain_partitions = int(env_parts)
    with tempfile.TemporaryDirectory(dir=fast) as ckpt:
        run_stream_to_memory(
            stream,
            table,
            ckpt,
            output_mode=output_mode,
            drain_partitions=drain_partitions,
            state_provider=os.environ.get("SPARK_GRAFT_STATE_PROVIDER"),
        )
    return spark.table(table)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tumbling-window counts, drained as a bounded
    stream (``availableNow`` → memory sink) and returned as a DataFrame —
    puts streaming ≡ batch under the driver's oracle, not just pytest.

    The memory sink is the *verification* sink (bounded drain, results on
    the driver); production swaps in a real sink at the ``writeStream``
    line and the plan above it is unchanged. Window starts are re-emitted
    as epoch seconds so the batch tumbling oracle applies verbatim.
    """
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        streaming_tumbling_counts,
    )

    stream = streaming_tumbling_counts(read_events_stream(spark, sf_dir))
    return _drain_stream(
        spark, stream, "stream_tumbling", sf_dir=sf_dir
    ).select(
        F.unix_timestamp("window_start").alias("window_start_s"),
        "event_type",
        "cnt",
    )


# -- OLAP surface: as-of join, rollup, windowed rank, percentiles, set ops --

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join within the events stream: each 'error' event picks up the
    value of the same user's most recent 'purchase' at or before it.
    One union-sort pass — see :mod:`..operators.asof` for the scale story."""
    events = load_table(spark, sf_dir, "events")
    # floor, not DIV (see q_distinct_agg): the oracle floors its µs
    # derivation, and bare DIV truncates toward zero — divergent on any
    # pre-epoch sub-µs instant (latent: fixtures are whole-µs today)
    ts_us = F.expr(floor_div_sql("ts", 1000))
    errors = events.where(F.col("event_type") == "error").select(
        "event_id", "user_id", ts_us.alias("ts_us")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_us.alias("ts_us"), "value"
    )
    return asof_join(
        errors,
        purchases,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        payload="value",
        tiebreak="event_id",
        payload_out="last_purchase_value",
    )


def _orders_leaf_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(priority, status) leaf groups with count + DECIMAL(38,2) revenue
    — the shared first stage of q_rollup / q_cube / q_grouping_sets
    (r15): every coarser grouping set is derived by RE-AGGREGATING the
    ~15 leaf rows instead of letting Spark's Expand push (sets+1)×
    copies of every fact row through the decimal partial sum. DECIMAL
    addition is associative, so sum-of-leaf-sums is bit-identical to
    the one-shot rollup sum (verified row-identical at the 10× fixture;
    rollup 1.55 → 0.87 s, cube 1.80 → 0.90 s warm). Correct whenever
    the leaf cardinality ≪ row count — true by construction for these
    two bounded dimension columns at every scale."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("_rev"),
    )


def _null_str(alias: str):
    return F.lit(None).cast("string").alias(alias)


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(priority, status): grand total + per-priority subtotals +
    leaf groups. Derived from the shared leaf aggregate (see
    :func:`_orders_leaf_aggregate`) — one decimal pass over the facts,
    subtotals re-aggregated from the leaf rows. Revenue exact via
    DECIMAL(38,2); the grand-total count coalesces to 0 so an EMPTY
    input still yields rollup's single all-NULL total row."""
    lv = _orders_leaf_aggregate(spark, sf_dir)
    leaf = lv.select(
        "o_orderpriority",
        "o_orderstatus",
        "cnt",
        F.col("_rev").cast("double").alias("revenue"),
    )
    marg = lv.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select("o_orderpriority", _null_str("o_orderstatus"), "cnt", "revenue")
    tot = lv.agg(
        F.coalesce(F.sum("cnt"), F.lit(0).cast("long")).alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select(
        _null_str("o_orderpriority"),
        _null_str("o_orderstatus"),
        "cnt",
        "revenue",
    )
    return leaf.unionByName(marg).unionByName(tot)


def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (generic windowed rank — the
    per-group top-N pattern; shuffles once on the partition key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


def _orders_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The percentile family's shared EXACT order-statistic stage:
    per-priority p25/p50/p75 of o_totalprice via the sort-based
    selection (:func:`..operators.relational.exact_percentiles`,
    bit-identical to ``F.percentile``), memoized per (session, sf_dir).
    q_percentile serves it directly; q_approx_percentile reads only the
    exact median from it as the reference its sketch is judged against —
    previously each query paid the full sort-based selection separately
    (r13 VERDICT #5), so the bench priced the GK sketch's PROOF at
    2× the exact path's cost instead of sharing the one exact artifact."""
    from financial_big_data_exp_4_spark.operators.relational import (
        exact_percentiles,
    )
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("orders_quartiles", sf_dir),
        lambda: _build_orders_quartiles(spark, sf_dir),
    )


def _build_orders_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_big_data_exp_4_spark.operators.relational import (
        exact_percentiles,
    )

    return exact_percentiles(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
        {"p25": 0.25, "p50": 0.5, "p75": 0.75},
    )


def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group — sort-based
    order-statistic selection (:func:`..operators.relational.
    exact_percentiles`), bit-identical to ``F.percentile`` (validated
    in tests) but without the Percentile aggregate's value-map buffers
    (8.5 s → 3.2 s at the 10× fixture on a near-unique double column;
    at 100 TB swap for ``approx_percentile`` and a documented error
    bound). Served from the memoized family stage shared with
    q_approx_percentile's exact reference."""
    return _orders_quartiles(spark, sf_dir)


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (deduplicating) of two filtered scans, then aggregate —
    the set-operation surface. Spark plans union+distinct as one
    hash-partitioned dedup, not a pairwise comparison."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    big = orders.where(F.col("o_totalprice") > 350_000).select(
        "o_orderkey", "o_orderstatus"
    )
    return (
        urgent.union(big)
        .distinct()
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
    )


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (distinct users and days per event
    type). Spark plans this as expand + two-phase aggregate — partial
    distinct map-side, so the shuffle carries (group, distinct-value)
    pairs, not raw rows. At 100 TB the drop-in cheaper variant is
    ``approx_count_distinct`` (HLL, one pass, mergeable sketches) — not
    declared here because sketch estimates are not oracle-hashable."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            "user_id",
            # floor, not DIV: the oracle's // floors pre-epoch days
            F.expr(floor_div_sql("ts", 86_400_000_000_000)).alias("day"),
        )
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("day").alias("n_days"),
        )
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (errors within 1h after a same-user
    purchase), bucketed into an equi-join — see
    :func:`..operators.joins.range_join_bucketed` for why the naive
    BETWEEN condition would plan as a per-key nested loop."""
    events = load_table(spark, sf_dir, "events")
    # floor, not DIV — same oracle-parity reasoning as q_asof_join
    ts_us = F.expr(floor_div_sql("ts", 1000))
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), ts_us.alias("ets")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purch_id"), ts_us.alias("pts"), "value"
    )
    out = range_join_bucketed(
        errors, purchases, key="user_id", probe_ts="ets", start_ts="pts"
    )
    return out.select("user_id", "err_id", "purch_id", "value")


def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC keep-latest: one row per user — the latest event by
    (timestamp, event_id). Aggregate-form argmax (max over a struct):
    partial aggregation reduces map-side, so the shuffle carries |users|
    rows, not |events| — the window/row_number formulation would shuffle
    and sort everything."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        # floor, not DIV — same oracle-parity reasoning as q_asof_join
        "user_id", F.expr(floor_div_sql("ts", 1000)).alias("ts_us"), "event_id"
    )
    return keep_latest(base, key="user_id", ts="ts_us", tiebreak="event_id")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of orders by key hash — map-only,
    engine-portable, reproducible across runs/partitionings (none of
    which TABLESAMPLE/rand() guarantee)."""
    orders = load_table(spark, sf_dir, "orders")
    return hash_sample(orders, key="o_orderkey", pct=10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/case normalization pass over documents with a change
    flag — the canonical pre-dedup cleanup stage."""
    return normalize_text(load_table(spark, sf_dir, "documents"))


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session windows (native ``session_window`` gap-merge)
    drained as a bounded stream — the stateful-operator sibling of
    q_stream_tumbling.

    Event times are second-truncated before windowing (inside
    ``streaming_session_counts``, its default) so the oracle can mirror
    the gap semantics exactly. ``session_window`` merges an event
    arriving exactly ``gap`` after the previous one (inclusive "within
    the gap duration" — verified empirically against an exact-1800s pair
    at sf0.1), so a NEW session starts iff ``t - last_t > gap``: the
    same convention as the batch sessionizer's lag test.
    """
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        streaming_session_counts,
    )

    stream = read_events_stream(spark, sf_dir)
    return _drain_stream(
        spark,
        streaming_session_counts(stream),
        "stream_sessions",
        sf_dir=sf_dir,
    ).select(
        "user_id",
        F.unix_timestamp("session_start").alias("session_start_s"),
        "n_events",
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(priority, status): all four grouping sets — leaves, both
    one-dimension marginals, grand total. Derived from the shared leaf
    aggregate (see :func:`_orders_leaf_aggregate`): the facts pass the
    decimal sum ONCE instead of 4× through cube's Expand; the three
    coarser sets re-aggregate the ~15 leaf rows (bit-identical by
    decimal associativity; 10×: 1.80 → 0.90 s warm, rows verified
    identical)."""
    lv = _orders_leaf_aggregate(spark, sf_dir)
    leaf = lv.select(
        "o_orderpriority",
        "o_orderstatus",
        "cnt",
        F.col("_rev").cast("double").alias("revenue"),
    )
    mp = lv.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select("o_orderpriority", _null_str("o_orderstatus"), "cnt", "revenue")
    ms = lv.groupBy("o_orderstatus").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select(_null_str("o_orderpriority"), "o_orderstatus", "cnt", "revenue")
    tot = lv.agg(
        F.coalesce(F.sum("cnt"), F.lit(0).cast("long")).alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select(
        _null_str("o_orderpriority"),
        _null_str("o_orderstatus"),
        "cnt",
        "revenue",
    )
    return leaf.unionByName(mp).unionByName(ms).unionByName(tot)


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority. The pivot values are
    pinned explicitly — with an implicit value list Spark first runs a
    distinct scan AND the output schema becomes data-dependent, which is
    both slower and schema-unstable at 100 TB. Absent combinations are
    coalesced to 0 (Spark's pivot-count yields null there)."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # count(*) is rejected inside a Pivot agg
    )
    return pivoted.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"cnt_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    ).coalesce(1).orderBy("o_orderpriority")


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((priority), (status)) — two independent
    marginals in ONE expand+aggregate pass over the fact table (half the
    scans of the equivalent union-of-group-bys formulation). ``gid``
    (grouping_id) disambiguates which set a row belongs to — required in
    general because a genuine NULL group value is otherwise
    indistinguishable from the "aggregated away" marker.

    Derived from the shared leaf aggregate (see
    :func:`_orders_leaf_aggregate`, r15): both marginals re-aggregate
    the ~15 leaf rows, so the facts pass the decimal sum once instead
    of twice through the grouping-sets Expand. ``gid`` values are the
    grouping_id literals of the two sets over the (priority, status)
    column order — 1 (status aggregated away) and 2 (priority away) —
    verified hash-identical against the Expand form."""
    lv = _orders_leaf_aggregate(spark, sf_dir)
    mp = lv.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select(
        "o_orderpriority",
        _null_str("o_orderstatus"),
        F.lit(1).cast("long").alias("gid"),
        "cnt",
        "revenue",
    )
    ms = lv.groupBy("o_orderstatus").agg(
        F.sum("cnt").alias("cnt"),
        F.sum("_rev").cast("double").alias("revenue"),
    ).select(
        _null_str("o_orderpriority"),
        "o_orderstatus",
        F.lit(2).cast("long").alias("gid"),
        "cnt",
        "revenue",
    )
    return mp.unionByName(ms)


# -- corpus-curation surface: quality rules, repetition, tf-idf, packing,
# -- stratified sampling, inverted index, sketches, skew, pricing summary --

def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_filter(load_table(spark, sf_dir, "documents"))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_table(spark, sf_dir, "documents"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return stratified_sample(
        events, key="event_id", stratum="event_type",
        rates_permille=EVENT_SAMPLE_RATES,
    ).select("event_id", "event_type", "user_id")


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return inverted_index(load_table(spark, sf_dir, "documents"))


def q_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH recall-then-precision pipeline: band-join candidates
    confirmed by exact word-bigram Jaccard ≥ 0.5 — exact similarity runs
    only on candidates, never all-pairs."""
    from financial_big_data_exp_4_spark.operators.dedup import (
        neardup_verified_pairs,
    )

    return neardup_verified_pairs(
        load_table(spark, sf_dir, "documents"),
        pairs=_shared_minhash_pairs(spark, sf_dir),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidate pairs → connected components
    (iterative min-label propagation; the oracle is a recursive-CTE
    transitive closure over the same candidate SQL — see
    :mod:`..operators.graph` for the scale story)."""
    from financial_big_data_exp_4_spark.operators.graph import dedup_clusters

    return dedup_clusters(
        load_table(spark, sf_dir, "documents"),
        pairs=_shared_minhash_pairs(spark, sf_dir),
    )


def q_group_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map pandas transform (``applyInPandas``): per-event-type
    median centering of ``value``. The median is exactly engine-portable,
    so the Arrow→pandas→Arrow group path itself is under the oracle hash
    — see :mod:`..operators.grouped` for when to use (and not use) this
    API at scale."""
    from financial_big_data_exp_4_spark.operators.grouped import (
        group_median_center,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return group_median_center(events, key="event_type", value="value")


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL ``approx_count_distinct`` (rsd 2%) per event type, hash-checked
    by *proof of tolerance*: the sketch estimate is not oracle-hashable
    (engine-specific), so the query emits the exact count plus a boolean
    asserting the estimate landed within ±5% — the oracle expects TRUE on
    every row, making the sketch's accuracy (not just its existence) part
    of the correctness gate. At 100 TB the sketch is the one to ship:
    one pass, mergeable, constant memory; the exact count here is the
    audit column."""
    # NOT _fact-rebalanced: the map side (hash-set inserts) is cheap, so
    # the fan-out exchange's extra stage costs more than the serialized
    # partial distinct saves (A/B at sf0.1: 0.62s plain vs 1.0s fanned).
    # Dedup-FIRST (r15): mixing a distinct aggregate (countDistinct)
    # with the HLL sketch in one groupBy plans a 4-level aggregate
    # chain whose fact-scale levels carry the HLL's imperative buffer
    # and run WITHOUT whole-stage codegen (plan dump: no `*` on the
    # fact-side HashAggregates). Deduplicating (event_type, user_id) in
    # its own codegen'd partial-aggregable pass and computing BOTH
    # metrics over the distinct rows keeps the fact-scale work in
    # codegen and feeds the sketch only |distinct| rows — the HLL
    # registers are max-of-hashes, so the sketch over the distinct SET
    # is bit-identical to the sketch over the raw multiset, and
    # count(user_id) over distinct rows IS countDistinct (NULL user_id
    # forms one dedup row that count(col) skips, matching
    # countDistinct's NULL exclusion). Measured at 10×: 2.29 → 0.62 s
    # warm, results identical.
    events = load_table(spark, sf_dir, "events")
    dd = events.select("event_type", "user_id").distinct()
    return (
        dd.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
            F.count("user_id").alias("n_exact"),
        )
        .select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            (
                F.abs(F.col("_approx").cast("double") - F.col("n_exact"))
                <= F.lit(0.05) * F.col("n_exact").cast("double")
            ).alias("within_5pct"),
        )
    )


def q_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-stage aggregate declared under the oracle: counts by
    ``event_type`` — 5 hot keys over 32 reducers, exactly the shape where
    the final combine funnels into few tasks. The oracle is the *unsalted*
    GROUP BY: salting must be output-invariant."""
    from financial_big_data_exp_4_spark.operators.skew import (
        salted_groupby_count,
    )

    return salted_groupby_count(
        load_table(spark, sf_dir, "events"), key="event_type", n_salts=16
    )


def q_curation_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation yield: how many documents each ingest source
    contributes and what fraction survives the quality filter — the
    monitoring table every curation pipeline keeps (a source whose yield
    collapses is the first sign of a crawler regression). The filter
    passes ``source`` through its own scan (``keep_cols``), so the plan
    is ONE pass over documents + one partial-aggregated shuffle on the
    low-cardinality source — never a doc_id self-join of two full
    scans."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        quality_filter(docs, keep_cols=("source",))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
        .select(
            "source",
            "n_docs",
            "n_keep",
            (
                F.col("n_keep").cast("double") / F.col("n_docs").cast("double")
            ).alias("yield_rate"),
        )
    )


def q_stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked self-join (errors ⋈ same-user purchases
    within the preceding hour) drained as a bounded stream — the fourth
    streaming class (two-sided join state), under the SAME oracle as the
    batch bucketed range join: streaming ≡ batch on a bounded drain."""
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        streaming_error_purchase_join,
    )

    stream = streaming_error_purchase_join(read_events_stream(spark, sf_dir))
    # 2 state partitions, not the single-store default 4: a stream-stream
    # join keeps FOUR stores per partition, so its commit-overhead knee
    # sits lower (measured at sf0.1: 4 parts ~1.95s, 2 ~1.68s, 1 ~1.61s —
    # 2 keeps parallelism for only ~0.07s over the minimum)
    return _drain_stream(
        spark,
        stream,
        "stream_range_join",
        output_mode="append",
        drain_partitions=2,
        sf_dir=sf_dir,
    ).select("user_id", "err_id", "purch_id", "value")


def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming (``applyInPandasWithState``): per-user
    running totals maintained in GroupState, drained availableNow — the
    fifth streaming class (custom state), under the batch
    count/max-time oracle.

    The update-mode memory sink appends one row per user per microbatch;
    with ``maxFilesPerTrigger=1`` a multi-file events source would leave
    stale earlier-batch rows next to the final totals (round-3 ADVICE).
    The drain is therefore post-aggregated to the FINAL update per user —
    ``n_events`` is monotone within a user, so ``max(struct(n_events,
    last_ts_us))`` is exactly the last emitted state. On today's
    single-file drain this is a no-op on a tiny driver-memory table; on
    any future multi-file source it is the correctness fix."""
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        streaming_user_running_totals,
    )

    stream = streaming_user_running_totals(read_events_stream(spark, sf_dir))
    drained = _drain_stream(
        spark, stream, "stream_stateful", output_mode="update",
        sf_dir=sf_dir,
    )
    return (
        drained.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "last_ts_us")).alias("_final"))
        .select(
            "user_id",
            F.col("_final.n_events").alias("n_events"),
            F.col("_final.last_ts_us").alias("last_ts_us"),
        )
    )


def q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``spark.sql`` front-end over registered views — the same engine
    (identical Catalyst plan as the DataFrame flagship), declared once so
    the SQL-text entry path is itself under the oracle. A user of the
    engine can submit ANSI SQL strings instead of DataFrame calls and get
    plan-for-plan identical execution."""
    from financial_big_data_exp_4_spark.sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS cnt
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY cnt DESC, c_mktsegment
        """
    )


def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment per order within its priority group (``ntile``
    — equal-frequency binning over a total order; the window shuffles
    once on the partition key). Deterministic because the order key
    (o_totalprice, o_orderkey) is total."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup drained as a bounded stream: the distinct
    (user_id, event_type) pairs seen on the events stream — the third
    streaming query class (stateful dedup) under the batch DISTINCT
    oracle."""
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        streaming_distinct_keys,
    )

    stream = streaming_distinct_keys(read_events_stream(spark, sf_dir))
    return _drain_stream(
        spark, stream, "stream_dedup", output_mode="append", sf_dir=sf_dir
    ).select("user_id", "event_type")


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (the EXISTS physical form): customers holding at
    least one order above 400k. Semi joins short-circuit on first match
    and never duplicate the probe side — the OUTER-join-then-filter
    formulation both duplicates and shuffles more."""
    customer = load_table(spark, sf_dir, "customer")
    big_orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") > 400_000
    )
    return customer.join(
        big_orders,
        customer.c_custkey == big_orders.o_custkey,
        "left_semi",
    ).select("c_custkey", "c_acctbal")


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return moving_value_avg(load_table(spark, sf_dir, "events"))


def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_exact_dedup(load_table(spark, sf_dir, "documents"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scrub_pii(load_table(spark, sf_dir, "documents"))


def _bloom_filter_artifact(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    """The Bloom family's served artifact: (word table, m), memoized per
    (session, sf_dir). A production ingest pipeline builds the filter
    ONCE from the corpus and persists it next to the data (the
    bloom_words docstring's contract — same train-once/serve-many shape
    as the IVF index); per-call rebuild paid the corpus count() plus the
    explode+bit_or fold on every invocation."""
    from financial_big_data_exp_4_spark.operators.dedup import (
        bloom_corpus_split,
        bloom_words,
        bloom_words_size,
    )
    from financial_big_data_exp_4_spark.session import memo_df, session_memo

    mmemo = session_memo(spark, "_fbde4_bloom_m")
    if mmemo is None or sf_dir not in mmemo:
        corpus, _ = bloom_corpus_split(load_table(spark, sf_dir, "documents"))
        m = bloom_words_size(corpus.count())
        if mmemo is not None:
            mmemo[sf_dir] = m
    else:
        m = mmemo[sf_dir]
    words = memo_df(
        spark,
        ("bloom_words", sf_dir),
        lambda: _build_bloom_words(spark, sf_dir, m),
    )
    return words, m


def _build_bloom_words(spark: SparkSession, sf_dir: str, m=None) -> DataFrame:
    from financial_big_data_exp_4_spark.operators.dedup import (
        bloom_corpus_split,
        bloom_words,
        bloom_words_size,
    )

    corpus, _ = bloom_corpus_split(load_table(spark, sf_dir, "documents"))
    if m is None:  # standalone (audit) path: recompute the sizing count
        m = bloom_words_size(corpus.count())
    return bloom_words(corpus, m)


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest prefilter as a DataFrame-native bit table
    (Spark's internal bloom_filter_agg/might_contain are not publicly
    registered): corpus digests -> 63-bit words via explode+bit_or,
    probe batch -> broadcast word join, per-probe membership. The
    oracle replays the identical bit construction in SQL (same md5
    double-hash positions, same words), so bloom_hit hash-compares
    bit-for-bit and no_false_negative makes the Bloom contract row-wise
    falsifiable. See operators/dedup.py:bloom_prefilter_proof. The word
    table is the session-memoized family artifact (built once, served
    to every probe batch — the production ingest shape)."""
    from financial_big_data_exp_4_spark.operators.dedup import (
        bloom_prefilter_proof,
    )

    return bloom_prefilter_proof(
        load_table(spark, sf_dir, "documents"),
        words_m=_bloom_filter_artifact(spark, sf_dir),
    )


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based median per priority with a proof-of-tolerance row
    (same pattern as q_approx_distinct): the oracle hashes the exact
    median plus TRUE, so the Greenwald-Khanna sketch's accuracy is the
    check. At 100 TB the sketch is the production path — one pass,
    mergeable, bounded memory vs the exact sort-based percentile.

    The proof checks RANK, not value: GK guarantees the returned
    element's rank is within ε·n of the target — it promises nothing
    about value distance, and a ±2% *value* tolerance is data-dependent
    (on a 45-row group the gap between the two central order statistics
    exceeded 2%, and a negative median makes the relative bound
    vacuously impossible — both found by tools/fuzz_correctness.py).
    With duplicates a single value occupies a rank RUN, so the check is
    interval overlap: [count(v < approx), count(v ≤ approx)] must
    intersect [n/2 − tol, n/2 + tol], tol = n·1e-4 + 1 — exactly the
    sketch's ε = 1/accuracy rank guarantee at accuracy 10000, with the
    ±1 absorbing the even/odd target split. A sketch whose rank error
    regressed past its own contract fails the gate."""
    # NOT _fact-rebalanced: the GK sketch's partial state is compact, so
    # the fan-out exchange costs more than it saves (A/B at sf0.1)
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    # the exact reference median is READ from the memoized family stage
    # shared with q_percentile (one sort-based selection per session,
    # not one per proof run); the sketch + count stay one compact
    # aggregate, joined on the group — both sides are per-group scalars,
    # broadcast-sized
    exact = _orders_quartiles(spark, sf_dir).select(
        "o_orderpriority", F.col("p50").alias("p50_exact")
    )
    sk = orders.groupBy("o_orderpriority").agg(
        F.expr(
            "approx_percentile(o_totalprice, 0.5, 10000)"
        ).alias("_pa"),
        F.count(p).alias("_n"),
    )
    g = exact.join(
        sk.withColumnRenamed("o_orderpriority", "_skprio"),
        F.col("o_orderpriority").eqNullSafe(F.col("_skprio")),
    ).drop("_skprio")
    # rank the sketch's answer within its own group: broadcast the tiny
    # per-group row back over the fact scan (eqNullSafe — a NULL
    # priority is a real group on both engines)
    j = orders.select(
        F.col("o_orderpriority").alias("_prio"), p.alias("_v")
    ).join(
        F.broadcast(g),
        F.col("_prio").eqNullSafe(F.col("o_orderpriority")),
    )
    half = F.col("_n") / 2
    tol = F.col("_n") * F.lit(1e-4) + 1
    return (
        j.groupBy("o_orderpriority", "p50_exact", "_n")
        .agg(
            F.count(F.when(F.col("_v") < F.col("_pa"), 1)).alias("_lo"),
            F.count(F.when(F.col("_v") <= F.col("_pa"), 1)).alias("_hi"),
        )
        .select(
            "o_orderpriority",
            "p50_exact",
            (
                (F.col("_lo") <= half + tol) & (F.col("_hi") >= half - tol)
            ).alias("sketch_rank_ok"),
        )
    )


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filtered scan → 4-way grouped
    aggregate with derived measures. All money math routes through
    DECIMAL so the sums are order-independent (a double sum's value
    depends on reduction order — non-deterministic under retries at
    scale); averages derive from the decimal sums, cast to double with
    one division. Products stay inside DECIMAL: (12,2)×(4,2)×(4,2)
    widens to scale 6 without overflow or rounding."""
    li = _fact(spark, sf_dir, "lineitem", "l_orderkey")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = (F.lit(1.0) - F.col("l_discount")).cast("decimal(4,2)")
    tax1 = (F.lit(1.0) + F.col("l_tax")).cast("decimal(4,2)")
    cnt = F.count("*")
    sum_qty = F.sum(F.col("l_quantity").cast("decimal(38,2)"))
    sum_base = F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
    sum_disc_raw = F.sum(F.col("l_discount").cast("decimal(8,2)"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.cast("double").alias("sum_qty"),
            sum_base.cast("double").alias("sum_base_price"),
            F.sum(price * disc1).cast("double").alias("sum_disc_price"),
            F.sum(price * disc1 * tax1).cast("double").alias("sum_charge"),
            (sum_qty.cast("double") / cnt.cast("double")).alias("avg_qty"),
            (sum_base.cast("double") / cnt.cast("double")).alias("avg_price"),
            (sum_disc_raw.cast("double") / cnt.cast("double")).alias(
                "avg_disc"
            ),
            cnt.alias("cnt"),
        )
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly event series with zero-filled gaps (resampling)."""
    from financial_big_data_exp_4_spark.operators.events import (
        gap_fill_hourly,
    )

    return gap_fill_hourly(load_table(spark, sf_dir, "events"))


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer cumulative spend: unbounded-preceding window sum over
    a total order (o_orderdate, o_orderkey). The frame sum routes through
    DECIMAL(38,2) — Spark evaluates running window sums with pairwise/
    segment-tree association at scale, so a double frame sum is
    reduction-order-dependent; decimal is associative and bit-stable.
    One shuffle on o_custkey; the in-partition sort is the window's."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(38,2)"))
        .over(w)
        .cast("double")
        .alias("cum_spend"),
    )


def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag,
    computed from DECIMAL-routed moment sums instead of ``F.corr`` —
    corr's streaming covariance accumulator is reduction-order-dependent
    in its low bits, so the sums are made associative (decimal) and the
    closed-form combination runs in IEEE double (−, ×, /, sqrt are all
    correctly rounded → bit-identical on any engine evaluating the same
    expression tree). Per-row double products (qty×price) are themselves
    correctly rounded, deterministically, before the decimal cast."""
    li = _fact(spark, sf_dir, "lineitem", "l_orderkey")
    # cast each factor to DECIMAL *before* multiplying: a double→decimal
    # cast of a product is engine-dependent in the last digit (Spark
    # rounds the shortest decimal repr, DuckDB the exact binary value),
    # but these 2-dp columns cast exactly, and decimal×decimal is exact
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")

    def dsum(c):
        return F.sum(c).cast("double")

    n = F.count("*").cast("double")
    sx, sy = dsum(x), dsum(y)
    sxy, sxx, syy = dsum(x * y), dsum(x * x), dsum(y * y)
    # try_divide + greatest(·, 0): a zero-variance group (every quantity
    # identical) makes Pearson correlation undefined — NULL, exactly
    # DuckDB's x/0.0, never an ANSI abort. The greatest() guards the
    # same constant-group rounding hazard standard_scale documents
    # (n·Σx² − (Σx)² can round to a tiny NEGATIVE; Spark's sqrt would
    # give NaN and DuckDB's would ERROR — both wrong for the gate).
    # Singleton/constant groups are routine at scale; found by the fuzz
    # tiny profile.
    corr = F.try_divide(
        n * sxy - sx * sy,
        F.sqrt(F.greatest(n * sxx - sx * sx, F.lit(0.0)))
        * F.sqrt(F.greatest(n * syy - sy * sy, F.lit(0.0))),
    )
    return li.groupBy("l_returnflag").agg(
        corr.alias("corr_qty_price"),
        F.count("*").alias("n_rows"),
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: 3-way join (lineitem ⋈ orders ⋈
    customer) with per-table filters, exact-DECIMAL revenue, top 10.

    100 TB plan: every filter is pushed to its own scan before any join
    (the segment filter prunes ~80% of customers, the date filters prune
    both fact tables). Join ORDER is the r15 fix: the selective
    dimension join (orders ⋈ broadcast customer, −80% of orders) runs
    FIRST, so the big lineitem side joins a pre-pruned orders set — the
    old (lineitem ⋈ orders) ⋈ customer order paired the two fact tables
    at full post-filter size before the cheap prune (guide §3: filter
    the big side before its join; measured at the 10× fixture 2.57 s →
    1.6-2.0 s warm, plans and results identical otherwise). Joins stay
    unhinted: AQE broadcasts the filtered customer side here, and at
    warehouse scale the same plan degrades gracefully to shuffle joins
    on the (uniform) key columns (an explicit broadcast of the
    orders⋈customer result measured 1.07 s at 10× but would try to ship
    a TB-scale join output at 100 TB — rejected). The pruned-orders
    join reuses the lineitem exchange's l_orderkey partitioning for the
    grouped sum, so the aggregate adds no exchange. Revenue routes
    through DECIMAL(12,2)×(4,2) so the grouped sum is
    reduction-order-independent, and the final (revenue DESC,
    o_orderdate, l_orderkey) sort is a total order, making the LIMIT 10
    deterministic — plans as TakeOrderedAndProject, never a global sort."""
    cutoff = F.lit("1998-06-15").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > cutoff
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(4,2)")
    oc = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        li.join(oc, li["l_orderkey"] == oc["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _orders_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC change set derived from orders: keys ≡1 (mod 97)
    get a price bump update, ≡2 a delete, ≡3 an insert under a fresh
    (negated) key — closed-form so the oracle rebuilds it verbatim.
    Memoized per (session, sf_dir): q_merge_upsert and q_table_diff both
    consume it, and unmemoized each build re-scans orders three times
    (one filtered scan per op class)."""
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("orders_changes", sf_dir),
        lambda: _build_orders_changes(spark, sf_dir),
    )


def _build_orders_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    upd = orders.where(F.col("o_orderkey") % 97 == 1).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        "o_orderstatus",
    )
    dele = orders.where(F.col("o_orderkey") % 97 == 2).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    ins = orders.where(F.col("o_orderkey") % 97 == 3).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    return upd.unionByName(dele).unionByName(ins)


def _merged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge family's shared MERGED-SNAPSHOT stage, memoized per
    (session, sf_dir): q_merge_upsert returns it directly and
    q_table_diff diffs against it — previously the diff re-ran the whole
    merge inline every call (r13 VERDICT #3). The production shape is a
    maintained table: MERGE writes the snapshot once, every downstream
    reconciliation reads the materialization."""
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("merged_orders", sf_dir),
        lambda: _build_merged_orders(spark, sf_dir),
    )


def _build_merged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_changes(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ),
        _orders_changes(spark, sf_dir),
        key="o_orderkey",
        cols=("o_totalprice", "o_orderstatus"),
    )


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO without a table format: broadcast change application
    (update/delete map-side, inserts unioned) — see
    :func:`~financial_big_data_exp_4_spark.operators.relational.merge_changes`.
    The base table is never shuffled; the merged snapshot is a memoized
    family artifact shared with q_table_diff (build cost disclosed via
    MEMO_FAMILY_CONSUMERS)."""
    return _merged_orders(spark, sf_dir)


def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from the event history: validity
    intervals of event_type per user, one exchange total (windows and
    aggregate all cluster on user_id)."""
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        F.expr(floor_div_sql("ts", 1_000_000_000)).alias("ts_s"),
        "event_type",
    )
    return scd2_intervals(base)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority 5%/95% winsorization of order totals — exact
    percentile bounds broadcast, map-side clip, audit flag. NOT
    _fact-rebalanced: the clip is a cheap map and the bounds aggregate
    alone doesn't repay the fan-out exchange (A/B at sf0.1)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return winsorize(orders, group="o_orderpriority", value="o_totalprice")


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking of documents (map-only row
    expansion) — the RAG/embedding context-window prep stage."""
    return chunk_documents(load_table(spark, sf_dir, "documents"))


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query term by BM25 (ln-free idf variant)."""
    return bm25_scores(load_table(spark, sf_dir, "documents"))


def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM document scoring (CCNet-shaped quality signal):
    mean P(w2|w1) per document under the corpus's own ML bigram model.
    Probabilities not logs (libm-portable), DECIMAL-routed mean. See
    operators/corpus.py:lm_bigram_scores."""
    from financial_big_data_exp_4_spark.operators.corpus import (
        lm_bigram_scores,
    )

    return lm_bigram_scores(load_table(spark, sf_dir, "documents"))


def q_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit signed-random-projection LSH signature per embedding —
    map-only, derived hyperplanes, zero shuffle."""
    return hyperplane_signatures(load_table(spark, sf_dir, "embeddings"))


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization (SQ8) of the embedding column with
    a row-wise reconstruction-bound proof — the vector-store compression
    stage. Map-only, zero shuffle, scalar outputs so the oracle hashes
    codes bit-for-bit. See operators/similarity.py:quantize_embeddings."""
    from financial_big_data_exp_4_spark.operators.similarity import (
        quantize_embeddings,
    )

    return quantize_embeddings(load_table(spark, sf_dir, "embeddings"))


def _shared_hyperplane_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding near-dup family's shared candidate stage:
    hyperplane-LSH pairs (Hamming + exact cosine) memoized per
    (session, sf_dir). The q_embed_lsh_pairs declared query consumes it
    (q_triangle_count moved to the minhash DOCUMENT graph in round 7 —
    see its docstring); same one-materialization-many-consumers shape
    as :func:`_shared_minhash_pairs`."""
    from financial_big_data_exp_4_spark.session import memo_df

    return memo_df(
        spark,
        ("hyperplane_pairs", sf_dir),
        lambda: _build_hyperplane_pairs(spark, sf_dir),
    )


def _build_hyperplane_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hyperplane_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


def q_embed_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH candidate pairs with Hamming + exact-cosine
    verify — the embedding-space recall-then-precision pipeline."""
    return _shared_hyperplane_pairs(spark, sf_dir)


def q_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position window functions per priority partition:
    lag, percent_rank, cume_dist over (o_totalprice, o_orderkey) — a
    total order, so rank-derived doubles are deterministic. One shuffle
    on the partition key; all four functions share the same window sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (vs q_moving_avg's ROWS frame): per event,
    the count and decimal-exact sum of the same user's values in the
    trailing hour — ``rangeBetween(-3600, 0)`` over the epoch-seconds
    order key. A RANGE frame includes ALL peers of a tied order value,
    so the frame contents are deterministic even at same-second ties
    (which is why no tiebreak column is needed, unlike every ROWS
    frame). One shuffle on user_id; frame state is bounded by events
    per hour per user."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    base = events.select(
        "event_id",
        "user_id",
        F.expr(floor_div_sql("ts", 1_000_000_000)).alias("ts_s"),
        F.col("value").cast("decimal(18,6)").alias("_v"),
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_s",
        # count(1), not count(_v): the oracle counts ROWS in the frame
        # (count(*)); count(_v) would skip NULL values and diverge on
        # NULL-injected data (round-3 ADVICE)
        F.count(F.lit(1)).over(w).alias("hour_cnt"),
        F.sum("_v").over(w).cast("double").alias("hour_sum"),
    )


def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types per
    user history — one user-keyed window shuffle, then a |types|²-keyed
    aggregate."""
    return event_transitions(load_table(spark, sf_dir, "events"))


def q_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation z-score standardization of customer balances with
    decimal-routed moments — the relational StandardScaler."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    return standard_scale(cust, group="c_nationkey", value="c_acctbal")


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: users whose first-touch times
    strictly ascend through the stages."""
    return funnel_counts(load_table(spark, sf_dir, "events"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: odd-id documents (the 'new batch') checked
    against even-id documents (the 'existing corpus') — exact md5 flag +
    best LSH near-dup candidate per new doc; the new side's band rows
    broadcast, the corpus is never shuffled for pairing.

    Both halves come from ONE memoized :func:`~..operators.dedup.signed_docs`
    signature table — the production shape, where signatures are a
    maintained artifact and ingestion never re-hashes a seen document."""
    from financial_big_data_exp_4_spark.session import memo_df

    signed = memo_df(
        spark,
        ("minhash_signed", sf_dir),
        lambda: _build_minhash_signed(spark, sf_dir),
    )
    corpus = signed.where(F.col("doc_id") % 2 == 0)
    new = signed.where(F.col("doc_id") % 2 == 1)
    return incremental_neardup(new, corpus)


def _build_minhash_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_big_data_exp_4_spark.operators.dedup import signed_docs

    return signed_docs(load_table(spark, sf_dir, "documents"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the DOCUMENT near-dup candidate
    graph (MinHash-LSH band collisions) — wedge join + closure join,
    each triangle counted at all three corners; the local-clustering
    signal that separates dense near-dup cliques from chance pairings.

    The graph moved from the hyperplane-embedding pairs to the minhash
    document pairs in round 7: once the correlated-plane LSH weights
    were fixed, a RANDOM embedding corpus honestly has ~no Hamming≤2
    pairs (the old 300+ triangle nodes were artifacts of the broken
    signature), while the document corpus carries genuine near-dup
    cluster structure at every fixture scale (clusters of 3-4 variants
    → real triangles: 3 nodes at sf0.01, 31 at sf0.1). Edges come from
    the family-shared memoized stage (:func:`_shared_minhash_pairs`)."""
    return triangle_count(
        _shared_minhash_pairs(spark, sf_dir), src="doc_a", dst="doc_b"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): embedding-cosine near-dup pairs (IVF-cell bucketed,
    never all-pairs) → connected components → ONE representative (the
    minimum vec_id) per semantic group. Downstream keeps
    ``is_representative`` rows — the embedding-space completion of the
    dedup pipeline, exactly parallel to q_dedup_clusters on the lexical
    side. The candidate-pair stage is memoized per (session, sf_dir)
    like every other family-shared stage; the clustering is the standard
    iterative min-label CC (see :mod:`..operators.graph` for the 100 TB
    story — O(diameter) rounds, scalar-only convergence checks)."""
    from financial_big_data_exp_4_spark.operators.graph import (
        connected_components,
    )

    pairs = _shared_embed_neardup_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="vec_a", dst="vec_b")
    return cc.select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("group_id"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_representative"),
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-active-day cohorts × day offset — two bounded-key shuffles,
    no count-distinct expand (collect_set form)."""
    return cohort_retention(load_table(spark, sf_dir, "events"))


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-validation profile of orders: per-column null / exact
    distinct counts, one pruned single-column aggregate branch per
    column (r15 — the single-Expand form measured 1.8× slower at 10×;
    see operators/relational.py:profile_columns). NOT _fact-rebalanced:
    repartition-by-column variants measured and rejected there too."""
    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders,
        cols=("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: the MERGE output of q_merge_upsert diffed
    against the original orders — added/removed/changed/unchanged counts.
    The diff composes directly with the merge (same derived change set),
    so the expected counts are closed-form for the oracle."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    # the diff target IS q_merge_upsert's output — the shared memoized
    # snapshot, not a re-spelled plan, so the two cannot drift (the
    # oracle side already reuses the merge SQL verbatim as a CTE)
    merged = _merged_orders(spark, sf_dir)
    return snapshot_diff(
        base, merged, key="o_orderkey", cols=("o_totalprice", "o_orderstatus")
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: revenue per nation from
    lineitems where the supplier and the ordering customer share the
    nation, restricted to one region and one order-date year.

    100 TB plan: the date filter pushes to the orders scan and the
    region filter prunes the broadcast nation/region chain *before* it
    reaches the facts; supplier (|S| ≪ facts) broadcasts with the
    c_nationkey = s_nationkey condition folded into the same map-side
    join. Join ORDER (r15, same §3 move as q_shipping_priority): the
    filtered orders join customer FIRST — a shuffle of two
    dimension-scale sides — so lineitem pays its one big orderkey
    shuffle against the pre-joined (o_orderkey, c_nationkey) set,
    instead of shuffling the joined lineitem rows a SECOND time on
    custkey (measured at the 10× fixture: 1.91 → 1.58 s warm, results
    identical). Revenue routes through DECIMAL (the double sum would be
    partition-order-dependent).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(4,2)")
    asian_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    local_supp = supp.join(
        F.broadcast(asian_nations),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    oc = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_nationkey"
    )
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .join(
            F.broadcast(local_supp),
            (li.l_suppkey == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .coalesce(1)
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-quantity orders: orders whose total lineitem
    quantity exceeds 300, with customer and total quantity, top 100 by
    (o_totalprice desc, o_orderdate asc, o_orderkey asc).

    100 TB plan: the HAVING aggregate reduces lineitem to |orders| rows
    *before* any join (partial-aggregated shuffle on orderkey — the
    selective step); the surviving handful of keys join orders on the
    same orderkey clustering, then customer. Quantity sums route through
    DECIMAL; the top-100 plans as TakeOrderedAndProject.
    """
    # rebalance key = the aggregate's own grouping key, so the fan-out
    # exchange IS the aggregation shuffle — no second exchange
    li = _fact(spark, sf_dir, "lineitem", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(38,2)"))
            .cast("double")
            .alias("sum_qty")
        )
        .where(F.col("sum_qty") > 300.0)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
    )


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAPTIVE skew join under the plain-join oracle: lineitem ⋈ part
    on partkey, brand-level quantity totals. The partkey histogram is
    SAMPLED first (memoized per session+dir, like any table statistic);
    only keys measured hotter than 5× a reduce task's average get the
    salt-and-replicate treatment, everything else takes the plain
    shuffle join that AQE already skew-splits (r13 VERDICT #4 — blanket
    salting was 44.6× the oracle on this uniform fixture; the salted
    path stays live and is exercised by the skewed-fixture pytest).
    Either path is output-invariant vs the plain join — the oracle is
    the plain join + GROUP BY. Quantity sums route through DECIMAL."""
    from financial_big_data_exp_4_spark.operators.skew import (
        adaptive_skew_join,
        skewed_keys,
    )
    from financial_big_data_exp_4_spark.session import session_memo

    li = _fact(spark, sf_dir, "lineitem", "l_orderkey").select(
        F.col("l_partkey").alias("partkey"), "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"), "p_brand"
    )
    memo = session_memo(spark, "_fbde4_skew_hist")
    # key order (dir, name): the rotation test scrapes name-then-sf_dir
    # string tuples as memo_df FAMILY call sites — this scalar memo
    # isn't one, so it keys the other way around
    mk = (sf_dir, "lineitem_partkey")
    if memo is None or mk not in memo:
        hot = skewed_keys(li, "partkey")
        if memo is not None:
            memo[mk] = hot
    else:
        hot = memo[mk]
    return (
        adaptive_skew_join(li, part, key="partkey", n_salts=8, hot_keys=hot)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(38,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


EXTENSION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_dedup_exact": q_dedup_exact,
    "q_neardup_minhash": q_neardup_minhash,
    "q_dedup_simhash": q_dedup_simhash,
    "q_simhash_neardup": q_simhash_neardup,
    "q_neardup_edit": q_neardup_edit,
    "q_ngram_jaccard": q_ngram_jaccard,
    "q_embed_cosine_topk": q_embed_cosine_topk,
    "q_embed_ann_ivf": q_embed_ann_ivf,
    "q_embed_ann_kmeans": q_embed_ann_kmeans,
    "q_embed_neardup": q_embed_neardup,
    "q_token_count": q_token_count,
    "q_text_quality": q_text_quality,
    "q_lang_id": q_lang_id,
    "q_doc_fingerprint": q_doc_fingerprint,
    "q_tumbling_window": q_tumbling_window,
    "q_hopping_window": q_hopping_window,
    "q_sessionize": q_sessionize,
    "q_json_extract": q_json_extract,
    "q_star_join": q_star_join,
    "q_anti_join": q_anti_join,
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_frames": q_multimodal_frames,
    "q_stream_tumbling": q_stream_tumbling,
    "q_asof_join": q_asof_join,
    "q_rollup": q_rollup,
    "q_window_rank": q_window_rank,
    "q_percentile": q_percentile,
    "q_set_ops": q_set_ops,
    "q_distinct_agg": q_distinct_agg,
    "q_cube": q_cube,
    "q_pivot": q_pivot,
    "q_grouping_sets": q_grouping_sets,
    "q_stream_sessions": q_stream_sessions,
    "q_range_join": q_range_join,
    "q_dedup_latest": q_dedup_latest,
    "q_hash_sample": q_hash_sample,
    "q_text_normalize": q_text_normalize,
    "q_quality_filter": q_quality_filter,
    "q_repetition": q_repetition,
    "q_tfidf": q_tfidf,
    "q_seq_pack": q_seq_pack,
    "q_stratified_sample": q_stratified_sample,
    "q_inverted_index": q_inverted_index,
    "q_neardup_verified": q_neardup_verified,
    "q_dedup_clusters": q_dedup_clusters,
    "q_group_center": q_group_center,
    "q_approx_distinct": q_approx_distinct,
    "q_skew_agg": q_skew_agg,
    "q_lineitem_pricing": q_lineitem_pricing,
    "q_shipping_priority": q_shipping_priority,
    "q_skew_join": q_skew_join,
    "q_gap_fill": q_gap_fill,
    "q_running_total": q_running_total,
    "q_correlation": q_correlation,
    "q_curation_yield": q_curation_yield,
    "q_sql_surface": q_sql_surface,
    "q_ntile": q_ntile,
    "q_stream_dedup": q_stream_dedup,
    "q_stream_range_join": q_stream_range_join,
    "q_semi_join": q_semi_join,
    "q_moving_avg": q_moving_avg,
    "q_dedup_apply": q_dedup_apply,
    "q_pii_scrub": q_pii_scrub,
    "q_bloom_prefilter": q_bloom_prefilter,
    "q_approx_percentile": q_approx_percentile,
    "q_merge_upsert": q_merge_upsert,
    "q_scd2": q_scd2,
    "q_winsorize": q_winsorize,
    "q_doc_chunks": q_doc_chunks,
    "q_bm25": q_bm25,
    "q_lm_bigram": q_lm_bigram,
    "q_embed_lsh": q_embed_lsh,
    "q_embed_quantize": q_embed_quantize,
    "q_funnel": q_funnel,
    "q_cohort_retention": q_cohort_retention,
    "q_profile": q_profile,
    "q_table_diff": q_table_diff,
    "q_embed_lsh_pairs": q_embed_lsh_pairs,
    "q_window_stats": q_window_stats,
    "q_transitions": q_transitions,
    "q_standard_scale": q_standard_scale,
    "q_local_supplier_volume": q_local_supplier_volume,
    "q_large_orders": q_large_orders,
    "q_triangle_count": q_triangle_count,
    "q_semantic_dedup": q_semantic_dedup,
    "q_stream_stateful": q_stream_stateful,
    "q_dedup_incremental": q_dedup_incremental,
    "q_range_frame": q_range_frame,
}

#: Family key → the STANDALONE build callable each memo_df call site
#: wraps (r15, closing the r14 ADVICE audit hole): since the artifacts
#: became localCheckpoint leaves, served plans carry no build text, so
#: tools/explain_audit.py audits these builders' plans directly — the
#: same physical build the warmup pass executes (nested family memos
#: stay ACTIVE inside a builder, exactly as at warmup; pre-r14 the
#: persist() boundary isolated build plans the same way). Keys must
#: match MEMO_FAMILY_CONSUMERS (tests/test_rotation.py).
MEMO_FAMILY_BUILDERS: dict[str, object] = {
    "minhash_pairs": _build_minhash_pairs,
    "minhash_signed": _build_minhash_signed,
    "bruteforce_topk": _build_bruteforce_topk,
    "ivf_kmeans": _build_ivf_kmeans,
    "ivf_assign": _build_ivf_assign,
    "embed_neardup_pairs": _build_embed_neardup_pairs,
    "hyperplane_pairs": _build_hyperplane_pairs,
    "orders_changes": _build_orders_changes,
    "merged_orders": _build_merged_orders,
    "orders_quartiles": _build_orders_quartiles,
    "bloom_words": _build_bloom_words,
}
