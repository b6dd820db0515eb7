"""Join surface + physical-plan assertions (SURVEY §2.8 X6; VERDICT r1 #8:
dims must be BroadcastHashJoin, not SortMergeJoin)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_dims(spark, sf_dir):
    from financial_big_data_exp_4_spark.operators import revenue_by_region

    df = revenue_by_region(spark, sf_dir)
    plan = _physical_plan(df)
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    assert len(rows) == 25  # 25 nations, all with orders in the fixture
    assert all(r["revenue"] > 0 for r in rows)
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r["n_orders"] for r in rows) == total


def test_anti_join_counts(spark, sf_dir):
    from financial_big_data_exp_4_spark.operators import customers_without_orders

    df = customers_without_orders(spark, sf_dir)
    assert df.columns == ["c_mktsegment", "n_customers"]
    rows = df.collect()
    assert sum(r["n_customers"] for r in rows) > 0
    # cross-check one segment against a driver-side recount
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    big = {r["o_custkey"] for r in orders.where("o_totalprice > 400000").select("o_custkey").collect()}
    expect = customer.where(~F.col("c_custkey").isin(big)).groupBy("c_mktsegment").count().collect()
    assert {(r["c_mktsegment"], r["count"]) for r in expect} == {
        (r["c_mktsegment"], r["n_customers"]) for r in rows
    }


def test_map_only_queries_have_no_exchange(spark, sf_dir):
    """The round-1 scale killer: per-row queries must stay map-only."""
    from financial_big_data_exp_4_spark.plans.reference import (
        q_interest,
        q_project,
        q_vector_assemble,
        q_workyear_filter,
    )

    for q in (q_interest, q_project, q_vector_assemble, q_workyear_filter):
        plan = _physical_plan(q(spark, sf_dir))
        assert "Exchange" not in plan, f"{q.__name__} shuffles:\n{plan}"
        assert "Sort" not in plan, f"{q.__name__} sorts:\n{plan}"


#: Queries whose total order is over a result sized by a small key domain,
#: with each sort key as (column, descending).
BOUNDED_ORDER_KEYS = {
    "q_industry_count": [("cnt", True), ("c_mktsegment", False)],
    "q_loan_histogram": [("left_edge", False)],
    "q_employer_share": [("share", False), ("o_orderpriority", False)],
    "q_quantile_bucket": [("price_bucket", False)],
    "q_random_split": [("split", False)],
    "q_feature_pipeline": [("split", False)],
    "q_pivot": [("o_orderpriority", False)],
    "q_local_supplier_volume": [("revenue", True), ("n_name", False)],
}


def test_bounded_order_queries_sort_in_one_task(spark, sf_dir):
    """A small ordered result sorts in one partition: no range exchange
    (whose sampler fires its own job), and rows come back in order."""
    from financial_big_data_exp_4_spark.plans import REFERENCE_QUERIES

    for name, keys in BOUNDED_ORDER_KEYS.items():
        df = REFERENCE_QUERIES[name](spark, sf_dir)
        plan = _physical_plan(df)
        assert "rangepartitioning" not in plan, f"{name} range-shuffles:\n{plan}"
        rows = df.collect()
        expected = rows
        for col, desc in reversed(keys):  # stable sort, minor key first
            expected = sorted(expected, key=lambda r: r[col], reverse=desc)
        assert rows == expected, name


def test_topk_plans_as_take_ordered(spark, sf_dir):
    from financial_big_data_exp_4_spark.plans.reference import q_topk

    plan = _physical_plan(q_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    from financial_big_data_exp_4_spark.plans.reference import q_project

    plan = _physical_plan(q_project(spark, sf_dir))
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "s_suppkey" in scan_line and "s_name" in scan_line
    assert "s_nationkey" not in scan_line  # unused column not read


def test_range_join_bucketed_semantics_and_plan(spark):
    from financial_big_data_exp_4_spark.operators import range_join_bucketed

    W = 3_600_000_000  # 1h in us
    probes = spark.createDataFrame(
        [
            (1, 10, 5 * W + 10),       # inside interval A
            (1, 11, 5 * W),            # exactly at A's start (inclusive)
            (1, 12, 6 * W),            # exactly at A's end (exclusive)
            (1, 13, 6 * W - 1),        # last tick inside A (crosses bucket)
            (2, 14, 5 * W + 10),       # wrong key
        ],
        "user_id long, err_id long, ets long",
    )
    intervals = spark.createDataFrame(
        [(1, 100, 5 * W), (1, 101, 4 * W + W // 2)],  # A, B (B spans 4.5-5.5h)
        "user_id long, purch_id long, pts long",
    )
    out = range_join_bucketed(
        probes, intervals, key="user_id", probe_ts="ets", start_ts="pts"
    )
    pairs = {(r["err_id"], r["purch_id"]) for r in out.collect()}
    assert pairs == {(10, 100), (11, 100), (13, 100), (10, 101), (11, 101)}
    # the containment join must be an equi-join (hash/sort-merge), never
    # a nested-loop/cartesian
    plan = _physical_plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_keep_latest_tie_and_determinism(spark):
    from financial_big_data_exp_4_spark.operators import keep_latest

    df = spark.createDataFrame(
        [(1, 100, 7), (1, 100, 9), (1, 50, 8), (2, 60, 1)],
        "k long, ts long, eid long",
    )
    out = {r["k"]: (r["ts"], r["eid"]) for r in
           keep_latest(df, key="k", ts="ts", tiebreak="eid").collect()}
    assert out == {1: (100, 9), 2: (60, 1)}  # tie on ts -> max tiebreak


def test_hash_sample_deterministic_and_proportional(spark, sf_dir):
    from financial_big_data_exp_4_spark.operators import hash_sample

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    a = hash_sample(orders, "o_orderkey", 10).count()
    b = hash_sample(orders.repartition(7), "o_orderkey", 10).count()
    assert a == b  # layout-invariant
    total = orders.count()
    assert 0.05 * total < a < 0.15 * total
    assert hash_sample(orders, "o_orderkey", 100).count() == total


def test_quantile_bucket_colliding_splits_match_oracle(spark, tmp_path):
    """Round-6 ADVICE (medium): when adjacent quantiles collide (one value
    covers >= 1/20 of the column) the engine compresses the duplicate
    splits before Bucketizer; the DuckDB oracle must count over
    list_distinct(qs) or every bucket id above the collision diverges.
    Differential pin: engine vs the DECLARED oracle SQL on a fixture
    built to collide (~40% of rows share one price)."""
    import duckdb

    from financial_big_data_exp_4_spark.plans.oracle import (
        REFERENCE_ORACLE_SQL,
    )
    from financial_big_data_exp_4_spark.plans.reference import (
        q_quantile_bucket,
    )

    rows = []
    for k in range(1, 501):
        # keys 1-200: a fixed promotional price -> q_0.05..q_0.40 collide
        price = 1000.0 if k <= 200 else 1000.0 + k
        rows.append((k, price))
    df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
    df.coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet"
    )

    got = {
        r["price_bucket"]: r["cnt"]
        for r in q_quantile_bucket(spark, str(tmp_path)).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet/*.parquet'"
    )
    want = dict(
        con.execute(REFERENCE_ORACLE_SQL["q_quantile_bucket"]).fetchall()
    )
    assert got == want
    assert len(got) > 2  # collision compressed, buckets still plural
