"""Plan-shape audits for the round-5 operators: the properties that
make each one survive a 100x scale-up, asserted on the optimized
physical plan (not just observed outputs)."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weighted_sample_uses_takeordered(spark):
    """A-Res top-k compiles to TakeOrdered(k), never a full global
    sort materialization."""
    from pdf_ocr_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(f"d{i}", i + 1) for i in range(100)], "doc_id string, w long"
    )
    plan = _plan(weighted_sample(df, F.col("w"), k=5))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_log_histogram_single_shuffle_with_partial_agg(spark):
    """The sketch build is one map-side-combined groupBy: exactly one
    Exchange, with a partial HashAggregate below it."""
    from pdf_ocr_spark.operators.sketches import log_histogram

    df = spark.createDataFrame([(i % 977 + 1,) for i in range(500)],
                               "v long")
    plan = _plan(log_histogram(df, "v"))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2      # partial + final


def test_label_propagation_no_cartesian(spark):
    """Every LPA round is equi-joins + groupBys — no cartesian, no
    broadcast nested loop over the node table."""
    from pdf_ocr_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 3) % 17}") for i in range(40)],
        "src string, dst string",
    )
    plan = _plan(label_propagation(edges, rounds=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hreflang_clusters_no_cartesian(spark):
    import pdf_ocr_spark.queries as Q

    plan = _plan(Q.q_hreflang_clusters(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_warm_start_keeps_plan_shape(spark):
    """Warm-start adds one left join on the node table and nothing
    else — no cartesian, no extra aggregate pass."""
    from pdf_ocr_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(f"h{i}", f"h{(i * 5) % 13}") for i in range(30)],
        "src string, dst string",
    )
    prior = pagerank(edges, iters=1)
    plan = _plan(pagerank(edges, iters=1, prior=prior))
    assert "CartesianProduct" not in plan


def test_tpch_q5ish_broadcasts_dimensions(spark):
    """The Q5 dimension chain broadcasts; the only sort-merge-scale
    join is the fact join — no cartesian anywhere."""
    import pdf_ocr_spark.queries as Q

    plan = _plan(Q.q_tpch_q5ish(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_sf_linear_tables_are_not_forced_to_broadcast(spark):
    """Only the fixed-size nation and region tables carry a broadcast
    hint: with size-based broadcasts off, q5ish broadcasts exactly those
    two and q14ish broadcasts nothing (customer, supplier and part grow
    with the scale factor)."""
    import pdf_ocr_spark.queries as Q
    from tests.conftest import TESTDATA_SF001

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        q5 = _plan(Q.q_tpch_q5ish(spark, TESTDATA_SF001))
        q14 = _plan(Q.q_tpch_q14ish(spark, TESTDATA_SF001))
    finally:
        spark.conf.set(key, old)
    assert q5.count("BroadcastHashJoin") == 2
    assert q14.count("BroadcastHashJoin") == 0
