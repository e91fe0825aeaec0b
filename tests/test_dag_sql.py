"""DAG composition (SURVEY §3.3) and the spark.sql entry surface."""

from __future__ import annotations

from datapipe_spark.plans import dag, marts
from datapipe_spark.sources.tables import register_views
from tests.oracle import compare_to_oracle


def test_daily_batch_pipeline_composes(spark, sf_dir):
    from datapipe_spark.util import fresh_dir

    counts = dag.daily_batch_pipeline(spark, sf_dir, fresh_dir("test_dag"))
    assert set(counts) == {
        "rule_violations", "daily_business_metrics", "customer_metrics",
        "product_performance", "customer_analytics", "reconciliation",
    }
    assert counts["daily_business_metrics"] > 0
    assert counts["customer_metrics"] > 0


def test_dag_failure_publishes_nothing(spark, tmp_path):
    """Fail-fast deployment contract (staged publish): when any pooled
    stage fails, out_dir must end up with NO mart tables, no staging
    residue and no commit journal — the behavior the
    strictly-sequential reference DAG had."""
    import os

    import pytest

    from datapipe_spark.operators import journal

    out = str(tmp_path / "dagout")
    with pytest.raises(Exception):
        dag.daily_batch_pipeline(spark, str(tmp_path / "no_such_sf"), out)
    assert not any(
        os.path.isdir(os.path.join(out, n)) for n in dag._MART_STAGES
    )
    assert not [n for n in os.listdir(out) if n.startswith(".staging-")]
    assert not os.path.exists(os.path.join(out, journal.JOURNAL))


def test_dag_and_increment_pooled_jobs_keep_job_group(spark, sf_dir, tmp_path):
    """The daily DAG and the incremental increment run their writes on
    worker threads; every job those threads submit must carry the
    caller's job group, so no job of the call lands outside it."""
    import uuid

    from datapipe_spark.plans import incremental as inc

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    orders = marts._orders_base(spark, sf_dir)
    calls = {
        "pipeline_summary": lambda: dag.pipeline_summary(spark, sf_dir),
        "apply_increment": lambda: inc.apply_increment(
            spark, orders, str(tmp_path / "incr")
        ),
    }
    for name, call in calls.items():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert set(tracker.getJobIdsForGroup(None)) - before == set(), name
        assert tracker.getJobIdsForGroup(group), name


def test_pipeline_summary_oracle(spark, sf_dir):
    compare_to_oracle(spark, dag.pipeline_summary, dag.PIPELINE_SUMMARY_SQL, sf_dir)


def test_sql_entry_surface_matches_dataframe_api(spark, sf_dir):
    """spark.sql over registered views is a first-class entry point:
    the same mart expressed as SQL text must equal the DataFrame plan
    (Catalyst resolves both to the same logical algebra)."""
    register_views(spark, sf_dir)
    sql_df = spark.sql(
        """
        SELECT CAST(o_orderdate AS DATE) AS order_date,
               COUNT(*) AS total_orders
        FROM orders GROUP BY 1
        """
    )
    api_df = marts._orders_base(spark, sf_dir).groupBy("order_date").count()
    got = {r["order_date"]: r["total_orders"] for r in sql_df.collect()}
    expect = {r["order_date"]: r["count"] for r in api_df.collect()}
    assert got == expect
