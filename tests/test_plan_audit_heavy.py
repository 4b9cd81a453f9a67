"""CI plan audit for the most expensive contract queries.

PLANS.md is the human-reviewable artifact; this test is the regression
gate: if a change to the heavy family re-plans one of these queries
with a row-at-a-time Python boundary, a cartesian product, or a shuffle
explosion, it fails here instead of surfacing as a silent slowdown at
scale. Bounds are ceilings with headroom (small plan-shape drift is
fine; a 2x jump is not).
"""

import pytest

from dataflow_spark.plans import audit

SF = "/root/testdata/sf0.001"

# name -> max allowed Exchange nodes (ceiling = audited count plus
# headroom; q_pagerank's 10 shuffles are inherent to exact fixed-point
# iteration: every iteration joins the ranks back to the edges)
HEAVY = {
    "q_pagerank": 14,
    "q_bm25_topk": 8,
    "q_fuzzy_join": 10,
    "q_pipeline_code_filter": 6,
    "d_incremental_minhash": 14,
    # r6: collect_set-per-user shape is exactly 2 shuffles (user key,
    # then cohort/offset); ceiling 3 leaves headroom for AQE-off drift
    # but fails a revert to the 3-shuffle distinct->min->join shape
    "q_cohort_retention": 3,
}


@pytest.fixture(scope="module")
def contract_queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.mark.parametrize("name", sorted(HEAVY))
def test_heavy_query_plan_has_no_red_flags(spark, contract_queries, name):
    # AQE stays ON in production; the audit turns it off (like
    # tools/plan_audit.py) so the formatted plan shows the final static
    # shape — an AQE plan repeats subtrees and inflates Exchange counts
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = contract_queries[name](spark, SF)
        a = audit(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert not a["row_python"], (
        f"{name}: row-at-a-time BatchEvalPython entered the plan")
    assert not a["cartesian"], f"{name}: CartesianProduct entered the plan"
    assert a["exchanges"] <= HEAVY[name], (
        f"{name}: {a['exchanges']} shuffles > ceiling {HEAVY[name]} — "
        "plan regression; re-run tools/plan_audit.py and review PLANS.md")
    assert a["single_partition_exchanges"] == 0, (
        f"{name}: user-requested single-partition exchange")


def test_audited_names_are_entry_queries():
    # no SparkSession: tools/plan_audit.py's lists name only queries the
    # entry contract defines, once each
    import __spark_entry__ as entrymod
    from tools.plan_audit import EXTRA, HEADLINE

    names = HEADLINE + EXTRA
    assert len(names) == len(set(names))
    assert set(names) <= set(entrymod.queries())
