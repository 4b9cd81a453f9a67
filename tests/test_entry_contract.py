"""Driver-contract plumbing: the _tv temp-view catalog must never serve
a stale sf_dir (bench runs sf0.1 headline then sf1 scale check in ONE
session; the driver runs sf0.01 — a view registered for one dir and
reused for another would silently compare the wrong data)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def test_tv_reregisters_on_sf_dir_switch(spark):
    import __spark_entry__ as em

    fn = em.queries()["q1_pricing_summary"]
    a = fn(spark, "/root/testdata/sf0.001").collect()
    b = fn(spark, "/root/testdata/sf0.01").collect()
    c = fn(spark, "/root/testdata/sf0.001").collect()
    # different scale -> different totals (stale view would repeat a)
    tot = lambda rows: sorted((r["l_returnflag"], r["l_linestatus"],
                               r["count_order"]) for r in rows)
    assert tot(a) != tot(b)
    assert tot(a) == tot(c)


def test_tv_registers_expected_view_name(spark):
    import __spark_entry__ as em

    name = em._tv(spark, "/root/testdata/sf0.001", "lineitem")
    assert name == "t_lineitem"
    assert spark.catalog.tableExists("t_lineitem")


def test_text_normalization_oracle_on_curly_quotes(spark):
    """The fixtures are ASCII, so the r_text_normalization oracle never
    sees the characters it translates; run it on curly quotes and dashes
    against the refiner directly."""
    import duckdb

    import __spark_entry__ as em
    from dataflow_spark.core.registry import get_operator

    text = "‘single’  “double” en–dash em—dash "
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id INTEGER, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, ?)", [text])
    want = con.execute(em.oracle_sql()["r_text_normalization"]).fetchall()
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = [tuple(r) for r in get_operator(
        "TextNormalizationRefiner", {"input_key": "text"}).run(df).collect()]
    assert want == got == [(1, "'single' \"double\" en-dash em-dash")]
