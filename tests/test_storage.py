"""StepStore: checkpoints read back with their recorded schema (no Spark
job), resume through a fresh store, and crash-safe rewrites."""

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from dataflow_spark import Pipeline, StepStore
from dataflow_spark.core.registry import get_operator


def _jobs_in_group(spark, group, action):
    """Job ids that ``action`` started under ``group``. A marker job in
    another group runs afterwards; the status listener handles events in
    order, so once the marker is listed every earlier job is listed too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(group))
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setJobGroup(group + "-marker", "marker")
    sc.parallelize([1], 1).count()
    deadline = time.monotonic() + 20
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never listed"
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return set(tracker.getJobIdsForGroup(group)) - before, out


def _frame(spark):
    return spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, None, None), (3, "c", [])],
        "doc_id: long not null, text: string, vec: array<double>")


def test_read_starts_no_spark_job(spark, tmp_path):
    store = StepStore(str(tmp_path / "steps"))
    store.write(_frame(spark), 0, "seed")
    jobs, df = _jobs_in_group(spark, "stepstore-read",
                              lambda: store.read(spark, 0))
    assert jobs == set()
    # the recorded schema is what inference gives (file-source columns
    # are nullable), and the rows read back unchanged
    inferred = spark.read.parquet(store.step_path(0))
    assert df.schema == inferred.schema
    assert df.schema["doc_id"].nullable
    assert sorted(df.collect()) == sorted(inferred.collect())
    # positive control: the helper does see a schema-inference read
    jobs, _ = _jobs_in_group(spark, "stepstore-infer",
                             lambda: spark.read.parquet(store.step_path(0)))
    assert jobs


def test_read_without_recorded_schema_infers(spark, tmp_path):
    store = StepStore(str(tmp_path / "steps"))
    store.write(_frame(spark), 0, "seed")
    meta_path = tmp_path / "steps" / "_steps.json"
    meta = json.loads(meta_path.read_text())
    for s in meta["steps"]:
        del s["schema"]
    meta_path.write_text(json.dumps(meta))
    jobs, df = _jobs_in_group(spark, "stepstore-legacy",
                              lambda: store.read(spark, 0))
    assert jobs  # schema inference is a footer-scan job
    assert df.count() == 3


def test_resume_through_new_store_reads_recorded_schema(spark, tmp_path):
    steps = str(tmp_path / "steps")
    df = spark.createDataFrame([(i, f"Doc number {i}") for i in range(20)],
                               ["doc_id", "text"])
    pipe = Pipeline([
        get_operator("LowercaseRefiner", {"input_key": "text"}),
        get_operator("CharNumberFilter", {"input_key": "text",
                                          "min_chars": 12}),
    ], store=StepStore(steps), checkpoint_every=1)
    full = sorted(pipe.forward(df).collect())

    # a new process would start from a new store over the same directory
    fresh = StepStore(steps)
    recorded = json.loads(fresh.lineage()[0]["schema"])
    assert [f["name"] for f in recorded["fields"]] == ["doc_id", "text"]
    jobs, ckpt = _jobs_in_group(spark, "stepstore-resume",
                                lambda: fresh.read(spark, 0))
    assert jobs == set()
    assert ckpt.schema["doc_id"].dataType == LongType()
    assert ckpt.schema["text"].dataType == StringType()
    pipe.store = fresh
    resumed = pipe.forward(df, resume_step=1, spark=spark)
    assert sorted(resumed.collect()) == full


def test_failed_rewrite_keeps_previous_step(spark, tmp_path):
    store = StepStore(str(tmp_path / "steps"))
    good = spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                                 ["doc_id", "text"]).coalesce(2)
    store.write(good, 0, "seed")
    meta_before = (tmp_path / "steps" / "_steps.json").read_text()

    @F.udf("string")
    def boom(doc_id, text):
        if doc_id == 7:
            raise RuntimeError("model crashed on row 7")
        return text.upper()

    bad = good.withColumn("text", boom("doc_id", "text"))
    with pytest.raises(Exception, match="model crashed on row 7"):
        store.write(bad, 0, "rewrite")
    assert (tmp_path / "steps" / "_steps.json").read_text() == meta_before
    assert sorted(store.read(spark, 0).collect()) == sorted(good.collect())
    assert [p.name for p in (tmp_path / "steps").iterdir()
            if p.name.endswith((".tmp", ".old"))] == []

    # a successful rewrite replaces the step and its metadata entry
    store.write(good.withColumn("text", F.upper("text")), 0, "upper")
    assert [s["op"] for s in store.lineage()] == ["upper"]
    assert sorted(r["text"] for r in store.read(spark, 0).collect()) == \
        sorted(f"V{i}" for i in range(10))
