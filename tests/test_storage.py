"""StepStore: checkpoints read back with their recorded schema (no Spark
job), resume through a fresh store, and crash-safe rewrites."""

import json
import os
import shutil
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from dataflow_spark import Pipeline, StepStore
from dataflow_spark.core.registry import get_operator
from dataflow_spark.core.storage import commit_file


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
    assert sorted(p.name for p in (tmp_path / "steps").iterdir()
                  if p.name.startswith("step_")) == \
        sorted(os.path.basename(s["path"]) for s in store.lineage())


class _Killed(BaseException):
    """Raised in place of a filesystem call. Like a kill, it passes every
    ``except Exception`` on its way out."""


def _pipe(store=None):
    return Pipeline([
        get_operator("LowercaseRefiner", {"input_key": "text"}),
        get_operator("CharNumberFilter", {"input_key": "text",
                                          "min_chars": 12}),
    ], store=store, checkpoint_every=1)


def test_rewrite_killed_at_each_call_leaves_old_or_new(spark, tmp_path,
                                                       monkeypatch):
    """Rewrite step 0 and make its i-th call to os.rename, os.replace or
    shutil.rmtree raise, for every i. A fresh store then reads exactly the
    old or exactly the new step 0, and resuming at step 1 gives the rows
    of a clean run over the input that step 0 came from."""
    inputs = {
        "old": spark.createDataFrame(
            [(i, f"Doc number {i}") for i in range(20)], ["doc_id", "text"]),
        "new": spark.createDataFrame(
            [(i, f"NEW document {i}") for i in range(100, 130)],
            ["doc_id", "text"]),
    }
    lower = _pipe().steps[0].op
    step0 = {k: lower.run(df) for k, df in inputs.items()}
    rows0 = {k: sorted(df.collect()) for k, df in step0.items()}
    clean = {k: sorted(_pipe().forward(df).collect())
             for k, df in inputs.items()}
    assert rows0["old"] != rows0["new"] and clean["old"] != clean["new"]

    kill = {"at": None, "n": 0}

    def counted(fn):
        def call(*args, **kwargs):
            if kill["at"] is not None:
                kill["n"] += 1
                if kill["n"] == kill["at"]:
                    raise _Killed(f"{fn.__name__}, call {kill['n']}")
            return fn(*args, **kwargs)
        return call

    for mod, name in ((os, "rename"), (os, "replace"), (shutil, "rmtree")):
        monkeypatch.setattr(mod, name, counted(getattr(mod, name)))

    seen = set()
    for at in range(1, 20):
        steps = str(tmp_path / f"kill{at}")
        StepStore(steps).write(step0["old"], 0, "old")
        kill.update(at=at, n=0)
        try:
            StepStore(steps).write(step0["new"], 0, "new")
            killed = False
        except _Killed:
            killed = True
        finally:
            kill["at"] = None
        fresh = StepStore(steps)
        got = sorted(fresh.read(spark, 0).collect())
        assert got in (rows0["old"], rows0["new"]), f"killed at call {at}"
        which = "old" if got == rows0["old"] else "new"
        assert [s["op"] for s in fresh.lineage()] == [which]
        seen.add(which)
        resumed = _pipe(fresh).forward(inputs[which], resume_step=1,
                                       spark=spark)
        assert sorted(resumed.collect()) == clean[which], f"killed at {at}"
        if not killed:
            break
    assert not killed, "the rewrite never completed"
    assert seen == {"old", "new"}


def test_clear_commits_empty_manifest_and_drops_every_step_dir(spark,
                                                               tmp_path):
    steps = tmp_path / "steps"
    store = StepStore(str(steps))
    store.write(spark.range(5), 0, "seed")
    store.write(spark.range(3), 1, "filter")
    # the directory of a write killed before its commit
    spark.range(2).write.parquet(str(steps / "step_00001.0badc0de.parquet"))
    store.clear()
    assert os.listdir(steps) == ["_steps.json"]
    assert StepStore(str(steps)).lineage() == []
    assert store.last_step == -1


def test_legacy_absolute_path_entry_resolves_by_basename(spark, tmp_path):
    """A manifest written before entries named their directory relative to
    the store holds an absolute path; it resolves through its basename
    (also after the store moved), and the next write of that step drops
    the old directory."""
    steps = tmp_path / "steps"
    legacy = steps / "step_00000.parquet"
    df = _frame(spark)
    df.write.parquet(str(legacy))
    (steps / "_steps.json").write_text(json.dumps({"steps": [{
        "step": 0, "path": str(tmp_path / "moved" / legacy.name),
        "op": "seed", "ts": 0.0, "schema": df.schema.json()}]}))
    store = StepStore(str(steps))
    assert store.step_path(0) == str(legacy)
    assert sorted(store.read(spark, 0).collect()) == sorted(df.collect())
    store.write(df.filter("doc_id > 1"), 0, "rewrite")
    assert [p.name for p in steps.iterdir() if p.name.startswith("step_")] \
        == [os.path.basename(store.step_path(0))]
    assert store.read(spark, 0).count() == 2


def test_commit_file_keeps_previous_content_when_write_raises(tmp_path):
    path = tmp_path / "state.bin"
    commit_file(str(path), lambda tmp: Path(tmp).write_bytes(b"old"))

    def torn(tmp):
        with open(tmp, "wb") as f:
            f.write(b"ne")
            raise OSError("disk full")

    with pytest.raises(OSError, match="disk full"):
        commit_file(str(path), torn)
    assert path.read_bytes() == b"old"
    assert os.listdir(tmp_path) == ["state.bin"]
