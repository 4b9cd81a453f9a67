"""StepStore — step-versioned Parquet snapshots with resume.

Reproduces the reference's storage lifecycle (FileStorage.step/read/write,
/root/reference/dataflow/utils/storage.py:444-698): a pipeline's dataset is
a linear sequence of immutable step snapshots, giving lineage, resume and
debuggability. Spark-first differences:

  - snapshots are *partitioned Parquet directories*, not single json files,
    so a step at 100 TB is still a parallel write/read;
  - checkpointing is OPT-IN per pipeline: by default the chain stays a
    single lazy Catalyst plan (the reference materializes every step);
  - each step's schema is recorded in ``_steps.json``, so reading a step
    back plans no schema-inference job (a parquet-footer scan).

A write is crash-safe: the step goes to a temporary sibling directory,
is renamed into place, and only then is ``_steps.json`` updated (the
reference's ``LazyFileStorage`` tmp + ``os.replace`` pattern). A job
that fails mid-write leaves the previous snapshot of that step and the
metadata as they were. The renames and the metadata update are not one
atomic step: a process killed between them can leave step k missing or
newer than its metadata entry.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class StepStore:
    def __init__(self, cache_dir: str, prefix: str = "step"):
        self.cache_dir = cache_dir
        self.prefix = prefix
        os.makedirs(cache_dir, exist_ok=True)
        self._meta_path = os.path.join(cache_dir, "_steps.json")

    # -- metadata ---------------------------------------------------------
    def _read_meta(self) -> dict:
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                return json.load(f)
        return {"steps": []}

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path)  # atomic, like the reference's flush

    def step_path(self, k: int) -> str:
        return os.path.join(self.cache_dir, f"{self.prefix}_{k:05d}.parquet")

    @property
    def last_step(self) -> int:
        steps = self._read_meta()["steps"]
        return max((s["step"] for s in steps), default=-1)

    # -- read/write -------------------------------------------------------
    def write(self, df: DataFrame, step: int, op_name: str = "") -> str:
        path = self.step_path(step)
        tmp, old = path + ".tmp", path + ".old"
        for leftover in (tmp, old):  # from a write that crashed midway
            shutil.rmtree(leftover, ignore_errors=True)
        try:
            df.write.parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # a directory cannot be renamed over a non-empty one: move the
        # previous snapshot aside first, drop it once the metadata points
        # at the new one
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        meta = self._read_meta()
        meta["steps"] = [s for s in meta["steps"] if s["step"] != step]
        meta["steps"].append({"step": step, "path": path, "op": op_name,
                              "ts": time.time(),
                              "schema": df.schema.json()})
        meta["steps"].sort(key=lambda s: s["step"])
        self._write_meta(meta)
        shutil.rmtree(old, ignore_errors=True)
        return path

    def read(self, spark: SparkSession, step: int | None = None) -> DataFrame:
        """Read step ``step`` (default: the last one) with its recorded
        schema. Spark makes the columns of a file source nullable, which
        is what inference would return; a step recorded without a schema
        falls back to inference."""
        k = self.last_step if step is None else step
        if k < 0:
            raise FileNotFoundError(f"no steps in {self.cache_dir}")
        schema = next((s.get("schema") for s in self.lineage()
                       if s["step"] == k), None)
        reader = spark.read
        if schema:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(self.step_path(k))

    def lineage(self) -> list[dict]:
        return self._read_meta()["steps"]

    def clear(self) -> None:
        for s in self._read_meta()["steps"]:
            shutil.rmtree(s["path"], ignore_errors=True)
        self._write_meta({"steps": []})
