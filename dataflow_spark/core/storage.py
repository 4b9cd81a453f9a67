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

A write commits at one point: the ``os.replace`` of ``_steps.json``
(the reference's ``LazyFileStorage`` tmp + ``os.replace`` pattern,
applied to the manifest). The step's data goes to a fresh directory
``step_00003.<8 hex>.parquet``; the manifest entry names it, and readers
open only the directory the manifest names. After the commit the writer
deletes the step's other directories. A process killed at any point
leaves the manifest naming either the previous snapshot or the new one,
each complete; the next write of that step deletes what the kill left.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def commit_file(path: str, write: Callable[[str], object]) -> None:
    """Write one file so that readers see the old or the new content,
    never a torn one: ``write(tmp)`` fills a sibling ``.tmp-<name>`` (same
    extension, so pandas picks its engine and compression from it), then
    ``os.replace`` moves it over ``path``. If ``write`` raises, ``path``
    is untouched."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, ".tmp-" + name)
    try:
        write(tmp)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    os.replace(tmp, path)


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
        commit_file(self._meta_path,
                    lambda tmp: Path(tmp).write_text(json.dumps(meta, indent=1)))

    def _entry(self, k: int) -> dict:
        for s in self._read_meta()["steps"]:
            if s["step"] == k:
                return s
        raise FileNotFoundError(f"no step {k} in {self.cache_dir}")

    def _dir_of(self, entry: dict) -> str:
        # entries name their directory relative to cache_dir; older ones
        # hold an absolute path, which resolves through its basename
        return os.path.join(self.cache_dir, os.path.basename(entry["path"]))

    def _step_dirs(self, k: int | None = None) -> list[str]:
        """Directories of step ``k`` (default: of every step), committed
        or left by a killed write."""
        digits = "[0-9]*" if k is None else f"{k:05d}"
        return glob.glob(os.path.join(glob.escape(self.cache_dir),
                                      f"{glob.escape(self.prefix)}_{digits}.*"))

    def step_path(self, k: int) -> str:
        """The directory the manifest names for step ``k``."""
        return self._dir_of(self._entry(k))

    @property
    def last_step(self) -> int:
        steps = self._read_meta()["steps"]
        return max((s["step"] for s in steps), default=-1)

    # -- read/write -------------------------------------------------------
    def write(self, df: DataFrame, step: int, op_name: str = "") -> str:
        name = f"{self.prefix}_{step:05d}.{uuid.uuid4().hex[:8]}.parquet"
        path = os.path.join(self.cache_dir, name)
        try:
            df.write.parquet(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        meta = self._read_meta()
        meta["steps"] = [s for s in meta["steps"] if s["step"] != step]
        meta["steps"].append({"step": step, "path": name, "op": op_name,
                              "ts": time.time(),
                              "schema": df.schema.json()})
        meta["steps"].sort(key=lambda s: s["step"])
        self._write_meta(meta)  # the commit point
        for d in self._step_dirs(step):
            if d != path:
                shutil.rmtree(d, ignore_errors=True)
        return path

    def read(self, spark: SparkSession, step: int | None = None) -> DataFrame:
        """Read step ``step`` (default: the last one) with its recorded
        schema. Spark makes the columns of a file source nullable, which
        is what inference would return; a step recorded without a schema
        falls back to inference."""
        k = self.last_step if step is None else step
        if k < 0:
            raise FileNotFoundError(f"no steps in {self.cache_dir}")
        entry = self._entry(k)
        schema = entry.get("schema")
        reader = spark.read
        if schema:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(self._dir_of(entry))

    def lineage(self) -> list[dict]:
        return self._read_meta()["steps"]

    def clear(self) -> None:
        """Commit the empty manifest, then delete every step directory,
        including those of crashed writes."""
        self._write_meta({"steps": []})
        for d in self._step_dirs():
            shutil.rmtree(d, ignore_errors=True)
