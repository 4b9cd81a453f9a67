"""The Spark driver process of a benchmark run.

It measures set-up (import, ``get_spark`` and the first action), then
runs the workload: a cold run in the fresh session, an untimed warm-up
run, then a fixed number of timed warm runs, and more (checked, untimed)
until ``--seconds`` have passed. Every run's output is checked outside
the timed region. It prints one JSON object as its last stdout line;
run.py reports it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import time

# none of these import pyspark or pyarrow, so set-up times them alone
import checks
import workloads as W
from spans import NullTracer, SparkRest, Tracer, median_metrics

STUB_SERVICE_MS = 5.0
#: untimed (but checked) warm-up runs after the cold run: the first warm
#: runs are still getting faster as the JVM compiles the hot paths
WARMUP_RUNS = 1
#: docs_per_s is the median of exactly this many warm runs, the ones right
#: after the warm-up, however fast they are; warm runs then go on
#: (checked, not timed) until --seconds have passed
TIMED_WARM_RUNS = 3


def setup(tracer, cores: int, traced: bool):
    """Import + get_spark until the first action returns."""
    t0 = time.perf_counter()
    with tracer.span("session.import"):
        from dataflow_spark import get_spark
    t1 = time.perf_counter()
    # the young generation is pinned: G1 resizes it by GC pause times, which
    # follow host load, and that moved peak RSS by ~300 MB between runs
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xmn256m"}
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          extra_conf=conf)
        spark.range(1).count()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1,
                   "setup_s": (t1 - t0) + (t2 - t1)}


class Runner:
    """Builds, runs and checks one workload on one input."""

    def __init__(self, name: str, data_dir: str, work_dir: str, spark,
                 tracer, stub=None):
        self.name = name
        self.run_dir = os.path.join(work_dir, "run")
        self.tracer, self.stub = tracer, stub
        self.input_dir = os.path.join(data_dir, "input")
        with open(os.path.join(data_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.df = spark.read.parquet(self.input_dir)
        self.n_docs = self.meta["n_docs"]

    def _pipeline(self):
        if self.name == "llm_synth":
            return W.llm_synth_pipeline(self.run_dir, self.stub.url)
        return getattr(W, f"{self.name}_pipeline")()

    def _instrument(self, pipe):
        for st in pipe.steps:
            self.tracer.wrap(st.op, "run", f"operators.{st.name}.run")
        if pipe.store is not None:
            self.tracer.wrap(pipe.store, "write", "core.storage.write")
            self.tracer.wrap(pipe.store, "read", "core.storage.read")

    def _execute(self, pipe):
        if self.name == "curate":
            return W.curate_execute(pipe, self.df, self.run_dir, self.tracer)
        return getattr(W, f"{self.name}_execute")(pipe, self.df)

    def run_once(self):
        """One timed run; returns (seconds, output)."""
        W.clear_run_dir(self.run_dir)
        t0 = time.perf_counter()
        with self.tracer.span("run"):
            pipe = self._pipeline()
            if self.tracer.enabled:
                self._instrument(pipe)
            with self.tracer.span("core.pipeline.compile"):
                pipe.compile(self.df.columns)
            out = self._execute(pipe)
        return time.perf_counter() - t0, out

    def check(self, out) -> tuple[bool, str]:
        if self.name == "curate":
            return checks.check_curate(checks.read_export(out),
                                       self.meta["expected"])
        if self.name == "neardup":
            return checks.check_neardup(out, self.meta["doc_ids"],
                                        self.meta["cluster"])
        return checks.check_llm_synth(out, [tuple(r) for r in self.meta["expected"]])

    # -- traced-mode per-run layer metrics ---------------------------------
    def layer_metrics(self, run: str) -> dict:
        tr = self.tracer
        m = {f"operators.{op}.run_s": tr.total(f"operators.{op}.run", run)
             for op in W.OPERATORS}
        m["core.pipeline.compile_s"] = tr.total("core.pipeline.compile", run)
        m["core.pipeline.forward_s"] = sum(m[f"operators.{op}.run_s"]
                                           for op in W.OPERATORS)
        m["core.storage.write_s"] = tr.total("core.storage.write", run)
        m["core.storage.read_s"] = tr.total("core.storage.read", run)
        m["core.storage.bytes_written"] = _parquet_bytes(
            os.path.join(self.run_dir, "steps"))[0]
        export_bytes, export_files = _parquet_bytes(
            os.path.join(self.run_dir, "export"))
        m["sources.export_s"] = tr.total("sources.export_training_corpus", run)
        m["sources.bytes_per_input_byte"] = (
            export_bytes / _parquet_bytes(self.input_dir)[0])
        m["sources.files_written"] = export_files
        return m


def _parquet_bytes(root: str) -> tuple[int, int]:
    """(total bytes, file count) of the .parquet files under ``root``."""
    size = count = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                count += 1
    return size, count


def serving_metrics(snap: dict, wall: float, threads: int) -> dict:
    """Stub-side serving counters of one run; latency is accept to
    response, so it includes the wait for a free handler thread."""
    lat = sorted(done - acc for acc, _, done in snap["spans"]) or [0.0]
    busy = sum(done - start for _, start, done in snap["spans"])
    req = snap["requests"]
    return {
        "serving.requests": req,
        "serving.distinct_prompt_ratio": snap["distinct_prompts"] / req if req else 0.0,
        "serving.connections_per_request": snap["connections"] / req if req else 0.0,
        "serving.request_ms_p50": 1000.0 * lat[len(lat) // 2],
        "serving.request_ms_p99": 1000.0 * lat[min(len(lat) - 1, int(len(lat) * 0.99))],
        "serving.backend_busy_frac": busy / (threads * wall),
        "serving.failed": snap["failed"],
    }


def signature_docs_per_s(texts: list[str]) -> float:
    """The MinHash signature UDF's Python function on a batch of
    workload docs, outside Spark (median of three passes)."""
    import pandas as pd

    from dataflow_spark.functions.hashing import minhash64_udf

    fn = minhash64_udf(64, 5).func
    batch = pd.Series(texts)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(batch)
        times.append(time.perf_counter() - t0)
    return len(texts) / statistics.median(times)


def run_workload(args, tracer, cores: int) -> dict:
    spark, setup_times = setup(tracer, cores, bool(args.trace))
    sc = spark.sparkContext
    rest = SparkRest(sc.uiWebUrl, sc.applicationId) if args.trace else None
    if args.workload == "llm_synth":
        from stub_server import StubServer
        backend = StubServer(threads=cores, service_ms=STUB_SERVICE_MS)
    else:
        backend = contextlib.nullcontext()
    with backend as stub:
        runner = Runner(args.workload, args.data, args.work, spark, tracer, stub)
        failed, detail = 0, ""
        cold_s, times, layers = None, [], []
        deadline = None
        i = 0
        timed = range(1 + WARMUP_RUNS, 1 + WARMUP_RUNS + TIMED_WARM_RUNS)
        while (deadline is None or time.perf_counter() < deadline
               or i <= timed[-1]):
            run = f"run{i}"
            tracer.run = run
            sc.setJobGroup(run, "perfbench run")
            if stub is not None:
                stub.reset()
            w0 = time.time()
            try:
                secs, out = runner.run_once()
                w1 = time.time()
                ok, msg = runner.check(out)
            except Exception as e:  # noqa: BLE001 — a failed run is counted
                secs, ok, msg = None, False, f"raised {type(e).__name__}: {e}"
            if not ok:
                failed += 1
                detail = f"{run}: {msg}"
                secs = None
            elif not failed:
                detail = msg
            if i == 0:
                cold_s = secs
                deadline = time.perf_counter() + args.seconds
            elif secs is not None and i in timed:
                times.append(secs)
                if rest is not None:
                    lm = runner.layer_metrics(run)
                    lm.update(rest.exec_metrics(run, w0, w1, cores))
                    if stub is not None:
                        snap = stub.snapshot()
                        lm.update(serving_metrics(snap, w1 - w0, cores))
                        for acc, _, done in snap["spans"]:
                            tracer.add("serving.request", acc, done)
                    layers.append(lm)
            i += 1
        result = {"attempted": i, "failed": failed, "detail": detail,
                  "n_docs": runner.n_docs, "cold_run_s": cold_s,
                  "warm_s": times, "warmup_runs": WARMUP_RUNS,
                  "timed_warm_runs": TIMED_WARM_RUNS,
                  **setup_times}
        if rest is not None:
            per_layer = median_metrics(layers) if layers else {}
            if args.workload == "neardup":
                texts = runner.df.select("text").limit(2000).toPandas()["text"]
                per_layer["functions.hashing.signature_docs_per_s"] = (
                    signature_docs_per_s(list(texts)))
            result["per_layer"] = per_layer
        return result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args()
    tracer = Tracer() if args.trace else NullTracer()
    result = run_workload(args, tracer, args.cores)
    if args.trace:
        tracer.dump(os.path.join(args.work, "trace.json"),
                    {"per_layer": result.get("per_layer", {})})
    # the parent ends this process's session (JVM and Python workers
    # included) once the result is read; a graceful stop only adds time
    print(json.dumps(result), flush=True)
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
