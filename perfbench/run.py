"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (cached under ``.bench_data/inputs``), measures set-up in a
fresh worker process, which then makes one cold run, one warm-up run
and a fixed number of timed warm runs, going on until ``--seconds`` have
passed (a closed loop with one client: the next run starts when the
previous one ends). Every
run's output is checked. ``--trace 1`` turns on the Spark UI and spans
and reports the per-layer metrics instead. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import corpus
from workloads import OPERATORS

HERE = os.path.dirname(os.path.abspath(__file__))
GEN_VERSION = 1
N_DOCS = {"curate": 10000, "neardup": 4000, "llm_synth": 800}
N_FILES = 8
DRIVER_MEM = "2g"
#: a run gives up (exit 1, no result) rather than overrun 180 s
RUN_LIMIT_S = 170

#: (name, unit, better); every metric is printed by name with its unit
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cold_run_s", "s", "lower"),
    ("docs_per_s", "docs/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)
#: (name, unit, better, end-to-end metric it should move, workloads)
PER_LAYER = (
    ("session.import_s", "s", "lower", "setup_s", "all"),
    ("session.get_spark_s", "s", "lower", "setup_s", "all"),
    ("core.pipeline.compile_s", "s", "lower", "cold_run_s", "curate"),
    ("core.pipeline.forward_s", "s", "lower", "cold_run_s", "curate"),
    *((f"operators.{op}.run_s", "s", "lower", "cold_run_s", "curate")
      for op in OPERATORS),
    ("exec.jobs", "count", "lower", "cold_run_s docs_per_s", "neardup"),
    ("exec.stages", "count", "lower", "cold_run_s docs_per_s", "neardup"),
    ("exec.tasks", "count", "lower", "cold_run_s docs_per_s", "neardup"),
    ("exec.driver_gap_s", "s", "lower", "cold_run_s docs_per_s", "neardup"),
    ("exec.shuffle_write_bytes", "bytes", "lower", "docs_per_s", "neardup curate"),
    ("exec.shuffle_read_bytes", "bytes", "lower", "docs_per_s", "neardup curate"),
    ("exec.spill_bytes", "bytes", "lower", "docs_per_s peak_rss_mb", "neardup curate"),
    ("exec.task_skew", "ratio", "lower", "docs_per_s", "neardup curate"),
    ("exec.slot_busy_frac", "fraction", "higher", "docs_per_s", "neardup curate"),
    ("exec.gc_s", "s", "lower", "docs_per_s", "neardup curate"),
    ("functions.hashing.signature_docs_per_s", "docs/s", "higher", "docs_per_s", "neardup"),
    ("serving.requests", "count", "lower", "docs_per_s", "llm_synth"),
    ("serving.distinct_prompt_ratio", "fraction", "higher", "docs_per_s", "llm_synth"),
    ("serving.connections_per_request", "ratio", "lower", "docs_per_s", "llm_synth"),
    ("serving.request_ms_p50", "ms", "lower", "docs_per_s", "llm_synth"),
    ("serving.request_ms_p99", "ms", "lower", "docs_per_s", "llm_synth"),
    ("serving.backend_busy_frac", "fraction", "higher", "docs_per_s", "llm_synth"),
    ("serving.failed", "count", "lower", "docs_per_s", "llm_synth"),
    ("core.storage.write_s", "s", "lower", "docs_per_s", "llm_synth"),
    ("core.storage.read_s", "s", "lower", "docs_per_s", "llm_synth"),
    ("core.storage.bytes_written", "bytes", "lower", "docs_per_s", "llm_synth"),
    ("sources.export_s", "s", "lower", "docs_per_s", "curate"),
    ("sources.bytes_per_input_byte", "ratio", "lower", "docs_per_s", "curate"),
    ("sources.files_written", "count", "lower", "docs_per_s", "curate"),
    ("trace.docs_per_s", "docs/s", "higher", "docs_per_s", "all"),
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- inputs ---------------------------------------------------------------
def prepare_inputs(root: str, workload: str, seed: int) -> str:
    """Generate (or reuse) the seeded input and its checker metadata."""
    n = N_DOCS[workload]
    data = os.path.join(root, ".bench_data", "inputs",
                        f"{workload}-s{seed}-n{n}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(data, "meta.json")):
        return data
    tmp = f"{data}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    table, planted = corpus.MAKERS[workload](seed, n)
    corpus.write_table(table, os.path.join(tmp, "input"), N_FILES)
    meta = {"n_docs": n}
    doc_ids = table.column("doc_id").to_pylist()
    if workload == "curate":
        import checks
        meta["expected"] = checks.curate_reference(os.path.join(tmp, "input"))
    elif workload == "neardup":
        meta.update(doc_ids=doc_ids, cluster=planted["cluster"])
    else:
        import checks
        meta["expected"] = checks.llm_synth_replay(
            doc_ids, table.column("text").to_pylist())
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(data, ignore_errors=True)
    os.replace(tmp, data)
    return data


# -- child processes --------------------------------------------------------
def _processes() -> list[tuple[int, int, int]]:
    """(pid, ppid, session id) of every live process."""
    procs = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs.append((int(name), int(fields[1]), int(fields[3])))
    return procs


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _private_bytes(pid: int) -> int:
    total = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith(("Private_Clean:", "Private_Dirty:")):
                    total += int(line.split()[1]) * 1024
    except OSError:
        pass
    return total


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants.

    A child still running its parent's executable is a fork. A JVM
    child of that kind is a vfork/posix_spawn about to exec a helper
    command: it shares the JVM's memory, so it adds nothing. A Python
    worker forked by the PySpark daemon shares its pages with the daemon
    copy-on-write, so it adds only its private pages.
    """
    children: dict[int, list[int]] = {}
    for pid, ppid, _ in _processes():
        children.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root_pid, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if exe and exe == parent_exe:
            if "java" not in os.path.basename(exe):
                total += _private_bytes(pid)
            continue
        todo.extend((c, exe) for c in children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


def _stop_session(sid: int, timeout_s: float = 5.0) -> None:
    """Kill every process of session ``sid`` (the worker, its JVM and
    Python workers) and wait until none is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if not any(s == sid for _, _, s in _processes()):
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes of session {sid} did not exit")
        time.sleep(0.05)


class RssSampler(threading.Thread):
    def __init__(self, pid: int, interval_s: float = 0.05):
        super().__init__(daemon=True)
        self.pid, self.interval_s = pid, interval_s
        self.peak = 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(self.interval_s):
            self.peak = max(self.peak, _tree_rss_bytes(self.pid))


def run_child(args: list[str], env: dict, cwd: str, log: str,
              timeout_s: float, sample_rss: bool = False) -> tuple[dict, int]:
    """Run worker.py; returns (its JSON result, peak tree RSS bytes)."""
    with open(log, "ab") as err:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"),
                                 *args], cwd=cwd, env=env,
                                stdout=subprocess.PIPE, stderr=err,
                                start_new_session=True)
        sampler = RssSampler(proc.pid) if sample_rss else None
        if sampler:
            sampler.start()
        try:
            out, _ = proc.communicate(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            out = b""
        finally:
            if sampler:
                sampler.stop.set()
                sampler.join()
            # the JVM and Python workers share the child's session
            proc.kill()
            proc.wait()
            _stop_session(proc.pid)
    lines = out.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker failed (exit {proc.returncode}); see {log}")
    return json.loads(lines[-1]), (sampler.peak if sampler else 0)


def child_env(root: str, tmp: str, n_cores: int) -> dict:
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([root, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(n_cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "TMPDIR": tmp,
    })
    return env


# -- report -----------------------------------------------------------------
def summarise(main: dict, peak_rss: int) -> dict:
    warm = main["warm_s"]
    return {
        "setup_s": main["setup_s"],
        "cold_run_s": main["cold_run_s"],
        "docs_per_s": main["n_docs"] / statistics.median(warm),
        "peak_rss_mb": peak_rss / 2 ** 20,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(N_DOCS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    # a terminated run still stops the worker sessions it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def time_left() -> float:
        return RUN_LIMIT_S - (time.monotonic() - started)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dataflow_spark", "__init__.py")):
        print("perfbench: run from the repository root (no dataflow_spark/ here)",
              file=sys.stderr)
        return 2
    n_cores = cores()
    bench = os.path.join(root, ".bench_data")
    work = os.path.join(bench, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    log = os.path.join(work, "worker.log")
    try:
        data = prepare_inputs(root, args.workload, args.seed)
        env = child_env(root, tmp, n_cores)
        common = ["--workload", args.workload, "--data", data, "--work", work,
                  "--cores", str(n_cores)]
        res, peak = run_child([*common, "--seconds", str(args.seconds),
                               "--trace", str(args.trace)],
                              env, work, log, time_left(),
                              sample_rss=not args.trace)
        if not res["warm_s"] or res["cold_run_s"] is None:
            raise RuntimeError(f"no successful run: {res['detail']}")
        if args.trace:
            metrics = trace_metrics(res, bench, work, args)
            units = {m[0]: m[1] for m in PER_LAYER}
        else:
            metrics = summarise(res, peak)
            units = {m[0]: m[1] for m in END_TO_END}
            save_untraced(bench, args, metrics)
        report(args, res, metrics, units)
    except (RuntimeError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _result_path(bench: str, args) -> str:
    """Where the last untraced result of this workload's input is kept."""
    n = N_DOCS[args.workload]
    return os.path.join(bench, "results",
                        f"{args.workload}-s{args.seed}-n{n}-v{GEN_VERSION}.json")


def save_untraced(bench: str, args, metrics: dict) -> None:
    os.makedirs(os.path.join(bench, "results"), exist_ok=True)
    with open(_result_path(bench, args), "w") as f:
        json.dump(metrics, f)


def trace_metrics(res: dict, bench: str, work: str, args) -> dict:
    """Per-layer metrics of a traced run; layers a workload bypasses
    read 0. Keeps the span file and prints the tracing overhead against
    the last untraced run of the same workload and seed, if any."""
    layers = res.get("per_layer", {})
    metrics = {name: 0 for name, *_ in PER_LAYER}
    metrics.update({k: v for k, v in layers.items() if k in metrics})
    metrics["session.import_s"] = res["import_s"]
    metrics["session.get_spark_s"] = res["get_spark_s"]
    metrics["trace.docs_per_s"] = res["n_docs"] / statistics.median(res["warm_s"])
    traces = os.path.join(bench, "traces")
    os.makedirs(traces, exist_ok=True)
    span_file = os.path.join(traces, f"{args.workload}-s{args.seed}.json")
    shutil.copyfile(os.path.join(work, "trace.json"), span_file)
    print(f"spans written to {os.path.relpath(span_file)}")
    try:
        with open(_result_path(bench, args)) as f:
            untraced = json.load(f)["docs_per_s"]
        print(f"tracing overhead: {metrics['trace.docs_per_s'] - untraced:+.1f} "
              f"docs/s (traced minus untraced, same seed)")
    except (OSError, KeyError, ValueError):
        print("tracing overhead: no untraced run of this workload and seed yet")
    return metrics


def report(args, res: dict, metrics: dict, units: dict) -> None:
    attempted, failed = res["attempted"], res["failed"]
    warmup, timed = res["warmup_runs"], res["timed_warm_runs"]
    print(f"workload {args.workload} seed {args.seed}: {res['n_docs']} docs, "
          f"1 cold + {warmup} warm-up + {timed} timed warm runs "
          f"(+{attempted - 1 - warmup - timed} checked, untimed) "
          f"on {cores()} cores")
    print(f"  {'warm run samples':<42} "
          + " ".join(f"{s:.3f}" for s in res["warm_s"]) + " s")
    for name, value in metrics.items():
        print(f"  {name:<42} {value:>14.4f} {units[name]}")
    print(f"  {'error_rate':<42} {failed / attempted:>14.4f} "
          f"({failed} of {attempted} runs failed)")
    print(f"  {'check':<42} {'ok' if failed == 0 else 'FAILED'}: {res['detail']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": {
                          k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}))


if __name__ == "__main__":
    sys.exit(main())
