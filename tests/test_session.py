"""``get_spark`` defaults."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRINT_MASTER = """
from dataflow_spark import get_spark
s = get_spark("defaults")
print(s.sparkContext.master, s.conf.get("spark.sql.shuffle.partitions"))
s.stop()
"""


def test_default_master_uses_the_cpus_this_process_may_run_on():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", _PRINT_MASTER], cwd=ROOT,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    n = len(os.sched_getaffinity(0))
    assert proc.stdout.split()[-2:] == [f"local[{n}]", str(max(2 * n, 8))]


# Run from a directory without the package: the driver finds it through
# sys.path as tests/conftest.py does, the workers only through get_spark.
# local[1] has one Python worker, so consecutive tasks share it.
_WORKER_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql.functions import pandas_udf
from dataflow_spark import get_spark


def guard(batches):
    for _ in batches:
        pass
    try:
        from dataflow_spark.pyworker import archive_guard_installed
    except ImportError:
        installed = None
    else:
        installed = archive_guard_installed()
    yield pd.DataFrame({"installed": [installed]})


def rereads(batches):
    # the first task in a worker starts counting directory reads; a later
    # one reports the reads made since, its own task set-up included
    import zipimport
    for _ in batches:
        pass
    seen = getattr(zipimport, "probe_reads", None)
    if seen is None:
        seen = zipimport.probe_reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or read(a)
        n = -1
    else:
        n = len(seen)
    seen.clear()
    yield pd.DataFrame({"n": [n]})


def probe(extra_conf):
    spark = get_spark("probe", master="local[1]", extra_conf=extra_conf)
    plus_one = pandas_udf(lambda v: v + 1, "long")
    one = spark.range(3, numPartitions=1)
    out = {
        "pandas_udf": [r[0] for r in one.select(plus_one("id")).collect()],
        "installed": one.mapInPandas(guard, "installed boolean")
                        .collect()[0][0],
        "rereads": [one.mapInPandas(rereads, "n long").collect()[0][0]
                    for _ in range(3)],
    }
    spark.stop()
    return out


print(json.dumps([probe({}),
                  probe({"spark.python.daemon.module": "pyspark.daemon"})]))
"""


@pytest.fixture(scope="module")
def worker_probe(tmp_path_factory):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, "-c", _WORKER_PROBE, ROOT],
                          cwd=tmp_path_factory.mktemp("elsewhere"), env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.splitlines()[-1])


def test_python_stages_run_from_any_cwd(worker_probe):
    for run in worker_probe:
        assert run["pandas_udf"] == [1, 2, 3]
        assert run["rereads"][0] == -1  # mapInPandas ran


def test_workers_run_the_archive_guard(worker_probe):
    default, _ = worker_probe
    assert default["installed"] is True


def test_a_warm_worker_rereads_no_archive(worker_probe):
    default, _ = worker_probe
    assert default["rereads"] == [-1, 0, 0]


def test_extra_conf_overrides_the_daemon_module(worker_probe):
    _, plain = worker_probe
    assert plain["installed"] is False
    assert plain["rereads"][0] == -1 and min(plain["rereads"][1:]) >= 1
