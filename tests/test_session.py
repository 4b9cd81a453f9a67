"""``get_spark`` defaults."""

import os
import subprocess
import sys

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
