"""Per-job wall-clock anatomy of one query invocation, via the UI REST
API (submission/completion timestamps + stage-level task time).

Usage: python tools/job_walls.py <query> [iters]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    import __spark_entry__ as entrymod
    from dataflow_spark import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-walls", extra_conf={
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true",
    })
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    fn = qs[name]
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def jobs_json():
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            return json.loads(r.read())

    # warm
    spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    from datetime import datetime, timezone

    def ts(s):  # the UI's timestamps are GMT
        return datetime.strptime(s.split("GMT")[0], "%Y-%m-%dT%H:%M:%S.%f").replace(
            tzinfo=timezone.utc).timestamp()

    for it in range(iters):
        seen = {j["jobId"] for j in jobs_json()}
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        js = sorted((j for j in jobs_json() if j["jobId"] not in seen),
                    key=lambda j: j["jobId"])
        print(f"iter {it}: wall {wall:.3f}s, {len(js)} jobs")
        prev_end = None
        for j in js:
            sub, end = ts(j["submissionTime"]), ts(j["completionTime"])
            gap = (sub - prev_end) if prev_end is not None else 0.0
            prev_end = end
            print(f"  job {j['jobId']}: dur {end-sub:6.3f}s gap-before "
                  f"{gap:6.3f}s tasks {j['numTasks']} "
                  f"[{j.get('description', '')[:60]}]")
    spark.stop()


if __name__ == "__main__":
    main()
