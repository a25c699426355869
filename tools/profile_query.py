"""Per-job profile of registered queries (guide §1 measurement aid).

Builds the bench-identical session (plus UI REST, which bench disables)
and for each named query runs ``build() + noop`` ``--repeats`` times,
then prints per-run wall seconds and, for the LAST run, the per-job
breakdown (duration, description, stage task-time) from the UI REST API.

Usage:
    python tools/profile_query.py d14_dedup_lsh_bucket_cap [more ...] \
        [--repeats 3] [--sf /root/testdata/sf0.1]

Measurement-only tooling: never imported by the engine or bench.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(cpus: int):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.files.minPartitionNum", str(2 * cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.ui.enabled", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rest(spark, path: str):
    """GET one UI REST endpoint. The base comes from the running UI's
    own URL: Spark moves to the next free port when the default is
    taken, so a fixed port could read another application's jobs."""
    url = f"{spark.sparkContext.uiWebUrl}/api/v1/{path}"
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--jobs", action="store_true", help="print per-job table")
    args = ap.parse_args()

    spark = get_spark(args.cpus)
    from end_to_end_etl_using_snowflake_spark.plans import (  # noqa: F401
        backfill,
        dynamic_table,
        governance,
        llm_ops,
        pipeline_queries,
        queries,
        tpch,
    )
    from end_to_end_etl_using_snowflake_spark.plans.registry import REGISTRY

    app_id = spark.sparkContext.applicationId

    def run(name: str) -> float:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.monotonic()
        REGISTRY[name].build(spark, args.sf).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.monotonic() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    for name in args.queries:
        times = []
        for i in range(args.repeats):
            jobs_before = {j["jobId"] for j in rest(spark, f"applications/{app_id}/jobs")}
            times.append(run(name))
            if i == args.repeats - 1 and args.jobs:
                jobs = [
                    j
                    for j in rest(spark, f"applications/{app_id}/jobs")
                    if j["jobId"] not in jobs_before
                ]
                jobs.sort(key=lambda j: j["jobId"])
                print(f"--- {name} run {i}: {len(jobs)} jobs")
                for j in jobs:
                    t0 = j.get("submissionTime", "")
                    t1 = j.get("completionTime", "")
                    dur = ""
                    try:
                        from datetime import datetime

                        f = "%Y-%m-%dT%H:%M:%S.%f%Z"
                        dur = (
                            datetime.strptime(t1, f) - datetime.strptime(t0, f)
                        ).total_seconds()
                        dur = f"{dur:8.3f}"
                    except Exception:
                        pass
                    desc = (j.get("description") or j.get("name") or "")[:110]
                    print(
                        f"  job {j['jobId']:4d} {dur}s tasks={j.get('numTasks', 0):5d} {desc}"
                    )
        print(
            f"{name:34s} min={min(times):7.3f} runs="
            + " ".join(f"{t:.3f}" for t in times)
        )


if __name__ == "__main__":
    main()
