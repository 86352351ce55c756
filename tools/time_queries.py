"""Time every queries() entry on a VANILLA SparkSession (driver-harness replica).

The driver's correctness gate uses its own plain SparkSession, not
get_spark(); this replica measures per-query wall time the way the driver
would see it, to catch anything slow enough to blow a harness timeout.

    python tools/time_queries.py [sf_dir] [query ...]

SPARK_GRAFT_CPUS (default 32) and SPARK_GRAFT_DRIVER_MEM (default 16g)
size the local master and the driver heap, as in get_spark.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    t0 = time.time()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("time_queries")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"session up in {time.time() - t0:.1f}s", flush=True)
    qs = entrymod.queries()
    times: dict[str, float] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t1 = time.time()
        try:
            n = len(fn(spark, sf_dir).toPandas())
            dt = time.time() - t1
            print(f"{name:32s} {dt:7.2f}s  {n} rows", flush=True)
        except Exception as e:  # noqa: BLE001
            dt = time.time() - t1
            print(f"{name:32s} {dt:7.2f}s  ERR {str(e)[:160]}", flush=True)
        times[name] = round(dt, 2)
    total = time.time() - t0
    print(f"\nTOTAL {total:.1f}s", flush=True)
    print(json.dumps(dict(sorted(times.items(), key=lambda kv: -kv[1])[:12])))
    spark.stop()


if __name__ == "__main__":
    main()
