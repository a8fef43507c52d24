"""Cold engine set-up, timed the way a fresh process pays it.

A sample runs in a process that has not imported the engine or any of
its dependencies yet (pyspark, py4j, numpy, pandas, pyarrow): it times
the engine import plus ``load_all_operators()``, then ``get_spark()``,
which launches the driver JVM. Python's own interpreter start is left
out; it is the same for every engine version.

Run directly, it takes one sample, prints it as JSON on the last line
of stdout and stops Spark:
    python3 perfbench/coldstart.py
"""

from __future__ import annotations

import json
import time

ENGINE = "snapshot_s3_util_spark"
APP_NAME = "perfbench"


def timed_setup():
    """Return (engine, spark, {"import_s", "start_s"}) from a cold process."""
    import importlib

    t0 = time.perf_counter()
    engine = importlib.import_module(ENGINE)
    engine.load_all_operators()
    t1 = time.perf_counter()
    spark = importlib.import_module(ENGINE + ".session").get_spark(APP_NAME)
    t2 = time.perf_counter()
    return engine, spark, {"import_s": t1 - t0, "start_s": t2 - t1}


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    _, spark, sample = timed_setup()
    shutdown(spark)
    print(json.dumps(sample))
