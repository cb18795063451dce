"""Per-task cost of a Python stage, stock daemon vs rsgislib_spark.pydaemon.

    python tools/py_task_overhead.py

Runs an identity ``mapInPandas`` over 1k rows at 4, 8 and 16
partitions, and the same scan without Python as a JVM-only baseline,
under each daemon (``local[4]``, min of 5 after a warm-up). Re-run
after a Spark or Python upgrade to check that the per-task zip
re-read still costs what ``rsgislib_spark/session.py`` says.
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def best(make, reps=5):
    make().write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        make().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t)
    return min(times)


def main() -> None:
    from rsgislib_spark.session import get_spark

    print("daemon                  parts  jvm_s  mapInPandas_s")
    for daemon in ("pyspark.daemon", None):
        conf = {"spark.ui.showConsoleProgress": "false"}
        if daemon:
            conf["spark.python.daemon.module"] = daemon
        spark = get_spark("py-task-overhead", master="local[4]", **conf)
        spark.sparkContext.setLogLevel("ERROR")
        name = spark.conf.get("spark.python.daemon.module", "pyspark.daemon")
        for parts in (4, 8, 16):
            df = lambda: spark.range(0, 1000, 1, parts)  # noqa: E731
            jvm = best(lambda: df().selectExpr("id * 2 AS id"))
            py = best(lambda: df().mapInPandas(lambda it: it, "id BIGINT"))
            print(f"{name:<24}{parts:>5}  {jvm:5.2f}  {py:13.2f}")
        spark.stop()


if __name__ == "__main__":
    main()
