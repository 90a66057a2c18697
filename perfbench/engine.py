"""Start and stop the engine's Spark session the same way in every process
the benchmark runs: the measured run and the input-generation subprocess.
Every file Spark, the JVM and Python write goes under the caller's work
dir."""

from __future__ import annotations

import os
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"   # the session default (20g) exceeds a 15 GiB machine
HEAP_MB = 2048      # DRIVER_MEM in MB


def configure(work: str, cores: int | None, prewarm: bool = True) -> dict:
    """Pin the engine's environment before pyspark starts a JVM."""
    nproc = cores or len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_SHUFFLE": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_PREWARM": "1" if prewarm else "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    return {"nproc": nproc, "master": f"local[{nproc}]",
            "shuffle_partitions": nproc, "driver_memory": DRIVER_MEM,
            "python_worker_prewarm": prewarm,
            "jvm_heap": f"-Xms{DRIVER_MEM} -Xmx{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "env": env}


def gc_log_path(work: str) -> str:
    return os.path.join(work, "gc.log")


def spark_factory(work: str, measured: bool = True):
    """A zero-argument function that starts the session. In a measured run
    the heap is fixed and touched at start-up, so the JVM's resident heap is
    a known constant and its RSS above that constant is its off-heap memory;
    the GC log gives the heap occupancy after every collection."""
    opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    if measured:
        opts += (f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                 f" -Xlog:gc:file={gc_log_path(work)}")

    def get():
        from smartcrawler_spark.session import get_spark

        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": opts,
        })
        spark.sparkContext.setLogLevel("ERROR")
        return spark
    return get


def stop_spark() -> None:
    """Stop the SparkContext (which ends the Python worker daemon), then
    the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gw = SparkContext._gateway
    if sc is not None:
        sc.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
