"""Session set-up for a benchmark run: a SparkSession started exactly
as the package's ``session.py`` starts it, with the driver JVM options
the benchmark fixes, and how long set-up took."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass

from procstat import since_process_start
from sparkstats import read_jvm

# The driver heap is fixed and pre-touched, as production JVMs are run.
# A growing heap made peak RSS bimodal (1.4-2.1 GB over ten runs of
# one workload) and put page faults of heap growth into query times.
DRIVER_MEMORY = "2g"


@dataclass(frozen=True)
class Setup:
    setup_s: float
    """Process start to a ready SparkSession."""
    import_s: float
    """Importing the package and its query registry."""
    jvm_start_s: float
    """Launching the driver JVM and building the session."""
    jit_s: float
    """JIT compile time the JVM had spent when the session was ready."""


def java_options() -> str:
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    # -XX:-UseDynamicNumberOfCompilerThreads: JIT compiler threads live
    # as long as the JVM, so that their CPU, read per thread, is never
    # lost with a thread that exits.
    return (
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={os.environ['SPARK_LOCAL_DIRS']}"
    )


def start_session():
    """A ready SparkSession, the registry and how long set-up took."""
    t_import = time.perf_counter()
    from bbcnews_scraper_nlp_spark.queries import REGISTRY
    from bbcnews_scraper_nlp_spark.session import get_spark

    t_jvm = time.perf_counter()
    spark = get_spark(
        "perfbench", extra_conf={"spark.driver.extraJavaOptions": java_options()}
    )
    t_ready = time.perf_counter()
    setup_s = since_process_start() - (time.perf_counter() - t_ready)
    setup = Setup(
        setup_s=setup_s,
        import_s=t_jvm - t_import,
        jvm_start_s=t_ready - t_jvm,
        jit_s=read_jvm(spark._jvm).jit_s,
    )
    return spark, REGISTRY, setup


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
