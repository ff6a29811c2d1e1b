"""The benchmark's Spark session: start it inside the checkout, stop it and
every process under it."""

from __future__ import annotations

import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Everything a run writes, Spark's scratch included, stays under STATE.
STATE = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(STATE, "tmp")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(n_cpus: int, app_name: str = "perfbench"):
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from pii_redactor_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        master=f"local[{n_cpus}]",
        shuffle_partitions=n_cpus,
        extra_conf={
            # Workers import the engine from this checkout, whatever the
            # caller's PYTHONPATH and working directory.
            "spark.executorEnv.PYTHONPATH": ROOT,
            # A fixed heap: the JVM's RSS no longer follows heap resizing
            # (peak_rss_mb spread over five seeds 2%, against 16% with a
            # growing 2g heap).  C1 only: the driver's scheduling code
            # reaches steady speed within the warm-up op instead of over
            # several ops (on 4 vCPUs, small_batches ops 3.0-3.8 s from the
            # first timed op, against 5.9 s falling to 3.1 s with C2).
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={TMP} -Xms1g -XX:TieredStopAtLevel=1"
            ),
            "spark.local.dir": TMP,
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _alive(pid: int) -> bool:
    """Running, and not a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def stop_session(spark, pids: set[int]) -> None:
    """Stop Spark, then wait for the JVM and every process in ``pids``."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
