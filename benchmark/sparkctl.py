"""Start and fully stop the benchmark's own SparkSession.

The configuration is pinned here, not read from the environment, so two
runs on the same machine always use the same settings.  The package is made
importable by Spark's Python workers through PYTHONPATH, which the JVM and
the workers it forks inherit.
"""

from __future__ import annotations

import os
import time

def spark_conf(scratch: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "searchengine-benchmark",
        # adaptive execution off: on inputs this small its per-stage
        # re-planning triples the Spark jobs a build launches (150 against
        # 48 in build_tables on 2,000 files) and the job count, not the
        # data, then sets every build figure
        "spark.sql.adaptive.enabled": "false",
        # whole-stage code generation off: compiling each plan's generated
        # code is a fixed cost per query that, on inputs this small,
        # outweighs what the compiled code saves (~10 % of a build here)
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.io.compression.codec": "zstd",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }


def start_spark(repo_root: str, scratch: str):
    """A SparkSession whose Python workers can import searchengine_spark."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    parts = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # takes precedence over spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # the launcher JVM that spark-submit starts first gets no driver
    # options: keep its perf data and temp files out of /tmp too
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), jvm_opts) if p)
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in spark_conf(scratch).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list:
    todo, seen = [pid], []
    while todo:
        for c in _children(todo.pop()):
            seen.append(c)
            todo.append(c)
    return seen


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    Python worker it started have exited (killing them after
    ``timeout``)."""
    import signal

    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - JVM may already be gone
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        for pid in procs:
            while _alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for pid in procs:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
