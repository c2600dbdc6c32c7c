"""Process-level plumbing shared by the workloads: the work directory, the
Spark session, warm-up, peak memory and the result line."""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

#: where a run keeps its generated inputs, warehouse, Spark scratch and
#: event log (inside the checkout; removed when the run ends)
WORK_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Context:
    """Everything one benchmark invocation owns."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.t_start = time.perf_counter()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.spark = None
        self.session_start_s = 0.0
        self.session_warm_s = 0.0
        self.info: dict = {}     # side report: planted properties, named metrics

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def configure_env(self, cpus: int, submit_conf: list[str] = ()) -> None:
        """Keep every scratch write inside the work dir and launch Spark
        with ``cpus`` local cores. Must run before pyspark starts a JVM."""
        tmp = self.path("tmp")
        # collected timestamps convert through the local zone: pin it to
        # the session's (UTC) so rows compare equal to the oracles'
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        # the engine's sizing rule for a deploy (session.py): shuffle
        # partitions ~2x the cores; its default of 32 is sized for a
        # 32-core box
        os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * cpus)
        os.environ["SPARK_GRAFT_WAREHOUSE"] = self.path("spark-warehouse")
        # in local mode the whole Spark application runs in the spark-submit
        # JVM, which takes these options (no hsperfdata files outside the
        # work dir either)
        os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        args = [
            "--conf", "spark.ui.showConsoleProgress=false",
            *submit_conf,
            "pyspark-shell",
        ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args)

    def start_spark(self):
        from mysql2clickhouse_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("OFF")
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def warm_session(self, warm) -> None:
        """Run the workload's own warm-up ``warm()`` (a small pass over its
        measured path: codegen, shuffles, parquet I/O, Python workers) and
        time it as ``session_warm_s``."""
        t0 = time.perf_counter()
        warm()
        self.session_warm_s = time.perf_counter() - t0

    def setup_s(self) -> float:
        return time.perf_counter() - self.t_start

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its JVM child (and
        any other direct child, e.g. the Spark launcher)."""
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        kids = 0.0
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                    status = dict(
                        line.split(":", 1) for line in fh.read().splitlines() if ":" in line
                    )
            except OSError:
                continue
            if int(status.get("PPid", "0").strip() or 0) == me and "VmHWM" in status:
                kids += float(status["VmHWM"].split()[0]) / 1024.0
        return own + kids

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            # the py4j gateway JVM exits with the session; wait for it so
            # no process outlives the run
            from pyspark import SparkContext

            gw = getattr(SparkContext, "_gateway", None)
            proc = getattr(gw, "proc", None) if gw is not None else None
            if proc is not None:
                try:
                    gw.shutdown()
                except Exception:  # noqa: BLE001 - best effort, the JVM may be gone
                    pass
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run still owns a work dir


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(result: dict, info: dict | None = None) -> None:
    """The side report (one line, human-oriented) then the result line,
    which is always the last line of standard output."""
    if info:
        print("report " + json.dumps(info, sort_keys=True, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
