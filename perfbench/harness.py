"""Spark session lifetime for one benchmark run, and timing helpers."""

from __future__ import annotations

import os
import subprocess
import time
from contextlib import contextmanager

from pyspark import SparkContext

from cyborgdb_encrypted_vector_search_spark import caching
from cyborgdb_encrypted_vector_search_spark.session import get_spark
from perfbench import measure as M


HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Ctx:
    """Per-run state: the work directory, the current session and the
    tracer. Restarting the session keeps the JVM (and its JIT) but
    builds a fresh SparkContext, so every setup repetition pays a real
    session start; the first one also pays the JVM launch."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.tracer = M.Tracer(trace)
        self.trace = trace
        self.cores = cores()
        self.spark = None
        self.rid = ""  # id of the request or setup being run

    def start(self) -> float:
        t0 = time.perf_counter()
        self.stop()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                # a fixed, pre-touched heap keeps peak RSS from
                # tracking GC timing from run to run
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions": (
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                    f"-Dderby.system.home={self.work} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            caching.release_all()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then end the JVM and wait for it."""
        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when this pipe closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    @property
    def sc(self):
        return self.spark.sparkContext

    @contextmanager
    def request(self, rid: str):
        """Tag Spark work with ``rid`` when tracing."""
        if self.trace:
            self.sc.setJobGroup(rid, rid)
        try:
            yield
        finally:
            if self.trace:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def noop(df) -> None:
    """Materialise every column of ``df`` and collect nothing."""
    df.write.format("noop").mode("overwrite").save()


def timed(f, *args, **kwargs):
    t0 = time.perf_counter()
    out = f(*args, **kwargs)
    return out, time.perf_counter() - t0
