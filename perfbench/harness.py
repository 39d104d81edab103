"""Session, tracing, statistics and leak accounting for the benchmark.

Everything here runs on the Spark driver, around calls into the library's
public functions: the library itself is not instrumented.
"""

from __future__ import annotations

import glob
import os
import statistics
import subprocess
import time
from contextlib import contextmanager

SHM_GLOB = "/dev/shm/libfilter_*"


def median_q(values: list[float]) -> dict:
    """Median, first and third quartile and sample count of ``values``
    (``statistics.quantiles`` with n=4; a lone sample is its own
    quartiles)."""
    vals = [float(v) for v in values]
    if not vals:
        return {"median": None, "q1": None, "q3": None, "n": 0}
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3,
            "n": len(vals)}


def start_session(cpus: int, work_dir: str):
    """Start the Spark session the library would get by default, with
    Spark's scratch space and the console progress bar kept out of the
    way. Returns (spark, seconds)."""
    spark_local = os.path.join(work_dir, "spark-local")
    os.makedirs(spark_local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = spark_local
    t0 = time.perf_counter()
    from libfilter_spark.spark.session import get_spark
    spark = get_spark(
        app_name="libfilter-perfbench", cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={spark_local}",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit; the Python
    workers are the JVM's children and go with it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Py4JError:
        pass  # the JVM is already gone
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class ShmLedger:
    """The /dev/shm files the library publishes during this run: files
    present at start are someone else's and are never touched."""

    def __init__(self):
        self.before = set(glob.glob(SHM_GLOB))

    def created(self) -> dict[str, int]:
        out = {}
        for p in glob.glob(SHM_GLOB):
            if p in self.before:
                continue
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # swept between glob and stat
        return out

    def remove_created(self) -> None:
        for p in self.created():
            try:
                os.unlink(p)
            except OSError:
                pass


class Tracer:
    """Closed-loop call recorder.

    With ``enabled`` false it only times rounds and tags each round's
    Spark jobs with one job group (for the failed-task count). With
    ``enabled`` true every ``span`` records name, start, end, parent
    and round id in memory, gets its own job group, and counts the
    Spark jobs, stages and failed tasks its calls started."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.round_id: int | None = None
        self.failed_tasks = 0

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                st = tracker.getStageInfo(s)
                if st is not None:
                    failed += st.numFailedTasks
        return len(jobs), stages, failed

    @contextmanager
    def round(self, rid: int, traced: bool):
        """One closed-loop round; ``traced`` turns span recording on
        for this round only (the traced run alternates). Job counts are
        read from Spark's status tracker after the round ends, so they
        stay out of its wall time."""
        was = self.enabled
        self.enabled = traced
        self.round_id = rid
        first = len(self.spans)
        if not traced:
            self.sc.setJobGroup(f"pb-round-{rid}", f"perfbench round {rid}")
        try:
            with self.span("round", _force=True) as rec:
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.enabled = was
            if traced:
                self.count_jobs(first)
            else:
                self.failed_tasks += self._job_counts(f"pb-round-{rid}")[2]

    def count_jobs(self, first: int = 0) -> None:
        """Fill in jobs and stages of the spans recorded since ``first``
        (each traced span ran its Spark jobs under its own group)."""
        for sp in self.spans[first:]:
            if "group" in sp and "jobs" not in sp:
                sp["jobs"], sp["stages"], failed = self._job_counts(
                    sp["group"])
                self.failed_tasks += failed

    @contextmanager
    def span(self, name: str, _force: bool = False, **attrs):
        """Time one call. Yields a dict the caller may add counts to."""
        rec = {"name": name, "round": self.round_id, **attrs}
        if not (self.enabled or _force):
            t0 = time.perf_counter()
            yield rec
            rec["dur"] = time.perf_counter() - t0
            return
        idx = rec["idx"] = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec["parent"] = parent
        self.spans.append(rec)
        if self.enabled:
            rec["group"] = f"pb-span-{idx}"
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.enabled and parent is not None \
                    and "group" in self.spans[parent]:
                self.sc.setJobGroup(self.spans[parent]["group"],
                                    self.spans[parent]["name"])

    def self_time(self, idx: int) -> float:
        """Span duration minus the union of its children's intervals."""
        sp = self.spans[idx]
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c.get("parent") == idx and "end" in c)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp["dur"] - covered
