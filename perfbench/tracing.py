"""Spans recorded around the benchmark's calls into each layer, and the
Spark-side figures: the uncompressed event log and the SQL status store.

Spans are kept in memory and written once, when the run ends. Spark jobs
are attributed to spans through job groups: a span that may start jobs
runs under the group ``<op>:<span>``, which the spans of that name in that
op share. Op ids are never reused, so no group spans two ops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: name, start, end, parent and op id."""

    def __init__(self, sc, drop=()):
        self.sc = sc
        #: Span names never recorded: the self-test drops a layer with it.
        self.drop = frozenset(drop)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: Spans are recorded only while enabled; ``op`` names the current op.
        self.enabled = False
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str, op: str, group: bool = False):
        """Record a span; with ``group`` its Spark jobs get their own group."""
        if not self.enabled or name in self.drop:
            yield None
            return
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "group": f"{op}:{name}" if group else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        if group:
            self.sc.setJobGroup(rec["group"], rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if group:
                parent = next((self.spans[i]["group"] for i in reversed(self._stack)
                               if self.spans[i]["group"]), None)
                if parent:
                    self.sc.setJobGroup(parent, parent)
                else:
                    for key in ("spark.jobGroup.id", "spark.job.description"):
                        self.sc.setLocalProperty(key, None)

    def seconds(self, name: str, op: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and (op is None or s["op"] == op))

    def groups(self, op: str, prefix: str = "") -> list[str]:
        return [s["group"] for s in self.spans
                if s["op"] == op and s["group"] and s["name"].startswith(prefix)]


# -- Spark event log ---------------------------------------------------------


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed single-file event log in ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Jobs, stages and task metrics from a finished application's log."""

    def __init__(self, log_dir: str):
        files = [f for f in glob.glob(os.path.join(log_dir, "*"))
                 if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
        self.jobs: dict[int, dict] = {}
        #: stage id -> whether the stage's lineage holds a ``mapInPandas``
        self.submitted: dict[int, bool] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "group": ev["Properties"].get("spark.jobGroup.id"),
                        "stages": ev["Stage IDs"],
                        "submit_s": ev["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = [json.loads(r["Scope"])["name"]
                              for r in info["RDD Info"] if r.get("Scope")]
                    self.submitted[info["Stage ID"]] = "MapInPandas" in scopes
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    self.tasks[ev["Stage ID"]].append(ev["Task Metrics"])

    def job_ids(self, groups) -> list[int]:
        groups = set(groups)
        return sorted(j for j, r in self.jobs.items() if r["group"] in groups)

    def jobs_between(self, start: float, end: float) -> set[int]:
        """Jobs submitted within [start, end], on the event log's clock
        (epoch milliseconds, the same wall clock as ``time.time()``)."""
        return {j for j, r in self.jobs.items() if start - 0.002 <= r["submit_s"] <= end + 0.002}

    def first_job_s(self, groups) -> float | None:
        ids = self.job_ids(groups)
        return min(self.jobs[j]["submit_s"] for j in ids) if ids else None

    def summary(self, groups, python_stage: bool = False) -> dict[str, float]:
        """Counts and executor totals over the jobs of ``groups``.

        With ``python_stage``, only the first stage that runs a
        ``mapInPandas``: later stages with one in their lineage read the
        frame the battery persisted instead of running the Python code.
        """
        jobs = self.job_ids(groups)
        stages = sorted({s for j in jobs for s in self.jobs[j]["stages"]
                         if s in self.submitted})
        if python_stage:
            stages = [s for s in stages if self.submitted[s]][:1]
        tm = [t for s in stages for t in self.tasks[s]]

        def tot(key, sub=None):
            return sum((t[sub][key] if sub else t[key]) for t in tm)

        shuffle_read = tot("Remote Bytes Read", "Shuffle Read Metrics") + tot(
            "Local Bytes Read", "Shuffle Read Metrics")
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tm),
            "executor_run_s": tot("Executor Run Time") / 1e3,
            "executor_cpu_s": tot("Executor CPU Time") / 1e9,
            "gc_s": tot("JVM GC Time") / 1e3,
            "deserialize_s": tot("Executor Deserialize Time") / 1e3,
            "shuffle_read_mb": shuffle_read / 2**20,
            "shuffle_write_mb": tot("Shuffle Bytes Written", "Shuffle Write Metrics") / 2**20,
            "spill_mb": (tot("Memory Bytes Spilled") + tot("Disk Bytes Spilled")) / 2**20,
        }


# -- SQL status store ---------------------------------------------------------


def sql_executions(spark) -> list[tuple[set[int], int]]:
    """(job ids, exchange operators in the final plan) of each SQL execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out = []
    for ex in conv.asJava(store.executionsList()):
        names = [n.name() for n in conv.asJava(store.planGraph(ex.executionId()).allNodes())]
        jobs = {int(j) for j in conv.asJava(ex.jobs().keys())}
        out.append((jobs, sum(name in ("Exchange", "BroadcastExchange") for name in names)))
    return out


def exchanges(executions: list[tuple[set[int], int]], job_ids) -> int:
    """Exchanges of the executions that ran any of ``job_ids``."""
    job_ids = set(job_ids)
    return sum(n for jobs, n in executions if jobs & job_ids)
