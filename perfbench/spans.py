"""Job attribution and per-op Spark counters for the traced run.

Every call the benchmark makes into ``silvia_spark`` runs under a job
group ``<workload>:<op>:<phase>:<pass>`` set here, so the status tracker
attributes each Spark job to the op and phase (plan build vs action)
that issued it. Streaming micro-batch jobs carry the query's run id as
their group (Spark sets it on the stream thread); ``Tracer.alias`` maps
it back to an op.

Only the traced run enables the UI's REST API, which serves the stage
and task counters (shuffle, spill, executor time, GC). Spans and
counters stay in memory and are summed when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict

STAGE_KEYS = {
    # REST stage field -> (metric, scale)
    "numTasks": ("spark.tasks", 1),
    "numFailedTasks": ("spark.failed_tasks", 1),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1 / 2**20),
    "inputBytes": ("spark.input_mb", 1 / 2**20),
    "diskBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
}
SPARK_METRICS = ["spark.stages"] + [m for m, _ in STAGE_KEYS.values()]


class Tracer:
    """Sets job groups in every run; reads the REST counters only in the
    traced run (the only one with the UI enabled)."""

    def __init__(self, spark, workload: str, traced: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.aliases: dict[str, str] = {}
        self.groups_seen: set[str] = set()
        self.ui = self.sc.uiWebUrl if traced else None
        self.app = self.sc.applicationId

    def group(self, op: str, phase: str, tag: str = "") -> None:
        """Label every job issued from here on as ``op``'s ``phase``;
        ``tag`` (the pass) keeps repeated executions apart."""
        g = f"{self.workload}:{op}:{phase}:{tag}"
        self.sc.setJobGroup(g, g)
        self.groups_seen.add(g)

    def alias(self, spark_group: str, op: str, phase: str,
              tag: str = "") -> None:
        g = f"{self.workload}:{op}:{phase}:{tag}"
        self.aliases[spark_group] = g
        self.groups_seen.add(g)

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store is complete for the jobs that just finished."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(0.2)

    def _rest(self, path: str):
        url = f"{self.ui}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def jobs_by_group(self) -> dict[str, list[int]]:
        """Every job the application started, keyed by attributed group
        (unknown groups keep their raw name)."""
        self._drain()
        out: dict[str, list[int]] = defaultdict(list)
        for j in self._rest("jobs"):
            g = j.get("jobGroup") or ""
            out[self.aliases.get(g, g)].append(j["jobId"])
        return dict(out)

    def stage_counters(self) -> dict[int, dict[str, float]]:
        """Counters of every stage the application ran, by stage id
        (skipped stages did no work and are left out)."""
        out: dict[int, dict[str, float]] = {}
        for a in self._rest("stages"):
            if a.get("status") == "SKIPPED":
                continue
            c = out.setdefault(a["stageId"],
                               {m: 0.0 for m in SPARK_METRICS})
            c["spark.stages"] += 1
            for k, (m, scale) in STAGE_KEYS.items():
                c[m] += a.get(k, 0) * scale
        return out

    def job_stages(self, job_id: int) -> list[int]:
        info = self.sc.statusTracker().getJobInfo(job_id)
        return list(info.stageIds) if info is not None else []


def _tree() -> list[int]:
    """This process and every descendant (the driver JVM, its Python
    workers), from /proc."""
    import os

    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def rss_mb() -> float:
    """Peak RSS (VmHWM) summed over this process tree, in MB."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024
