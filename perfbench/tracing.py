"""Per-layer numbers for the traced run, gathered from outside the program.

Spark execution counters come from the monitoring REST API that the
driver UI serves (``/api/v1/applications/<id>/{jobs,stages}``). The
benchmark tags every timed op's jobs with a job group, so stages are
attributed to timed ops and warm-up or check jobs are left out.
"""

from __future__ import annotations

import json
import time
import urllib.request

#: job-group prefix of timed ops; other jobs (set-up, checks) are ignored
TIMED_GROUP = "timed"

EXEC_METRICS = (
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "CPU-s"),
    ("exec.gc_s", "s"),
    ("exec.input_records", "count"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("exec.cpu_ratio", "ratio"),
)


def spark_ui_conf() -> dict[str, str]:
    """Session confs that switch the UI and its REST API on for tracing."""
    return {
        "spark.ui.enabled": "true",
        "spark.ui.port": "0",  # ephemeral port
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


class SparkRest:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = self.sc.uiWebUrl.rstrip("/") + "/api/v1/applications/" + self.sc.applicationId

    def _get(self, route: str):
        with urllib.request.urlopen(self.base + route, timeout=30) as r:
            return json.loads(r.read().decode())

    def exec_per_op(self, timed_ops: int) -> dict[str, float]:
        """Stage counters summed over the jobs of timed ops, per timed op."""
        # the status store is fed by an asynchronous listener: wait until
        # every job has finished being recorded
        for _ in range(50):
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
        stage_ids = {
            s
            for j in jobs
            if (j.get("jobGroup") or "").startswith(TIMED_GROUP)
            for s in j["stageIds"]
        }
        tot = dict.fromkeys(("stages", "tasks", "run", "cpu", "gc", "in", "sr", "sw", "spill"), 0.0)
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st["numTasks"]
            tot["run"] += st["executorRunTime"] / 1e3
            tot["cpu"] += st["executorCpuTime"] / 1e9
            tot["gc"] += st.get("jvmGcTime", 0) / 1e3
            tot["in"] += st["inputRecords"]
            tot["sr"] += st["shuffleReadBytes"]
            tot["sw"] += st["shuffleWriteBytes"]
            tot["spill"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        n = max(timed_ops, 1)
        return {
            "exec.stages": tot["stages"] / n,
            "exec.tasks": tot["tasks"] / n,
            "exec.run_s": tot["run"] / n,
            "exec.cpu_s": tot["cpu"] / n,
            "exec.gc_s": tot["gc"] / n,
            "exec.input_records": tot["in"] / n,
            "exec.shuffle_read_bytes": tot["sr"] / n,
            "exec.shuffle_write_bytes": tot["sw"] / n,
            "exec.spill_bytes": tot["spill"] / n,
            "exec.cpu_ratio": tot["cpu"] / tot["run"] if tot["run"] else 0.0,
        }
