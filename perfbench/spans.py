"""Tracing for the benchmark's traced run.

Spans are kept in memory and written out once, at the end of the run:
run -> pass -> op -> build / execute / release -> Spark job. Every span of
one operation sample carries the same ``op_id``.

Spark jobs are attributed through the job group the benchmark sets for
each phase of each operation. Jobs launched from threads the engine
starts itself carry no group; those are attributed to the phase whose
interval contains their submission time, which is exact because the
client runs one operation at a time. Per-job task time, CPU, GC, shuffle
and spill come from the live UI's status REST API (``/jobs``,
``/stages``), and rows out of each join and aggregate node from ``/sql``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request

SPARK_STATS = (
    "tasks", "run_s", "cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks",
)
_MB = 1024 * 1024


def _epoch(stamp: str | None) -> float | None:
    # the REST API formats times as 2026-10-17T05:00:00.123GMT
    if not stamp:
        return None
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, end)
        if b > a:
            total += b - a
            reach = b
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self.sql_nodes: dict[str, list[dict]] = {}
        self.harvest_s = 0.0
        self._phases: list[dict] = []  # phase spans of the current pass

    def start(self, name: str, parent: int | None, op_id: str | None = None, **attrs) -> dict:
        span = {"id": len(self.spans) + 1, "name": name, "parent": parent,
                "op_id": op_id, "start": time.time(), "end": None, **attrs}
        self.spans.append(span)
        return span

    @staticmethod
    def end(span: dict) -> None:
        span["end"] = time.time()

    @contextlib.contextmanager
    def phase(self, name: str, op_span: dict):
        """Span one phase of an operation and tag the jobs it launches."""
        group = f"{op_span['op_id']}:{name}"
        self.sc.setJobGroup(group, group)
        span = self.start(name, op_span["id"], op_span["op_id"], group=group,
                          layer=op_span["layer"], kind=name)
        try:
            yield span
        finally:
            self.end(span)
            self.sc.setJobGroup("", "")
            self._phases.append(span)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def harvest(self) -> dict[tuple[str, str], dict]:
        """Attach the Spark jobs of the phases spanned since the last call.

        Returns, per (op_id, phase), the job count and Spark stats. Runs
        between passes, outside every timed interval.
        """
        t0 = time.perf_counter()
        phases, self._phases = self._phases, []
        by_group = {p["group"]: p for p in phases}
        lo, hi = min(p["start"] for p in phases), max(p["end"] for p in phases)
        jobs = self._jobs_between(lo, hi, by_group)
        stages: dict[int, list[dict]] = {}
        for st in self._get("stages"):
            if st.get("status") != "SKIPPED":
                stages.setdefault(st["stageId"], []).append(st)  # one per attempt
        out = {
            (p["op_id"], p["name"]): {"jobs": 0, **dict.fromkeys(SPARK_STATS, 0.0)}
            for p in phases
        }
        owner: dict[int, dict] = {}
        for job in jobs:
            start, end = _epoch(job.get("submissionTime")), _epoch(job.get("completionTime"))
            phase = by_group.get(job.get("jobGroup") or "")
            if phase is None:
                phase = next((p for p in phases if p["start"] <= start <= p["end"]), None)
            if phase is None:
                continue  # a job of the benchmark's own probes
            owner[job["jobId"]] = phase
            self.spans.append({
                "id": len(self.spans) + 1, "name": f"job {job['jobId']}",
                "parent": phase["id"], "op_id": phase["op_id"],
                "start": start, "end": end or start, "status": job.get("status"),
                "layer": phase["layer"], "kind": "job",
            })
            row = out[(phase["op_id"], phase["name"])]
            row["jobs"] += 1
            for sid in job.get("stageIds", []):
                for st in stages.get(sid, []):
                    row["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    row["failed_tasks"] += st.get("numFailedTasks", 0)
                    row["run_s"] += st.get("executorRunTime", 0) / 1e3
                    row["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    row["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    row["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / _MB
                    row["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / _MB
                    row["spill_mb"] += (
                        st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    ) / _MB
        self._harvest_sql(owner)
        self.harvest_s += time.perf_counter() - t0
        return out

    def _jobs_between(self, lo: float, hi: float, by_group: dict) -> list[dict]:
        # the UI store is filled by an asynchronous listener: poll until
        # every job the tracker knows for these groups has completed there
        want = {
            j for g in by_group for j in self.sc.statusTracker().getJobIdsForGroup(g)
        }
        for _ in range(100):
            jobs = [
                j for j in self._get("jobs")
                if lo - 1 <= (_epoch(j.get("submissionTime")) or 0) <= hi + 1
            ]
            done = {j["jobId"] for j in jobs if j.get("completionTime")}
            if want <= done:
                return jobs
            time.sleep(0.1)
        return jobs

    def _harvest_sql(self, owner: dict[int, dict]) -> None:
        """Rows out of each join and aggregate node, per operation."""
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            phase = next((owner[j] for j in ids if j in owner), None)
            if phase is None:
                continue
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                if "Join" not in name and "Aggregate" not in name:
                    continue
                rows = next(
                    (m["value"] for m in node.get("metrics", [])
                     if m.get("name") == "number of output rows"),
                    None,
                )
                if rows is not None:
                    self.sql_nodes.setdefault(phase["op_id"], []).append(
                        {"execution": ex["id"], "node_id": node.get("nodeId"), "node": name,
                         "rows": int(str(rows).replace(",", ""))}
                    )

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per layer and span kind: total duration and self time (duration
        minus the part of it that child spans cover), summed over spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        table: dict[str, dict[str, float]] = {}
        for s in self.spans:
            key = f"{s['layer']}.{s['kind']}" if s.get("layer") else s["kind"]
            dur = s["end"] - s["start"]
            own = dur - _covered(s["start"], s["end"], children.get(s["id"], []))
            row = table.setdefault(key, {"total_s": 0.0, "self_s": 0.0, "spans": 0})
            row["total_s"] += dur
            row["self_s"] += own
            row["spans"] += 1
        return table

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {**extra, "self_time": self.self_times(), "sql_nodes": self.sql_nodes,
                 "spans": self.spans},
                fh,
            )
