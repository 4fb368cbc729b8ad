"""In-memory spans for the traced run, and the Spark stage counters read
through the REST status API (the way ``plans.metrics.measure_action``
reads them).

A span records name, start, end, parent and query id. Spans are kept in
memory and written out once, when the run ends. A span's self time is
its duration minus the part of its interval its child spans cover.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from urllib.request import urlopen


class Tracer:
    """Records nested spans when enabled; a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, query: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if query is None and parent is not None:
            query = self.spans[parent]["query"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "query": query,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            if cur_end is None or c["start"] > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c["start"], c["end"]
            else:
                cur_end = max(cur_end, c["end"])
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class StatusApi:
    """Job and stage snapshots of one Spark application via the REST
    status API (needs ``spark.ui.enabled``)."""

    _BATCH = re.compile(r"batch = (\d+)")

    def __init__(self, sc):
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self._get("/jobs")}

    def stage_keys(self) -> set[tuple[int, int]]:
        return {(s["stageId"], s["attemptId"]) for s in self._get("/stages")}

    def new_jobs(self, before: set[int]) -> list[dict]:
        return [j for j in self._get("/jobs") if j["jobId"] not in before]

    def stream_batches(self, jobs: list[dict]) -> int:
        """Micro-batches among ``jobs``: distinct (group, batch) pairs."""
        seen = set()
        for j in jobs:
            m = self._BATCH.search(j.get("description") or "")
            if m:
                seen.add((j.get("jobGroup"), m.group(1)))
        return len(seen)

    def new_stages(self, before: set[tuple[int, int]], settle_s: float = 2.0) -> list[dict]:
        """Stages absent from ``before``, once none of them is still
        running (the status listener completes stages asynchronously)."""
        deadline = time.perf_counter() + settle_s
        while True:
            new = [s for s in self._get("/stages") if (s["stageId"], s["attemptId"]) not in before]
            if all(s["status"] not in ("ACTIVE", "PENDING") for s in new) or time.perf_counter() > deadline:
                return [s for s in new if s["status"] in ("COMPLETE", "FAILED")]
            time.sleep(0.05)

    def task_skew(self, stage: dict) -> float:
        """Max over median task run time of one stage (1.0 below 2 tasks)."""
        if stage["numCompleteTasks"] < 2:
            return 1.0
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, top = q["executorRunTime"]
        return top / med if med > 0 else 1.0

    def last_scan_files(self) -> int:
        """Files read by the scans of the most recent SQL execution."""
        # the listing is oldest-first and pages by 20 unless a length is given
        execs = self._get("/sql?details=true&planDescription=false&offset=0&length=100000")
        if not execs:
            return 0
        last = max(execs, key=lambda e: e["id"])
        total = 0
        for node in last.get("nodes", ()):
            for m in node.get("metrics", ()):
                if m["name"] == "number of files read":
                    total += int(str(m["value"]).replace(",", ""))
        return total
