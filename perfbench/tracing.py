"""Spans around the benchmark's calls into the engine, and the Spark
status-store work attributed to them.

Spans live in memory and are written out once, at the end of a traced
run. During the run a stage boundary costs one ``time.time()`` plus one
py4j call listing the persisted RDDs (to size in-memory checkpoints);
everything else (jobs, stage task metrics, SQL Python-operator metrics)
is read from the REST API once, after the run, and each item is
attributed to the span whose wall-clock window contains its submission
time. Reading at the end instead of at each boundary sidesteps the
status store's asynchronous listener lag.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import time
import urllib.request
from contextlib import contextmanager

STAGES = ["ingest", "signatures", "buckets", "candidates", "verify", "cluster"]

# UI settings for the traced run only: the status store must keep every
# job, stage and SQL execution of the run for the end-of-run read.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

_PY_TIME = "time to run Python workers"
_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _epoch(ts: str) -> float:
    return (
        dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=dt.timezone.utc)
        .timestamp()
    )


def _duration_s(text: str) -> float:
    m = _DURATION.search(text)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


class Tracer:
    """In-memory span log. Disabled tracers record nothing and hand out
    no stage hook, so untraced runs execute exactly the engine calls."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._rdds: dict[str, set[int]] = {}
        self._spark = None

    def bind(self, spark) -> None:
        self._spark = spark

    def add(self, name: str, start: float, end: float, parent: str | None):
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent}
            )

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), parent)

    def _persisted(self) -> set[int]:
        jsc = self._spark.sparkContext._jsc
        return {int(i) for i in jsc.getPersistentRDDs().keySet()}

    def stage_hook(self, run: str):
        """A ``run_dedup(stage_hook=...)`` callback that closes one span
        per stage under ``run``: a stage runs from the previous boundary
        (or the call) to its own. None when tracing is off."""
        if not self.enabled:
            return None
        last = [time.time()]
        seen = [self._persisted()]

        def hook(stage: str) -> None:
            now = time.time()
            self.add(stage, last[0], now, run)
            ids = self._persisted()
            self._rdds[f"{run}/{stage}"] = ids - seen[0]
            seen[0] = ids
            last[0] = time.time()

        return hook

    def checkpoint_bytes(self, run: str, stage: str) -> int:
        """Bytes held (memory + disk) by the RDDs a stage persisted."""
        ids = self._rdds.get(f"{run}/{stage}", set())
        infos = self._spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(
            int(i.memSize()) + int(i.diskSize()) for i in infos if i.id() in ids
        )

    # ---- end-of-run attribution ------------------------------------

    def _rest(self, path: str):
        sc = self._spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def _settled_store(self) -> tuple[list, list, list]:
        # the listener bus delivers events asynchronously: wait until the
        # store shows no running job and its job count stops moving
        prev = -1
        for _ in range(50):
            jobs = self._rest("jobs")
            if len(jobs) == prev and all(
                j["status"] != "RUNNING" for j in jobs
            ):
                break
            prev = len(jobs)
            time.sleep(0.1)
        stages = self._rest("stages?status=complete")
        sql = self._rest(
            "sql?details=true&planDescription=false&offset=0&length=100000"
        )
        return jobs, stages, sql

    def attribute(self) -> dict[int, dict[str, float]]:
        """Per span index: jobs, cpu_s, gc_s, shuffle_mb, spill_mb, py_s."""
        jobs, stages, sql = self._settled_store()
        out = {
            i: dict.fromkeys(
                ("jobs", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "py_s"), 0.0
            )
            for i in range(len(self.spans))
        }
        # a stage span lies inside its run's span: the shortest (innermost)
        # span containing a submission time owns it
        windows = sorted(
            range(len(self.spans)),
            key=lambda i: self.spans[i]["end"] - self.spans[i]["start"],
        )

        def owner(ts: str) -> int | None:
            t = _epoch(ts)
            for i in windows:
                s = self.spans[i]
                if s["start"] <= t < s["end"]:
                    return i
            return None

        for j in jobs:
            i = owner(j["submissionTime"])
            if i is not None:
                out[i]["jobs"] += 1
        for st in stages:
            if "submissionTime" not in st:
                continue
            i = owner(st["submissionTime"])
            if i is None:
                continue
            m = out[i]
            m["cpu_s"] += st["executorCpuTime"] / 1e9
            m["gc_s"] += st["jvmGcTime"] / 1e3
            m["shuffle_mb"] += (
                st["shuffleReadBytes"] + st["shuffleWriteBytes"]
            ) / 1e6
            m["spill_mb"] += st["diskBytesSpilled"] / 1e6
        for ex in sql:
            i = owner(ex["submissionTime"])
            if i is None:
                continue
            for node in ex.get("nodes", []):
                for metric in node.get("metrics", []):
                    if metric["name"] == _PY_TIME:
                        out[i]["py_s"] += _duration_s(metric["value"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
