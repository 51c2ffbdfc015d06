"""Outside-in tracing for the benchmark's traced pass.

Spans are recorded around calls into the program's public functions —
the benchmark's own calls, and the program's calls between its modules,
by wrapping the module attribute the caller looks up. No program file
changes. Spans stay in memory and are written out when the pass ends.
Per-stage executor time, shuffle bytes and GC come from Spark's event log,
which the benchmark's session config turns on in this pass only.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans: name, start, end, parent span index, and the id of the query
    (or batch) they belong to. Attributes ride along in ``attrs``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.qid: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "qid": self.qid,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def patch(self, module, attr: str, name: str, before=None, after=None):
        """Replace ``module.attr`` with a span-recording wrapper until
        ``unpatch``. ``before(kwargs)`` may add keyword arguments to the
        call; ``after(span, result)`` records what the call returned."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before is not None:
                before(kwargs)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, out)
                return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unpatch(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}, default=str) + "\n")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Job group -> {"jobs": n, "stages": {stage_id: stage}} from the rolling
    event log files under ``log_dir``. A stage holds its RDD scope names, task
    run times (s), GC time (s), and shuffle bytes written and read."""
    jobs_by_group: dict[str, int] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs_by_group[g] = jobs_by_group.get(g, 0) + 1
                    for sid in e["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    for rdd in info.get("RDD Info", []):
                        if "Scope" in rdd:
                            st["scopes"].add(json.loads(rdd["Scope"])["name"])
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    st["task_s"].append(m["Executor Run Time"] / 1e3)
                    st["gc_s"] += m["JVM GC Time"] / 1e3
                    st["shuffle_write"] += m["Shuffle Write Metrics"][
                        "Shuffle Bytes Written"]
                    rd = m["Shuffle Read Metrics"]
                    st["shuffle_read"] += (
                        rd["Remote Bytes Read"] + rd["Local Bytes Read"])
    out: dict[str, dict] = {
        g: {"jobs": n, "stages": {}} for g, n in jobs_by_group.items()
    }
    for sid, st in stages.items():
        g = stage_group.get(sid, "")
        out.setdefault(g, {"jobs": 0, "stages": {}})["stages"][sid] = st
    return out


def _new_stage() -> dict:
    return {"scopes": set(), "task_s": [], "gc_s": 0.0,
            "shuffle_write": 0, "shuffle_read": 0}


def build_layers(group: dict) -> dict[str, float]:
    """Split a build's stages into the fused tokenize+pack map stage and the
    merge reduce stage. Both run ``mapInArrow``. The map stage reads the
    source (or the doc-id assignment's ``mapInPandas`` output) and fills the
    run cache; the merge reads the run shuffle. Later stages that rescan
    the cached runs count in neither."""
    map_s = reduce_s = gc_s = 0.0
    write = 0
    reduce_tasks: list[float] = []
    for st in group["stages"].values():
        busy = sum(st["task_s"])
        gc_s += st["gc_s"]
        write += st["shuffle_write"]
        scopes = st["scopes"]
        if "MapInArrow" not in scopes:
            continue
        if "MapInPandas" in scopes or (
            st["shuffle_read"] == 0 and "InMemoryTableScan" not in scopes
        ):
            map_s += busy
        elif st["shuffle_read"] > 0:
            reduce_s += busy
            if busy > sum(reduce_tasks):
                reduce_tasks = st["task_s"]
    skew = 0.0
    if reduce_tasks:
        med = statistics.median(reduce_tasks)
        skew = max(reduce_tasks) / med if med > 0 else 0.0
    return {
        "indexer.map_executor_s": map_s,
        "indexer.reduce_executor_s": reduce_s,
        "indexer.shuffle_write_mb": write / 2**20,
        "indexer.gc_s": gc_s,
        "indexer.jobs": group["jobs"],
        "indexer.reduce_task_max_over_median": skew,
    }
