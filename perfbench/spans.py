"""Spans around the package's public functions, and Spark counts per op.

The traced run replaces each public function listed in
:data:`LAYER_FUNCTIONS` with a wrapper, in its defining module and in
every package module that imported it by name, so calls made inside the
package are seen too. A wrapper records a span (name, start, end,
parent span, op id) while tracing is on and calls straight through
while it is off. Spans stay in memory and are written out at exit.

Spark work is tagged with ``setJobGroup("<op>/<phase>")``; at exit the
UI REST API gives the jobs, stages and SQL executions of each group.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
import urllib.request
from collections import defaultdict

#: (module, function, span name). The span name's prefix is the layer.
LAYER_FUNCTIONS = (
    ("mediaplaycounts_spark.session", "get_spark", "session.get_spark"),
    ("mediaplaycounts_spark.tables", "load_table", "tables.load_table"),
    ("mediaplaycounts_spark.ingest.mediacounts", "read_raw", "ingest.build"),
    ("mediaplaycounts_spark.ingest.mediacounts", "parse_raw", "ingest.build"),
    ("mediaplaycounts_spark.ingest.mediacounts", "daily_playcounts", "ingest.build"),
    ("mediaplaycounts_spark.ingest.mediacounts", "write_daily", "ingest.write"),
    ("mediaplaycounts_spark.ingest.mediacounts", "corrupt_records", "ingest.corrupt"),
    (
        "mediaplaycounts_spark.ingest.categories",
        "build_membership_snapshot",
        "ingest.categories",
    ),
    ("mediaplaycounts_spark.api.playcounts", "date_range", "api.playcounts.build"),
    ("mediaplaycounts_spark.api.playcounts", "last_n", "api.playcounts.build"),
    (
        "mediaplaycounts_spark.api.playcounts",
        "category_date_range",
        "api.playcounts.build",
    ),
    (
        "mediaplaycounts_spark.api.playcounts",
        "category_last_n",
        "api.playcounts.build",
    ),
    ("mediaplaycounts_spark.api.playcounts", "to_api_payload", "api.playcounts.payload"),
    ("mediaplaycounts_spark.api.serving", "read_serving_parquet", "api.serving.open"),
)

#: Spans whose function runs Spark jobs on the frame it is given; the
#: frame is planned first, in a ``catalyst.plan`` span.
EXECUTES = ("api.playcounts.payload", "ingest.write")

#: Every public function of ``operators/dedup.py`` is wrapped as well.
DEDUP_MODULE = "mediaplaycounts_spark.operators.dedup"


class Span:
    __slots__ = ("name", "start", "end", "parent", "op")

    def __init__(self, name: str, start: float, parent: int | None, op: str | None):
        self.name, self.start, self.end = name, start, start
        self.parent, self.op = parent, op


class Tracer:
    """Span recorder. ``active`` switches recording on and off between
    ops, so one run can interleave traced and untraced ops."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.active = False
        self.sc = None  # SparkContext once the session exists
        self.group: str | None = None

    # -- spans
    def begin(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.op))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self.stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    # -- Spark job groups
    def set_group(self, group: str | None) -> None:
        if self.sc is not None and group != self.group:
            self.sc.setJobGroup(group or "untraced", group or "untraced")
        self.group = group

    def in_group(self, suffix: str, fn, *args, **kwargs):
        """Run ``fn`` with Spark jobs tagged ``<op>/<suffix>``."""
        if not self.active or self.op is None:
            return fn(*args, **kwargs)
        prev = self.group
        self.set_group(f"{self.op}/{suffix}")
        try:
            return fn(*args, **kwargs)
        finally:
            self.set_group(prev)

    def plan(self, df) -> None:
        """Build the physical plan of ``df`` inside a ``catalyst.plan``
        span. The action that follows plans again, so this adds the
        planning time once more to a traced op."""
        self.call("catalyst.plan", lambda: df._jdf.queryExecution().executedPlan())

    # -- installing wrappers
    def wrap(self, fn, name: str):
        if name.startswith("operators.dedup"):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                return self.call(name, self.in_group, "dedup", fn, *args, **kwargs)
        elif name in EXECUTES:
            @functools.wraps(fn)
            def wrapper(df, *args, **kwargs):
                if self.active:
                    self.plan(df)
                return self.call(name, fn, df, *args, **kwargs)
        else:
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                return self.call(name, fn, *args, **kwargs)
        return wrapper

    def install(self) -> None:
        """Wrap the layer functions everywhere the package bound them."""
        targets = list(LAYER_FUNCTIONS)
        dedup = importlib.import_module(DEDUP_MODULE)
        for attr, obj in vars(dedup).items():
            if (
                callable(obj)
                and not attr.startswith("_")
                and getattr(obj, "__module__", None) == DEDUP_MODULE
            ):
                targets.append((DEDUP_MODULE, attr, "operators.dedup"))
        importlib.import_module("mediaplaycounts_spark.queries")
        importlib.import_module("mediaplaycounts_spark.api.http")
        for mod_name, attr, span in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.wrap(orig, span)
            for name, m in list(sys.modules.items()):
                if name.startswith("mediaplaycounts_spark") and getattr(m, attr, None) is orig:
                    setattr(m, attr, wrapped)

    # -- reporting
    def self_times(self) -> list[float]:
        """Per span: duration minus the time covered by its children.
        Calls nest on one thread, so children never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "op": s.op,
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------------ Spark REST


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode("utf-8"))


def _metric_number(value: str) -> float:
    """SQL metric values read like ``"12"`` or ``"1,234"``; totals of
    distributed metrics lead with ``"total (min, med, max ...)\\n12 (...)"``."""
    text = value.split("\n")[-1] if "\n" in value else value
    text = text.split("(")[0].strip().replace(",", "")
    try:
        return float(text)
    except ValueError:
        return 0.0


def spark_counts(sc) -> dict[str, dict[str, float]]:
    """Counts per job group from the UI REST API: jobs, stages, tasks,
    executor CPU, shuffle bytes, spill, GC, and scan files and rows."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = {s["stageId"]: s for s in _get(f"{base}/stages") if s["status"] == "COMPLETE"}
    sql = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=100000")
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    group_of_job = {}
    counted: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        g = j.get("jobGroup")
        if not g:
            continue
        group_of_job[j["jobId"]] = g
        c = out[g]
        c["jobs"] += 1
        # A stage reused by a later job is charged to the job that ran it.
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None or sid in counted:
                continue
            counted.add(sid)
            c["stages"] += 1
            c["tasks"] += s["numCompleteTasks"]
            c["executor_cpu_ms"] += s["executorCpuTime"] / 1e6
            c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            c["shuffle_read_bytes"] += s["shuffleReadBytes"]
            c["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            c["gc_ms"] += s["jvmGcTime"]
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get(
            "runningJobIds", []
        )
        groups = {group_of_job[i] for i in ids if i in group_of_job}
        if len(groups) != 1:
            continue
        c = out[groups.pop()]
        for node in ex.get("nodes", []):
            if not node.get("nodeName", "").startswith("Scan"):
                continue
            for m in node.get("metrics", []):
                if m["name"] == "number of files read":
                    c["scan_files_read"] += _metric_number(m["value"])
                elif m["name"] == "number of output rows":
                    c["scan_rows"] += _metric_number(m["value"])
    return out
