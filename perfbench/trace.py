"""Measurement helpers: peak RSS of the process tree, driver-side spans,
Spark's own per-stage metrics (the local status REST endpoint), and
call-counting wrappers around the public functions of `htmldom` and `engine`.

Nothing here changes the program: spans wrap calls from the benchmark's side,
stage metrics are read back from Spark's status store, and the engine
wrappers are installed only around an in-process sample and removed after.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


# --------------------------------------------------------------------------
# peak resident memory of this process and all its descendants
# --------------------------------------------------------------------------

MIN_AGE_S = 0.25
_TICKS = os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(root: int) -> int:
    """RSS sum over `root` and its descendants. Processes younger than
    MIN_AGE_S are skipped: the JVM starts short-lived helper processes, and
    until they exec such a child reports the whole JVM's RSS as its own."""
    with open("/proc/uptime") as fh:
        now = float(fh.read().split()[0])
    children: dict = {}
    rss: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/status") as fh:
                status = fh.read()
            with open(f"/proc/{name}/stat") as fh:
                started = int(fh.read().rsplit(")", 1)[1].split()[19]) / _TICKS
        except (OSError, IndexError, ValueError):
            continue
        m_pp = re.search(r"^PPid:\s+(\d+)", status, re.M)
        m_rss = re.search(r"^VmRSS:\s+(\d+)", status, re.M)
        pid = int(name)
        if m_pp:
            children.setdefault(int(m_pp.group(1)), []).append(pid)
        young = now - started < MIN_AGE_S and pid != root
        rss[pid] = int(m_rss.group(1)) if m_rss and not young else 0
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, ()))
    return total


class PeakRss:
    """Samples the RSS sum of the process tree every `interval` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------------
# driver-side spans, kept in memory and written out at the end
# --------------------------------------------------------------------------

class Spans:
    def __init__(self):
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --------------------------------------------------------------------------
# Spark per-stage metrics from the local status REST endpoint
# --------------------------------------------------------------------------

_STAGE_OF_TASK = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def _parse_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=timezone.utc).timestamp()


class StageMetrics:
    """Reads jobs, stages and SQL plan metrics for one job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("untraced", "untraced")

    def collect(self, group: str, timeout: float = 30.0) -> dict:
        """Wait until the status store has every job of `group` finished, then
        return {"jobs": [...], "stages": [...], "udf_stages": {...}}."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" and "completionTime" in j
                            for j in jobs):
                break
            if time.time() > deadline:
                raise TimeoutError(f"jobs of {group} did not finish in the status store")
            time.sleep(0.05)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = []
        for sid in sorted(stage_ids):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "COMPLETE":
                    stages.append(att)
        job_ids = {j["jobId"] for j in jobs}
        udf_stages = set()
        for ex in self._get("/sql?details=true&planDescription=false&length=100000"):
            if not job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex["nodes"]:
                if node["nodeName"] in ("MapInPandas", "MapInArrow"):
                    for m in node["metrics"]:
                        udf_stages.update(int(x) for x in _STAGE_OF_TASK.findall(m["value"]))
        return {"jobs": jobs, "stages": stages, "udf_stages": udf_stages}

    def task_quantiles(self, stage: dict) -> tuple:
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        return tuple(q["executorRunTime"])


def sum_stages(stages: list, key: str, pred=lambda s: True) -> float:
    return float(sum(s[key] for s in stages if pred(s)))


def job_end(jobs: list, stage_ids: set) -> float:
    """Latest completion time of the jobs that ran any of `stage_ids`."""
    ends = [_parse_time(j["completionTime"]) for j in jobs
            if stage_ids & set(j["stageIds"])]
    return max(ends) if ends else 0.0


# --------------------------------------------------------------------------
# in-process wrappers around htmldom / engine public functions
# --------------------------------------------------------------------------

class CallTimer:
    """Nested timers with self time: every wrapped call adds its duration to
    its name and subtracts it from the enclosing wrapped call's self time."""

    def __init__(self):
        self.total: dict = {}
        self.self_time: dict = {}
        self.calls: dict = {}
        self.bytes_in: dict = {}
        self._stack: list = []

    def wrap(self, name: str, fn, count_bytes: bool = False):
        def wrapper(*args, **kwargs):
            self._stack.append(0.0)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = self._stack.pop()
                self.total[name] = self.total.get(name, 0.0) + dt
                self.self_time[name] = self.self_time.get(name, 0.0) + dt - child
                self.calls[name] = self.calls.get(name, 0) + 1
                if count_bytes and args and isinstance(args[0], str):
                    self.bytes_in[name] = (self.bytes_in.get(name, 0)
                                           + len(args[0].encode("utf-8", "surrogateescape")))
                if self._stack:
                    self._stack[-1] += dt
        return wrapper


# (layer name, module, attribute, count input bytes). Each module that
# imported a function by name gets its own patch, so every call site is seen.
WRAPPED = (
    ("htmldom.parse", "ukeeper_readability_spark.engine.extract", "parse", True),
    ("htmldom.parse", "ukeeper_readability_spark.engine.readability", "parse", True),
    ("htmldom.parse", "ukeeper_readability_spark.engine.sanitize_text", "parse", True),
    ("htmldom.parse_head", "ukeeper_readability_spark.engine.extract", "parse_head", True),
    ("htmldom.render", "ukeeper_readability_spark.engine.extract", "inner_html", False),
    ("htmldom.render", "ukeeper_readability_spark.engine.readability", "inner_html", False),
    ("htmldom.select", "ukeeper_readability_spark.engine.extract", "find_all", False),
    ("htmldom.select", "ukeeper_readability_spark.engine.readability", "find_all", False),
    ("htmldom.select", "ukeeper_readability_spark.engine.pics", "find_all", False),
    ("htmldom.select", "ukeeper_readability_spark.engine.sanitize_text", "find_all", False),
    ("htmldom.select", "ukeeper_readability_spark.engine.charset", "find_all", False),
    ("engine.text", "ukeeper_readability_spark.engine.extract", "get_text", False),
    ("engine.links", "ukeeper_readability_spark.engine.extract", "normalize_links", False),
    ("engine.pics", "ukeeper_readability_spark.engine.extract", "extract_pics", False),
)


@contextmanager
def wrapped_engine(timer: CallTimer):
    """Install the wrappers for the duration of the block; yields a wrapped
    extract_document to call the engine with."""
    import importlib

    from ukeeper_readability_spark.engine import extract as ex
    from ukeeper_readability_spark.engine import readability as rd

    saved = []
    for name, mod_name, attr, count in WRAPPED:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        saved.append((mod, attr, orig))
        setattr(mod, attr, timer.wrap(name, orig, count))
    # the readability layer: the Document constructor (source parse) and
    # content_with_html (scoring, article assembly, sanitize re-parse)
    methods = [(m, getattr(rd.Document, m)) for m in ("__init__", "content_with_html")]
    for m, orig in methods:
        setattr(rd.Document, m, timer.wrap("engine.readability", orig))
    try:
        yield timer.wrap("engine.extract", ex.extract_document)
    finally:
        for m, orig in methods:
            setattr(rd.Document, m, orig)
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)
