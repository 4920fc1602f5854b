"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded from the benchmark's own files, around calls into the
package's public functions: timing wrappers replace module attributes
before ``specialsid_spark.queries`` is imported, because the query
modules bind ``catalog.load`` and the snapshot verbs at import time.
Each span has a name, start, end, parent and run id; spans stay in
memory and are written when the run ends.

Spark's side comes from its own event stream: the event log (jobs are
tagged per query with ``setJobGroup``) and, for streaming queries,
``StreamingQueryProgress``.  ``foreachBatch`` jobs run on another thread
and carry no job group, so engine counters are taken over every job the
measurement window submitted, not per group.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

#: snapshot verbs by what they do to a table
SNAPSHOT_VERBS = {
    "commit": (
        "snapshot_commit",
        "snapshot_commit_generations",
        "snapshot_commit_stats",
        "snapshot_compact",
        "snapshot_delete",
        "snapshot_delete_dv",
        "snapshot_purge_dv",
        "snapshot_restore",
        "snapshot_clone",
        "snapshot_update",
        "snapshot_vacuum",
    ),
    "read": ("snapshot_read", "snapshot_scan", "snapshot_diff"),
    "versions": ("snapshot_versions", "snapshot_version_by_tag"),
}

KMEANS_ASSIGN = ("assign_clusters", "assign_clusters_np", "assign_clusters_udf")

#: physical plan nodes whose rows pass through Python workers
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInArrow",
    "AggregateInPandas",
    "ArrowAggregatePython",
    "WindowInPandas",
    "ArrowWindowPython",
    "FlatMapGroupsInPandasWithState",
    "BatchScan",  # Python data sources scan in Python workers too
)

#: every per-layer metric with its unit, in the order the run prints them
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "queries.build_s": "s",
    "queries.materialize_s": "s",
    "queries.outside_jobs_s": "s",
    "barrier.calls": "count",
    "barrier.eager_calls": "count",
    "barrier.s": "s",
    "snapshot.commit_calls": "count",
    "snapshot.commit_s": "s",
    "snapshot.read_calls": "count",
    "snapshot.read_s": "s",
    "snapshot.versions_s": "s",
    "snapshot.bytes_written": "bytes",
    "kmeans.assign_calls": "count",
    "kmeans.assign_s": "s",
    "stream.hop3_s": "s",
    "stream.lsh_gate_s": "s",
    "stream.simhash_gate_s": "s",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.commit_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.stage_skew_max": "ratio",
    "arrow.python_rows": "count",
    "pyds.scan_rows": "count",
    "trace.batch_s": "s",
    "trace.spans": "count",
}


class NullTracer:
    """The untraced run: records nothing and changes nothing."""

    def extra_conf(self, work: str) -> dict[str, str]:
        return {}

    def install(self) -> None:
        pass

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()

    def job_group(self, spark, name: str | None) -> None:
        pass

    def progress(self, query) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.progress_ms: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._stacks: dict[int, list[dict]] = defaultdict(list)
        self._main = threading.get_ident()
        self.eventlog_dir = ""

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stacks[threading.get_ident()]
        # foreachBatch callbacks run on a py4j thread: parent them to the
        # main thread's open span (the hop that is waiting for them)
        outer = stack or self._stacks[self._main]
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": outer[-1]["id"] if outer else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def _in_layer(self, prefix: str) -> bool:
        return any(r["name"].startswith(prefix) for r in self._stacks[threading.get_ident()])

    def _wrap(self, name: str, fn, measure_path: bool = False):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            path = None
            if measure_path and not self._in_layer("snapshot."):
                bound = sig.bind_partial(*args, **kwargs).arguments
                path = bound.get("path") or bound.get("dst")
            before = tree_bytes(path) if path else 0
            with self.span(name) as rec:
                try:
                    return fn(*args, **kwargs)
                finally:
                    if path:
                        rec["bytes"] = tree_bytes(path) - before

        return wrapper

    def install(self) -> None:
        """Wrap the package's layer entry points.  Must run before
        ``specialsid_spark.queries`` is first imported."""
        if "specialsid_spark.queries" in sys.modules:
            raise RuntimeError("tracing must be installed before the query modules load")
        from pyspark.sql.classic.dataframe import DataFrame

        from specialsid_spark import catalog, session
        from specialsid_spark.operators import kmeans, snapshot

        session.get_spark = self._wrap("session.get_spark", session.get_spark)
        for fn in ("load", "load_parallel"):
            setattr(catalog, fn, self._wrap(f"catalog.{fn}", getattr(catalog, fn)))
        for kind, verbs in SNAPSHOT_VERBS.items():
            for fn in verbs:
                wrapped = self._wrap(f"snapshot.{kind}:{fn}", getattr(snapshot, fn), kind == "commit")
                setattr(snapshot, fn, wrapped)
        for fn in KMEANS_ASSIGN:
            setattr(kmeans, fn, self._wrap(f"kmeans.assign:{fn}", getattr(kmeans, fn)))

        local_checkpoint = DataFrame.localCheckpoint
        sig = inspect.signature(local_checkpoint)

        @functools.wraps(local_checkpoint)
        def barrier(*args, **kwargs):
            eager = sig.bind(*args, **kwargs).arguments.get("eager", True)
            with self.span("barrier", eager=bool(eager)):
                return local_checkpoint(*args, **kwargs)

        DataFrame.localCheckpoint = barrier

    # -- Spark's event stream ----------------------------------------------
    def extra_conf(self, work: str) -> dict[str, str]:
        self.eventlog_dir = os.path.join(work, "eventlog")
        os.makedirs(self.eventlog_dir, exist_ok=True)
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.eventlog_dir,
            "spark.eventLog.compress": "false",
        }

    def job_group(self, spark, name: str | None) -> None:
        sc = spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    def progress(self, query) -> None:
        """Fold the triggers of a finished streaming query."""
        for p in query.recentProgress:
            d = p.durationMs if hasattr(p, "durationMs") else p["durationMs"]
            self.progress_ms["trigger"] += d.get("triggerExecution", 0)
            self.progress_ms["add_batch"] += d.get("addBatch", 0)
            self.progress_ms["query_planning"] += d.get("queryPlanning", 0)
            self.progress_ms["commit"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)

    # -- results --------------------------------------------------------------
    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")

    def layer_metrics(self, t0: float, t1: float) -> dict[str, float]:
        """Per-layer self time and counts over the spans the measurement
        window started, folded with the event log of the same window."""
        spans = [r for r in self.spans if t0 <= r["start"] <= t1]
        by_id = {r["id"]: r for r in self.spans}
        children = defaultdict(list)
        for r in self.spans:
            if r["parent"] is not None:
                children[r["parent"]].append((r["start"], r["end"]))

        def self_s(r):
            return (r["end"] - r["start"]) - _covered(children[r["id"]], r["start"], r["end"])

        def layer(prefix):
            return [r for r in spans if r["name"].startswith(prefix)]

        def outer(rs, prefix):
            return [r for r in rs if not by_id.get(r["parent"], {"name": ""})["name"].startswith(prefix)]

        m: dict[str, float] = {}
        setup = [r for r in self.spans if r["name"] == "session.get_spark"]
        m["session.get_spark_s"] = sum(r["end"] - r["start"] for r in setup)
        cat = layer("catalog.")
        m["catalog.load_calls"] = len(outer(cat, "catalog."))
        m["catalog.load_s"] = sum(map(self_s, cat))
        m["queries.build_s"] = sum(map(self_s, layer("queries.build:")))
        m["queries.materialize_s"] = sum(map(self_s, layer("queries.materialize:")))
        bar = layer("barrier")
        m["barrier.calls"] = len(bar)
        m["barrier.eager_calls"] = sum(1 for r in bar if r.get("eager"))
        m["barrier.s"] = sum(map(self_s, bar))
        for kind in ("commit", "read"):
            rs = layer(f"snapshot.{kind}:")
            m[f"snapshot.{kind}_calls"] = len(outer(rs, "snapshot."))
            m[f"snapshot.{kind}_s"] = sum(map(self_s, rs))
        m["snapshot.versions_s"] = sum(map(self_s, layer("snapshot.versions:")))
        m["snapshot.bytes_written"] = sum(r.get("bytes", 0) for r in spans)
        km = layer("kmeans.assign:")
        m["kmeans.assign_calls"] = len(outer(km, "kmeans."))
        m["kmeans.assign_s"] = sum(map(self_s, km))
        for hop in ("hop3", "lsh_gate", "simhash_gate"):
            m[f"stream.{hop}_s"] = sum(map(self_s, layer(f"stream.{hop}")))
        for k in ("trigger", "add_batch", "query_planning", "commit"):
            m[f"stream.{k}_ms"] = self.progress_ms[k]

        engine = EventLog(self.eventlog_dir, t0, t1)
        m.update(engine.metrics())
        outside = 0.0
        for b in layer("queries.build:"):
            name = b["name"].split(":", 1)[1]
            mats = [r for r in spans if r["name"] == f"queries.materialize:{name}"]
            end = mats[-1]["end"] if mats else b["end"]
            outside += (end - b["start"]) - _covered(engine.group_intervals(name), b["start"], end)
        m["queries.outside_jobs_s"] = outside
        m["trace.spans"] = len(self.spans)
        return m


class EventLog:
    """Spark's event log folded over the jobs submitted in ``[t0, t1]``."""

    def __init__(self, path: str, t0: float, t1: float):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stage_tasks: dict[tuple, list[float]] = defaultdict(list)
        self.task = defaultdict(float)
        python_accs: set[int] = set()
        pyds_accs: set[int] = set()
        acc_updates: dict[int, float] = defaultdict(float)
        for ev in _events(path):
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                sub = ev["Submission Time"] / 1000
                if t0 <= sub <= t1:
                    props = ev.get("Properties") or {}
                    self.jobs[ev["Job ID"]] = {
                        "start": sub,
                        "end": sub,
                        "group": props.get("spark.jobGroup.id"),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                info = ev["Task Info"]
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                self.stage_tasks[key].append(info["Finish Time"] - info["Launch Time"])
                tm = ev.get("Task Metrics") or {}
                self.task["run_ms"] += tm.get("Executor Run Time", 0)
                self.task["cpu_ns"] += tm.get("Executor CPU Time", 0)
                self.task["gc_ms"] += tm.get("JVM GC Time", 0)
                rd = tm.get("Shuffle Read Metrics") or {}
                self.task["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                wr = tm.get("Shuffle Write Metrics") or {}
                self.task["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
                self.task["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables", []):
                    if isinstance(acc.get("Update"), (int, float, str)):
                        try:
                            acc_updates[acc["ID"]] += float(acc["Update"])
                        except ValueError:
                            pass
            elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
                _python_row_accs(ev.get("sparkPlanInfo") or {}, python_accs, pyds_accs)
        self.python_rows = sum(acc_updates[a] for a in python_accs)
        self.pyds_rows = sum(acc_updates[a] for a in pyds_accs)

    def group_intervals(self, group: str) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs.values() if j["group"] == group]

    def metrics(self) -> dict[str, float]:
        skews = [
            max(d) / statistics.median(d)
            for d in self.stage_tasks.values()
            if len(d) > 1 and statistics.median(d) > 0
        ]
        spans = [(j["start"], j["end"]) for j in self.jobs.values()]
        return {
            "spark.jobs": len(self.jobs),
            "spark.stages": len(self.stage_tasks),
            "spark.tasks": sum(len(d) for d in self.stage_tasks.values()),
            "spark.job_s": _covered(spans, float("-inf"), float("inf")),
            "spark.executor_run_s": self.task["run_ms"] / 1e3,
            "spark.executor_cpu_s": self.task["cpu_ns"] / 1e9,
            "spark.gc_s": self.task["gc_ms"] / 1e3,
            "spark.shuffle_read_bytes": self.task["shuffle_read"],
            "spark.shuffle_write_bytes": self.task["shuffle_write"],
            "spark.spill_bytes": self.task["spill"],
            "spark.stage_skew_max": max(skews, default=1.0),
            "arrow.python_rows": self.python_rows,
            "pyds.scan_rows": self.pyds_rows,
        }


def _python_row_accs(node: dict, out: set[int], pyds: set[int]) -> None:
    """Output-row accumulators of the nodes whose rows pass through Python
    workers, and (``pyds``) of the Python data source scans among them."""
    name = node.get("nodeName", "")
    if name.startswith(PYTHON_NODES):
        for metric in node.get("metrics", []):
            if metric.get("name") == "number of output rows":
                out.add(metric["accumulatorId"])
                if name.startswith("BatchScan"):
                    pyds.add(metric["accumulatorId"])
    for child in node.get("children", []):
        _python_row_accs(child, out, pyds)


def _events(path: str):
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if not os.path.isfile(f):
            continue
        with open(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                continue  # removed while walking (a vacuum)
    return total
