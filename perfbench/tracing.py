"""Layer spans and the Spark event-log fold of the traced run.

``Tracer.install`` wraps each layer's public entry point at the name it
is looked up by (``plans.round`` binds ``schedule_round``,
``fetch_and_validate`` and ``probe_and_update`` at import, so they are
wrapped there). Each wrapper records a span (name, layer, start, end,
parent) in memory and labels the Spark jobs submitted inside it: the job
description is set to the span name and the local property
``perfbench.span`` to the span id. Both are thread-local, so the round's
parallel commit threads label their own merge and append jobs.

After the session stops, ``fold`` reads the uncompressed event log and
folds every job into the span that submitted it. Spans around lazy
functions only time plan building, so executor time is attributed by the
SQL operators that ran in each stage, found through the stage's SQL
metric accumulators: the Python worker run time of ``MapInPandas`` goes
to fetch, of ``FlatMapCoGroupsInPandas`` to the seen probe and of
``ArrowEvalPython`` to the URL canonicalizer; the executor run time of
stages that run a ``Window`` goes to politeness.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_KEY = "perfbench.span"
# SQL operator -> layer whose Python worker run time it carries
PYTHON_OPERATORS = {"MapInPandas": "fetch",
                    "FlatMapCoGroupsInPandas": "seen",
                    "ArrowEvalPython": "urls"}
PLAN_EVENTS = ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
               "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")
LAYERS = ("round", "politeness", "urls", "fetch", "seen", "tables")
APPENDED = ("archive", "seen_filters", "results", "lineage")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    op: int | None
    t0: float
    t1: float = 0.0
    info: dict = field(default_factory=dict)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if b > lo and a < hi]


class Tracer:
    def __init__(self, work: str):
        self.event_dir = os.path.join(work, "events")
        os.makedirs(self.event_dir)
        self.report_dir = os.path.join(os.path.dirname(work), "reports")
        self.spans: list[Span] = []
        self.op: int | None = None
        self.op_results: dict[int, dict] = {}
        self._local = threading.local()
        self._local.stack = []
        self._main_stack = self._local.stack
        self._lock = threading.Lock()
        self._sc = None

    def spark_conf(self) -> dict:
        return {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false"}

    # ---- spans ------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        # a commit thread has no span of its own yet: its parent is the
        # span the main thread is blocked in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, layer,
                      parent.id if parent else None, self.op, time.time())
            self.spans.append(sp)
        stack.append(sp)
        self._sc.setLocalProperty(SPAN_KEY, str(sp.id))
        self._sc.setJobDescription(name)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            prev = stack[-1] if stack else None
            self._sc.setLocalProperty(SPAN_KEY, str(prev.id) if prev else None)
            self._sc.setJobDescription(prev.name if prev else None)

    def begin_op(self, index: int) -> None:
        self.op = index

    def end_op(self, result: dict) -> None:
        self.op_results[self.op] = result
        self.op = None

    def _wrap(self, owner, attr: str, layer: str, name=None,
              tracks_files: bool = False):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args) if name else f"{layer}.{attr}"
            with self.span(label, layer) as sp:
                if not tracks_files:
                    return orig(*args, **kwargs)
                table = args[0]
                before = {f["path"] for f in table._live_files()}
                version = orig(*args, **kwargs)
                files = table._manifest(version)["files"]
                new = [f["path"] for f in files if f["path"] not in before]
                sp.info.update(
                    live_files=len(files), files_written=len(new),
                    bytes_written=sum(os.path.getsize(os.path.join(table.dir, p))
                                      for p in new))
                return version

        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        from hyperion_crawler_spark.plans import loop, round as rnd
        from hyperion_crawler_spark.sources.tables import Catalog, SnapshotTable

        self._sc = spark.sparkContext
        self._wrap(loop, "run_round", "round", name=lambda a: "round")
        self._wrap(rnd, "schedule_round", "politeness")
        self._wrap(rnd, "canonical_url_rows", "urls")
        self._wrap(rnd, "fetch_and_validate", "fetch")
        self._wrap(rnd, "probe_and_update", "seen")
        # a table call's span also records the data files it added
        self._wrap(SnapshotTable, "merge", "tables", tracks_files=True,
                   name=lambda a: f"tables.merge.{a[0].name}")
        self._wrap(SnapshotTable, "append", "tables", tracks_files=True,
                   name=lambda a: f"tables.append.{a[0].name}")
        self._wrap(Catalog, "commit_round", "tables",
                   name=lambda a: "tables.commit_round")

    # ---- event log ----------------------------------------------------
    def _read_event_log(self) -> tuple[dict, dict]:
        """Jobs (span label, submit and end time, stage ids) and completed
        stages (executor run time, tasks, shuffle write, spill, and per SQL
        operator the Python worker run and start-up seconds)."""
        paths = glob.glob(os.path.join(self.event_dir, "*"))
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log, found {paths}")
        jobs: dict[int, dict] = {}
        stages: dict[int, dict] = {}
        metric_node: dict[int, str] = {}     # SQL metric accumulator -> operator

        def plan_metrics(node):
            for m in node.get("metrics", []):
                metric_node[m["accumulatorId"]] = node["nodeName"]
            for child in node.get("children", []):
                plan_metrics(child)

        def stage(sid):
            return stages.setdefault(sid, {"ops": set(), "exec_s": 0.0, "tasks": 0,
                                           "shuffle_write": 0, "spill": 0,
                                           "py_run_s": {}, "py_init_s": 0.0})

        with open(paths[0]) as fh:
            events = [json.loads(line) for line in fh]
        # adaptive re-planning logs a stage's operators after the stage
        for ev in events:
            if ev["Event"] in PLAN_EVENTS:
                plan_metrics(ev["sparkPlanInfo"])
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_KEY)
                jobs[ev["Job ID"]] = {
                    "span": int(span) if span is not None else None,
                    "t0": ev["Submission Time"] / 1e3, "t1": None,
                    "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stage(ev["Stage ID"])
                st["tasks"] += 1
                st["exec_s"] += m.get("Executor Run Time", 0) / 1e3
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
                st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stage(info["Stage ID"])
                for acc in info.get("Accumulables", []):
                    op = metric_node.get(acc["ID"])
                    if op is None:
                        continue
                    st["ops"].add(op)
                    if acc["Name"] == "time to run Python workers":
                        st["py_run_s"][op] = (st["py_run_s"].get(op, 0.0)
                                              + float(acc["Value"]) / 1e3)
                    elif acc["Name"] in ("time to start Python workers",
                                         "time to initialize Python workers"):
                        st["py_init_s"] += float(acc["Value"]) / 1e3
        return jobs, stages

    # ---- fold -----------------------------------------------------------
    def fold(self, cores: int) -> dict:
        """Per-op metrics folded from spans and the event log; returns
        ``{name: (median over ops, unit)}`` and keeps the per-op table
        for the report."""
        jobs, stages = self._read_event_log()
        by_id = {s.id: s for s in self.spans}
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        owned: set[int] = set()
        per_op = []
        for op, result in sorted(self.op_results.items()):
            spans = [s for s in self.spans if s.op == op]
            rnd = next((s for s in spans if s.layer == "round"), None)
            if rnd is None:
                continue                          # the op raised before its round
            lo, hi = rnd.t0, rnd.t1
            wall = hi - lo
            ids = {s.id for s in spans}
            op_jobs = [j for j in jobs.values() if j["span"] in ids]
            # a job submitted inside the op window without a span label
            # would be lost to the fold; the self-test requires none
            stray = [j for j in jobs.values() if j["span"] not in ids
                     and lo <= j["t0"] <= hi]
            job_stages = {sid for j in op_jobs for sid in j["stages"]} - owned
            owned |= job_stages
            layer_exec = dict.fromkeys(LAYERS, 0.0)
            tot = {"exec_s": 0.0, "tasks": 0, "shuffle_write": 0, "spill": 0,
                   "py_run_s": 0.0, "py_init_s": 0.0}
            for sid in job_stages:
                st = stages.get(sid)
                if st is None:
                    continue                      # skipped stage
                for k in ("exec_s", "tasks", "shuffle_write", "spill", "py_init_s"):
                    tot[k] += st[k]
                for op_name, secs in st["py_run_s"].items():
                    tot["py_run_s"] += secs
                    if op_name in PYTHON_OPERATORS:
                        layer_exec[PYTHON_OPERATORS[op_name]] += secs
                if "Window" in st["ops"]:
                    layer_exec["politeness"] += st["exec_s"]
            job_iv = [(j["t0"], j["t1"] or hi) for j in op_jobs]
            self_by_layer = dict.fromkeys(LAYERS, 0.0)
            build_by_layer = dict.fromkeys(LAYERS, 0.0)
            for s in spans:
                kids = [(c.t0, c.t1) for c in children.get(s.id, ())]
                self_by_layer[s.layer] += (s.t1 - s.t0) - _union(_clip(kids, s.t0, s.t1))
                build_by_layer[s.layer] += s.t1 - s.t0
            tables = [s for s in spans if s.layer == "tables"]

            def table_s(kind, name):
                return sum(s.t1 - s.t0 for s in tables
                           if s.name == f"tables.{kind}.{name}")

            timing = result.get("timing", {})
            sched = result.get("scheduled") or 0
            fetched = result.get("fetched") or 0
            disc = result.get("discovered") or 0
            bytes_written = sum(s.info.get("bytes_written", 0) for s in tables)
            m = {
                "round.wall_s": (wall, "s"),
                "round.self_s": (self_by_layer["round"], "s"),
                "round.plan_build_s": (timing.get("plan_build", 0.0), "s"),
                "round.compute_metrics_s": (timing.get("compute_metrics", 0.0), "s"),
                "round.commit_tables_s": (timing.get("commit_tables", 0.0), "s"),
                "round.write_lineage_s": (timing.get("write_lineage", 0.0), "s"),
                "round.jobs": (len(op_jobs), "count"),
                "round.tasks": (tot["tasks"], "count"),
                "round.no_job_s": (wall - _union(_clip(job_iv, lo, hi)), "s"),
                "round.exec_s": (tot["exec_s"], "s"),
                "round.core_util": (tot["exec_s"] / (wall * cores), "ratio"),
                "round.shuffle_write_bytes": (tot["shuffle_write"], "B"),
                "round.spill_bytes": (tot["spill"], "B"),
                "round.python_run_s": (tot["py_run_s"], "s"),
                "round.python_init_s": (tot["py_init_s"], "s"),
                "politeness.build_s": (build_by_layer["politeness"], "s"),
                "politeness.window_exec_s": (layer_exec["politeness"], "s"),
                "urls.canonical_build_s": (build_by_layer["urls"], "s"),
                "urls.udf_exec_s": (layer_exec["urls"], "s"),
                "fetch.call_s": (build_by_layer["fetch"], "s"),
                "fetch.kernel_exec_s": (layer_exec["fetch"], "s"),
                "fetch.kernel_share": (layer_exec["fetch"] / max(tot["exec_s"], 1e-9), "ratio"),
                "fetch.scheduled": (sched, "count"),
                "fetch.fetched": (fetched, "count"),
                "fetch.fetched_frac": (fetched / max(sched, 1), "ratio"),
                "fetch.kernel_us_per_url": (layer_exec["fetch"] * 1e6 / max(sched, 1), "us/URL"),
                "seen.build_s": (build_by_layer["seen"], "s"),
                "seen.probe_exec_s": (layer_exec["seen"], "s"),
                "seen.candidates": (disc, "count"),
                "seen.new_frac": ((result.get("new_urls") or 0) / max(disc, 1), "ratio"),
                "seen.filter_bytes_appended": (sum(
                    s.info.get("bytes_written", 0) for s in tables
                    if s.name == "tables.append.seen_filters"), "B"),
                "tables.merge_s.frontier": (table_s("merge", "frontier"), "s"),
                **{f"tables.append_s.{t}": (table_s("append", t), "s") for t in APPENDED},
                "tables.commit_round_s": (sum(s.t1 - s.t0 for s in tables
                                              if s.name == "tables.commit_round"), "s"),
                "tables.self_s": (self_by_layer["tables"], "s"),
                "tables.jobs": (sum(by_id[j["span"]].layer == "tables" for j in op_jobs), "count"),
                "tables.bytes_written": (bytes_written, "B"),
                "tables.files_written": (sum(s.info.get("files_written", 0) for s in tables), "count"),
                "tables.bytes_per_fetched_url": (bytes_written / max(fetched, 1), "B/URL"),
                "tables.frontier_live_files": (max((s.info.get("live_files", 0) for s in tables
                                                    if s.name == "tables.merge.frontier"),
                                                   default=0), "count"),
                "trace.unlabelled_jobs": (len(stray), "count"),
                "trace.self_share": (sum(self_by_layer.values()) / wall, "ratio"),
                "trace.phase_share": (sum(timing.values()) / wall, "ratio"),
            }
            per_op.append(m)
        self.per_op = per_op
        if not per_op:
            return {}
        return {k: (statistics.median(m[k][0] for m in per_op), u)
                for k, (_, u) in per_op[0].items()}

    def write_report(self, workload: str, seed: int, metrics: dict) -> str:
        os.makedirs(self.report_dir, exist_ok=True)
        path = os.path.join(self.report_dir, f"{workload}-seed{seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": workload, "seed": seed,
                       "metrics": {k: v for k, (v, _) in metrics.items()},
                       "per_op": [{k: v for k, (v, _) in m.items()} for m in self.per_op],
                       "spans": [vars(s) for s in self.spans if s.op is not None]},
                      fh, indent=1, default=str)
        return path
