"""Spans around calls into the program's layers, folded with Spark's own
job, stage and SQL metrics.

A span is opened around each public call the benchmark makes and, through
``sources.io.stage_observer``, around each warehouse stage.  Every span is
also a Spark job group, so the driver's REST API attributes each job, stage
and SQL node to the innermost open span.  Spans stay in memory until the
run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, sc, tag: str):
        self.sc = sc
        self.prefix = f"{GROUP_PREFIX}{tag}-"
        self.enabled = False
        self.iteration = None
        self.spans: list = []
        self._stack: list = []
        self._patches: list = []

    # -- spans ------------------------------------------------------------

    def open(self, name: str):
        if not self.enabled:
            return None
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration, "start": time.time(), "end": None,
               "count": 0}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"{self.prefix}{rec['id']}", name)
        return rec

    def close(self, rec) -> None:
        if rec is None:
            return
        rec["end"] = time.time()
        self._stack.pop()
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"{self.prefix}{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    # -- instrumentation from outside the package -------------------------

    def install(self) -> None:
        """Hook the warehouse stage observer and wrap the layer functions the
        program calls internally.  Wrapping replaces every module-level
        reference to the function, so ``from x import f`` copies are
        covered; behaviour is unchanged."""
        from scrapontologies_spark.sources import io

        open_stages: list = []

        def observer(stage: str, event: str) -> None:
            if event == "start":
                open_stages.append(self.open(f"io.{stage}"))
            else:
                self.close(open_stages.pop())

        self._patches.append((io, "stage_observer", io.stage_observer))
        io.stage_observer = observer
        self._wrap("scrapontologies_spark.operators.schema_merge", "global_schema",
                   "schema_merge.global_schema")
        self._wrap("scrapontologies_spark.operators.cc", "connected_components",
                   "cc.connected_components")
        # one large-star step per CC round: counted on the enclosing span
        self._wrap("scrapontologies_spark.operators.cc", "_large_star", None)

    def _wrap(self, module: str, attr: str, span_name) -> None:
        orig = getattr(importlib.import_module(module), attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if span_name is None:
                if tracer.enabled and tracer._stack:
                    tracer.spans[tracer._stack[-1]]["count"] += 1
                return orig(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("scrapontologies_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
                self._patches.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patches):
            setattr(mod, attr, orig)
        self._patches.clear()


# --- Spark REST API --------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def fetch_spark(sc) -> dict:
    """Jobs, completed stages and SQL executions of this application, read
    once the listener bus has caught up with every submitted job."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + 20
    while True:
        jobs = _get(base + "/jobs")
        if not any(j["status"] == "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.3)
    stages = [s for s in _get(base + "/stages") if s["status"] == "COMPLETE"]
    sql = _get(base + "/sql?details=true&planDescription=true&offset=0&length=1000000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _epoch(ts):
    if not ts:
        return None
    return datetime.strptime(ts[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
_QTY = r"([\d.,]+)\s*([A-Za-z]*)"


def _qty(text: str) -> float:
    m = re.match(_QTY, text.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def parse_sql_metric(value: str) -> dict:
    """'total (min, med, max (stageId: taskId))\\n10.5 s (2.4 s, 2.7 s, 2.9 s
    (stage 0.0: task 3))' or a bare '196 ms' / '41,713' → base units."""
    lines = value.strip().split("\n")
    if len(lines) == 2 and lines[0].startswith("total"):
        m = re.match(r"(.+?) \((.+?), (.+?), (.+?) \(stage (\d+)\.\d+", lines[1])
        if m:
            return {"total": _qty(m.group(1)), "med": _qty(m.group(3)),
                    "max": _qty(m.group(4)), "stage": int(m.group(5))}
    v = _qty(lines[-1])
    return {"total": v, "med": v, "max": v, "stage": None}


# --- folding ---------------------------------------------------------------

def _union_len(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of the intervals, each first clipped to [lo, hi]."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class Folded:
    """Spans joined with the Spark data they caused."""

    def __init__(self, tracer: Tracer, spark_data: dict):
        spans = self.spans = tracer.spans
        self.children = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.stage = {}
        for st in spark_data["stages"]:
            agg = self.stage.setdefault(st["stageId"], defaultdict(float))
            for k in ("numTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
                      "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
                      "diskBytesSpilled"):
                agg[k] += st.get(k, 0)
        self.jobs = defaultdict(list)   # span id → jobs whose group is that span
        span_of_job = {}
        for j in spark_data["jobs"]:
            g = j.get("jobGroup") or ""
            if g.startswith(tracer.prefix):
                sid = int(g[len(tracer.prefix):])
                self.jobs[sid].append(j)
                span_of_job[j["jobId"]] = sid
        self.sql = defaultdict(list)    # span id → SQL executions
        for e in spark_data["sql"]:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
            sids = {span_of_job[i] for i in ids if i in span_of_job}
            if sids:
                self.sql[min(sids)].append(e)

    def subtree(self, sid: int) -> list:
        """sid and its descendants, in the order they were opened."""
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x])
        return sorted(out)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        """Duration minus the time the children cover, unclipped: a child
        that outlives its parent makes this negative."""
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[sid]]
        return self.duration(sid) - _union_len(kids)

    def nested(self, sid: int) -> bool:
        """Whether the span lies inside its parent's [start, end]."""
        s = self.spans[sid]
        if s["parent"] is None:
            return True
        p = self.spans[s["parent"]]
        return p["start"] <= s["start"] <= s["end"] <= p["end"]

    def jobs_in(self, sid: int) -> list:
        return [j for i in self.subtree(sid) for j in self.jobs[i]]

    def sql_in(self, sid: int, deep: bool = True) -> list:
        ids = self.subtree(sid) if deep else [sid]
        return [e for i in ids for e in self.sql[i]]

    def stage_ids(self, sid: int) -> set:
        """Completed (not skipped) stages of the jobs in the span's subtree."""
        return {st for j in self.jobs_in(sid) for st in j["stageIds"] if st in self.stage}

    def stage_sum(self, sid: int, key: str) -> float:
        return sum(self.stage[st][key] for st in self.stage_ids(sid))

    def own_job_time(self, sid: int) -> float:
        """Summed duration of the jobs run directly in the span."""
        return sum(_epoch(j["completionTime"]) - _epoch(j["submissionTime"])
                   for j in self.jobs[sid] if j.get("completionTime"))

    def uncovered(self, sid: int) -> float:
        """Span time during which no Spark job of the span was running."""
        s = self.spans[sid]
        iv = [(_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
              for j in self.jobs_in(sid) if j.get("completionTime")]
        return self.duration(sid) - _union_len(iv, s["start"], s["end"])

    def find(self, root: int, name: str) -> list:
        return [i for i in self.subtree(root) if self.spans[i]["name"] == name]

    def python_nodes(self, sid: int) -> list:
        """Metrics of the MapInPandas nodes of the span's own SQL executions."""
        out = []
        for e in self.sql_in(sid, deep=False):
            for n in e.get("nodes", []):
                if n["nodeName"] == "MapInPandas":
                    out.append({m["name"]: parse_sql_metric(m["value"]) for m in n["metrics"]})
        return out


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def op_layers(f: Folded, op: int) -> dict:
    """Per-layer numbers for one traced operation (a top-level span)."""
    m: dict = {}
    mb = 1e6
    # extraction: the fused MapInPandas where it runs (pipeline cache fill
    # or the warehouse 'extracted' stage); schema reduce nodes are excluded
    ext_spans = f.find(op, "run_pipeline") + f.find(op, "io.extracted")
    nodes = [n for s in ext_spans for n in f.python_nodes(s)]
    nodes = [n for n in nodes if n.get("number of output rows", {}).get("total", 0) > 0]
    run = [n["time to run Python workers"] for n in nodes if "time to run Python workers" in n]
    m["extract.wall_s"] = sum(
        e["duration"] for s in ext_spans for e in f.sql_in(s, deep=False)
        if any(n["nodeName"] == "MapInPandas" for n in e.get("nodes", []))) / 1e3
    m["extract.python_tasks"] = sum(
        f.stage[r["stage"]]["numTasks"] if r["stage"] in f.stage else 1
        for r in run if r["total"] > 0)
    m["extract.python_exec_s"] = sum(r["total"] for r in run)

    def node_sum(metric):
        return sum(n.get(metric, {}).get("total", 0) for n in nodes)

    m["extract.arrow_mb_to_py"] = node_sum("data sent to Python workers") / mb
    m["extract.arrow_mb_from_py"] = node_sum("data returned from Python workers") / mb
    m["extract.rows_out"] = node_sum("number of output rows")
    m["extract.task_max_over_p50"] = max(
        (r["max"] / r["med"] for r in run if r["med"] > 0), default=0.0)

    gs = f.find(op, "schema_merge.global_schema")
    m["schema_merge.global_s"] = sum(f.duration(s) for s in gs)
    m["schema_merge.python_tasks"] = sum(f.stage_sum(s, "numTasks") for s in gs)

    pipes = f.find(op, "run_pipeline")
    m["pipeline.cache_fill_s"] = sum(f.own_job_time(s) for s in pipes)
    m["pipeline.spark_jobs"] = len(f.jobs_in(op))
    m["pipeline.spark_stages"] = len(f.stage_ids(op))
    m["pipeline.driver_s"] = f.uncovered(op)

    # warehouse stages: the first (cold) build of each; a resumed rebuild of
    # the same stage later in the operation is the job layer's resume_s
    seen: dict = {}
    lineage = 0.0
    for s in f.subtree(op):
        name = f.spans[s]["name"]
        if name.startswith("io."):
            seen.setdefault(name[3:], f.duration(s))
            lineage += sum(e["duration"] for e in f.sql_in(s)
                           if "/_lineage/" in e.get("planDescription", "")
                           or "/_metrics/" in e.get("planDescription", "")) / 1e3
    for stage in IO_STAGES:
        m[f"io.stage_s.{stage}"] = seen.get(stage, 0.0)
    m["io.lineage_s"] = lineage
    m["link.entities_s"] = seen.get("entities", 0.0)
    m["link.ri_s"] = seen.get("triples", 0.0)
    m["cc.canonicalize_s"] = seen.get("entities_canonical", 0.0)

    ccs = f.find(op, "cc.connected_components")
    m["cc.rounds"] = sum(f.spans[s]["count"] for s in ccs)
    m["cc.spark_stages"] = sum(len(f.stage_ids(s)) for s in ccs)
    m["cc.wall_s"] = sum(f.duration(s) for s in ccs)
    m["cc.wall_share"] = m["cc.wall_s"] / f.duration(op)
    m["cc.executor_cpu_s"] = sum(f.stage_sum(s, "executorCpuTime") for s in ccs) / 1e9

    m["spark.tasks"] = f.stage_sum(op, "numTasks")
    m["spark.executor_run_s"] = f.stage_sum(op, "executorRunTime") / 1e3
    m["spark.executor_cpu_s"] = f.stage_sum(op, "executorCpuTime") / 1e9
    m["spark.jvm_gc_s"] = f.stage_sum(op, "jvmGcTime") / 1e3
    m["spark.shuffle_read_mb"] = f.stage_sum(op, "shuffleReadBytes") / mb
    m["spark.shuffle_write_mb"] = f.stage_sum(op, "shuffleWriteBytes") / mb
    m["spark.spill_mb"] = (f.stage_sum(op, "memoryBytesSpilled")
                           + f.stage_sum(op, "diskBytesSpilled")) / mb
    m["files.scan_s"] = sum(f.duration(s) for s in f.find(op, "corpus_from_files"))
    return m


IO_STAGES = ("extracted", "triples_raw", "doc_entities", "entities", "alias_labels",
             "entities_canonical", "triples", "doc_schemas", "global_schema",
             "containment_triples")


def fold_ops(f: Folded) -> dict:
    """Median over traced operations of each per-operation layer number."""
    ops = [s["id"] for s in f.spans if s["parent"] is None and s["name"] == "op"]
    per_op = [op_layers(f, op) for op in ops]
    keys = per_op[0].keys() if per_op else ()
    return {k: median([p[k] for p in per_op]) for k in keys}


def span_records(f: Folded) -> list:
    """Spans as written out at the end of a traced run, with self time."""
    return [{"id": s["id"], "name": s["name"], "parent": s["parent"],
             "iteration": s["iteration"], "start": s["start"], "end": s["end"],
             "self_s": f.self_time(s["id"]), "nested": f.nested(s["id"]),
             "spark_jobs": len(f.jobs[s["id"]])}
            for s in f.spans]
