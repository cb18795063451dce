"""Spans and Spark status-store metrics for the traced run.

Spans live in memory (name, start, end, parent, job group) and are
written out when the run ends. Entering a span that asks for a job
group sets it with ``setJobGroup``, so every Spark job the enclosed
calls start can be attributed to that span. After each traced job the
runner reads the jobs of those groups, their stages and their SQL
executions from Spark's status store through ``StatusReader``
(readable through py4j with ``spark.ui.enabled=false``).
"""

from __future__ import annotations

import re
import time

# plan-graph node names of operators that run Python workers
PYTHON_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "FlatMapCoGroupsInArrow", "AggregateInPandas",
                "WindowInPandas", "ArrowEvalPythonUDTF"}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")
# the spatial joins' equi-join on the point cell and the cover cell,
# which also applies the bbox prefilter as its join condition
_CELL_JOIN = re.compile(r"Join \[cell#\d+L?\], \[cell#\d+L?\]")
# minhash_lsh_pairs' distinct LSH candidate pairs
_PAIR_DISTINCT = re.compile(r"^HashAggregate\(keys=\[a#\d+L?, b#\d+L?\], "
                            r"functions=\[\]\)")


def metric_value(text: str) -> float:
    """A status-store SQL metric string as a number in base units
    (bytes, seconds or a count). Per-task metrics read
    ``total (min, med, max ...)\\n<total> (...)``; driver-side ones
    are the bare value."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """In-memory span recorder that tags Spark jobs with job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self._job = 0

    def begin_job(self) -> None:
        self._job += 1

    def span(self, name: str, group: bool = True):
        return _Span(self, name, group)


class _Span:
    def __init__(self, tracer: Tracer, name: str, group: bool):
        self.t, self.name, self.want_group = tracer, name, group

    def __enter__(self):
        t = self.t
        parent = t._stack[-1] if t._stack else None
        self.rec = {"name": self.name, "job": t._job,
                    "parent": parent["id"] if parent else None,
                    "id": len(t.spans), "group": None,
                    "start": time.perf_counter(), "end": None}
        if self.want_group:
            self.rec["group"] = f"pb{t._job}-{self.rec['id']}"
            t.sc.setJobGroup(self.rec["group"], self.name, False)
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        return self

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        if self.want_group:
            # jobs started after this span belong to the enclosing one
            outer = next((s["group"] for s in reversed(t._stack)
                          if s["group"]), None)
            if outer:
                t.sc.setJobGroup(outer, "", False)
            else:
                t.sc._jsc.clearJobGroup()
        return False


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads per-group job, stage and SQL metrics from the status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = self.sc._jvm.org.apache.spark.sql.execution.ui \
            .SQLAppStatusStore(self.store.store(), None)
        self._seen_exec = 0
        self._exec_jobs: dict = {}   # execution id -> set of job ids

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so
        the status store holds the finished jobs."""
        self.bus.waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list) -> list:
        """Completed stage attempts of these jobs (skipped stages ran
        no tasks and are left out)."""
        want = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                want.update(int(s) for s in info.stageIds)
        if not want:
            return []
        jvm = self.sc._jvm
        stages = self.store.stageList(
            None, False, False, self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        out = []
        for sd in _seq(stages):
            if sd.stageId() not in want or str(sd.status()) == "SKIPPED":
                continue
            out.append({
                "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
                "cpu_s": sd.executorCpuTime() / 1e9,
                "run_s": sd.executorRunTime() / 1e3,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_b": sd.shuffleWriteBytes(),
                "shuffle_read_b": sd.shuffleReadBytes(),
                "spill_b": sd.diskBytesSpilled(),
                "start": _opt_ms(sd.submissionTime()),
                "end": _opt_ms(sd.completionTime()),
            })
        return out

    def executions(self, job_ids: list) -> list:
        """Plan-graph summaries of the SQL executions that ran these
        jobs: codegen time, Python nodes with their rows and bytes,
        the node names (for the join / refine path), the rows through
        each spatial cell join and its refine, the broadcast cover
        rows, and minhash's distinct candidate pairs."""
        n = self.sql.executionsCount()
        if n > self._seen_exec:
            for e in _seq(self.sql.executionsList(self._seen_exec,
                                                  n - self._seen_exec)):
                self._exec_jobs[e.executionId()] = {
                    int(k) for k in _seq(e.jobs().keys())}
            self._seen_exec = n
        want = set(job_ids)
        out = []
        for eid, jobs in self._exec_jobs.items():
            if jobs & want:
                out.append(self._plan(eid))
        return out

    def _plan(self, eid: int) -> dict:
        graph = self.sql.planGraph(eid)
        values = self.sql.executionMetrics(eid)
        nodes = {}
        for node in _seq(graph.allNodes()):
            ms = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = metric_value(v.get())
            nodes[node.id()] = {"name": node.name(), "desc": node.desc(),
                                "metrics": ms}
        children: dict = {}
        parents: dict = {}
        for edge in _seq(graph.edges()):
            children.setdefault(edge.toId(), []).append(edge.fromId())
            parents.setdefault(edge.fromId(), []).append(edge.toId())

        def rows(nid):
            return nodes[nid]["metrics"].get("number of output rows", 0.0)

        def rows_out(nid):
            # Project nodes carry no row metric; descend single chains
            node = nodes.get(nid)
            while node is not None:
                if "number of output rows" in node["metrics"]:
                    return node["metrics"]["number of output rows"]
                kids = children.get(nid, [])
                if len(kids) != 1:
                    return 0.0
                nid = kids[0]
                node = nodes.get(nid)
            return 0.0

        py = []
        codegen = 0.0
        names = set()
        for nid, node in nodes.items():
            names.add(node["name"])
            if node["name"].startswith("WholeStageCodegen"):
                codegen += node["metrics"].get("duration", 0.0)
            if node["name"] in PYTHON_NODES:
                py.append({
                    "name": node["name"],
                    "rows_in": sum(rows_out(c) for c in children.get(nid, [])),
                    "rows_out": node["metrics"].get("number of output rows", 0.0),
                    "bytes_sent": node["metrics"].get(
                        "data sent to Python workers", 0.0),
                    "bytes_received": node["metrics"].get(
                        "data returned from Python workers", 0.0),
                })

        def refined(nid):
            """Rows that pass the exact refine above a cell join: the
            cogroup refine's output, the Filter over an Arrow UDF, or
            (codegen path) the join's own output, whose condition
            carries the refine as well as the bbox prefilter."""
            arrow = False
            while parents.get(nid):
                nid = parents[nid][0]
                name = nodes[nid]["name"]
                if name == "FlatMapCoGroupsInPandas":
                    return rows(nid)
                if name == "ArrowEvalPython":
                    arrow = True
                elif arrow and name == "Filter":
                    return rows(nid)
            return None

        joins, covers = [], {}
        for nid, node in nodes.items():
            if not _CELL_JOIN.search(node["desc"]):
                continue
            cand = rows(nid)
            matched = refined(nid)
            joins.append({"candidates": cand,
                          "matched": cand if matched is None else matched})
            for c in children.get(nid, []):
                if nodes[c]["name"] == "BroadcastExchange":
                    covers[c] = rows(c)
        pairs = [rows(nid) for nid, node in nodes.items()
                 if _PAIR_DISTINCT.match(node["desc"])]
        return {"id": eid, "codegen_s": codegen, "python": py,
                "nodes": sorted(names), "cell_joins": joins,
                "cover_rows": sum(covers.values()),
                "pair_candidates": min(pairs) if pairs else None}


def path_label(plans: list) -> dict:
    """The physical path an op took, read from its executed plans:
    where rows leave the JVM (cogroup, arrow or mapinpandas; codegen
    when no Python node ran) and the join strategies used."""
    names = set()
    for p in plans:
        names.update(p["nodes"])
    refine = next((label for node, label in (
        ("FlatMapCoGroupsInPandas", "cogroup"), ("ArrowEvalPython", "arrow"),
        ("MapInPandas", "mapinpandas")) if node in names), "codegen")
    joins = sorted(
        {"broadcast" for n in names if n.startswith("Broadcast") and "Join" in n}
        | {"shuffled" for n in names if n in ("SortMergeJoin", "ShuffledHashJoin")})
    return {"refine": refine, "join": joins,
            "python": sorted(names & PYTHON_NODES)}


def busy_seconds(stages: list) -> float:
    """Length of the union of the stages' [submit, complete] intervals."""
    spans = sorted((s["start"], s["end"]) for s in stages
                   if s["start"] is not None and s["end"] is not None)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
