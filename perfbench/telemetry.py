"""Spans and Spark-side telemetry for the traced benchmark run.

Everything here reads the program from outside: the benchmark times
its own calls into the program's modules, and reads Spark's public
telemetry — the application status store (jobs, stages, task
metrics), the SQL status store (per-node metrics and the executed
plan graph), each query execution's phase tracker, and a
``StreamingQueryListener`` registered by the benchmark.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
from collections import Counter, defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans (name, layer, start, end, parent, request id),
    written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name, layer, start, end, parent=None, rid=None) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "layer": layer, "start": start,
            "end": end, "parent": parent, "rid": rid,
        })
        return sid

    @contextlib.contextmanager
    def span(self, name, layer, parent=None, rid=None):
        sid = self.add(name, layer, time.time(), None, parent, rid)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def innermost(self, t: float, among: list[int]) -> int | None:
        """The shortest span in ``among`` whose interval holds ``t``."""
        best = None
        for sid in among:
            s = self.spans[sid]
            if s["start"] <= t <= s["end"] and (
                best is None
                or s["end"] - s["start"]
                < self.spans[best]["end"] - self.spans[best]["start"]
            ):
                best = sid
        return best

    def self_seconds(self, keep=lambda s: True) -> dict[str, float]:
        """Per layer: Σ (span duration − the part its children cover),
        over the spans ``keep`` selects."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: Counter = Counter()
        for s in filter(keep, self.spans):
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                a, b = max(lo, c["start"]), min(hi, c["end"])
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] += max(0.0, (hi - lo) - covered)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# -- SQL metric strings ---------------------------------------------------
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """The total of one SQL metric as the SQL status store formats it:
    ``'1,234'``, ``'8.2 MiB'``, ``'20 ms'`` or the two-line
    ``'total (min, med, max ...)\\n632 ms (...)'``. Sizes come back in
    bytes and timings in milliseconds."""
    line = text.split("\n")[-1]
    m = _VALUE_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Reads the application and SQL status stores of one session."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self.bus = jsc.listenerBus()
        self.app_store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self.no_quantiles = spark.sparkContext._gateway.new_array(
            spark._jvm.double, 0
        )

    def settle(self) -> None:
        """Wait until every posted listener event has been applied."""
        self.bus.waitUntilEmpty()

    def last_execution_id(self) -> int:
        execs = self.conv.asJava(self.sql_store.executionsList())
        return max((e.executionId() for e in execs), default=-1)

    def executions_after(self, eid: int) -> list:
        return [
            e for e in self.conv.asJava(self.sql_store.executionsList())
            if e.executionId() > eid
        ]

    def last_job_id(self) -> int:
        jobs = self.conv.asJava(self.app_store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def jobs_after(self, jid: int) -> list:
        return sorted(
            (j for j in self.conv.asJava(self.app_store.jobsList(None))
             if j.jobId() > jid),
            key=lambda j: j.jobId(),
        )

    def stages(self, job) -> list:
        out = []
        for sid in self.conv.asJava(job.stageIds()):
            for sd in self.conv.asJava(self.app_store.stageData(
                sid, False, None, False, self.no_quantiles
            )):
                if str(sd.status()) != "SKIPPED":
                    out.append(sd)
        return out

    def plan_nodes(self, eid: int) -> tuple[list[tuple], list[tuple]]:
        """(id, name, desc, {metric name: value}) per node of the
        execution's final plan graph, and its (child, parent) edges."""
        graph = self.sql_store.planGraph(eid)
        values = dict(self.conv.asJava(self.sql_store.executionMetrics(eid)))
        nodes = []
        for n in self.conv.asJava(graph.allNodes()):
            ms = {}
            for m in self.conv.asJava(n.metrics()):
                v = values.get(m.accumulatorId())
                if v is not None:
                    ms[m.name()] = ms.get(m.name(), 0.0) + metric_value(v)
            nodes.append((n.id(), n.name(), n.desc(), ms))
        edges = [(e.fromId(), e.toId()) for e in self.conv.asJava(graph.edges())]
        return nodes, edges

    def phases(self, jdf) -> dict[str, tuple[float, float]]:
        """Catalyst phase (start, end) in epoch milliseconds, from the
        DataFrame's own query execution tracker."""
        tracked = self.conv.asJava(jdf.queryExecution().tracker().phases())
        return {
            k: (v.startTimeMs(), v.endTimeMs())
            for k, v in dict(tracked).items()
        }

    def storage(self) -> tuple[int, int]:
        """(persistent RDDs, bytes they hold in memory)."""
        rdds = self.conv.asJava(self.app_store.rddList(True))
        return len(rdds), sum(r.memoryUsed() for r in rdds)


def job_window(job) -> tuple[float | None, float | None]:
    return _ms(job.submissionTime()), _ms(job.completionTime())


def stage_window(sd) -> tuple[float | None, float | None]:
    return _ms(sd.submissionTime()), _ms(sd.completionTime())


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self.lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list:
        with self.lock:
            out, self.progress = self.progress, []
        return out


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


_WRITE_NODE = "InsertIntoHadoopFsRelationCommand"


class RequestTrace:
    """Per-request spans and counters for the traced run.

    ``begin``/``end`` bracket one request; between them the workload
    calls ``step`` around its calls into the program and ``plan`` on
    each DataFrame it is about to run. ``end`` waits for the listener
    bus, then turns the jobs, stages, SQL executions and micro-batches
    of the request into child spans and per-request counters."""

    def __init__(self, spark, tracer: Tracer, parent: int) -> None:
        from mapreduceece563_spark.plans import plan_report

        self.spark = spark
        self.tracer = tracer
        self.parent = parent
        self.plan_report = plan_report
        self.probe = SparkProbe(spark)
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.records: list[dict] = []
        self.label = ""

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def begin(self, i: int) -> None:
        self.probe.settle()
        self.listener.take()
        self.eid0 = self.probe.last_execution_id()
        self.jid0 = self.probe.last_job_id()
        self.rid = i
        self.label = ""
        self.phases: list[dict] = []
        self.req = self.tracer.add("request", "client", time.time(), None,
                                   self.parent, i)
        self.stack = [self.req]

    @contextlib.contextmanager
    def step(self, name: str, layer: str):
        with self.tracer.span(name, layer, self.stack[-1], self.rid) as sid:
            self.stack.append(sid)
            try:
                yield sid
            finally:
                self.stack.pop()

    def plan(self, df) -> None:
        """Force the DataFrame's plan through the program's ``plans``
        helper and record Catalyst's phase times for it."""
        with self.step("plans.plan_report", "plans"):
            self.plan_report(df)
        self.phases.append(self.probe.phases(df._jdf))

    def end(self) -> None:
        tr, sp = self.tracer, self.tracer.spans
        sp[self.req]["end"] = time.time()
        sp[self.req]["name"] = f"request {self.label}".strip()
        self.probe.settle()
        mine = [s["id"] for s in sp[self.req:] if s["rid"] == self.rid]
        c: Counter = Counter(requests=1, wall_s=self._dur(self.req))
        for s in (sp[i] for i in mine):
            if s["name"] == "build":
                c["build_s"] += self._dur(s["id"])
            elif s["name"] == "exec":
                c["exec_s"] += self._dur(s["id"])
        for ph in self.phases:
            for k, (a_ms, b_ms) in ph.items():
                c[f"catalyst.{k}_ms"] += b_ms - a_ms
                a, b = a_ms / 1000, b_ms / 1000
                tr.add(f"catalyst.{k}", "catalyst", a, b,
                       tr.innermost(a, mine) or self.req, self.rid)
        batches = self._batches(c, mine)
        self._jobs(c, mine + batches)
        self._executions(c, batches)
        c["cache.entries"], c["cache.mem_bytes"] = self.probe.storage()
        self.records.append(dict(c))

    def _dur(self, sid: int) -> float:
        s = self.tracer.spans[sid]
        return s["end"] - s["start"]

    def _batches(self, c: Counter, parents: list[int]) -> list[int]:
        out = []
        last_state: dict = {}
        for p in self.listener.take():
            d = dict(p.durationMs)
            start = _epoch(p.timestamp)
            end = start + d.get("triggerExecution", 0) / 1000.0
            out.append(self.tracer.add(
                f"stream.batch {p.name or p.id}#{p.batchId}", "streaming",
                start, end,
                self.tracer.innermost(start, parents) or self.req, self.rid,
            ))
            c["stream.batches"] += 1
            c["stream.input_rows"] += p.numInputRows
            for key, name in (
                ("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                ("getBatch", "get_batch"), ("latestOffset", "latest_offset"),
                ("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
                ("commitOffsets", "commit_offsets"),
            ):
                c[f"stream.{name}_ms"] += d.get(key, 0)
            for op in p.stateOperators:
                c["stream.state_commit_ms"] += op.commitTimeMs
            last_state[str(p.id)] = [
                (op.numRowsTotal, op.memoryUsedBytes) for op in p.stateOperators
            ]
        for ops in last_state.values():
            for rows, mem in ops:
                c["stream.state_rows"] += rows
                c["stream.state_mem_bytes"] += mem
        if out:
            drain = sum(
                self._dur(i) for i in parents
                if self.tracer.spans[i]["name"] == "build"
            )
            c["stream.outside_batch_s"] += drain - c["stream.trigger_ms"] / 1000
        return out

    def _jobs(self, c: Counter, parents: list[int]) -> None:
        tr = self.tracer
        for job in self.probe.jobs_after(self.jid0):
            a, b = job_window(job)
            if a is None or b is None:
                continue
            jsid = tr.add(f"spark.job {job.jobId()}", "spark.job", a, b,
                          tr.innermost(a, parents) or self.req, self.rid)
            c["sched.jobs"] += 1
            for sd in self.probe.stages(job):
                sa, sb = stage_window(sd)
                if sa is None or sb is None:
                    continue
                tr.add(f"spark.stage {sd.stageId()}", "spark.stage",
                       sa, sb, jsid, self.rid)
                c["sched.stages"] += 1
                c["sched.tasks"] += sd.numCompleteTasks()
                c["sched.failed_tasks"] += sd.numFailedTasks()
                c["sched.task_ms"] += sd.executorRunTime()
                c["scan.bytes"] += sd.inputBytes()
                c["shuffle.write_records"] += sd.shuffleWriteRecords()
                c["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle.read_bytes"] += sd.shuffleReadBytes()
                c["shuffle.fetch_wait_ms"] += sd.shuffleFetchWaitTime()
                c["spill.bytes"] += sd.memoryBytesSpilled()
                if sd.inputBytes() > 0:
                    c["task_ms.scan_stages"] += sd.executorRunTime()
                if sd.shuffleReadBytes() > 0:
                    c["task_ms.shuffle_read_stages"] += sd.executorRunTime()

    def _executions(self, c: Counter, batches: list[int]) -> None:
        sp = self.tracer.spans
        hit = False
        for ex in self.probe.executions_after(self.eid0):
            t = ex.submissionTime() / 1000.0
            in_batch = any(sp[b]["start"] <= t <= sp[b]["end"] for b in batches)
            nodes, edges = self.probe.plan_nodes(ex.executionId())
            by_id = {n[0]: n for n in nodes}
            kids: dict = defaultdict(list)
            for child, parent in edges:
                kids[parent].append(child)
            for nid, name, _desc, ms in nodes:
                if name.startswith("Scan "):
                    c["plan.scans"] += 1
                    c["scan.files"] += ms.get("number of files read", 0)
                    c["scan.time_ms"] += ms.get("scan time", 0)
                elif name in ("Exchange", "BroadcastExchange"):
                    c["plan.exchanges"] += 1
                elif name == "BroadcastHashJoin":
                    c["plan.bhj"] += 1
                elif name == "SortMergeJoin":
                    c["plan.smj"] += 1
                elif name.startswith("WholeStageCodegen"):
                    c["plan.codegen_stages"] += 1
                elif name == "InMemoryTableScan":
                    hit = True
                if name == "HashAggregate":
                    c["agg.build_ms"] += ms.get("time in aggregation build", 0)
                    c["agg.peak_mem_bytes"] += ms.get("peak memory", 0)
                c["python.sent_bytes"] += ms.get("data sent to Python workers", 0)
                c["python.returned_bytes"] += ms.get(
                    "data returned from Python workers", 0)
                c["python.exec_ms"] += ms.get("time to run Python workers", 0)
                if in_batch and _WRITE_NODE in name:
                    c["sink.files"] += ms.get("number of written files", 0)
                    c["sink.bytes"] += ms.get("written output", 0)
                    c["sink.rows"] += ms.get("number of output rows", 0)
                if name == "Exchange":
                    agg = [by_id[k] for k in kids[nid]
                           if by_id[k][1] == "HashAggregate"]
                    if agg:
                        c["agg.shuffle_records"] += ms.get(
                            "shuffle records written", 0)
                        c["agg.rows_in"] += self._rows_into(agg[0][0], by_id, kids)
        c["cache.hits"] += int(hit)

    @staticmethod
    def _rows_into(nid, by_id, kids) -> float:
        """Rows flowing into node ``nid``: the output-row counts of the
        nearest descendants that report one."""
        total = 0.0
        for k in kids[nid]:
            ms = by_id[k][3]
            if "number of output rows" in ms:
                total += ms["number of output rows"]
            else:
                total += RequestTrace._rows_into(k, by_id, kids)
        return total
