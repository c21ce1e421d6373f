"""Spans for the traced run (``--trace 1``).

The benchmark wraps calls into each layer's public functions; every wrapper
opens a span and tags the Spark jobs its thread submits with the span's id
(``SparkContext.addJobTag``). After the timed phase, job, stage and SQL
plan data are read back from Spark's status stores (they work with the UI
off) and each job is attributed to the innermost span whose tag it
carries. Spark is lazy: a span around a lazy function measures its driver
plan-build time; the execution shows up under the eager span whose action
ran the job.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import re
import threading
import time

TAG_PREFIX = "perfbench-span-"
# SQL plan nodes whose metrics the per-layer report reads
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "MapInPandas")
SCAN_NODES = ("Scan ",)

# span name -> the engine layer the wrapped function belongs to
LAYER_OF = {
    "run_epoch": "epoch",
    "stage": "catalog",
    "commit_epoch": "catalog",
    "read_delta_union": "catalog",
    "read_snapshot": "catalog",
    "compact_delta": "catalog",
    "canonicalize": "dedup",
    "dedupe_new_urls": "dedup",
    "update_bloom": "dedup",
    "schedule_epoch": "scheduler",
    "extract_all_links": "links",
    "postings_bm25": "postings",
}


class Span:
    __slots__ = ("sid", "name", "parent", "depth", "t0", "t1", "jobs")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.depth = parent.depth + 1 if parent else 0
        self.t0 = self.t1 = 0.0
        self.jobs: list[dict] = []  # jobs this span owns (innermost tag)

    @property
    def layer(self) -> str:
        return LAYER_OF.get(self.name, "bench")


class Tracer:
    """Records spans in memory; ``collect`` joins them with Spark's job,
    stage and SQL metrics once the timed phase is over."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = self._stack()  # created on the thread that owns the run
        self._patches: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer itself

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        stack = self._stack()
        # a thread with no open span (run_epoch's concurrent table writes)
        # hangs its spans under the owning thread's innermost open span
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        sp = Span(next(self._ids), name, parent)
        tag = f"{TAG_PREFIX}{sp.sid}"
        self.sc.addJobTag(tag)
        stack.append(sp)
        sp.t0 = time.time()
        t_body = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += (t_body - t_in) + (time.perf_counter() - t_out)

    def patch(self, owner, attr: str) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it in a span named
        ``attr``; ``restore`` puts the original back."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(attr):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- read-back ---------------------------------------------------------
    def _mapper(self):
        jvm = self.sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        return mapper

    def collect(self) -> "Trace":
        """Read jobs, stages and SQL executions back from the status stores
        and attribute each job to its innermost tagged span."""
        mapper = self._mapper()
        store = self.sc._jsc.sc().statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        by_id = {s.sid: s for s in self.spans}
        untagged = []
        for j in jobs:
            owners = [
                by_id[int(t[len(TAG_PREFIX):])]
                for t in j.get("jobTags") or []
                if t.startswith(TAG_PREFIX) and int(t[len(TAG_PREFIX):]) in by_id
            ]
            if owners:
                max(owners, key=lambda s: s.depth).jobs.append(j)
            else:
                untagged.append(j)
        return Trace(self, mapper, jobs, stages, self._sql_nodes(mapper), untagged)

    def _sql_nodes(self, mapper) -> dict[int, list[tuple[str, dict[str, str]]]]:
        """job id -> [(plan node name, {metric name: value string})] for the
        plan nodes of the SQL execution that ran the job. Only executions
        holding Python eval or file-scan nodes are walked."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, list] = {}
        execs = sq.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            plan = e.physicalPlanDescription() or ""
            if "Python" not in plan and "Scan parquet" not in plan:
                continue
            eid = e.executionId()
            values = json.loads(mapper.writeValueAsString(sq.executionMetrics(eid)))
            nodes = []
            graph_nodes = sq.planGraph(eid).allNodes()
            for k in range(graph_nodes.size()):
                n = graph_nodes.apply(k)
                name = n.name()
                if not name.startswith(PYTHON_NODES + SCAN_NODES):
                    continue
                ms = n.metrics()
                vals = {}
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    v = values.get(str(pm.accumulatorId()))
                    if v is not None:
                        vals[pm.name()] = v
                nodes.append((name, vals))
            job_ids = json.loads(mapper.writeValueAsString(e.jobs())).keys()
            for jid in job_ids:
                out[int(jid)] = nodes
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_number(s: str) -> float:
    """Numeric total of a SQL metric string: '5,000', '117.4 KiB' or
    'total (min, med, max ...)\\n117.4 KiB (...)'. Sizes are parsed from
    Spark's rounded display (four significant digits)."""
    line = s.split("\n", 1)[1] if "\n" in s else s
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "B", 1)


class Trace:
    """Spans joined with Spark's job, stage and SQL metrics."""

    def __init__(self, tracer: Tracer, mapper, jobs, stages, sql_nodes, untagged: list[dict]):
        self._store = tracer.sc._jsc.sc().statusStore()
        self._mapper = mapper
        self.spans = tracer.spans
        self.jobs = jobs
        self.stage_by_id = {}
        for s in stages:  # keep the last attempt of each stage
            if s["stageId"] not in self.stage_by_id or s["attemptId"] > self.stage_by_id[s["stageId"]]["attemptId"]:
                self.stage_by_id[s["stageId"]] = s
        self.sql_nodes = sql_nodes
        self.untagged = untagged  # jobs that ran outside every span
        self.bookkeeping_s = tracer.bookkeeping_s
        self.children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent.sid, []).append(s)

    def named(self, name: str) -> list[Span]:
        return sorted((s for s in self.spans if s.name == name), key=lambda s: s.t0)

    def jobs_under(self, span: Span) -> list[dict]:
        """Jobs owned by ``span`` or any span below it."""
        out = list(span.jobs)
        for c in self.children.get(span.sid, []):
            out.extend(self.jobs_under(c))
        return out

    def stages_of(self, jobs) -> list[dict]:
        """Stages that ran (not skipped) for ``jobs``, each once."""
        seen, out = set(), []
        for j in jobs:
            for sid in j.get("stageIds") or []:
                st = self.stage_by_id.get(sid)
                if sid in seen or st is None or st.get("status") == "SKIPPED":
                    continue
                seen.add(sid)
                out.append(st)
        return out

    def tasks(self, stage: dict) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(
                self._store.taskList(stage["stageId"], stage["attemptId"], 1_000_000)
            )
        )

    def sql_total(self, jobs, node_prefixes: tuple[str, ...], metric: str) -> float:
        """Sum of one SQL metric over the plan nodes (by name prefix) of the
        executions that ran ``jobs``; each execution counted once."""
        done, tot = set(), 0.0
        for j in jobs:
            nodes = self.sql_nodes.get(j["jobId"])
            if nodes is None or id(nodes) in done:
                continue
            done.add(id(nodes))
            for name, vals in nodes:
                if name.startswith(node_prefixes) and metric in vals:
                    tot += metric_number(vals[metric])
        return tot

    def self_times(self, root: Span) -> dict[int, float]:
        """Self time of every span under ``root``: at each instant the wall
        is split evenly among the innermost open spans (spans with no open
        child), so concurrent writes share their interval and the self
        times of all spans under ``root`` sum to ``root``'s wall."""
        under = [root]
        i = 0
        while i < len(under):
            under.extend(self.children.get(under[i].sid, []))
            i += 1
        events = []
        for s in under:
            t0, t1 = max(s.t0, root.t0), min(s.t1, root.t1)
            if t1 > t0:
                events.append((t0, 1, s))
                events.append((t1, 0, s))
        events.sort(key=lambda e: (e[0], e[1]))
        out = {s.sid: 0.0 for s in under}
        active: dict[int, Span] = {}
        last = root.t0
        for t, kind, s in events:
            if active and t > last:
                parents = {a.parent.sid for a in active.values() if a.parent is not None}
                leaves = [a for a in active.values() if a.sid not in parents]
                share = (t - last) / len(leaves)
                for a in leaves:
                    out[a.sid] += share
            last = t
            if kind == 1:
                active[s.sid] = s
            else:
                active.pop(s.sid, None)
        return out


def job_window_ms(jobs) -> list[tuple[int, int]]:
    return [
        (j["submissionTime"], j["completionTime"])
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]


def covered_s(intervals_ms, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by the union of the ms intervals."""
    lo_ms, hi_ms = t0 * 1000.0, t1 * 1000.0
    clipped = sorted((max(a, lo_ms), min(b, hi_ms)) for a, b in intervals_ms)
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot / 1000.0
