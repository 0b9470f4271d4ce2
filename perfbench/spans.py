"""Tracing for the ``--trace 1`` runs.

Spans are recorded from the benchmark's own files: ``install`` wraps
the public functions of each layer (the names in ``TARGETS``) with a
timing proxy, only in a traced run, and puts the originals back at
the end.  A span has a name, start, end, parent and request id; spans
stay in memory until the run ends, when ``write`` puts them in a file.

Each span sets a Spark job group of its own on the calling thread, so
every job Spark runs inside it is attributed to the innermost open
span.  After the run, ``SparkStatus`` reads jobs, stages, tasks, bytes
and SQL plan metrics from Spark's status store and sums them per span.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import re
import sys
import threading
import time
from dataclasses import dataclass, field

# layer span name -> (module, attribute); "Class.method" patches a method
TARGETS = {
    "feature_store.historical_build": (
        "feast_spark.feature_store", "FeatureStore.get_historical_features"),
    "feature_store.online": (
        "feast_spark.feature_store", "FeatureStore.get_online_features"),
    "feature_store.to_parquet": (
        "feast_spark.feature_store", "RetrievalJob.to_parquet"),
    "operators.asof_join": ("feast_spark.operators.asof_join", "as_of_join"),
    "operators.dedup": ("feast_spark.operators.dedup", "latest_per_key"),
    "online.store.read": ("feast_spark.online.store", "OnlineStore.online_read"),
    "online.store.write": (
        "feast_spark.online.store", "OnlineStore.online_write_batch"),
    "io.manifest.read": (
        "feast_spark.io.manifest", "ManifestedParquetTable.current_path"),
    "io.manifest.commit": (
        "feast_spark.io.manifest", "ManifestedParquetTable.commit"),
    "io.pread": ("feast_spark.io.pread", "read_parquet_memo"),
    "io.localframe.ensure_local": ("feast_spark.io.localframe", "ensure_local"),
    "io.model_cache": ("feast_spark.io.model_cache", "get_or_load"),
    "operators.bm25": ("feast_spark.operators.bm25", "hybrid_index_topk_batch"),
    # the fused call is lazy: its jobs run when the coalescer collects
    "serving.coalescer.batch": (
        "feast_spark.serving", "HybridQueryCoalescer._serve_batch"),
    "pipelines.corpus": ("feast_spark.pipelines.corpus", "build_corpus"),
}

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    req: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its children cover (overlapping children count once,
    and a child running past its parent counts only inside it)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    def span(self, name, req=None, **attrs):
        return contextlib.nullcontext()

    def attach(self, spark):
        pass

    def serve(self, server):
        pass

    def mark(self, phase):
        pass

    def planned(self, df):
        pass

    @contextlib.contextmanager
    def paused(self):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None
        self.plans: list[tuple[float, float]] = []  # (plan_s, start)
        self.marks: dict[str, float] = {}

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _off(self) -> bool:
        return getattr(self._local, "off", False)

    @contextlib.contextmanager
    def paused(self):
        """Record nothing on this thread inside the block."""
        prev = self._off()
        self._local.off = True
        try:
            yield
        finally:
            self._local.off = prev

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if self._off():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        s = Span(
            id=next(self._ids), name=name, start=time.monotonic(),
            parent=parent.id if parent else None,
            req=req or (parent.req if parent else None), attrs=dict(attrs),
        )
        prev_group = None
        if self.sc is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"pb-{s.id}")
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(s)

    # -- hooks used by the workloads -----------------------------------
    def attach(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.install()

    def mark(self, phase: str) -> None:
        self.marks[phase] = time.monotonic()

    def planned(self, df) -> None:
        """Time Catalyst planning of ``df`` on its own, before the
        action plans it again."""
        if self._off():
            return
        t0 = time.monotonic()
        df._jdf.queryExecution().executedPlan()
        self.plans.append((time.monotonic() - t0, t0))

    def serve(self, server) -> None:
        """Wrap the HTTP handler so each request is one span carrying
        the load generator's request id; odd-numbered requests run
        untraced, which gives the tracing overhead within one phase."""
        handler = server._httpd.RequestHandlerClass
        original = handler.do_POST
        tracer = self

        def do_post(h):
            req = h.headers.get("X-Request-Id")
            untraced = req is not None and int(req.rsplit("-", 1)[1]) % 2 == 1
            if untraced:
                with tracer.paused():
                    return original(h)
            with tracer.span("serving.handler", req=req, path=h.path):
                return original(h)

        handler.do_POST = do_post
        self._patched.append((handler, "do_POST", original))

    # -- proxies -------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self
        memo = None
        if name == "io.pread":
            from feast_spark.io import pread

            memo = pread._DF_MEMO

        def proxy(*args, **kwargs):
            if tracer._off():
                return fn(*args, **kwargs)
            # a memo hit returns a frame the memo already held
            held = {id(v) for v in memo.values()} if memo is not None else ()
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if memo is not None:
                    s.attrs["hit"] = id(out) in held
                return out

        proxy.__wrapped__ = fn
        proxy.__name__ = getattr(fn, "__name__", name)
        return proxy

    def install(self) -> None:
        for name, (mod_name, attr) in TARGETS.items():
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                original = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(name, original))
                self._patched.append((cls, meth, original))
                continue
            original = getattr(mod, attr)
            proxy = self._wrap(name, original)
            # replace every module-level reference (from-imports too)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("feast_spark") and (
                    getattr(m, attr, None) is original
                ):
                    setattr(m, attr, proxy)
                    self._patched.append((m, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reporting -----------------------------------------------------
    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        import json
        import os

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "req": s.req, **s.attrs,
                }) + "\n")

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def layer_metrics(self, work) -> dict:
        import layers

        self.uninstall()
        status = SparkStatus(self.spark, self)
        return layers.compute(work, self, status)


def _seq(obj) -> list:
    """A Scala Seq from py4j as a Python list."""
    return [obj.apply(i) for i in range(obj.size())]


def _opt(obj):
    return obj.get() if obj.isDefined() else None


_UNITS_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_timing(text: str) -> float:
    """Seconds in the total of a formatted SQL timing metric, e.g.
    ``"total (min, med, max ...)\\n1.2 s (...)"`` or ``"350 ms"``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*(ns|ms|s|m|h)\b", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS_S[m.group(2)]


def parse_count(text: str) -> int:
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,]+)", line)
    return int(m.group(1).replace(",", "")) if m else 0


class SparkStatus:
    """Jobs, stages, tasks and SQL metrics of the traced run, from the
    status store, keyed by the span whose job group ran them."""

    def __init__(self, spark, tracer: Tracer):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        self.job_span: dict[int, int] = {}
        self.jobs: dict[int, dict] = {}
        for j in _seq(store.jobsList(None)):
            group = _opt(j.jobGroup())
            if not group or not group.startswith("pb-"):
                continue
            sid = int(group[3:])
            jid = j.jobId()
            self.job_span[jid] = sid
            self.jobs[jid] = {
                "span": sid,
                "stages": [s for s in _seq(j.stageIds())],
                "tasks": j.numTasks(),
            }
        wanted = {s for j in self.jobs.values() for s in j["stages"]}
        self.stages: dict[int, dict] = {}
        for sid in sorted(wanted):
            st = store.lastStageAttempt(sid)
            self.stages[sid] = {
                "attempt": st.attemptId(),
                "tasks": st.numCompleteTasks(),
                "input_bytes": st.inputBytes(),
                "input_records": st.inputRecords(),
                "shuffle_read": st.shuffleReadBytes(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "run_ms": st.executorRunTime(),
            }
        self._store = store
        self.sql = self._sql(spark)

    def _sql(self, spark) -> list[dict]:
        store = spark._jsparkSession.sharedState().statusStore()
        out = []
        for ex in _seq(store.executionsList()):
            job_ids = []
            it = ex.jobs().keysIterator()
            while it.hasNext():
                job_ids.append(int(it.next()))
            spans = {self.job_span[j] for j in job_ids if j in self.job_span}
            if not spans:
                continue
            plan = ex.physicalPlanDescription() or ""
            python_s = 0.0
            values = store.executionMetrics(ex.executionId())
            for m in _seq(ex.metrics()):
                if m.name() == "time to run Python workers":
                    v = _opt(values.get(m.accumulatorId()))
                    python_s += parse_timing(v) if v else 0.0
            scan_rows: dict[str, int] = {}
            for node in _seq(store.planGraph(ex.executionId()).allNodes()):
                if not node.name().startswith("Scan parquet"):
                    continue
                # the scanned columns name the table (the location in
                # the description is cut short)
                m = re.match(r"FileScan \w+ \[([^\]]*)\]", node.desc())
                key = ",".join(
                    c.split("#")[0] for c in (m.group(1).split(",") if m else [])
                )
                for metric in _seq(node.metrics()):
                    if metric.name() == "number of output rows":
                        v = _opt(values.get(metric.accumulatorId()))
                        scan_rows[key] = scan_rows.get(key, 0) + (
                            parse_count(v) if v else 0
                        )
            out.append({
                "spans": spans,
                "scan_rows": scan_rows,  # scanned columns -> rows
                "exchanges": len(re.findall(r"^\(\d+\) \w*Exchange", plan, re.M)),
                "cached_scans": len(
                    re.findall(r"^\(\d+\) InMemoryTableScan", plan, re.M)
                ),
                "python_s": python_s,
            })
        return out

    def task_skew(self, stage_ids) -> float:
        """Max over median task duration in the stage that ran longest."""
        stage_ids = [s for s in stage_ids if s in self.stages]
        if not stage_ids:
            return 0.0
        big = max(stage_ids, key=lambda s: self.stages[s]["run_ms"])
        tasks = _seq(self._store.taskList(big, self.stages[big]["attempt"], 100000))
        durs = sorted(d for d in (_opt(t.duration()) for t in tasks) if d)
        if not durs:
            return 0.0
        med = durs[len(durs) // 2]
        return durs[-1] / med if med else 0.0
