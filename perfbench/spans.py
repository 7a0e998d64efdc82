"""Spans around calls into the package's layers, recorded from outside it.

The benchmark never edits the package. In a traced run it replaces a
layer's public functions at the names the callers look them up by (for
example ``plans.pipeline.write_table``) with wrappers that open a span, and
restores them afterwards. Each span also carries the Spark work that ran
while it was the innermost open span: every span gets its own Spark job
group, and on exit the span sums the status store's stage metrics (tasks,
task time, GC time, shuffle bytes) over that group's jobs, and the file
bytes the SQL executions of those jobs scanned.

Spark plans are lazy, so a span around a function that only builds a plan
measures planning; the work lands in whichever span forces execution. Span
names say which kind they are (``plans.plan`` vs ``plans.exec``).
"""

from __future__ import annotations

import contextlib
import functools
import os
import re
import time
from collections import defaultdict

#: stage-metric fields summed per span: name -> (StageData getter, scale)
_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "task_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
}
CURATE_STAGES = ("input", "quality", "language", "exact_dedup", "near_dup")
#: the file scan's driver-side SQL metric: bytes of the files it selected
#: after partition pruning. (The task-side input-bytes counter read a few KB
#: for a 4 MB local parquet scan here, so it is not used.)
_SCAN_METRIC = "size of files read"
_SCAN_ACC = re.compile(rf"SQLPlanMetric\({_SCAN_METRIC},(\d+),")
_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(text: str) -> float:
    """Bytes from Spark's formatted size (``"3.8 MiB"``); the first size
    when the text is a ``total (min, med, max)`` summary."""
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet file count) under ``path``."""
    total = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += n.endswith(".parquet")
    return total, files


class Tracer:
    """In-memory span recorder; while disabled, ``span`` records nothing."""

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.op: int | None = None
        #: seconds spent in the tracer's own bookkeeping (counter reads,
        #: job-group switches, output sizing)
        self.own_s = 0.0
        self.extra: dict[str, float] = {}
        self._stack: list[dict] = []
        self._next_id = 0
        #: SQL executions read from the status store and not yet charged
        #: to a span: execution id -> job ids
        self._executions: dict[int, set[int]] = {}
        self._next_execution = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span named ``<layer>.<what>``; yields its record (a
        dict the caller may add attributes to) or None when disabled."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        rec = {
            "id": self._next_id,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
        }
        self._next_id += 1
        rec["group"] = f"perfbench-span-{rec['id']}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.own_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._stage_counters(rec.pop("group")))
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(rec)
            self.own_s += time.perf_counter() - rec["end"]

    def _stage_counters(self, group: str) -> dict[str, float]:
        """Stage metrics summed over the group's jobs, and the file bytes
        scanned by the SQL executions those jobs ran."""
        from py4j.protocol import Py4JJavaError

        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        store = jsc.statusStore()
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never attempted
                continue
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
        self._read_executions()
        mine = [e for e, jobs in self._executions.items() if jobs & job_ids]
        scanned = 0.0
        for e in mine:
            del self._executions[e]
            scanned += self._scanned_bytes(e)
        out["scan_mb"] = scanned * 1e-6
        return out

    def _read_executions(self) -> None:
        """Record the job ids of SQL executions not seen yet."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        while True:
            found = sql.execution(self._next_execution)
            if found.isEmpty():
                return
            jobs = found.get().jobs().keySet().mkString(",")
            self._executions[self._next_execution] = {int(j) for j in jobs.split(",") if j}
            self._next_execution += 1

    def _scanned_bytes(self, execution: int) -> float:
        """Sum of the execution's file-scan sizes. The metric list repeats a
        plan node's metric once per plan update, hence the set of
        accumulators."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        listing = sql.execution(execution).get().metrics().mkString("\n")
        accs = {int(a) for a in _SCAN_ACC.findall(listing)}
        values = sql.executionMetrics(execution)
        total = 0.0
        for acc in accs:
            v = values.get(acc)
            if v.isDefined():
                total += parse_size(v.get())
        return total

    # ---------------------------------------------------------- patches

    def wrap(self, name: str, fn):
        """``fn`` inside a span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_write(self, fn):
        """``sinks.write_table`` inside a span that also records what the
        write left on disk (sized after the span closes)."""

        @functools.wraps(fn)
        def traced(df, path, *args, **kwargs):
            with self.span("sinks.write_table") as rec:
                out = fn(df, path, *args, **kwargs)
            if rec is not None:
                t0 = time.perf_counter()
                rec["bytes"], rec["files"] = dir_stats(path)
                self.own_s += time.perf_counter() - t0
            return out

        return traced

    def patch(self, owner, attr: str, new) -> None:
        """Replace ``owner.attr`` (module attribute or dict key) until
        ``unpatch``."""
        if isinstance(owner, dict):
            self._patches.append((owner, attr, owner[attr]))
            owner[attr] = new
        else:
            self._patches.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = old
            else:
                setattr(owner, attr, old)

    def install(self) -> None:
        """Wrap the layers' public functions at the names the package's
        own modules call them by."""
        from etl_airflow_adventureworks_spark import registry, sinks, sources
        from etl_airflow_adventureworks_spark.plans import kpis, pipeline, star

        load = sources.load_table
        for mod in (sources, pipeline, star, kpis):
            self.patch(mod, "load_table", self.wrap("sources.load_table", load))
        self.patch(sinks, "write_table", self.wrap_write(sinks.write_table))
        self.patch(pipeline, "write_table", self.wrap_write(pipeline.write_table))
        self.patch(
            pipeline, "fact_from_warehouse", self.wrap("plans.plan", pipeline.fact_from_warehouse)
        )
        registry.load_all()
        for name in list(registry.QUERIES):
            self.patch(registry.QUERIES, name, self.wrap("plans.plan", registry.QUERIES[name]))


def _self_seconds(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the time its child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def per_op_layers(spans: list[dict], cores: int) -> dict[int, dict[str, float]]:
    """Per traced op: per-layer self time, counts and Spark counters."""
    own = _self_seconds(spans)
    ops: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s["op"] is None:
            continue
        m = ops[s["op"]]
        t = own[s["id"]]
        name, layer = s["name"], s["layer"]
        if layer in ("sources", "plans", "sinks", "table", "operators"):
            m[f"{layer}.spans"] += 1
        if name == "sources.load_table":
            m["sources.load_s"] += t
        elif name == "plans.exec":
            m["plans.exec_ms"] += t * 1e3
        elif layer == "plans":
            m["plans.plan_ms"] += t * 1e3
        elif name == "sinks.write_table":
            m["sinks.write_s"] += t
            m["sinks.mb_written"] += s.get("bytes", 0) * 1e-6
            m["sinks.files_written"] += s.get("files", 0)
        elif name == "table.upsert":
            m["table.upsert_s"] += t
            m["table.files_rewritten"] += s.get("files_rewritten", 0)
            m["table.mb_rewritten"] += s.get("mb_rewritten", 0.0)
            m["table.files_visible"] = s.get("files_visible", 0)
        elif name == "operators.curate_plan":
            m["operators.plan_ms"] += t * 1e3
        elif name == "op":
            m["op_wall_s"] = s["end"] - s["start"]
        m["sources.input_mb"] += s["scan_mb"]
        for key in ("tasks", "task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb"):
            m[f"spark.{key}"] += s[key]
    for m in ops.values():
        wall = m.get("op_wall_s", 0.0)
        m["spark.core_util"] = m["spark.task_s"] / (wall * cores) if wall else 0.0
    return ops


#: every per-layer metric and its unit (a traced run prints all of them;
#: a layer the workload never calls reads 0)
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.input_mb": "MB",
    "sources.spans": "count",
    "plans.plan_ms": "ms",
    "plans.exec_ms": "ms",
    "plans.spans": "count",
    "sinks.write_s": "s",
    "sinks.mb_written": "MB",
    "sinks.files_written": "count",
    "sinks.spans": "count",
    "table.upsert_s": "s",
    "table.files_rewritten": "count",
    "table.mb_rewritten": "MB",
    "table.files_visible": "count",
    "table.spans": "count",
    "operators.plan_ms": "ms",
    "operators.spans": "count",
    **{f"operators.{st}.rows_out": "count" for st in CURATE_STAGES},
    **{f"operators.{st}.s": "s" for st in CURATE_STAGES},
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "trace.traced_ops": "count",
    "trace.untraced_ops": "count",
    "overhead.setup_s": "s",
    "overhead.op_p50_ms": "ms",
    "overhead.op_mean_ms": "ms",
    "overhead.data_mb": "MB",
}


def layer_means(tracer: Tracer, cores: int) -> dict[str, float]:
    """Mean over traced ops of every per-op layer metric (0 for a layer the
    workload never calls), plus ``tracer.extra``. A mean, not a median, so
    a layer that only some ops of a mix call still shows its share."""
    ops = per_op_layers(tracer.spans, cores)
    out: dict[str, float] = {}
    for name in PER_LAYER:
        vals = [m.get(name, 0.0) for m in ops.values()]
        out[name] = sum(vals) / len(vals) if vals else 0.0
    out.update(tracer.extra)
    return out
