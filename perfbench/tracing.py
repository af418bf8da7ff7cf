"""Per-layer tracing taken from outside the program.

The tracer wraps the public functions of each layer (module attributes
of the engine package) for the length of one traced execution. A
wrapper opens a span, calls the real function and, when it returns a
DataFrame, persists and counts it inside the span, so each layer
boundary is materialized in turn and the next layer reads the cache.
Nested calls give nested spans; a span's self time is its duration
minus the time its child spans cover.

Every span labels the Spark jobs it triggers with ``setJobGroup``.
After the execution the tracer reads, per label, the stage metrics
from Spark's status store (``statusStore()``, available with the UI
off) and the Python-worker byte counts from the SQL status store.
Spans stay in memory until :meth:`Tracer.report`.

Counters that need an extra Spark job (distinct groups, ratios) are
deferred until the execution has finished, so their jobs are not
charged to any span.
"""

from __future__ import annotations

import importlib
import re
import sys
import time
from contextlib import contextmanager

PKG = "asr_training_data_pipeline_spark"

# A filter every row passes (a pair's word count is >= 0). It marks
# each derivation of the synthetic audio frame in the physical plans,
# so the number of times the program derives that frame can be read
# back from the SQL status store. It tests the per-pair word count, not
# the pair id: a predicate on the join key would be copied to the other
# side of the program's joins and counted twice.
AUDIO_MARKER = -7_777_777_001

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"

ENGINE_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def _jlist(spark, scala_coll):
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll))


def _jdict(spark, scala_map) -> dict:
    jmap = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_map)
    return {int(k): str(jmap.get(k)) for k in jmap.keySet()}


def wait_for_listeners(spark) -> None:
    """The status stores are fed asynchronously; drain the listener
    bus before reading them."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def parse_metric(text: str | None) -> float:
    """A SQL metric value as the status store renders it: a plain
    number (``"1,234"``, ``"2.0 KiB"``) or, for a metric with several
    task values, ``"total (min, med, max ...)\\n<total> (...)"``. Size
    values come rounded to 0.1 of the printed unit."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE_UNITS.get(m.group(2), 1)


def engine_by_group(spark, prefix: str) -> dict[str, dict[str, float]]:
    """Stage metrics of every job whose group starts with ``prefix``,
    summed per job group. A stage shared by several jobs is counted once,
    under the first job that ran it."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {}
    for s in _jlist(spark, store.stageList(
        None, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )):
        if s.status().toString() == "COMPLETE":
            stages.setdefault(s.stageId(), []).append(s)
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    jobs = sorted(_jlist(spark, store.jobsList(None)), key=lambda j: j.jobId())
    for job in jobs:
        group = job.jobGroup()
        if not group.isDefined() or not str(group.get()).startswith(prefix):
            continue
        acc = out.setdefault(str(group.get()), dict.fromkeys(ENGINE_KEYS, 0.0))
        acc["jobs"] += 1
        for sid in _jlist(spark, job.stageIds()):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for s in stages[sid]:
                acc["stages"] += 1
                acc["tasks"] += s.numCompleteTasks()
                acc["executor_run_s"] += s.executorRunTime() / 1e3
                acc["executor_cpu_s"] += s.executorCpuTime() / 1e9
                acc["jvm_gc_s"] += s.jvmGcTime() / 1e3
                acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
                acc["shuffle_read_bytes"] += s.shuffleReadBytes()
                acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def sql_by_group(spark, prefix: str) -> dict[str, dict[str, float]]:
    """Per job group: bytes sent to and returned from Python workers
    (the Arrow/Python SQL metrics), and the number of audio-frame
    derivations (marker filters that produced rows)."""
    app = spark.sparkContext._jsc.sc().statusStore()
    group_of_job = {}
    for job in _jlist(spark, app.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined():
            group_of_job[job.jobId()] = str(g.get())
    sql = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict[str, float]] = {}
    marker = str(AUDIO_MARKER)
    for ex in _jlist(spark, sql.executionsList()):
        groups = {group_of_job.get(j) for j in _jlist(spark, ex.jobs().keySet())}
        groups = {g for g in groups if g and g.startswith(prefix)}
        if not groups:
            continue
        acc = out.setdefault(min(groups), {"py_sent": 0.0, "py_recv": 0.0, "audio_derivations": 0.0})
        values = _jdict(spark, sql.executionMetrics(ex.executionId()))
        for m in _jlist(spark, ex.metrics()):
            if m.name() == _PY_SENT:
                acc["py_sent"] += parse_metric(values.get(m.accumulatorId()))
            elif m.name() == _PY_RECV:
                acc["py_recv"] += parse_metric(values.get(m.accumulatorId()))
        for node in _jlist(spark, sql.planGraph(ex.executionId()).allNodes()):
            if node.name() == "Filter" and marker in node.desc():
                for m in _jlist(spark, node.metrics()):
                    if m.name() == "number of output rows" and parse_metric(values.get(m.accumulatorId())) > 0:
                        acc["audio_derivations"] += 1
    return out


def cached_bytes(spark) -> int:
    """Bytes held in Spark's block storage (memory + disk) by every
    persisted frame right now."""
    return sum(info.memSize() + info.diskSize() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo())


class Tracer:
    """Spans around the engine's layer functions for one execution."""

    def __init__(self, spark, label_prefix: str):
        self.spark = spark
        self.prefix = label_prefix
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._persisted: list = []
        self._deferred: list = []
        self.counters: dict[str, float] = {}

    # -- spans ---------------------------------------------------------
    def _label(self, sid: int) -> str:
        return f"{self.prefix}:{sid}:{self.spans[sid]['name']}"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(self._label(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._label(self._stack[-1]), self.spans[self._stack[-1]]["name"])
            else:
                sc.setJobGroup(f"{self.prefix}:counters", "counters")

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + float(value)

    def defer(self, fn) -> None:
        """Run ``fn()`` after the execution (see :meth:`finish`)."""
        self._deferred.append(fn)

    # -- wrapping --------------------------------------------------------
    def wrap(self, module_name: str, attr: str, after=None, materialize: bool = True):
        """Replace ``module.attr`` with a spanned wrapper everywhere the
        engine package refers to the same function object. With
        ``materialize`` a returned DataFrame is persisted and counted in
        the span; ``after(tracer, result, n_rows)`` runs after the span
        closes."""
        from pyspark import StorageLevel
        from pyspark.sql import DataFrame

        module = importlib.import_module(f"{PKG}.{module_name}")
        original = getattr(module, attr)
        span_name = f"{module_name}.{attr}"

        def wrapper(*args, **kwargs):
            with self.span(span_name):
                out = original(*args, **kwargs)
                n = None
                if materialize and isinstance(out, DataFrame):
                    out = out.persist(StorageLevel.MEMORY_AND_DISK)
                    self._persisted.append(out)
                    n = out.count()
            if after is not None:
                after(self, out, n)
            return out

        self._install(original, wrapper)

    def _install(self, original, wrapper) -> None:
        """Point every engine-module name bound to ``original`` (the
        defining module and any ``from x import f`` copies) at
        ``wrapper``."""
        wrapper.__wrapped__ = original
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name == PKG or name.startswith(PKG + "."):
                for key, value in list(vars(mod).items()):
                    if value is original:
                        setattr(mod, key, wrapper)
                        self._patched.append((mod, key, original))

    def wrap_audio(self):
        """The audio fixture is NOT cached by the program, so its
        wrapper must not cache it either: it times one standalone
        derivation (which also measures the sample bytes) and returns
        the frame uncached, tagged with :data:`AUDIO_MARKER` so later
        derivations by the program can be counted."""
        from pyspark.sql import functions as F

        module = importlib.import_module(f"{PKG}.sources.fixtures")
        original = module.audio_samples
        span_name = "sources.fixtures.audio_samples"

        def wrapper(*args, **kwargs):
            with self.span(span_name):
                out = original(*args, **kwargs).filter(F.col("n_words") != F.lit(AUDIO_MARKER))
                n_samples = out.agg(F.sum(F.size("samples"))).first()[0] or 0
            # array<double>: 8 bytes per sample
            self.count(f"{span_name}_bytes", 8 * n_samples)
            return out

        self._install(original, wrapper)

    def finish(self) -> None:
        """Restore the originals, run the deferred counters, then drop
        the tracer's caches."""
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()
        self.spark.sparkContext.setJobGroup(f"{self.prefix}:counters", "counters")
        for fn in self._deferred:
            fn()
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- report ----------------------------------------------------------
    def report(self, cores: int) -> list[dict]:
        """Spans with self time and per-span engine and Python metrics."""
        wait_for_listeners(self.spark)
        engine = engine_by_group(self.spark, self.prefix + ":")
        sqlm = sql_by_group(self.spark, self.prefix + ":")
        child_time: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                child_time[rec["parent"]] = child_time.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for rec in self.spans:
            label = self._label(rec["id"])
            wall = rec["end"] - rec["start"]
            self_s = wall - child_time.get(rec["id"], 0.0)
            e = engine.get(label, dict.fromkeys(ENGINE_KEYS, 0.0))
            q = sqlm.get(label, {"py_sent": 0.0, "py_recv": 0.0, "audio_derivations": 0.0})
            out.append({
                "id": rec["id"], "name": rec["name"], "parent": rec["parent"], "label": label,
                "start_s": rec["start"] - t0, "wall_s": wall, "self_s": self_s,
                **e,
                "idle_core_s": cores * self_s - e["executor_run_s"],
                "python_bytes_to_workers": q["py_sent"],
                "python_bytes_from_workers": q["py_recv"],
                "audio_derivations": q["audio_derivations"],
            })
        return out
