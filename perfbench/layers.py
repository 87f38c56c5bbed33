"""Per-layer measurement from outside the program.

``Tracer`` keeps spans in memory (name, start, end, parent, thread and a
shared run id) and records them through wrappers that it installs around
public functions of the program's layers for the duration of one traced
pass, then removes. Nothing under ``crmint_spark`` is edited: a wrapper
replaces the attribute on its defining module or class, and on every
``crmint_spark`` module that imported the function by name.

Spark-side counters come from the application status store, Catalyst
phase times from each ``SparkSession.sql`` result's
``queryExecution().tracker()``, streaming counters from a
``StreamingQueryListener``. Python code that runs inside executors
(``foreachPartition`` uploads, pandas state functions) is only visible
through the status store and the transport's files.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field

# span name -> (owner import path, attribute). Owners are modules or
# classes; module functions are also patched in importing modules.
WRAPPED = {
    "pipeline.run": ("crmint_spark.pipeline:PipelineRunner", "run"),
    "worker": ("crmint_spark.workers.base:Worker", "execute"),
    "templating.render": ("crmint_spark.templating", "render"),
    "dialect.split_script": ("crmint_spark.dialect", "split_script"),
    "dialect.transpile": ("crmint_spark.dialect", "transpile_statement"),
    "sql_executor.statement": (
        "crmint_spark.workers.sql_executor:SparkSQLExecutor",
        "_run_statement",
    ),
    "catalyst.sql": ("pyspark.sql.session:SparkSession", "sql"),
    "catalog.read": ("crmint_spark.catalog:Catalog", "read"),
    "catalog.write": ("crmint_spark.catalog:Catalog", "write"),
    "catalog.record_job": ("crmint_spark.catalog:Catalog", "record_job"),
}

# worker class -> layer metric its execute span feeds
WORKER_METRICS = {
    "MLTrainer": "ml.train_s",
    "MLPredictor": "ml.predict_s",
    "ConversionValuesWorker": "ml.conversion_values_s",
    "OutputWorker": "ml.output_s",
    "BQToMeasurementProtocolGA4": "streamer.upload_s",
}

# layer -> (span names whose calls prove the wrappers saw the layer,
# workloads on which the layer is heavy); see README for the map
COVERAGE = {
    "pipeline": (("pipeline.run", "worker"), ("pipelines",)),
    "templating": (("templating.render",), ("pipelines",)),
    "dialect": (("dialect.transpile", "dialect.split_script"), ("pipelines",)),
    "sql_executor": (("sql_executor.statement",), ("pipelines",)),
    "catalyst": (("catalyst.sql",), ("pipelines",)),
    "catalog": (
        ("catalog.read", "catalog.write", "catalog.record_job"),
        ("pipelines",),
    ),
    "ml": (
        ("worker:MLTrainer", "worker:MLPredictor", "worker:ConversionValuesWorker",
         "worker:OutputWorker"),
        ("pipelines",),
    ),
    "streamer": (("worker:BQToMeasurementProtocolGA4",), ("pipelines",)),
    # not wrappers: the status store and the streaming listener
    "spark": (("status_store:jobs",), ("pipelines", "streaming_drain")),
    "streaming": (("listener:progress",), ("streaming_drain",)),
}

# children subtracted from a statement span to get sql_executor self time
_STATEMENT_CHILDREN = ("dialect.", "catalyst.", "catalog.")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)


def _resolve(path: str):
    mod_name, _, cls = path.partition(":")
    __import__(mod_name)
    mod = sys.modules[mod_name]
    return getattr(mod, cls) if cls else mod


class Tracer:
    """In-memory span recorder plus the wrapper installer."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self.sql_plans: list = []  # QueryExecution handles, read after a pass
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _open(self, name: str, attrs: dict) -> Span:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        with self._lock:
            self._next += 1
            sp = Span(
                self._next,
                name,
                time.perf_counter(),
                parent=stack[-1].id if stack else None,
                thread=threading.get_ident(),
                attrs=attrs,
            )
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._tls.stack.pop()

    def _wrapper(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if name == "worker":
                attrs["cls"] = type(args[0]).__name__
                attrs["group"] = _job_group(args[0])
            elif name == "pipeline.run":
                attrs["pipeline"] = args[1].name
            sp = tracer._open(name, attrs)
            try:
                out = fn(*args, **kwargs)
            except BaseException as e:
                sp.attrs["error"] = type(e).__name__
                raise
            finally:
                tracer._close(sp)
            if name == "catalyst.sql":
                tracer.sql_plans.append(out._jdf.queryExecution())
            return out

        return traced

    def install(self) -> None:
        """Wrap every entry of ``WRAPPED``; ``uninstall`` restores them."""
        assert not self._patches, "tracer already installed"
        for name, (owner_path, attr) in WRAPPED.items():
            owner = _resolve(owner_path)
            orig = owner.__dict__[attr]
            wrapped = self._wrapper(name, orig)
            self._set(owner, attr, orig, wrapped)
            if isinstance(owner, type):
                continue
            # by-name imports elsewhere in the program see the original
            # function object: patch each such binding too
            for mod_name, mod in list(sys.modules.items()):
                if mod is owner or not mod_name.startswith("crmint_spark"):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        self._set(mod, k, orig, wrapped)

    def _set(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def reset(self) -> None:
        self.spans = []
        self.sql_plans = []

    # -- derived numbers ---------------------------------------------------
    def calls(self, name: str) -> int:
        if name.startswith("worker:"):
            cls = name.split(":", 1)[1]
            return sum(1 for s in self.spans if s.name == "worker" and s.attrs.get("cls") == cls)
        return sum(1 for s in self.spans if s.name == name)

    def outer_seconds(self, name: str) -> float:
        """Summed duration of ``name`` spans not nested in another span
        of the same name (recursive calls are not double counted)."""
        by_id = {s.id: s for s in self.spans}
        total = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            p = by_id.get(s.parent)
            nested = False
            while p is not None:
                if p.name == name:
                    nested = True
                    break
                p = by_id.get(p.parent)
            if not nested:
                total += s.end - s.start
        return total

    def statement_self_seconds(self) -> float:
        """Statement time minus the union of its descendant dialect,
        Catalyst and catalog spans (self time of the executor layer)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        total = 0.0
        for s in self.spans:
            if s.name != "sql_executor.statement":
                continue
            covered = []
            todo = list(children.get(s.id, []))
            while todo:
                c = todo.pop()
                if c.name.startswith(_STATEMENT_CHILDREN):
                    covered.append((c.start, c.end))
                else:
                    todo.extend(children.get(c.id, []))
            total += (s.end - s.start) - _union(covered)
        return total

    def worker_seconds(self, cls: str) -> float:
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == "worker" and s.attrs.get("cls") == cls
        )

    def ready_wait_seconds(self, pipelines: dict) -> float:
        """Sum over jobs of (first worker start - last predecessor's
        worker end), or - pipeline run start for root jobs."""
        total = 0.0
        for run in (s for s in self.spans if s.name == "pipeline.run"):
            pipe = pipelines.get(run.attrs["pipeline"])
            if pipe is None:
                continue
            start: dict[str, float] = {}
            end: dict[str, float] = {}
            prefix = f"crmint:{pipe.name}:"
            for s in self.spans:
                g = s.attrs.get("group") or ""
                if s.name != "worker" or not g.startswith(prefix):
                    continue
                if not (run.start <= s.start <= run.end):
                    continue
                job = g[len(prefix):]
                start[job] = min(start.get(job, s.start), s.start)
                end[job] = max(end.get(job, s.end), s.end)
            for job, t in start.items():
                preds = [end[p.preceding_job] for p in pipe.jobs[job].start_conditions
                         if p.preceding_job in end]
                total += t - (max(preds) if preds else run.start)
        return total

    def catalyst_phases(self) -> dict[str, float]:
        out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for qe in self.sql_plans:
            phases = qe.tracker().phases()
            for k in out:
                opt = phases.get(k)
                if opt.isDefined():
                    out[k] += opt.get().durationMs() / 1000.0
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run_id": self.run_id, **s.__dict__}) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _job_group(worker) -> str | None:
    try:
        return worker._ctx.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    except Exception:
        return None


# -- Spark status store ------------------------------------------------------


class SparkCounters:
    """Sums stage metrics of the jobs submitted since the last call,
    grouped by job group, from the application status store."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._last_job = -1
        self.take()

    def take(self) -> tuple[dict[str, float], dict[str, dict]]:
        # the store is fed asynchronously by the listener bus
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)
        totals = dict.fromkeys(
            ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
             "output_bytes", "executor_run_s", "jvm_gc_s"), 0.0)
        groups: dict[str, dict] = {}
        seen_stages: set[int] = set()
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            grp = job.jobGroup()
            g = grp.get() if grp.isDefined() else "(none)"
            gt = groups.setdefault(g, {"jobs": 0, "tasks": 0, "executor_run_s": 0.0})
            totals["jobs"] += 1
            gt["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                tasks = st.numCompleteTasks() + st.numFailedTasks()
                run_s = st.executorRunTime() / 1000.0
                totals["stages"] += 1
                totals["tasks"] += tasks
                totals["input_bytes"] += st.inputBytes()
                totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
                totals["output_bytes"] += st.outputBytes()
                totals["executor_run_s"] += run_s
                totals["jvm_gc_s"] += st.jvmGcTime() / 1000.0
                gt["tasks"] += tasks
                gt["executor_run_s"] += run_s
        self._last_job = newest
        return totals, groups


# -- streaming ---------------------------------------------------------------


def streaming_listener():
    """A ``StreamingQueryListener`` that keeps per-query progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: dict[str, list] = {}
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ops = p.stateOperators or []
            rec = (
                p.numInputRows,
                (p.durationMs or {}).get("triggerExecution", 0) / 1000.0,
                sum(o.numRowsTotal for o in ops),
                sum(o.memoryUsedBytes for o in ops),
            )
            with self._lock:
                self.progress.setdefault(str(p.runId), []).append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def totals(self) -> dict[str, float]:
            with self._lock:
                runs = list(self.progress.values())
            return {
                "batches": sum(len(r) for r in runs),
                "input_rows": sum(x[0] for r in runs for x in r),
                "batch_s": sum(x[1] for r in runs for x in r),
                # state size at the end of each query's drain
                "state_rows_total": sum(r[-1][2] for r in runs if r),
                "state_memory_bytes": sum(r[-1][3] for r in runs if r),
            }

    return _Listener()


# -- process resources -------------------------------------------------------


def _proc_status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    return (_proc_status_kb("self", "VmHWM") + _proc_status_kb(jvm_pid, "VmHWM")) / 1024.0


def jvm_cpu_seconds(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = os.sysconf("SC_CLK_TCK")
    return (int(fields[11]) + int(fields[12])) / ticks
