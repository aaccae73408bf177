"""Per-layer tracing from outside the program.

Spans wrap the package's public functions at the module attribute each
caller resolves (``hive_scripts_spark.pipeline.sampled_fingerprint``,
not the defining module's copy), so the program runs unmodified. Every
span tags the Spark jobs it launches with ``SparkContext.setJobGroup``;
job, stage, task, shuffle, spill and input figures are then read per
group from the status tracker and the JVM status store.

A function that returns a lazy DataFrame has its output materialized by
a noop write inside its span, in a job group of the tracer's own. The
time charged to its layer is that materialization minus the
materialization of its DataFrame inputs (inputs not yet materialized are
materialized first, also in a tracer group). Spans are kept in memory
and summarized when an operation ends.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameWriter


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    run_id: int
    start: float
    end: float = 0.0
    tracer_s: float = 0.0  # tracer materializations inside this span
    mat_s: float = 0.0  # materialization of the output
    inputs_mat_s: float = 0.0  # materialization of the DataFrame inputs
    input_groups: list[str] = field(default_factory=list)
    children_s: float = 0.0
    args: tuple = ()
    output: object = None
    written: str | None = None  # path of a sink write
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def mat_group(self) -> str:
        return f"perfbench-mat-{self.sid}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Span minus its child spans and the tracer's own work."""
        return max(0.0, self.wall_s - self.children_s - self.tracer_s)

    @property
    def layer_s(self) -> float:
        """Self time of the call plus the execution its lazy output adds
        over its inputs."""
        return self.self_s + max(0.0, self.mat_s - self.inputs_mat_s)

    def record(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "layer": self.layer,
            "parent": self.parent, "run_id": self.run_id,
            "start": round(self.start, 6), "end": round(self.end, 6),
            "self_s": round(self.self_s, 6), "layer_s": round(self.layer_s, 6),
            "tracer_s": round(self.tracer_s, 6),
        }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Tracer:
    """Install with :meth:`wrap`, :meth:`wrap_writer`, :meth:`count_calls`
    and :meth:`capture`; bracket each traced operation with
    :meth:`begin_op` / :meth:`end_op`; undo with :meth:`uninstall`."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run_id = 0
        self.log: list[dict] = []  # every span of every traced op
        self._mat: dict[int, tuple[float, str]] = {}  # id(df) -> (s, group)
        self._keep: list[DataFrame] = []  # keeps materialized ids unique
        self._ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []

    # -- installation ------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, module: str, attr: str, layer: str) -> None:
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer._open(f"{module}.{attr}", layer, args + tuple(kwargs.values()))
            if layer == "sinks":  # a sink function's first string argument is its path
                span.written = next((a for a in args if isinstance(a, str)), None)
            try:
                out = orig(*args, **kwargs)
                span.output = out
                if isinstance(out, DataFrame):
                    span.mat_s = tracer._materialize(span, out, span.mat_group)
                return out
            finally:
                tracer._close(span)

        self._patch(mod, attr, traced)

    def wrap_writer(self) -> None:
        """Parquet writes (``DataFrameWriter.parquet``) are sink spans
        wherever they happen, recording the bytes they leave on disk."""
        orig = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(orig)
        def parquet(writer, path, *args, **kwargs):
            span = tracer._open("pyspark.sql.DataFrameWriter.parquet", "sinks", ())
            span.written = str(path)
            try:
                return orig(writer, path, *args, **kwargs)
            finally:
                tracer._close(span)

        self._patch(DataFrameWriter, "parquet", parquet)

    def count_calls(self, module: str, attr: str, counter: str) -> None:
        """Count calls (or constructions) of ``module.attr`` made inside
        the innermost open span."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        tracer = self

        def counted(*args, **kwargs):
            if tracer.stack:
                c = tracer.stack[-1].counters
                c[counter] = c.get(counter, 0) + 1
            return orig(*args, **kwargs)

        self._patch(mod, attr, counted)

    def capture(self, module: str, attr: str, counter: str) -> None:
        """Keep the first DataFrame argument of ``module.attr`` on the
        innermost open span, to be counted after the operation."""
        mod = importlib.import_module(module)
        orig = getattr(mod, attr)
        tracer = self

        @functools.wraps(orig)
        def captured(*args, **kwargs):
            if tracer.stack and args and isinstance(args[0], DataFrame):
                tracer.stack[-1].counters[counter] = args[0]
            return orig(*args, **kwargs)

        self._patch(mod, attr, captured)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- spans -------------------------------------------------------------

    def _set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description, interruptOnCancel=False)

    def _open(self, name: str, layer: str, args: tuple) -> Span:
        parent = self.stack[-1] if self.stack else None
        span = Span(
            sid=next(self._ids), name=name, layer=layer,
            parent=parent.sid if parent else None, run_id=self.run_id,
            start=time.perf_counter(), args=args,
        )
        self.spans.append(span)
        self.stack.append(span)
        for i, a in enumerate(a for a in args if isinstance(a, DataFrame)):
            if id(a) not in self._mat:
                self._materialize(span, a, f"{span.mat_group}-in{i}")
            s, group = self._mat[id(a)]
            span.inputs_mat_s += s
            span.input_groups.append(group)
        self._set_group(span.group, name)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        if self.stack:
            parent = self.stack[-1]
            parent.children_s += span.wall_s
            self._set_group(parent.group, parent.name)
        if span.written and os.path.isdir(span.written):
            span.counters["bytes"] = _dir_bytes(span.written)

    def _materialize(self, span: Span, df: DataFrame, group: str) -> float:
        self._set_group(group, "perfbench materialize")
        t = time.perf_counter()
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - the program's own call decides
            span.counters["materialize_error"] = repr(e)[:200]
        s = time.perf_counter() - t
        span.tracer_s += s
        self._mat[id(df)] = (s, group)
        self._keep.append(df)
        self._set_group(span.group, span.name)
        return s

    # -- operations --------------------------------------------------------

    def begin_op(self, name: str) -> Span:
        self.run_id += 1
        self.spans = []
        self._mat = {}
        self._keep = []
        return self._open(name, "bench", ())

    def end_op(self, root: Span) -> list[Span]:
        self._close(root)
        self._set_group("perfbench-post", "perfbench post-op counts")
        self.log.extend(s.record() for s in self.spans)
        return self.spans


class JobStats:
    """Job, stage and task figures per job group, read from the status
    tracker (job ids of a group) and the JVM status store (job times and
    stage metrics)."""

    _FIELDS = ("jobs", "stages", "task_s", "job_s", "shuffle_write_bytes",
               "spill_bytes", "input_rows", "input_bytes", "input_task_s")

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds final figures for finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def summarize(self, groups: list[str]) -> dict:
        out = dict.fromkeys(self._FIELDS, 0)
        seen: set[int] = set()
        for g in groups:
            for jid in self.sc.statusTracker().getJobIdsForGroup(g):
                out["jobs"] += 1
                jd = self.store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1000
                ids = jd.stageIds()
                for i in range(ids.size()):
                    sid = ids.apply(i)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    self._add_stage(out, sid)
        return out

    def _add_stage(self, out: dict, sid: int) -> None:
        try:
            st = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a stage that never ran has no record
            return
        if st.status().toString() == "SKIPPED":
            return
        task_s = st.executorRunTime() / 1000
        out["stages"] += 1
        out["task_s"] += task_s
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if st.inputBytes() > 0:
            out["input_rows"] += st.inputRecords()
            out["input_bytes"] += st.inputBytes()
            out["input_task_s"] += task_s
