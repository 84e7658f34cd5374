"""In-memory spans for the traced benchmark run, placed from the benchmark.

A span records name, start, end, parent and run id. Each span also owns a
Spark job group, so every job the engine submits while the span is the
innermost open one is attributed to it; after a traced unit the status store
is read once and its stage counters are summed onto the owning spans.

Layers are traced by temporarily replacing a module attribute of the
package with a wrapper that opens a span, calls the original function and
materialises the DataFrame it returns (persist + count), so the span covers
the layer's work and not just its lazy plan construction. The package code
itself is untouched, and the engine's own call order is kept: run_pipeline
still makes every call, and calls made inside a traced function (for example
er.canonical_map -> er.minhash_signatures) nest as child spans.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.persisted: list[DataFrame] = []
        self.outputs: dict[str, DataFrame] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"{self.run_id}:{len(self.spans)}", name,
                  parent.sid if parent else None, self.run_id, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.sid, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.sid, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def materialise(self, df: DataFrame, sp: Span) -> DataFrame:
        df = df.persist()
        self.persisted.append(df)
        self.outputs[sp.name] = df
        sp.counters["rows_out"] = df.count()
        return df

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()
        self.outputs.clear()

    def self_times(self) -> dict[str, float]:
        """sid -> span duration minus the time its child spans cover
        (children of one span run one after another, never overlapping)."""
        child = {sp.sid: 0.0 for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.dur
        return {sp.sid: sp.dur - child[sp.sid] for sp in self.spans}

    def totals(self) -> dict[str, float]:
        """`<name>.self_s` and `<name>.<counter>` for every span name,
        summed over the spans of that name (a query kind runs several)."""
        selfs = self.self_times()
        m: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            m[f"{sp.name}.self_s"] += selfs[sp.sid]
            for k, v in sp.counters.items():
                m[f"{sp.name}.{k}"] += v
        return dict(m)

    def rows(self, name: str) -> int:
        """rows_out of the spans named `name`, summed."""
        return sum(sp.counters.get("rows_out", 0) for sp in self.spans if sp.name == name)

    def attach_status(self) -> None:
        """Sum the status-store counters of every job run under each span's
        job group onto that span (jobs, tasks, task_failures,
        shuffle_write_mb, spill_mb, gc_s)."""
        by_sid = {sp.sid: sp for sp in self.spans}
        for sp in self.spans:
            sp.counters.update(jobs=0, tasks=0, task_failures=0,
                               shuffle_write_mb=0.0, spill_mb=0.0, gc_s=0.0)
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        seen: set[int] = set()
        for k in range(jobs.size()):
            job = jobs.apply(k)
            group = job.jobGroup()
            sp = by_sid.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            c = sp.counters
            c["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage_id = stage_ids.apply(i)
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # skipped stage: never ran, nothing stored
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["task_failures"] += st.numFailedTasks()
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                c["gc_s"] += st.jvmGcTime() / 1000.0


def dump(tracers: list[Tracer], path: str) -> None:
    """Write every span of every traced build, once, as JSON lines."""
    with open(path, "w") as f:
        for tracer in tracers:
            selfs = tracer.self_times()
            for sp in tracer.spans:
                f.write(json.dumps({**asdict(sp), "self_s": selfs[sp.sid]}) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, object]]):
    """For every (module, attr, how) in targets, replace module.attr by `how`
    when it is a function, else by a traced wrapper of the original named
    `how`; restore the originals on exit."""
    originals = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for (mod, attr, how), (_, _, fn) in zip(targets, originals):
            setattr(mod, attr, how if callable(how) else _wrap(tracer, fn, how))
        yield
    finally:
        for mod, attr, fn in originals:
            setattr(mod, attr, fn)


def _wrap(tracer: Tracer, fn, name: str):
    def traced(*args, **kwargs):
        with tracer.span(name) as sp:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                out = tracer.materialise(out, sp)
        return out

    traced.__wrapped__ = fn
    return traced
