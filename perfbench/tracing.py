"""Span recorder and Spark status-store probe for the traced run.

Spans are recorded from the benchmark's side: `Tracer.wrap` swaps a
module attribute or method of the program for a timing wrapper, and
`Tracer.restore` puts the original back. Spans live in memory and are
written out when the run ends. A span around a lazy DataFrame builder
times only planning; execution lands on the span whose action forces it.

Only rounds (one `run_cycle`, one pass of the query mix) with
`Tracer.active` set are recorded. The traced run alternates traced and
untraced rounds, so the difference of their medians is the tracing
overhead.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.active = False
        self.round: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record `name` around the block; yields the span record (a dict
        whose `counts` the caller may fill) or None when inactive."""
        if not self.active:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "round": self.round,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, count=None,
             probe: SparkProbe | None = None) -> None:
        """Replace `owner.attr` with a wrapper recording span `name`.

        `count(rec, args, kwargs, result)` may add counts to the span;
        with `probe`, the span also counts the Spark work run inside it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                if rec is None:
                    return orig(*args, **kwargs)
                mark = probe.mark() if probe is not None else None
                out = orig(*args, **kwargs)
                if mark is not None:
                    rec["counts"].update(probe.since(mark))
                if count is not None:
                    count(rec, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its child spans cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def per_round(spans: list[dict], name: str, *, self_time: bool = False,
              count: str | None = None) -> dict[int, float]:
    """Round -> total time (or a summed count) of spans called `name`."""
    selfs = self_times(spans) if self_time else None
    out: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["name"] != name:
            continue
        if count is not None:
            out[s["round"]] += s["counts"].get(count, 0)
        elif selfs is not None:
            out[s["round"]] += selfs[s["id"]]
        else:
            out[s["round"]] += s["end"] - s["start"]
    return dict(out)


class SparkProbe:
    """Job, stage and task counters from the driver's status store — the
    store the Spark UI's REST API reads, reached here over py4j so the
    session keeps its own configuration (UI off). `mark()` takes a
    watermark; `since(mark)` sums the stages completed after it."""

    COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "gc_ms",
                "shuffle_write_b", "spill_b")
    FIELDS = (
        ("numTasks", "tasks", 1),
        ("executorCpuTime", "cpu_ms", 1_000_000),
        ("jvmGcTime", "gc_ms", 1),
        ("shuffleWriteBytes", "shuffle_write_b", 1),
        ("memoryBytesSpilled", "spill_b", 1),
        ("diskBytesSpilled", "spill_b", 1),
    )

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()  # noqa: SLF001 — status store has no Python API
        self._tracker = sc.statusTracker()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = sc._jvm  # noqa: SLF001
        self._list_args = (
            None, False, False, sc._gateway.new_array(jvm.double, 0),  # noqa: SLF001
            jvm.java.util.ArrayList(),
        )

    def _stages(self):
        return self._store.stageList(*self._list_args)

    def mark(self) -> tuple[int, int]:
        self._bus.waitUntilEmpty()
        jobs = self._tracker.getJobIdsForGroup(None)
        stages = self._stages()
        top = stages.apply(0).stageId() if stages.size() else -1
        return max(jobs, default=-1), top

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        self._bus.waitUntilEmpty()
        out = {"jobs": sum(1 for j in self._tracker.getJobIdsForGroup(None)
                           if j > mark[0]),
               "stages": 0}
        out.update({alias: 0 for _, alias, _ in self.FIELDS})
        stages = self._stages()  # newest first
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            for getter, alias, div in self.FIELDS:
                out[alias] += int(getattr(s, getter)()) // div
        return out
