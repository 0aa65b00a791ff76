"""Spans, job-group attribution and the summary statistics the benchmark
reports.

A span is one call into a layer, recorded from outside the package: its
layer name, start, end and the span that caused it. Every span of one op
shares the op's id. While a span is open the Spark jobs it fires run under
a job group named after it, so after the op ends the jobs, stages, tasks
and status-store bytes of each span can be read back from Spark's status
tracker and status store (both work with ``spark.ui.enabled=false``).
Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import math
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Iterator

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")

#: a tail percentile needs at least this many samples beyond it
MIN_TAIL_SAMPLES = 10

#: every metric the benchmark reports, with its unit; BENCHMARK.json lists
#: the same names
END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "sources.load_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "ratio",
    "plans.artifact_s": "s",
    "plans.artifacts_built": "count",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.slot_busy_frac": "ratio",
    "exec.gc_s": "s",
    "streaming.batches": "count",
    "streaming.batch_s_p50": "s",
    "streaming.processed_rows_per_s": "1/s",
    "streaming.state_rows": "count",
    "pipeline.validate_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.jobs_per_request": "count",
    "pipeline.tasks_per_request": "count",
    "sinks.append_s": "s",
    "sinks.rows_saved_frac": "ratio",
    "sinks.export_s": "s",
    "sinks.report_s": "s",
    "sinks.ledger_s": "s",
    "trace.overhead_frac": "ratio",
    "fail_frac": "ratio",
}

STAGE_FIELDS = (
    "tasks",
    "failed_tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(values: list[float], q: float) -> float | None:
    """The nearest-rank ``q``-quantile (0.5 < q < 1) of ``values``, or None
    when fewer than ``MIN_TAIL_SAMPLES`` samples lie beyond it."""
    rank = max(math.ceil(q * len(values)) - 1, 0)
    if len(values) - 1 - rank < MIN_TAIL_SAMPLES:
        return None
    return sorted(values)[rank]


def latency_summary(name: str, values: list[float]) -> dict[str, float]:
    """Median with its sample count, plus every tail percentile the samples
    support."""
    out = {f"{name}_p50": median(values), f"{name}_samples": len(values)}
    for q, tag in ((0.9, "p90"), (0.99, "p99")):
        v = tail_percentile(values, q)
        if v is not None:
            out[f"{name}_{tag}"] = v
    return out


@dataclass
class Span:
    id: int
    op_id: int
    op: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    #: jobs, stages and the STAGE_FIELDS totals, filled in by Tracer.collect
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
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
    return span.duration - covered


class Tracer:
    """Opens spans around layer calls while ``active``; when inactive every
    span is a no-op, so wrapped functions cost one attribute check."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._op_id = 0
        self._op = ""

    def _group(self, span: Span) -> str:
        return f"perfbench-{span.id}"

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(span), f"{span.op}:{span.layer}")

    @contextmanager
    def span(self, layer: str, op: str | None = None) -> Iterator[Span | None]:
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op_id += 1
            self._op = op or layer
        self._next_id += 1
        s = Span(
            id=self._next_id,
            op_id=self._op_id,
            op=self._op,
            layer=layer,
            parent=parent.id if parent else None,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def collect(self, spans: list[Span]) -> None:
        """Attach job, stage and task counts and status-store totals to each
        span. A stage listed by several jobs (a reused shuffle) is counted
        once, at the first span that ran it; a stage that never ran has no
        attempt in the store and is skipped."""
        from py4j.protocol import Py4JError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        for s in spans:
            counts = dict.fromkeys(("stages", *STAGE_FIELDS), 0.0)
            job_ids = tracker.getJobIdsForGroup(self._group(s))
            counts["jobs"] = len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JError:  # a skipped stage has no attempt
                        continue
                    counts["stages"] += 1
                    counts["tasks"] += st.numTasks()
                    counts["failed_tasks"] += st.numFailedTasks()
                    counts["shuffle_read_bytes"] += st.shuffleReadBytes()
                    counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    counts["spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
                    counts["executor_run_s"] += st.executorRunTime() / 1e3
                    counts["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    counts["gc_s"] += st.jvmGcTime() / 1e3
            s.counts.update(counts)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {**extra, "spans": [asdict(s) for s in self.spans]}, fh, indent=1
            )
