"""One benchmark run: session, warm pass, measured passes, correctness.

``run.py`` starts this module in a fresh process with a private TMPDIR,
SPARK_LOCAL_DIRS and pipeline directories, and removes them afterwards.
Every number is taken from outside the package, around calls into the
layers' public functions. Untraced runs report the end-to-end metrics;
traced runs alternate untraced and traced passes and report the per-layer
metrics, including the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import re
import resource
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict
from datetime import datetime

from perfbench import oracle, trace, workloads
from perfbench.run import marked_pids
from perfbench.trace import STAGE_FIELDS, Tracer, median, self_time

EXCHANGE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?\w*Exchange\b", re.M)
#: a registry run measures at least this many passes. Each pass is faster
#: than the last while the JIT compiles, so with --seconds shorter than two
#: passes every run's median covers the same passes however fast the host is
MIN_PASSES = 2


class Registry:
    """Registry ops: ``QUERIES[name].fn(spark, data_dir)`` then a noop write."""

    def __init__(self, spark, names, data_dir, cache_dir) -> None:
        from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

        self.spark = spark
        self.queries = QUERIES
        self.names = names
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.expected: dict = {}
        self.warm_s: dict[str, float] = {}
        self.artifacts: dict[str, int] = {}

    def prepare(self) -> None:
        """Load (or compute once, in DuckDB) every op's expected result."""
        cache = oracle.ExpectedCache(self.cache_dir, self.data_dir)
        try:
            for n in self.names:
                self.expected[n] = cache.get(self.queries[n].oracle)
        finally:
            cache.close()

    def instrument(self, tracer: Tracer) -> None:
        """Rebind ``load_table`` in every plans module that imported it."""
        from multi_source_financial_data_pipeline_spark import plans

        def wrap(fn):
            def load_table(*args, **kwargs):
                if not tracer.active:
                    return fn(*args, **kwargs)
                with tracer.span("load"):
                    return fn(*args, **kwargs)

            return load_table

        for mod in vars(plans).values():
            if hasattr(mod, "load_table") and hasattr(mod, "__file__"):
                mod.load_table = wrap(mod.load_table)

    @staticmethod
    def _artifact_entries() -> set[str]:
        import tempfile

        root = os.path.join(tempfile.gettempdir(), f"msfdp_ivf_index_{os.getuid()}")
        return set(os.listdir(root)) if os.path.isdir(root) else set()

    def warm(self, name: str) -> tuple[float, str | None]:
        """Collect the op's result and check it against the oracle. Returns
        the op's wall time (check excluded) and the mismatch, if any."""
        before = self._artifact_entries()
        t = time.perf_counter()
        got = self.queries[name].fn(self.spark, self.data_dir).toPandas()
        dt = time.perf_counter() - t
        self.warm_s[name] = dt
        built = self._artifact_entries() - before
        if built:
            self.artifacts[name] = len(built)
        return dt, oracle.mismatch(oracle.normalize(got), self.expected[name])

    def run(self, name: str, tracer: Tracer) -> None:
        with tracer.span("op", name):
            with tracer.span("build"):
                df = self.queries[name].fn(self.spark, self.data_dir)
            if tracer.active:
                with tracer.span("plan") as s:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    s.counts["exchanges"] = len(EXCHANGE.findall(plan))
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()


class Pipeline:
    """``cli.main`` requests over the market_sim/fred_sim connectors."""

    def __init__(self, seed: int, run_dir: str) -> None:
        from multi_source_financial_data_pipeline_spark import cli

        self.cli = cli
        self.plan = workloads.pipeline_plan(seed)
        self.db_dir = os.path.join(run_dir, "db")
        self.out_dir = os.path.join(run_dir, "out")
        self.request_ids: list[str] = []
        self.saved = 0
        self.offered = 0
        self.next = 0
        self._seed_store()

    def _keys(self, i: int) -> set[tuple[str, object]]:
        start, end = self.plan.window(i)
        days = workloads.business_days(start, end)
        return {(tk, d) for tk in self.plan.tickers for d in days}

    def _seed_store(self) -> None:
        """Store the keys of the window one quarter before the first
        request, as an earlier request would have, so that every request
        skips stored keys and appends new ones."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        keys = sorted(self._keys(-1))
        path = os.path.join(self.db_dir, "market_data")
        os.makedirs(path)
        pq.write_table(
            pa.table(
                {
                    "ticker": [k[0] for k in keys],
                    "date": pa.array([k[1] for k in keys], pa.date32()),
                    "request_id": ["earlier"] * len(keys),
                }
            ),
            os.path.join(path, "part-earlier.parquet"),
        )
        self.stored = set(keys)

    def instrument(self, tracer: Tracer) -> None:
        """Wrap ``pipeline.validate``/``transform`` and the sinks as module
        attributes; ``run_pipeline`` looks each up when it calls it."""
        from multi_source_financial_data_pipeline_spark import pipeline
        from multi_source_financial_data_pipeline_spark.sources import sinks

        def wrap(layer, fn, on_result=None):
            def wrapped(*args, **kwargs):
                if not tracer.active:
                    return fn(*args, **kwargs)
                with tracer.span(layer):
                    out = fn(*args, **kwargs)
                if on_result:
                    on_result(args, out)
                return out

            return wrapped

        def saved_market(args, n):
            if str(args[1]).endswith("market_data"):
                self.saved += n

        pipeline.validate = wrap("validate", pipeline.validate)
        pipeline.transform = wrap("transform", pipeline.transform)
        sinks.append_first_request_wins = wrap(
            "append", sinks.append_first_request_wins, saved_market
        )
        sinks.export_csv = wrap("export", sinks.export_csv)
        sinks.write_json_report = wrap("report", sinks.write_json_report)
        sinks.append_ledger = wrap("ledger", sinks.append_ledger)

    def request(self, tracer: Tracer) -> tuple[float, str | None]:
        """Send the next request; returns its latency and the first failed
        check, if any. Checks run after the clock stops."""
        i = self.next
        self.next += 1
        start, end = self.plan.window(i)
        argv = [
            "--tickers", *self.plan.tickers,
            "--start", start.isoformat(), "--end", end.isoformat(),
            "--out-dir", self.out_dir, "--db-dir", self.db_dir,
        ]
        buf = io.StringIO()
        t = time.perf_counter()
        with tracer.span("request", f"request{i}"), contextlib.redirect_stdout(buf):
            self.cli.main(argv)
        dt = time.perf_counter() - t

        fields = dict(re.findall(r"(\w+)=(\S+)", buf.getvalue()))
        self.request_ids.append(fields.get("request", ""))
        keys = self._keys(i)
        new = keys - self.stored
        self.stored |= keys
        if tracer.active:
            self.offered += len(keys)
        if int(fields.get("market_rows", -1)) != len(new):
            return dt, f"saved {fields.get('market_rows')} rows, {len(new)} keys are new"
        with open(fields["csv"]) as fh:
            csv_rows = sum(1 for _ in fh) - 1
        if csv_rows != len(keys):
            return dt, f"csv has {csv_rows} rows, features have {len(keys)}"
        with open(fields["report"]) as fh:
            json.load(fh)
        return dt, None

    def ledger_mismatches(self) -> list[str]:
        """Requests without exactly one 'started' and one 'completed' entry."""
        import pyarrow.dataset as ds

        rows = ds.dataset(os.path.join(self.db_dir, "request_log")).to_table(
            columns=["request_id", "status"]
        )
        seen: dict[tuple[str, str], int] = defaultdict(int)
        for rid, status in zip(*(rows.column(c).to_pylist() for c in rows.column_names)):
            seen[(rid, status)] += 1
        return [
            rid
            for rid in self.request_ids
            if seen[(rid, "started")] != 1 or seen[(rid, "completed")] != 1
        ]


class StreamingProgress:
    """Collects micro-batch progress through a StreamingQueryListener.
    Events reach the listener after the batch ends, so each is kept with its
    trigger time and attributed to a traced pass afterwards."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.batches: list[dict] = []
        lock = threading.Lock()
        batches = self.batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    batches.append(
                        {
                            "at": datetime.fromisoformat(
                                p.timestamp.replace("Z", "+00:00")
                            ).timestamp(),
                            "duration_s": p.batchDuration / 1e3,
                            "rows": p.numInputRows,
                            "state_rows": sum(
                                s.numRowsTotal for s in p.stateOperators
                            ),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def within(self, windows: list[tuple[float, float]]) -> list[dict]:
        return [
            b for b in self.batches if any(lo <= b["at"] <= hi for lo, hi in windows)
        ]


def _total(spans, layer, key=None) -> float:
    """Summed duration (or summed ``key`` count) of the spans of ``layer``."""
    sel = [s for s in spans if s.layer == layer]
    if key is None:
        return sum(s.duration for s in sel)
    return sum(s.counts.get(key, 0.0) for s in sel)


def pass_layers(tracer: Tracer, op_ids: set[int], cores: int) -> dict[str, float]:
    """Per-layer totals of one traced pass; a pipeline pass is one request."""
    spans = [s for s in tracer.spans if s.op_id in op_ids]
    by_parent: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            by_parent[s.parent].append(s)
    wall = sum(s.duration for s in spans if s.parent is None)
    build_self = sum(
        self_time(s, by_parent[s.id]) for s in spans if s.layer == "build"
    )
    requests = {s.op_id for s in spans if s.layer == "request"}
    in_request = [s for s in spans if s.op_id in requests]
    exec_s = _total(spans, "exec")
    run_s = _total(spans, "exec", "executor_run_s")
    out = {
        "sources.load_s": _total(spans, "load"),
        "sources.load_calls": sum(1 for s in spans if s.layer == "load"),
        "sources.load_jobs": _total(spans, "load", "jobs"),
        "plans.build_s": build_self,
        "plans.build_jobs": _total(spans, "build", "jobs"),
        "plans.build_share": build_self / wall if wall else 0.0,
        "catalyst.plan_s": _total(spans, "plan"),
        "catalyst.exchanges": _total(spans, "plan", "exchanges"),
        "exec.s": exec_s,
        "exec.slot_busy_frac": run_s / (exec_s * cores) if exec_s else 0.0,
        "pipeline.validate_s": _total(spans, "validate"),
        "pipeline.transform_s": _total(spans, "transform"),
        "pipeline.jobs_per_request": sum(s.counts.get("jobs", 0) for s in in_request),
        "pipeline.tasks_per_request": sum(
            s.counts.get("tasks", 0) for s in in_request
        ),
        "sinks.append_s": _total(spans, "append"),
        "sinks.export_s": _total(spans, "export"),
        "sinks.report_s": _total(spans, "report"),
        "sinks.ledger_s": _total(spans, "ledger"),
    }
    for key in ("jobs", "stages", *STAGE_FIELDS):
        out[f"exec.{key}"] = _total(spans, "exec", key)
    return out


def span_sum_error(tracer: Tracer) -> float:
    """Largest gap, over all ops, between the op's traced wall time and the
    sum of the self times of all its spans (0 when spans nest properly)."""
    by_parent: dict[int, list] = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            by_parent[s.parent].append(s)
    ops: dict[int, list] = defaultdict(list)
    for s in tracer.spans:
        ops[s.op_id].append(s)
    worst = 0.0
    for spans in ops.values():
        root = next(s for s in spans if s.parent is None)
        total = sum(self_time(s, by_parent[s.id]) for s in spans)
        worst = max(worst, abs(total - root.duration))
    return worst


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run_cpu_s(run_dir: str) -> float:
    """CPU seconds (user + system) used so far by the run's processes and
    the children they have reaped. The kernel accounts the time the host
    takes from a virtual machine as steal, so unlike wall time this does not
    grow when other tenants load the host."""
    ticks = 0
    for pid in marked_pids(run_dir):
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                fields = fh.read().rsplit(b")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args(argv)
    t0, traced_run = args.t0, bool(args.trace)
    load_before = os.getloadavg()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    from multi_source_financial_data_pipeline_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
            # a fixed heap and young generation: the driver's peak RSS then
            # follows its live data, not G1's run-to-run sizing decisions
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -Xmn256m"
            ),
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    session_start_s = time.monotonic() - t0
    tracer = Tracer(sc)
    excluded = 0.0  # one-time oracle fills and result checks, not set-up

    attempted = failed = 0
    errors: list[str] = []

    def fail(what: str, why: str) -> None:
        nonlocal failed
        failed += 1
        errors.append(f"{what}: {why}")
        print(f"[perfbench] FAIL {what}: {why}", file=sys.stderr, flush=True)

    if args.workload == "pipeline_etl":
        bench = Pipeline(args.seed, args.run_dir)
        names: tuple[str, ...] = ()
    else:
        names = workloads.REGISTRY_WORKLOADS[args.workload]
        bench = Registry(spark, names, args.data_dir, args.cache_dir)
        t = time.monotonic()
        bench.prepare()
        excluded += time.monotonic() - t
    streaming = None
    if traced_run:
        bench.instrument(tracer)
        streaming = StreamingProgress(spark)

    op_lat: dict[str, list[float]] = defaultdict(list)

    def run_pass(p: int) -> float:
        """One pass over the workload's ops; returns its wall time."""
        nonlocal attempted
        t = time.perf_counter()
        if isinstance(bench, Pipeline):
            attempted += 1
            try:
                _, bad = bench.request(tracer)
            except Exception:  # noqa: BLE001 - count, report, go on
                bad = traceback.format_exc(limit=3)
            if bad:
                fail(f"request{bench.next - 1}", bad)
            return time.perf_counter() - t
        for name in workloads.op_order(names, args.seed, p):
            attempted += 1
            a = time.perf_counter()
            try:
                bench.run(name, tracer)
            except Exception:  # noqa: BLE001
                fail(name, traceback.format_exc(limit=3))
                continue
            if p >= 0 and not tracer.active:
                op_lat[name].append(time.perf_counter() - a)
        return time.perf_counter() - t

    # warm pass. Registry results are collected and checked in it. An
    # untraced pipeline run has no warm request: it measures the first
    # request of a fresh process, which is what each CLI invocation pays
    if isinstance(bench, Registry):
        for name in workloads.op_order(names, args.seed, -1):
            attempted += 1
            t = time.monotonic()
            try:
                dt, bad = bench.warm(name)
                excluded += time.monotonic() - t - dt
            except Exception:  # noqa: BLE001
                bad = traceback.format_exc(limit=3)
            if bad:
                fail(name, bad)
    elif traced_run:
        run_pass(-1)
    setup_s = time.monotonic() - t0 - excluded

    # measured passes; a traced run alternates untraced and traced passes
    untraced, traced, untraced_cpu = [], [], []
    layer_rows: list[dict[str, float]] = []
    traced_windows: list[tuple[float, float]] = []
    t_meas = time.monotonic()
    p = 0
    while True:
        tracer.active = traced_run and p % 2 == 1
        first_span = len(tracer.spans)
        wall0 = time.time()
        cpu0 = run_cpu_s(args.run_dir)
        pass_s = run_pass(p)
        pass_cpu_s = run_cpu_s(args.run_dir) - cpu0
        if tracer.active:
            tracer.active = False
            spans = tracer.spans[first_span:]
            tracer.collect(spans)
            traced.append(pass_s)
            traced_windows.append((wall0, time.time()))
            layer_rows.append(
                pass_layers(tracer, {s.op_id for s in spans}, cores)
            )
        else:
            untraced.append(pass_s)
            untraced_cpu.append(pass_cpu_s)
        p += 1
        # a traced run brackets each traced pass with untraced ones, so a
        # process that is still warming up does not bias the overhead
        if (
            time.monotonic() - t_meas >= args.seconds
            and (not names or p >= MIN_PASSES)
            and (not traced_run or (traced and len(untraced) > len(traced)))
        ):
            break

    if isinstance(bench, Pipeline):
        for rid in bench.ledger_mismatches():
            fail(rid, "ledger lacks one 'started' and one 'completed' entry")

    # one op's latency (a request in pipeline_etl): pass time over op count
    per_op = [t / max(len(names), 1) for t in untraced]
    jvm_pid = sc._jvm.ProcessHandle.current().pid()
    rss_mb = {
        "jvm": _vm_hwm_mb(jvm_pid),
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
    }
    peak_rss_mb = sum(rss_mb.values())
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cores,
        "host_ram_gb": round(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1
        ),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "ops": list(names) or ["cli.main"],
        "passes": {"untraced": untraced, "traced": traced},
        "pass_s": median(untraced),
        "pass_cpu_s": untraced_cpu,
        **trace.latency_summary("request_s", per_op),
        "warm_s": getattr(bench, "warm_s", {}),
        "steady_s": {n: median(v) for n, v in op_lat.items()},
        "artifacts": getattr(bench, "artifacts", {}),
        "peak_rss_mb": rss_mb,
        "errors": errors,
    }

    if traced_run:
        stream = streaming.within(traced_windows) if streaming else []
        durations = [b["duration_s"] for b in stream]
        metrics = {
            name: median([row[name] for row in layer_rows])
            for name in layer_rows[0]
        }
        metrics.update(
            {
                "session.start_s": session_start_s,
                "plans.artifact_s": sum(
                    bench.warm_s[n] - median(op_lat[n])
                    for n in getattr(bench, "artifacts", {})
                    if op_lat[n]
                ),
                "plans.artifacts_built": sum(getattr(bench, "artifacts", {}).values()),
                "streaming.batches": len(stream) / len(traced),
                "streaming.batch_s_p50": median(durations),
                "streaming.processed_rows_per_s": (
                    sum(b["rows"] for b in stream) / sum(durations)
                    if sum(durations)
                    else 0.0
                ),
                "streaming.state_rows": max(
                    (b["state_rows"] for b in stream), default=0
                ),
                "sinks.rows_saved_frac": (
                    bench.saved / bench.offered
                    if isinstance(bench, Pipeline) and bench.offered
                    else 0.0
                ),
                "trace.overhead_frac": median(traced) / median(untraced) - 1.0,
                "fail_frac": failed / attempted,
            }
        )
        metrics = {
            k: {"value": metrics[k], "unit": unit}
            for k, unit in trace.PER_LAYER_UNITS.items()
        }
        context["span_sum_error_s"] = span_sum_error(tracer)
        trace_dir = os.path.join(args.cache_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
            {"context": context, "streaming": stream},
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": median(untraced_cpu),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {
            k: {"value": metrics[k], "unit": unit}
            for k, unit in trace.END_TO_END_UNITS.items()
        }

    stop_session(spark)
    correct = failed == 0
    print(json.dumps(context, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
